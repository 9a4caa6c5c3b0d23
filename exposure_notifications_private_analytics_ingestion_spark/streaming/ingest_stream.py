"""Structured-Streaming ingestion: the reference's hourly batch loop
re-expressed as a continuous CEP pipeline.

Reference semantics → streaming mapping (SURVEY §2/§3):
- hourly scan window + ±grace re-scan  → event-time watermark = grace hours
  (``IngestionPipelineOptions.java:141-163``)
- Distinct on document path            → in-state dedup over every open
  (``IngestionPipeline.java:110-119``)    window of the conv_id
- GroupIntoBatches + batch-id          → ``applyInPandasWithState`` keyed by
  ``hash(conv_id) % bucket_by``: per-conv open-batch buffers in state,
  closed on size OR when the watermark passes the turn's tumbling-window
  end (event-time timeout) — late rows after a close open a NEW batch,
  never mutate a written one
- Avro triplet write w/ deterministic  → idempotent ``foreachBatch``: every
  file UUID (``BatchWriterFn.java:140-150``)  epoch writes packets + headers
  under an epoch-keyed path with overwrite, so Spark's epoch-retry lands on
  the same files — exactly-once end to end

Dedup lives INSIDE the state function (a row is dropped when any open
window or session of its conv has seen its turn_idx) rather than chaining
``dropDuplicatesWithinWatermark`` before the flatMapGroupsWithState op — one
stateful operator instead of two stacked state stores, which halves
state-store IO and sidesteps multi-stateful-op output-mode restrictions.
State is watermark-bounded: when a window closes, its dedup set is
discarded (the reference bounds work identically by only re-scanning
±grace hours). A duplicate that arrives after its original's window was
evicted is outside that state horizon and is not caught.

Dedup winner: the FIRST ARRIVAL wins. Within one micro-batch a
conversation's rows are taken in ``(ts, turn_idx, text)`` order, so among
duplicates in one epoch the earliest, then the smallest text, is kept; a
duplicate arriving in a later epoch is dropped. The stream cannot apply the
batch job's rule (smallest remaining columns, ``operators/dedup.py``)
across epochs: the earlier row may already sit in a closed batch, whose
packets and header digest are written and immutable.
"""

from __future__ import annotations

import uuid as _uuid
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.hashing import NAMESPACE
from ..model.schema import TURNS_SCHEMA


@dataclass
class StreamOptions:
    batch_size: int = 100
    window_s: int = 3600  # tumbling window (reference `duration`)
    watermark: str = "1 hour"  # late-data grace (reference graceHours)
    flush_partial_on_timeout: bool = True
    mode: str = "tumbling"  # 'tumbling' | 'session' (gap-close, north_rule)
    session_gap_s: int = 1800
    max_files_per_trigger: int = 64  # source micro-batch sizing
    # state keys: the stateful operator is keyed by hash(conv_id) % bucket_by,
    # amortizing per-group overhead (state get/put, Arrow framing, pandas
    # construction — measured ~1.4 ms/group-call) over ~n_convs/bucket_by
    # conversations per state entry. Output does not depend on it — tests
    # assert equality across bucket counts — because windows, dedup,
    # ordering and batch ids all derive from per-conv row data, never from
    # the grouping key. It is part of the checkpoint's state layout.
    bucket_by: int = 16
    # optional attestation-fact stream (schema FACTS_SCHEMA): when set, turns
    # are inner-joined (watermarked stream-stream, time-range bound) to facts
    # for the same conv seen within facts_bound_s at-or-before the turn —
    # the streaming analog of the reference's attestation filter (only
    # attested shares proceed). A turn matching several facts is emitted
    # once: the assembler's in-state dedup collapses the join fan-out.
    facts_path: str | None = None
    facts_bound_s: int = 3600
    facts_watermark: str = "1 hour"
    # tolerate corrupt/vanished source files (pair with
    # sources.quarantine.corrupt_file_inventory on the input dir — never
    # rely on silent drops alone; see quarantine.py's module docstring)
    resilient: bool = False
    # dead-letter queue: when set, rows the ingest filter drops (null
    # ts/text — the plain-turn analog of the reference's invalid-share
    # counters, DataShare.java:46-55) are written to this path with an
    # `invalid_reason` column by a side query instead of vanishing; the
    # main stream's behavior is unchanged
    invalid_path: str | None = None


# one output row per turn in a CLOSED batch
BATCH_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("window_start_s", T.LongType(), False),
        T.StructField("batch_ordinal", T.IntegerType(), False),
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("close_reason", T.StringType(), False),  # 'size'|'window'
    ]
)


def _batch_id(conv_id: str, window_start_s: int, ordinal: int) -> str:
    return str(
        _uuid.uuid5(NAMESPACE, f"{conv_id}|{window_start_s}|{ordinal}")
    )


# ---------------------------------------------------------------------------
# per-conversation CEP core, driven by the bucketed assembler below and by
# the batch_assembly_bucketed oracle query. All functions are pure Python
# over plain dicts/lists: no Spark objects, picklable, unit-testable without
# a session. Multiple windows stay open per conversation because rows
# arrive out of order ACROSS microbatches within the watermark horizon — a
# single-open-window state re-emits duplicates and reuses batch ids when an
# earlier window is revisited (found at 2.4M-turn scale). A window is
# evicted only when the watermark passes its end, so its ordinal space is
# never reused and late rows within grace always land in live state.
#
# wins: window_start_s -> [next_ord, last_ts_ms, seen:set,
#                          bidx:list, btxt:list, bts:list]
# out:  columnar accumulators (dict-of-lists -> one pdf at the end)
# ---------------------------------------------------------------------------


def _new_out() -> dict[str, list]:
    return {k: [] for k in ("conv", "idx", "txt", "ts", "win", "ord", "bid", "why")}


def _close_batch(
    out: dict,
    conv_id: str,
    w: int,
    e: list,
    reason: str,
    limit: int | None = None,
) -> None:
    """Close the buffer (or its first ``limit`` rows) as one batch —
    post-merge buffers can exceed batch_size, so size-closes drain in
    exact batch_size chunks."""
    if not e[3]:
        return
    take = len(e[3]) if limit is None else min(limit, len(e[3]))
    bid = _batch_id(conv_id, w, e[0])
    out["conv"].extend([conv_id] * take)
    out["idx"].extend(e[3][:take])
    out["txt"].extend(e[4][:take])
    out["ts"].extend(e[5][:take])
    out["win"].extend([w] * take)
    out["ord"].extend([e[0]] * take)
    out["bid"].extend([bid] * take)
    out["why"].extend([reason] * take)
    e[0] += 1
    e[3], e[4], e[5] = e[3][take:], e[4][take:], e[5][take:]


def _out_pdf(out: dict) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": out["conv"],
            "turn_idx": pd.array(out["idx"], dtype="int32"),
            "text": out["txt"],
            "ts_ms": out["ts"],
            "window_start_s": out["win"],
            "batch_ordinal": pd.array(out["ord"], dtype="int32"),
            "batch_id": out["bid"],
            "close_reason": out["why"],
        }
    )


def _end_ms(w: int, e: list, session_mode: bool, gap_ms: int, window_s: int) -> int:
    return (e[1] + gap_ms) if session_mode else (w + window_s) * 1000


def _ingest_sorted(
    out: dict,
    conv_id: str,
    wins: dict[int, list],
    rows,  # iterable of (ts_ms, turn_idx, text), sorted
    batch_size: int,
    window_s: int,
    session_mode: bool,
    gap_ms: int,
) -> None:
    """Route one conversation's (sorted) incoming rows into its open
    windows/sessions: in-state dedup, assign window, bridge-merge sessions,
    buffer, drain size-closes."""
    for ts_ms, turn_idx, text in rows:
        turn_idx = int(turn_idx)
        # stateful dedup (D1) over every open window/session of the
        # conversation: a duplicate with another event time may fall in
        # another window, and the batch job dedups before windowing
        if any(turn_idx in e[2] for e in wins.values()):
            continue
        if session_mode:
            # find a session this row extends: [start-gap, last+gap]
            w = None
            for s in sorted(wins):
                e = wins[s]
                if s * 1000 - gap_ms <= ts_ms <= e[1] + gap_ms:
                    w = s
                    break
            if w is None:
                w = ts_ms // 1000
                wins[w] = [0, ts_ms, set(), [], [], []]
            e = wins[w]
            e[1] = max(e[1], ts_ms)
            # bridge-merge: absorb any later session whose interval
            # now overlaps ours ([start, last+gap) touching)
            merged = False
            # turns a pre-merge session has seen but no longer buffers were
            # already EMITTED by it — they must not resurface from the other
            # session's buffer post-merge
            emitted = e[2] - set(e[3])
            for s in sorted(k for k in wins if k > w):
                if s * 1000 < e[1] + gap_ms:
                    o = wins.pop(s)
                    # keep w's ordinal space; union dedup + buffers
                    emitted |= o[2] - set(o[3])
                    e[1] = max(e[1], o[1])
                    e[2] |= o[2]
                    e[3] += o[3]
                    e[4] += o[4]
                    e[5] += o[5]
                    merged = True
                else:
                    break
            if merged:
                # a turn buffered in BOTH pre-merge sessions (or buffered in
                # one and already emitted by the other) must survive at most
                # once: keep first unemitted occurrence per turn_idx. The
                # dedup above keeps sessions' seen-sets disjoint, but state
                # checkpointed with per-session dedup sets may overlap
                seen_buf: set = set(emitted)
                b3, b4, b5 = [], [], []
                for ti, tx, tm in zip(e[3], e[4], e[5]):
                    if ti in seen_buf:
                        continue
                    seen_buf.add(ti)
                    b3.append(ti)
                    b4.append(tx)
                    b5.append(tm)
                e[3], e[4], e[5] = b3, b4, b5
                # the merged buffer can exceed batch_size: drain now
                while len(e[3]) >= batch_size:
                    _close_batch(out, conv_id, w, e, "size", batch_size)
        else:
            w = (ts_ms // 1000) // window_s * window_s
            e = wins.get(w)
            if e is None:
                e = wins[w] = [0, ts_ms, set(), [], [], []]
            e[1] = max(e[1], ts_ms)
        e[2].add(turn_idx)
        e[3].append(turn_idx)
        e[4].append(text)
        e[5].append(ts_ms)
        while len(e[3]) >= batch_size:
            _close_batch(out, conv_id, w, e, "size", batch_size)


def _evict_expired(
    out: dict,
    conv_id: str,
    wins: dict[int, list],
    wm: int,
    batch_size: int,
    window_s: int,
    session_mode: bool,
    gap_ms: int,
    flush: bool,
) -> None:
    """Evict every window/session the watermark has passed; flush its
    partial batch; keep the rest."""
    reason = "session" if session_mode else "window"
    for w in sorted(wins):
        if _end_ms(w, wins[w], session_mode, gap_ms, window_s) <= wm:
            if flush:
                while len(wins[w][3]) > batch_size:
                    _close_batch(out, conv_id, w, wins[w], "size", batch_size)
                _close_batch(out, conv_id, w, wins[w], reason)
            del wins[w]


def _ts_ms_of(pdf: pd.DataFrame):
    # vectorized ts->ms (never per-row pd.Timestamp)
    return pdf["ts"].to_numpy(dtype="datetime64[us]").astype("int64") // 1000


# state layout: one binary blob per bucket — a pickled {conv_id: wins}
# dict. Amortizes the per-group framework cost (state get/put, Arrow
# framing, per-group pandas construction) over every conversation in the
# bucket; one pickle per bucket per microbatch replaces hundreds of per-conv
# state rows.
BUCKET_STATE_SCHEMA = T.StructType(
    [T.StructField("blob", T.BinaryType(), True)]
)


def make_bucketed_assembler(opts: StreamOptions):
    """Returns the applyInPandasWithState function: state key is
    ``hash(conv_id) % bucket_by``; the blob holds every member
    conversation's windows. Pure (no closure over Spark objects) so it
    pickles cleanly to executors."""
    import pickle

    batch_size = opts.batch_size
    window_s = opts.window_s
    flush = opts.flush_partial_on_timeout
    session_mode = opts.mode == "session"
    gap_ms = opts.session_gap_s * 1000

    def assemble(
        key: tuple,
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        convs: dict[str, dict[int, list]] = (
            pickle.loads(state.get[0]) if state.exists else {}
        )
        out = _new_out()

        def save_and_arm():
            if not convs:
                state.remove()
                return
            state.update((pickle.dumps(convs, protocol=5),))
            wm = state.getCurrentWatermarkMs()
            nxt = min(
                _end_ms(w, e, session_mode, gap_ms, window_s)
                for wins in convs.values()
                for w, e in wins.items()
            )
            state.setTimeoutTimestamp(max(nxt, wm + 1))

        if state.hasTimedOut:
            wm = state.getCurrentWatermarkMs()
            for cid in list(convs):
                wins = convs[cid]
                _evict_expired(
                    out, cid, wins, wm,
                    batch_size, window_s, session_mode, gap_ms, flush,
                )
                if not wins:
                    del convs[cid]
            save_and_arm()
            if out["idx"]:
                yield _out_pdf(out)
            return

        from itertools import groupby
        from operator import itemgetter

        for pdf in pdf_iter:
            # one sort by (conv, ts, idx, text): each conv's rows in
            # first-arrival order (see the module docstring)
            rows = sorted(
                zip(
                    pdf["conv_id"].tolist(),
                    _ts_ms_of(pdf).tolist(),
                    pdf["turn_idx"].tolist(),
                    pdf["text"].tolist(),
                )
            )
            for cid, grp in groupby(rows, key=itemgetter(0)):
                wins = convs.get(cid)
                if wins is None:
                    wins = convs[cid] = {}
                _ingest_sorted(
                    out, cid, wins, [r[1:] for r in grp],
                    batch_size, window_s, session_mode, gap_ms,
                )

        save_and_arm()
        if out["idx"]:
            yield _out_pdf(out)

    return assemble


def dedup_stream(df: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Built-in streaming dedup (D1, built-in-first path): one row per
    (conv_id, turn_idx) within the watermark horizon, state expired by the
    engine. Use when batch assembly is NOT needed downstream — the CEP
    assembler performs its own in-state dedup to avoid stacking two state
    stores."""
    return df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


def closed_batches_stream(
    spark: SparkSession, input_path: str, opts: StreamOptions
) -> DataFrame:
    """readStream → watermark → keyed CEP state → closed-batch rows."""
    if opts.bucket_by < 1:
        raise ValueError(f"bucket_by must be a positive int; got {opts.bucket_by!r}")
    reader = spark.readStream.schema(TURNS_SCHEMA).option(
        "maxFilesPerTrigger", str(opts.max_files_per_trigger)
    )
    if opts.resilient:
        reader = reader.option("ignoreCorruptFiles", "true").option(
            "ignoreMissingFiles", "true"
        )
    raw = reader.parquet(input_path)
    turns = raw.filter(F.col("ts").isNotNull() & F.col("text").isNotNull())
    if opts.facts_path:
        from .joins import FACTS_SCHEMA, time_bounded_stream_join

        facts = (
            spark.readStream.schema(FACTS_SCHEMA)
            .option("maxFilesPerTrigger", str(opts.max_files_per_trigger))
            .parquet(opts.facts_path)
        )
        # the join assigns the turn-side watermark itself; re-assigning it
        # downstream of a stateful operator is disallowed (Spark's
        # multiple-stateful-operator rule), so the joined stream flows into
        # the assembler as-is
        turns = time_bounded_stream_join(
            turns,
            facts,
            bound_s=opts.facts_bound_s,
            turns_watermark=opts.watermark,
            facts_watermark=opts.facts_watermark,
        ).select(*[f.name for f in TURNS_SCHEMA.fields])
        with_wm = turns
    else:
        with_wm = turns.withWatermark("ts", opts.watermark)
    # the shuffle key is the bucket, so the exchange and the state store see
    # bucket_by keys instead of one per conversation
    keyed = with_wm.withColumn(
        "_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(opts.bucket_by))
    )
    return keyed.groupBy("_bucket").applyInPandasWithState(
        make_bucketed_assembler(opts),
        outputStructType=BATCH_OUT_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)

# Options whose change across a checkpoint resume corrupts or silently
# reinterprets existing state: bucket_by/mode change the state KEY SPACE and
# row meaning (state of one bucket count read back under another routes
# conversations to the wrong entry — Spark cannot detect this because the
# state schema bytes are identical; a checkpoint recorded with the old
# per-conversation layout, bucket_by null, is refused the same way);
# window_s/session_gap_s reinterpret persisted window-start arrays.
_STATE_LAYOUT_FIELDS = ("bucket_by", "mode", "window_s", "session_gap_s")


class CheckpointOptionsMismatch(ValueError):
    pass


def _guard_checkpoint_options(spark: SparkSession, checkpoint: str, opts: StreamOptions):
    """Refuse to resume a checkpoint whose state was written under a
    different state layout. The fingerprint lives NEXT TO the checkpoint
    (``<ckpt>/_enpa_options.json``) so it travels with it; written through
    the Hadoop FS so it works on HDFS/S3 checkpoints too. This function
    only CHECKS — ``_record_checkpoint_options`` runs after the query has
    actually started, so a failed first start (bad sink path etc.) does not
    lock options into an empty checkpoint."""
    import json as _json

    jvm = spark.sparkContext._jvm
    fpath = jvm.org.apache.hadoop.fs.Path(checkpoint, "_enpa_options.json")
    fs = fpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    current = {f: getattr(opts, f) for f in _STATE_LAYOUT_FIELDS}
    if fs.exists(fpath):
        stream = fs.open(fpath)
        try:
            raw = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            recorded = _json.loads(bytes(raw).decode())
        finally:
            stream.close()
        changed = {
            f: (recorded.get(f), current[f])
            for f in _STATE_LAYOUT_FIELDS
            if recorded.get(f) != current[f]
        }
        if changed:
            detail = ", ".join(
                f"{f}: checkpoint={old!r} requested={new!r}"
                for f, (old, new) in changed.items()
            )
            raise CheckpointOptionsMismatch(
                f"checkpoint {checkpoint} was written with a different state "
                f"layout ({detail}). Resuming would silently misread state. "
                "Either restore the original options or start a NEW "
                "checkpoint directory (reprocessing the source)."
            )


def _record_checkpoint_options(
    spark: SparkSession, checkpoint: str, opts: StreamOptions
) -> None:
    import json as _json

    jvm = spark.sparkContext._jvm
    fpath = jvm.org.apache.hadoop.fs.Path(checkpoint, "_enpa_options.json")
    fs = fpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if fs.exists(fpath):
        return
    current = {f: getattr(opts, f) for f in _STATE_LAYOUT_FIELDS}
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(checkpoint))
    out = fs.create(fpath, True)
    out.write(_json.dumps(current).encode())
    out.close()


def start_stream_ingestion(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    checkpoint: str,
    opts: StreamOptions | None = None,
    available_now: bool = True,
    rocksdb_state: bool = True,
):
    """Full streaming job: CEP core → packet split → idempotent epoch sink.

    State store defaults to RocksDB (spill-to-disk; each commit uploads a
    snapshot of the changed files — changelog checkpointing is not enabled)
    — at 10^12 turns the per-conv dedup/buffer state cannot live in the
    HDFS-backed in-memory map; ``rocksdb_state=False`` picks that map. The
    provider is session config, set at every start whichever it is, so an
    earlier start's choice never carries over; a new checkpoint records it,
    and resuming keeps whatever the checkpoint used.
    """
    from .sink import make_epoch_sink

    opts = opts or StreamOptions()
    _guard_checkpoint_options(spark, checkpoint, opts)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        ROCKSDB_PROVIDER if rocksdb_state else HDFS_PROVIDER,
    )
    dlq_query = None
    if opts.invalid_path:
        dlq_query = _start_dlq_stream(
            spark, input_path, opts, f"{checkpoint}-dlq", available_now
        )
    batches = closed_batches_stream(spark, input_path, opts)
    writer = (
        batches.writeStream.foreachBatch(make_epoch_sink(output_root))
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    # record the layout fingerprint only once the query is actually live
    _record_checkpoint_options(spark, checkpoint, opts)
    # side-channel handle: callers that need to await/stop the DLQ (tests,
    # a graceful shutdown) reach it as q.dlq_query; availableNow runs drain
    # it on their own
    q.dlq_query = dlq_query
    return q


def _start_dlq_stream(
    spark: SparkSession,
    input_path: str,
    opts: StreamOptions,
    checkpoint: str,
    available_now: bool,
):
    """Dead-letter side query: same source, INVERSE of the ingest filter,
    stamped with an invalid_reason — a stateless projection, so it adds no
    state store and cannot perturb the main query (own checkpoint, own
    offsets). Rows land as parquet under ``opts.invalid_path``."""
    reader = spark.readStream.schema(TURNS_SCHEMA).option(
        "maxFilesPerTrigger", str(opts.max_files_per_trigger)
    )
    if opts.resilient:
        reader = reader.option("ignoreCorruptFiles", "true").option(
            "ignoreMissingFiles", "true"
        )
    bad = (
        reader.parquet(input_path)
        .filter(F.col("ts").isNull() | F.col("text").isNull())
        .withColumn(
            "invalid_reason",
            F.when(F.col("ts").isNull(), F.lit("missing_created")).otherwise(
                F.lit("missing_payload")
            ),
        )
    )
    writer = (
        bad.writeStream.format("parquet")
        .option("path", opts.invalid_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
