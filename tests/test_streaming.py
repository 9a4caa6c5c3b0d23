"""Streaming CEP core: end-to-end ingest, stateful dedup, batch-close
semantics, checkpoint resume (no reference analog — demanded by north_rule)."""

from __future__ import annotations

from datetime import datetime, timezone

import pandas as pd
import pytest

from exposure_notifications_private_analytics_ingestion_spark.model.schema import TURNS_SCHEMA
from exposure_notifications_private_analytics_ingestion_spark.sources import generate_turns
from exposure_notifications_private_analytics_ingestion_spark.streaming import (
    StreamOptions,
    start_stream_ingestion,
)

JAN = 1704067200


def _write(spark, pdf, path):
    spark.createDataFrame(pdf, schema=TURNS_SCHEMA).coalesce(2).write.mode(
        "append"
    ).parquet(path)


def _run(spark, inp, out, ckpt, **kw):
    q = start_stream_ingestion(
        spark, inp, out, ckpt, StreamOptions(batch_size=10, **kw)
    )
    q.awaitTermination(240)


def _turn(conv, idx, sec, text=None):
    return {
        "conv_id": conv,
        "turn_idx": idx,
        "role": "user",
        "text": text or f"{conv}-{idx}",
        "tool": "",
        "ts": datetime.fromtimestamp(JAN + sec, tz=timezone.utc).replace(tzinfo=None),
    }


@pytest.mark.slow
def test_stream_end_to_end_and_resume(spark, tmp_path):
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")

    # phase 1: skewed generated stream with duplicates
    pdf1 = generate_turns(n_convs=25, seed=31, hours=2, dup_frac=0.05)
    pdf1["turn_idx"] = pdf1["turn_idx"].astype("int32")
    _write(spark, pdf1, inp)
    _run(spark, inp, out, ckpt)

    pk1 = spark.read.parquet(f"{out}/packets")
    n1 = pk1.count()
    assert n1 > 0
    assert (
        pk1.groupBy("conv_id", "turn_idx", "destination").count().filter("count>1").count()
        == 0
    )
    # fork consistency: same uuids in both destinations
    pha = pk1.filter("destination='pha'").select("uuid")
    fac = pk1.filter("destination='facilitator'").select("uuid")
    assert pha.exceptAll(fac).count() == 0 and fac.exceptAll(pha).count() == 0

    # phase 2: resume from checkpoint with NEW rows (beyond the checkpointed
    # watermark = phase-1 max ts − 1 h) + REPLAYED duplicates of phase-1 rows.
    # The replays are older than the watermark and must be dropped as late —
    # exactly the reference's grace-window bound on re-scans.
    max_sec = int((pdf1["ts"].max() - pd.Timestamp("2024-01-01")).total_seconds())
    dup_replay = pdf1.drop_duplicates(["conv_id", "turn_idx"]).tail(30)
    new_rows = pd.DataFrame(
        [_turn("conv-new", i, max_sec + 60 + i * 10) for i in range(25)]
    )
    # watermark advancer: pushes the watermark past conv-new's window end so
    # its partial batch flushes on event-time timeout
    advancer = pd.DataFrame(
        [_turn("conv-wm", i, max_sec + 3 * 3600 + i) for i in range(3)]
    )
    pdf2 = pd.concat([dup_replay, new_rows, advancer], ignore_index=True)
    pdf2["turn_idx"] = pdf2["turn_idx"].astype("int32")
    _write(spark, pdf2, inp)
    _run(spark, inp, out, ckpt)

    pk2 = spark.read.parquet(f"{out}/packets")
    # new conversation made it through
    assert pk2.filter("conv_id = 'conv-new'").count() == 50  # 25 turns × 2
    # replayed duplicates within the open window did not double-emit
    dups = (
        pk2.groupBy("conv_id", "turn_idx", "destination")
        .count()
        .filter("count > 1")
    )
    assert dups.count() == 0


@pytest.mark.slow
def test_batch_close_on_size_and_window(spark, tmp_path):
    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    # conv-a: 23 turns in window 0 → two size-closed batches of 10 + partial 3
    rows = [_turn("conv-a", i, i) for i in range(23)]
    # conv-a turn in the NEXT window → forces the partial batch of window 0
    # to close with reason 'window'
    rows.append(_turn("conv-a", 100, 3700))
    # advance the watermark well past window 0 via another conversation
    rows += [_turn("conv-wm", i, 9000 + i) for i in range(3)]
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    _write(spark, pdf, inp)
    _run(spark, inp, out, ckpt)

    pk = spark.read.parquet(f"{out}/packets").filter("conv_id='conv-a'").toPandas()
    w0 = pk[pk["window_start_s"] == JAN]
    pha = w0[w0["destination"] == "pha"]
    sizes = pha.groupby("batch_id").size().sort_values(ascending=False).tolist()
    assert sizes == [10, 10, 3]
    reasons = set(
        pha.merge(
            pha.groupby("batch_id").size().rename("n").reset_index(), on="batch_id"
        )["close_reason"]
    )
    assert "size" in reasons and "window" in reasons
    # batch ids deterministic: uuid5(conv|window|ordinal)
    import uuid as u

    from exposure_notifications_private_analytics_ingestion_spark.functions.hashing import (
        NAMESPACE,
    )

    expected0 = str(u.uuid5(NAMESPACE, f"conv-a|{JAN}|0"))
    assert expected0 in set(pha["batch_id"])


@pytest.mark.slow
def test_session_window_close(spark, tmp_path):
    """Session mode: a silence > gap closes the batch (close_reason='session')."""
    from exposure_notifications_private_analytics_ingestion_spark.streaming import (
        StreamOptions,
        start_stream_ingestion,
    )

    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    rows = [_turn("conv-s", i, i * 10) for i in range(5)]          # session 1
    rows += [_turn("conv-s", 100 + i, 4000 + i * 10) for i in range(4)]  # gap > 30 min
    rows += [_turn("conv-wm", i, 20000 + i) for i in range(3)]     # advance watermark
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    _write(spark, pdf, inp)
    q = start_stream_ingestion(
        spark, inp, out, ckpt,
        StreamOptions(batch_size=100, mode="session", session_gap_s=1800,
                      watermark="10 minutes"),
    )
    q.awaitTermination(240)
    pk = spark.read.parquet(f"{out}/packets").filter("conv_id='conv-s'").toPandas()
    pha = pk[pk["destination"] == "pha"]
    # two distinct sessions, both evicted by the watermark with reason
    # 'session' (sessions stay open until the watermark passes last+gap so
    # late rows within grace can still extend them)
    assert pha["batch_id"].nunique() == 2
    assert set(pha["close_reason"]) == {"session"}
    assert pha["window_start_s"].nunique() == 2
    # session boundaries respected: first session holds exactly turns 0-4
    first_start = pha["window_start_s"].min()
    first = pha[pha["window_start_s"] == first_start]
    assert sorted(first["turn_idx"]) == [0, 1, 2, 3, 4]
    second = pha[pha["window_start_s"] != first_start]
    assert sorted(second["turn_idx"]) == [100, 101, 102, 103]


def test_dedup_stream_builtin(spark, tmp_path):
    from exposure_notifications_private_analytics_ingestion_spark.streaming.ingest_stream import (
        dedup_stream,
    )
    from exposure_notifications_private_analytics_ingestion_spark.model.schema import (
        TURNS_SCHEMA,
    )

    rows = [_turn("a", 0, 10), _turn("a", 0, 10), _turn("a", 1, 20)]
    pdf = pd.DataFrame(rows)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    inp = str(tmp_path / "in")
    _write(spark, pdf, inp)
    stream = spark.readStream.schema(TURNS_SCHEMA).parquet(inp)
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select conv_id, turn_idx from dedup_out").collect()
    assert sorted((r["conv_id"], r["turn_idx"]) for r in got) == [("a", 0), ("a", 1)]


@pytest.mark.slow
def test_cross_epoch_out_of_order_no_duplicates(spark, tmp_path):
    """The 2.4M-scale regression, shrunk: two single-file epochs deliver a
    conversation's windows out of event-time order; per-window state must
    neither re-emit nor reuse ordinal space (the single-open-window bug)."""
    import pandas as pd

    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    # file 1 (epoch 0): turns in window 1 (3600..) + watermark driver
    f1 = [_turn("conv-x", 100 + i, 3600 + i) for i in range(5)]
    # file 2 (epoch 1): turns in window 0 — EARLIER event time, still above
    # the watermark (wm after epoch 0 ≈ 3604+3s−1h < 0 → nothing late)
    f2 = [_turn("conv-x", i, 10 + i) for i in range(5)]
    # duplicates of epoch-0 rows in epoch 1 (same window 1)
    f2 += [_turn("conv-x", 100 + i, 3600 + i) for i in range(3)]
    # final watermark push to flush everything
    f3 = [_turn("conv-wm", i, 30000 + i) for i in range(2)]
    for i, rows in enumerate((f1, f2, f3)):
        pdf = pd.DataFrame(rows)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        spark.createDataFrame(pdf, schema=TURNS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
    q = start_stream_ingestion(
        spark, inp, out, ckpt,
        StreamOptions(batch_size=100, watermark="30 minutes",
                      max_files_per_trigger=1),
    )
    q.awaitTermination(240)
    pk = spark.read.parquet(f"{out}/packets").filter("conv_id='conv-x'").toPandas()
    pha = pk[pk["destination"] == "pha"].sort_values("turn_idx")
    # every turn exactly once
    assert sorted(pha["turn_idx"]) == [0, 1, 2, 3, 4, 100, 101, 102, 103, 104]
    # two windows, distinct batch ids, no ordinal collision
    assert pha["window_start_s"].nunique() == 2
    assert pha.groupby("batch_id")["window_start_s"].nunique().max() == 1
    dups = pk.groupby(["conv_id", "turn_idx", "destination"]).size()
    assert (dups == 1).all()


@pytest.mark.slow
def test_session_bridge_merge_across_epochs(spark, tmp_path):
    """A late bridging row must MERGE two already-open sessions (union dedup
    sets + buffers, single surviving batch id space)."""
    import pandas as pd

    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    # epoch 0: session A (t=0..40) and session B (t=3000..3020), gap=1800 s
    # keeps them separate (3000 − 40 > 1800)
    f1 = [_turn("conv-m", i, i * 10) for i in range(5)]
    f1 += [_turn("conv-m", 50 + i, 3000 + i * 10) for i in range(3)]
    # epoch 1: bridge row at t=1500 — extends A (1500 < 40+1800), and the
    # extended A now overlaps B (3000 < 1500+1800) → one merged session
    f2 = [_turn("conv-m", 25, 1500)]
    # epoch 2: watermark push
    f3 = [_turn("conv-wm", i, 40000 + i) for i in range(2)]
    for rows in (f1, f2, f3):
        pdf = pd.DataFrame(rows)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        spark.createDataFrame(pdf, schema=TURNS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
    q = start_stream_ingestion(
        spark, inp, out, ckpt,
        StreamOptions(batch_size=100, mode="session", session_gap_s=1800,
                      watermark="10 minutes", max_files_per_trigger=1),
    )
    q.awaitTermination(240)
    pk = spark.read.parquet(f"{out}/packets").filter("conv_id='conv-m'").toPandas()
    pha = pk[pk["destination"] == "pha"]
    # ONE merged session: single batch id, all 9 turns present exactly once
    assert pha["batch_id"].nunique() == 1
    assert sorted(pha["turn_idx"]) == [0, 1, 2, 3, 4, 25, 50, 51, 52]
    assert pha["window_start_s"].nunique() == 1


def test_bridge_merge_dedups_buffer_and_drains_size(spark, tmp_path):
    """ADVICE r1 regression: a turn_idx buffered in BOTH pre-merge sessions
    must appear once post-merge, and a merged buffer larger than batch_size
    drains in exact batch_size chunks (never one oversized batch)."""
    import pandas as pd

    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    # session A: turns 0-4 at t=0..40; session B: turns 50-52 at t=3000..3020
    # plus a DUPLICATE turn_idx=4 at t=3030 (B's dedup set doesn't know A)
    f1 = [_turn("conv-d", i, i * 10) for i in range(5)]
    f1 += [_turn("conv-d", 50 + i, 3000 + i * 10) for i in range(3)]
    f1 += [_turn("conv-d", 4, 3030, text="dup-of-4")]
    # bridge row merges A and B
    f2 = [_turn("conv-d", 25, 1500)]
    # watermark push
    f3 = [_turn("conv-wm", i, 40000 + i) for i in range(2)]
    for rows in (f1, f2, f3):
        pdf = pd.DataFrame(rows)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        spark.createDataFrame(pdf, schema=TURNS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
    q = start_stream_ingestion(
        spark, inp, out, ckpt,
        StreamOptions(batch_size=6, mode="session", session_gap_s=1800,
                      watermark="10 minutes", max_files_per_trigger=1),
    )
    q.awaitTermination(240)
    pk = spark.read.parquet(f"{out}/packets").filter("conv_id='conv-d'").toPandas()
    pha = pk[pk["destination"] == "pha"].sort_values("turn_idx")
    # duplicate eliminated: turn 4 exactly once, 9 distinct turns total
    assert sorted(pha["turn_idx"]) == [0, 1, 2, 3, 4, 25, 50, 51, 52]
    # batch sizes: one exact size-close (6) then the session-close remainder
    sizes = pha.groupby("batch_id").size().sort_values(ascending=False).tolist()
    assert sizes == [6, 3]


def test_bridge_merge_never_reemits_already_closed_turns(spark, tmp_path):
    """Code-review r2 regression: a turn EMITTED by a pre-merge size-close
    must not resurface from the other session's buffer after a bridge-merge."""
    import pandas as pd

    inp, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    # session A: turns 0,1 at t=0,10 — size-closes immediately (batch_size=2),
    # so both are EMITTED and A's buffer is empty
    f1 = [_turn("conv-r", 0, 0), _turn("conv-r", 1, 10)]
    # session B (separate: 3000 - 10 > 1800): ONLY a duplicate of turn 1,
    # still buffered (below batch_size) when the merge happens
    f1 += [_turn("conv-r", 1, 3000, text="dup-of-1")]
    # bridge row extends A to t=1500, absorbing B (3000 < 1500 + 1800);
    # B's buffered dup must be discarded because A already emitted turn 1
    f2 = [_turn("conv-r", 25, 1500)]
    # a fresh turn joins the merged session afterwards
    f3 = [_turn("conv-r", 10, 3100)]
    f4 = [_turn("conv-wm", i, 40000 + i) for i in range(2)]
    for rows in (f1, f2, f3, f4):
        pdf = pd.DataFrame(rows)
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        spark.createDataFrame(pdf, schema=TURNS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
    # watermark wide enough that session A is still in state when the bridge
    # arrives (state expiry past the horizon legitimately forgets dedup
    # memory — that is watermark semantics, not a bug)
    q = start_stream_ingestion(
        spark, inp, out, ckpt,
        StreamOptions(batch_size=2, mode="session", session_gap_s=1800,
                      watermark="2 hours", max_files_per_trigger=1),
    )
    q.awaitTermination(240)
    pk = spark.read.parquet(f"{out}/packets").filter("conv_id='conv-r'").toPandas()
    pha = pk[pk["destination"] == "pha"]
    # every turn exactly once — in particular turn 1 (emitted by A's
    # size-close, duplicated into B's buffer) must NOT appear twice
    assert sorted(pha["turn_idx"]) == [0, 1, 10, 25]


def _offset_log_conf(ckpt) -> dict:
    """The session confs the first offset log entry of a checkpoint records."""
    import json

    with open(ckpt / "offsets" / "0") as fh:
        return json.loads(fh.read().splitlines()[1])["conf"]


def test_state_store_provider_is_set_at_every_start(spark, tmp_path):
    """rocksdb_state=False after a RocksDB start in the same session gets
    the HDFS-backed store: each new checkpoint records the provider its own
    start asked for."""
    from exposure_notifications_private_analytics_ingestion_spark.streaming.ingest_stream import (
        HDFS_PROVIDER,
        ROCKSDB_PROVIDER,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    inp = str(tmp_path / "in")
    _write(spark, pd.DataFrame([_turn("c", i, 10 * i) for i in range(3)]), inp)
    was = spark.conf.get(key, None)
    try:
        for rocksdb, provider in ((True, ROCKSDB_PROVIDER), (False, HDFS_PROVIDER)):
            ckpt = tmp_path / f"ckpt-{rocksdb}"
            q = start_stream_ingestion(
                spark, inp, str(tmp_path / f"out-{rocksdb}"), str(ckpt),
                StreamOptions(batch_size=10), rocksdb_state=rocksdb,
            )
            q.awaitTermination(240)
            assert _offset_log_conf(ckpt)[key] == provider
    finally:
        if was is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, was)
