"""The batch core against a pure-Python/pandas model of
validate → dedup → window → exact chunking, on adversarial turn sets
(hypothesis): conflicting duplicates, NULL role/text/tool, event times on
both window edges at millisecond and microsecond resolution, empty windows
and a conversation larger than the batch size. The default and attested
paths must match the model row for row (winner payload, event time and
batch id, which names the batch ordinal); the hot-key path must keep the
same winners. Also pins the core's plan: one Exchange on the exact path,
attested or not. The bucketed stream is driven against a first-arrival
variant of the model over several availableNow restarts of one
checkpoint."""

from __future__ import annotations

import base64
import uuid
from datetime import datetime, timedelta, timezone
from typing import NamedTuple

import pandas as pd
import pytest
import random

from hypothesis import example, given, settings, strategies as st
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F

from exposure_notifications_private_analytics_ingestion_spark.functions.hashing import NAMESPACE
from exposure_notifications_private_analytics_ingestion_spark.model.schema import (
    PRIME,
    TURNS_SCHEMA,
    TURNS_WITH_PAYLOAD_SCHEMA,
)
from exposure_notifications_private_analytics_ingestion_spark.plans.ingestion import (
    IngestionOptions,
    process_turns,
)
from exposure_notifications_private_analytics_ingestion_spark.sources import (
    generate_turns,
    generate_turns_with_payload,
)
from exposure_notifications_private_analytics_ingestion_spark.streaming import (
    StreamOptions,
    start_stream_ingestion,
)

START = 1704067200 + 3600
DUR = 3600
BATCH = 3
US = 1_000_000
EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
# event times in µs after the window start: each edge at ±1 ms and ±1 µs
OFFSETS = (-1000, -1, 0, 1, 999, 7 * US, DUR * US - 1000, DUR * US - 1, DUR * US, DUR * US + 1)


class Turn(NamedTuple):
    conv_id: str
    turn_idx: int
    role: str | None
    text: str | None
    tool: str | None
    ts_us: int | None  # µs since the epoch; None is a NULL ts


ROLE = st.sampled_from([None, "user", "tool"])
TEXT = st.sampled_from([None, "", "x", "y", "xy"])
TOOL = st.sampled_from([None, "", "t"])
TS = st.one_of(st.none(), st.sampled_from(OFFSETS).map(lambda o: START * US + o))
TURN = st.builds(
    Turn, st.sampled_from(["a", "b", "c"]), st.integers(0, 5), ROLE, TEXT, TOOL, TS
)


@st.composite
def scenarios(draw):
    """(turns, window_start_s)."""
    turns = draw(st.lists(TURN, max_size=20))
    # conflicting duplicates: the same key, any event time (its own
    # included), another role/text/tool
    for t in draw(st.lists(st.sampled_from(turns), max_size=6)) if turns else []:
        ts = draw(st.sampled_from([t.ts_us, START * US, START * US + DUR * US - 1]))
        turns.append(Turn(t.conv_id, t.turn_idx, draw(ROLE), draw(TEXT), draw(TOOL), ts))
    if draw(st.booleans()):  # one conversation larger than the batch size
        turns += [
            Turn("hot", i, "user", f"h{i % 2}", None, START * US + 5 * US)
            for i in range(2 * BATCH + 1)
        ]
    # an empty window: every event time lies hours before it
    start = START + draw(st.sampled_from([0, 0, 0, 10 * 3600]))
    return turns, start


def _nulls_first(v):
    return (v is not None, v)


def model(turns: list[Turn], start_s: int, batch_size: int) -> pd.DataFrame:
    """Surviving rows (uuid, ts_us, payload, batch_id), by uuid.

    validate: a turn needs ts and text. dedup: per (conv_id, turn_idx), the
    row whose remaining columns (role, text, tool, ts) are smallest in that
    order, NULL first. window: ts in [start, start + DUR) at millisecond
    granularity. chunking: per conversation in turn_idx order, every
    ``batch_size`` rows one batch; batch id uuid5(conv|start|ordinal)."""
    winners: dict[tuple, Turn] = {}
    for t in turns:
        if t.ts_us is None or t.text is None:
            continue
        k = (t.conv_id, t.turn_idx)
        order = [_nulls_first(v) for v in t[2:]]
        if k not in winners or order < [_nulls_first(v) for v in winners[k][2:]]:
            winners[k] = t
    lo, hi = start_s * 1000, (start_s + DUR) * 1000
    kept = pd.DataFrame(
        [t for t in winners.values() if lo <= t.ts_us // 1000 < hi], columns=Turn._fields
    ).sort_values(["conv_id", "turn_idx"])
    ordinal = kept.groupby("conv_id").cumcount() // batch_size
    return _frame(
        (
            f"{t.conv_id}#{t.turn_idx}",
            t.ts_us,
            t.text.encode(),
            str(uuid.uuid5(NAMESPACE, f"{t.conv_id}|{start_s}|{o}")),
        )
        for t, o in zip(kept.itertuples(index=False), ordinal)
    )


def _frame(rows) -> pd.DataFrame:
    cols = ["uuid", "ts_us", "payload", "batch_id"]
    return pd.DataFrame(sorted(rows), columns=cols).reset_index(drop=True)


def _emitted(spark, turns: list[Turn], start_s: int, **kw) -> pd.DataFrame:
    df = spark.createDataFrame(
        [
            (*t[:5], None if t.ts_us is None else EPOCH + timedelta(microseconds=t.ts_us))
            for t in turns
        ],
        schema=TURNS_SCHEMA,
    )
    opts = IngestionOptions(window_start_s=start_s, duration_s=DUR, batch_size=BATCH, **kw)
    packets, _, _ = process_turns(df, opts)
    rows = (
        packets.filter("destination = 'pha'")
        .select("uuid", F.expr("unix_micros(ts)"), "encrypted_payload", "batch_id")
        .collect()
    )
    return _frame((u, ts, bytes(p), b) for u, ts, p, b in rows)


CONFLICTS = (
    [
        Turn("a", 0, "user", "y", None, START * US),
        Turn("a", 0, None, "z", None, START * US + DUR * US - 1),  # NULL role wins
        Turn("a", 1, "user", None, "t", START * US),  # NULL text: invalid
        Turn("a", 1, "user", "y", "t", START * US - 1),  # wins, outside: a#1 gone
        Turn("a", 1, "user", "y", "t", START * US + 999),
        Turn("b", 2, "tool", "x", "", START * US + DUR * US),  # the end is outside
        Turn("b", 3, "tool", "x", None, START * US + DUR * US - 1000),  # NULL tool wins
        Turn("b", 3, "tool", "x", "", START * US),
    ]
    + [Turn("hot", i, "user", "h", None, START * US + i) for i in range(2 * BATCH + 1)],
    START,
)


@pytest.mark.parametrize(
    "kw", [{}, {"attestation": "signature_presence"}], ids=["default", "attested"]
)
@settings(max_examples=6, deadline=None)
@given(scenarios())
@example(CONFLICTS)
@example((CONFLICTS[0], START + 10 * 3600))  # an empty window
def test_exact_paths_match_the_model(spark, kw, scenario):
    turns, start = scenario
    assert_frame_equal(_emitted(spark, turns, start, **kw), model(turns, start, BATCH))


@settings(max_examples=6, deadline=None)
@given(scenarios())
@example(CONFLICTS)
def test_hot_key_path_keeps_the_model_winners(spark, scenario):
    turns, start = scenario
    got = _emitted(spark, turns, start, scalable_chunking=True)
    want = model(turns, start, BATCH)
    cols = ["uuid", "ts_us", "payload"]
    assert_frame_equal(got[cols], want[cols])


@pytest.mark.parametrize("attestation", [None, "signature_presence"])
@pytest.mark.parametrize("payload", [False, True], ids=["plain", "prio"])
def test_exact_path_plans_one_exchange(spark, payload, attestation):
    """Dedup, window filter, attestation and exact chunking share the one
    shuffle by the dedup key; with Prio documents the chunk key extends it."""
    if payload:
        df = spark.createDataFrame(
            generate_turns_with_payload(n_convs=4, seed=3), schema=TURNS_WITH_PAYLOAD_SCHEMA
        )
    else:
        df = spark.createDataFrame(generate_turns(n_convs=4, seed=3), schema=TURNS_SCHEMA)
    packets, _, _ = process_turns(df, IngestionOptions(attestation=attestation))
    plan = packets._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


SIGNATURE = st.sampled_from([None, "", "s", "t"])
PRIO = {"prime": PRIME, "epsilon": 5.2933, "bins": 2, "number_servers": 2, "hamming_weight": 1}


@st.composite
def prio_scenarios(draw):
    """(documents, window_start_s): the turns of ``scenarios`` as Prio
    documents, each with a signature that may be missing or empty."""
    turns, start = draw(scenarios())
    return [(t, draw(SIGNATURE)) for t in turns], start


def prio_model(docs: list[tuple[Turn, str | None]], start_s: int, batch_size: int, attested: bool):
    """``model`` for Prio documents whose shares carry the turn text:
    validate needs ts and a signature; the dedup order runs on over the
    signature (the columns after it are equal when the text is); with
    attestation the window's winners need a non-empty signature; the chunk
    key adds the Prio parameters to the conversation."""
    winners: dict[tuple, tuple[Turn, str]] = {}
    for t, sig in docs:
        if t.ts_us is None or sig is None:
            continue
        k = (t.conv_id, t.turn_idx)
        order = [_nulls_first(v) for v in (*t[2:], sig)]
        if k not in winners or order < [_nulls_first(v) for v in (*winners[k][0][2:], winners[k][1])]:
            winners[k] = (t, sig)
    lo, hi = start_s * 1000, (start_s + DUR) * 1000
    kept = sorted(
        (t for t, sig in winners.values() if lo <= t.ts_us // 1000 < hi and (sig or not attested)),
        key=lambda t: (t.conv_id, t.turn_idx),
    )
    key = "\x1f".join(str(PRIO[f]) for f in ("bins", "epsilon", "hamming_weight", "prime"))
    rows, seen = [], {}
    for t in kept:
        o = seen.get(t.conv_id, 0) // batch_size
        seen[t.conv_id] = seen.get(t.conv_id, 0) + 1
        bid = str(uuid.uuid5(NAMESPACE, f"{t.conv_id}\x1f{key}|{start_s}|{o}"))
        rows.append((f"{t.conv_id}#{t.turn_idx}", t.ts_us, (t.text or "").encode(), bid))
    return _frame(rows)


@pytest.mark.parametrize(
    "attestation", [None, "signature_presence"], ids=["default", "attested"]
)
@settings(max_examples=6, deadline=None)
@given(prio_scenarios())
@example(([(t, "s" if i % 3 else "") for i, t in enumerate(CONFLICTS[0])], START))
def test_prio_paths_match_the_model(spark, attestation, scenario):
    """The core statement's Prio option sets, plain and attested, against
    ``prio_model``: winner payload, event time and batch id."""
    docs, start = scenario
    rows = []
    for t, sig in docs:
        share = {"encryption_key_id": "k", "payload": base64.b64encode((t.text or "").encode()).decode()}
        ts = None if t.ts_us is None else EPOCH + timedelta(microseconds=t.ts_us)
        rows.append((*t[:5], ts, sig, ["cert"], 2, PRIO, [share, share]))
    df = spark.createDataFrame(rows, schema=TURNS_WITH_PAYLOAD_SCHEMA)
    opts = IngestionOptions(
        window_start_s=start, duration_s=DUR, batch_size=BATCH, attestation=attestation
    )
    got = process_turns(df, opts)[0].filter("destination = 'pha'")
    emitted = _frame(
        (u, ts, bytes(p), b)
        for u, ts, p, b in got.select(
            "uuid", F.expr("unix_micros(ts)"), "encrypted_payload", "batch_id"
        ).collect()
    )
    assert_frame_equal(emitted, prio_model(docs, start, BATCH, attestation is not None))


def first_arrival_model(epochs: list[list[Turn]], batch_size: int, window_s: int) -> pd.DataFrame:
    """The stream's rule: rows (conv_id, turn_idx, window_start_s, text,
    batch_id), by key.

    validate: a turn needs ts and text. Epochs are taken in order, and in an
    epoch each conversation's rows by (ts in ms, turn_idx, text). Per
    conversation the first row of each turn_idx wins, whatever its window,
    and joins the buffer of its tumbling window; every ``batch_size``
    buffered rows close a batch, and the rest closes when the watermark
    passes the window. Batch id uuid5(conv|window|ordinal). No window is
    evicted before the end, so every duplicate is inside the state horizon."""
    seen: dict[str, set] = {}
    buf: dict[tuple, list] = {}
    ordinal: dict[tuple, int] = {}
    out = []

    def close(k, n):
        conv, w = k
        bid = str(uuid.uuid5(NAMESPACE, f"{conv}|{w}|{ordinal[k]}"))
        out.extend((conv, idx, w, text, bid) for idx, text in buf[k][:n])
        buf[k] = buf[k][n:]
        ordinal[k] += 1

    for epoch in epochs:
        rows = sorted(
            (t.conv_id, t.ts_us // 1000, t.turn_idx, t.text)
            for t in epoch
            if t.ts_us is not None and t.text is not None
        )
        for conv, ts_ms, idx, text in rows:
            k = (conv, ts_ms // 1000 // window_s * window_s)
            if idx in seen.setdefault(conv, set()):
                continue
            seen[conv].add(idx)
            buf.setdefault(k, []).append((idx, text))
            ordinal.setdefault(k, 0)
            if len(buf[k]) == batch_size:
                close(k, batch_size)
    for k in sorted(buf):
        if buf[k]:
            close(k, len(buf[k]))
    cols = ["conv_id", "turn_idx", "window_start_s", "text", "batch_id"]
    return pd.DataFrame(sorted(out), columns=cols)


def _restarts(seed: int) -> list[list[list[Turn]]]:
    """Three availableNow restarts of single-file epochs over two hourly
    windows. Conflicting duplicates (same key and window, another text and
    event time) land in the same epoch and in later epochs, a later one
    often with the smaller text, which the batch rule would pick; one
    conversation size-closes a batch before a duplicate of its rows
    arrives; some rows have no text. The last restart moves the watermark
    past both windows."""
    rnd = random.Random(seed)
    t0 = START * US
    epochs: list[list[Turn]] = [[], [], [], []]
    for conv in ("a", "b", "c", "d"):
        for idx in range(rnd.randint(2, 7)):
            w = rnd.randrange(2) * DUR * US
            first = rnd.randrange(4)
            text = rnd.choice(["m", "n", None] if idx else ["m"])
            epochs[first].append(Turn(conv, idx, "user", text, None, t0 + w + rnd.randrange(DUR) * US))
            for _ in range(rnd.randint(0, 2)):  # conflicting duplicates
                e = rnd.randrange(first, 4)
                ts = t0 + w + rnd.randrange(DUR) * US
                epochs[e].append(Turn(conv, idx, "user", rnd.choice("alz"), None, ts))
    # a same-millisecond tie in one epoch: the smaller text arrives first
    epochs[1] += [Turn("tie", 0, "user", "y", None, t0), Turn("tie", 0, "user", "x", None, t0)]
    # a batch size-closed in the first epoch, then a duplicate of its row
    epochs[0] += [Turn("hot", i, "user", f"h{i}", None, t0 + (10 + i) * US) for i in range(2 * BATCH + 1)]
    epochs[3].append(Turn("hot", 1, "user", "a", None, t0))
    far = t0 + 24 * 3600 * US
    advance = [Turn("wm", i, "user", "w", None, far) for i in range(BATCH - 1)]
    return [[epochs[0], epochs[1]], [epochs[2]], [epochs[3], advance]]


def _stream_emitted(spark, tmp_path, restarts: list[list[list[Turn]]]) -> pd.DataFrame:
    """Run one ``availableNow`` restart per entry of ``restarts`` on one
    checkpoint, one file per epoch; the emitted pha packets of every
    conversation but the watermark advancer, in the model's columns."""
    inp, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    opts = StreamOptions(
        batch_size=BATCH, window_s=DUR, watermark="3 hours", max_files_per_trigger=1, bucket_by=2
    )
    for files in restarts:
        for rows in files:
            spark.createDataFrame(
                [(*t[:5], EPOCH + timedelta(microseconds=t.ts_us)) for t in rows],
                schema=TURNS_SCHEMA,
            ).coalesce(1).write.mode("append").parquet(inp)
        q = start_stream_ingestion(spark, inp, out, ck, opts)
        q.awaitTermination(240)
        assert q.exception() is None
    return (
        spark.read.parquet(f"{out}/packets")
        .filter("destination = 'pha' AND conv_id != 'wm'")
        .select(
            "conv_id",
            "turn_idx",
            "window_start_s",
            F.decode("encrypted_payload", "UTF-8").alias("text"),
            "batch_id",
        )
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "window_start_s", "text", "batch_id"])
        .reset_index(drop=True)
        .astype({"turn_idx": "int64", "window_start_s": "int64"})
    )


def _first_arrivals(restarts: list[list[list[Turn]]]) -> pd.DataFrame:
    want = first_arrival_model([rows for files in restarts for rows in files], BATCH, DUR)
    return want[want.conv_id != "wm"].reset_index(drop=True)


@pytest.mark.slow
@pytest.mark.parametrize("seed", [1, 2])
def test_stream_keeps_the_first_arrival(spark, tmp_path, seed):
    """The bucketed stream against the first-arrival model: winner text,
    window and batch id of every emitted turn, over three restarts of one
    checkpoint with one file per epoch."""
    restarts = _restarts(seed)
    got = _stream_emitted(spark, tmp_path, restarts)
    assert_frame_equal(got, _first_arrivals(restarts))
    epochs = [rows for files in restarts for rows in files]
    # the batch rule (smallest text) would have picked other winners
    batch_rule = {}
    for t in (t for rows in epochs for t in rows if t.text is not None and t.conv_id != "wm"):
        k = (t.conv_id, t.turn_idx)
        batch_rule[k] = min(batch_rule.get(k, t.text), t.text)
    assert any(batch_rule[(c, i)] != x for c, i, x in zip(got.conv_id, got.turn_idx, got.text))


@pytest.mark.slow
def test_stream_emits_a_duplicate_from_another_window_once(spark, tmp_path):
    """A conflicting duplicate whose event time falls in the next window is
    dropped: the turn is emitted once, in its first arrival's window."""
    jan = 1704067200
    first = Turn("c", 0, "user", "first", None, (jan + 100) * US)
    retry = Turn("c", 0, "user", "retry", None, (jan + 3700) * US)
    advance = [Turn("wm", i, "user", "w", None, (jan + 24 * 3600) * US) for i in range(BATCH - 1)]
    restarts = [[[first], [retry], advance]]
    got = _stream_emitted(spark, tmp_path, restarts)
    assert got[["conv_id", "turn_idx", "window_start_s", "text"]].values.tolist() == [
        ["c", 0, jan, "first"]
    ]
    assert_frame_equal(got, _first_arrivals(restarts))
