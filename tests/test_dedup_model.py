"""The batch core against a pure-Python/pandas model of
validate → dedup → window → exact chunking, on adversarial turn sets
(hypothesis): conflicting duplicates, NULL role/text/tool, event times on
both window edges at millisecond and microsecond resolution, empty windows
and a conversation larger than the batch size. The default and attested
paths must match the model row for row (winner payload, event time and
batch id, which names the batch ordinal); the hot-key path must keep the
same winners. Also pins the core's plan: one Exchange on the exact path,
attested or not."""

from __future__ import annotations

import uuid
from datetime import datetime, timedelta, timezone
from typing import NamedTuple

import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F

from exposure_notifications_private_analytics_ingestion_spark.functions.hashing import NAMESPACE
from exposure_notifications_private_analytics_ingestion_spark.model.schema import (
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
