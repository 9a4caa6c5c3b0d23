"""Bucketed stateful assembler (StreamOptions.bucket_by): output does not
depend on the bucket count on multi-epoch out-of-order input, plus
checkpoint resume. Every bucket count runs the SAME per-conversation core,
so the equality guards the state-layout plumbing (pickle blob, bucket-wide
timeouts, per-conv routing inside a bucket): one bucket holding every
conversation, a few shared buckets, and more buckets than conversations."""

from __future__ import annotations

import pandas as pd
import pytest

from exposure_notifications_private_analytics_ingestion_spark.model.schema import (
    TURNS_SCHEMA,
)
from exposure_notifications_private_analytics_ingestion_spark.sources import (
    generate_turns,
)
from exposure_notifications_private_analytics_ingestion_spark.streaming import (
    StreamOptions,
    start_stream_ingestion,
)

from tests.test_streaming import _turn


def _write_epochs(spark, inp, epochs):
    for rows in epochs:
        pdf = pd.DataFrame(rows) if not isinstance(rows, pd.DataFrame) else rows
        pdf = pdf.copy()
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        spark.createDataFrame(pdf, schema=TURNS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(inp)


def _packets(spark, out):
    cols = [
        "conv_id",
        "turn_idx",
        "destination",
        "window_start_s",
        "batch_ordinal",
        "batch_id",
        "close_reason",
    ]
    return (
        spark.read.parquet(f"{out}/packets")
        .select(*cols)
        .toPandas()
        .sort_values(cols)
        .reset_index(drop=True)
    )


def _epochs_multiwindow():
    """3 single-file epochs: out-of-order windows, cross-epoch duplicates,
    skewed conv sizes (one conv exceeds batch_size → size-closes)."""
    g = generate_turns(n_convs=40, seed=13, hours=3, dup_frac=0.05, hot_convs=1, hot_mult=20)
    third = len(g) // 3
    e1 = g.iloc[:third]
    e2 = g.iloc[third : 2 * third]
    e3 = pd.concat(
        [g.iloc[2 * third :], pd.DataFrame([_turn("conv-wm", i, 12 * 3600 + i) for i in range(3)])],
        ignore_index=True,
    )
    return [e1, e2, e3]


@pytest.mark.slow
@pytest.mark.parametrize("mode_kw", [
    {"mode": "tumbling", "window_s": 3600, "watermark": "30 minutes"},
    {"mode": "session", "session_gap_s": 900, "watermark": "30 minutes"},
], ids=["tumbling", "session"])
def test_bucketed_equals_per_conv(spark, tmp_path, mode_kw):
    # bucket_by=4096 puts nearly every one of the ~40 conversations in its
    # own state entry, the per-conversation layout; 1 puts all in one
    epochs = _epochs_multiwindow()
    results = {}
    for bucket_by in (7, 1, 4096):
        inp = str(tmp_path / f"in-{bucket_by}")
        out = str(tmp_path / f"out-{bucket_by}")
        ck = str(tmp_path / f"ck-{bucket_by}")
        _write_epochs(spark, inp, epochs)
        q = start_stream_ingestion(
            spark, inp, out, ck,
            StreamOptions(batch_size=25, max_files_per_trigger=1,
                          bucket_by=bucket_by, **mode_kw),
        )
        q.awaitTermination(240)
        results[bucket_by] = _packets(spark, out)
    pd.testing.assert_frame_equal(results[7], results[1])
    pd.testing.assert_frame_equal(results[7], results[4096])
    assert len(results[7]) > 0


@pytest.mark.slow
def test_bucketed_resume_from_checkpoint(spark, tmp_path):
    inp, out, ck = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ck")
    opts = StreamOptions(batch_size=10, max_files_per_trigger=1, bucket_by=5,
                         watermark="30 minutes")
    _write_epochs(spark, inp, [[_turn("conv-a", i, i * 5) for i in range(12)]])
    q = start_stream_ingestion(spark, inp, out, ck, opts)
    q.awaitTermination(240)
    # second run: new rows + replayed duplicates + watermark advancer;
    # buffered state (conv-a's partial window) must survive the restart
    _write_epochs(
        spark, inp,
        [[_turn("conv-a", i, i * 5) for i in range(6)]  # dups, in-window
         + [_turn("conv-a", 100 + i, 120 + i * 5) for i in range(4)]  # new
         + [_turn("conv-wm", i, 6 * 3600 + i) for i in range(2)]],
    )
    q = start_stream_ingestion(spark, inp, out, ck, opts)
    q.awaitTermination(240)
    pk = _packets(spark, out)
    pha = pk[(pk["conv_id"] == "conv-a") & (pk["destination"] == "pha")]
    assert sorted(pha["turn_idx"]) == list(range(12)) + [100, 101, 102, 103]
    # size-close of 10 happened in run 1; remainder flushed on window close
    sizes = pha.groupby("batch_id").size().sort_values(ascending=False).tolist()
    assert sizes == [10, 6]
