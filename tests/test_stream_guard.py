"""Streaming operational hardening: checkpoint state-layout guard and the
resilient source option."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from exposure_notifications_private_analytics_ingestion_spark.model.schema import TURNS_SCHEMA
from exposure_notifications_private_analytics_ingestion_spark.sources import generate_turns
from exposure_notifications_private_analytics_ingestion_spark.streaming import (
    StreamOptions,
    start_stream_ingestion,
)
from exposure_notifications_private_analytics_ingestion_spark.streaming.ingest_stream import (
    CheckpointOptionsMismatch,
)


def _write_turns(spark, tmp_path, n_convs=40):
    inp = str(tmp_path / "in")
    pdf = generate_turns(n_convs=n_convs, seed=17, hours=2, dup_frac=0.0)
    spark.createDataFrame(pdf, schema=TURNS_SCHEMA).coalesce(2).write.mode(
        "append"
    ).parquet(inp)
    return inp, len(pdf)


@pytest.mark.slow
def test_resume_with_changed_state_layout_is_refused(spark, tmp_path):
    inp, _ = _write_turns(spark, tmp_path)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")

    q = start_stream_ingestion(
        spark, inp, out, ckpt, StreamOptions(batch_size=20, bucket_by=64)
    )
    q.awaitTermination(240)

    # same layout resumes fine (no-op run: no new files)
    q = start_stream_ingestion(
        spark, inp, out, ckpt, StreamOptions(batch_size=20, bucket_by=64)
    )
    q.awaitTermination(240)

    # bucket_by change: the bucket state would be reinterpreted as different
    # conversations — must refuse loudly, naming the field
    with pytest.raises(CheckpointOptionsMismatch, match="bucket_by"):
        start_stream_ingestion(
            spark, inp, out, ckpt, StreamOptions(batch_size=20, bucket_by=128)
        )
    # mode change: same class of corruption
    with pytest.raises(CheckpointOptionsMismatch, match="mode"):
        start_stream_ingestion(
            spark,
            inp,
            out,
            ckpt,
            StreamOptions(batch_size=20, bucket_by=64, mode="session"),
        )
    # batch_size is NOT a state-layout field — changing it resumes
    q = start_stream_ingestion(
        spark, inp, out, ckpt, StreamOptions(batch_size=50, bucket_by=64)
    )
    q.awaitTermination(240)


def test_per_conversation_checkpoint_is_refused(spark, tmp_path):
    """A checkpoint recorded by the per-conversation state layout (bucket_by
    null) cannot be resumed by the bucketed one; the field is named. No
    bucket count below 1 is accepted."""
    ckpt = tmp_path / "ck"
    ckpt.mkdir()
    (ckpt / "_enpa_options.json").write_text(
        json.dumps({"bucket_by": None, "mode": "tumbling", "window_s": 3600, "session_gap_s": 1800})
    )
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    with pytest.raises(CheckpointOptionsMismatch, match="bucket_by: checkpoint=None"):
        start_stream_ingestion(spark, inp, out, str(ckpt), StreamOptions())
    with pytest.raises(ValueError, match="bucket_by"):
        start_stream_ingestion(spark, inp, out, str(tmp_path / "ck0"), StreamOptions(bucket_by=0))


@pytest.mark.slow
def test_resilient_stream_survives_corrupt_file(spark, tmp_path):
    inp, n_rows = _write_turns(spark, tmp_path)

    # control: the same stream over the clean input
    out0, ck0 = str(tmp_path / "out0"), str(tmp_path / "ck0")
    q = start_stream_ingestion(
        spark, inp, out0, ck0, StreamOptions(batch_size=20, window_s=3600)
    )
    q.awaitTermination(240)
    control = spark.read.parquet(f"{out0}/packets")

    with open(os.path.join(inp, "part-corrupt.parquet"), "wb") as f:
        f.write(b"PAR1" + b"\x00" * 128)

    # non-resilient: the corrupt file kills the query
    qbad = start_stream_ingestion(
        spark,
        inp,
        str(tmp_path / "outx"),
        str(tmp_path / "ckx"),
        StreamOptions(batch_size=20, window_s=3600),
    )
    with pytest.raises(Exception):
        qbad.awaitTermination(240)
        qbad.processAllAvailable()

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    q = start_stream_ingestion(
        spark,
        inp,
        out,
        ckpt,
        StreamOptions(batch_size=20, window_s=3600, resilient=True),
    )
    q.awaitTermination(240)
    got = spark.read.parquet(f"{out}/packets")
    # identical output to the clean-input control: the corrupt file cost
    # nothing beyond its own (zero) rows, and introduced no duplicates
    assert got.count() == control.count()
    assert (
        got.select("conv_id", "turn_idx").distinct().count()
        == control.select("conv_id", "turn_idx").distinct().count()
    )
    assert (
        got.groupBy("conv_id", "turn_idx", "destination")
        .count()
        .filter("count > 1")
        .count()
        == 0
    )


@pytest.mark.slow
def test_invalid_rows_land_in_dead_letter_queue(spark, tmp_path):
    import pandas as pd

    inp = str(tmp_path / "in")
    pdf = generate_turns(n_convs=30, seed=5, hours=2, dup_frac=0.0)
    n_good = len(pdf)
    bad = pdf.iloc[:4].copy()
    bad["conv_id"] = [f"bad-{i}" for i in range(4)]
    bad.loc[bad.index[:2], "text"] = None
    # pandas needs object dtype to hold NaT-free None for spark ts nulls
    bad["ts"] = bad["ts"].astype("object")
    bad.loc[bad.index[2:], "ts"] = None
    full = pd.concat([pdf, bad], ignore_index=True)
    spark.createDataFrame(full, schema=TURNS_SCHEMA).coalesce(2).write.parquet(inp)

    out, ckpt, dlq = (
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
        str(tmp_path / "dlq"),
    )
    q = start_stream_ingestion(
        spark,
        inp,
        out,
        ckpt,
        StreamOptions(batch_size=20, window_s=3600, invalid_path=dlq),
    )
    q.awaitTermination(240)
    if q.dlq_query is not None:
        q.dlq_query.awaitTermination(120)

    dead = spark.read.parquet(dlq)
    assert dead.count() == 4
    reasons = {
        (r["conv_id"], r["invalid_reason"]) for r in dead.collect()
    }
    assert {c for c, _ in reasons} == {"bad-0", "bad-1", "bad-2", "bad-3"}
    assert {rs for c, rs in reasons if c in ("bad-0", "bad-1")} == {"missing_payload"}
    assert {rs for c, rs in reasons if c in ("bad-2", "bad-3")} == {"missing_created"}
    # the main stream is unperturbed: no bad conv ever reaches packets
    pk = spark.read.parquet(f"{out}/packets")
    assert pk.filter(F.col("conv_id").startswith("bad-")).count() == 0
    assert pk.count() > 0
