"""The streaming epoch sink's one writer pass: one Spark job per epoch on the
assembler's own partitioning, the fallback for a frame that is not
clustered by batch, exact lineage records, and one header per
(batch, destination) whose digest is build_headers' definition."""

from __future__ import annotations

import glob
import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from exposure_notifications_private_analytics_ingestion_spark.model.schema import TURNS_SCHEMA
from exposure_notifications_private_analytics_ingestion_spark.plans.ingestion import (
    IngestionOptions,
    build_headers,
)
from exposure_notifications_private_analytics_ingestion_spark.sources import generate_turns
from exposure_notifications_private_analytics_ingestion_spark.streaming import (
    StreamOptions,
    start_stream_ingestion,
)
from exposure_notifications_private_analytics_ingestion_spark.streaming.sink import (
    make_epoch_sink,
)

JAN = 1704067200
LINEAGE = ("epoch", "n_rows", "n_batches", "n_convs", "min_ts_ms", "max_ts_ms")


def _stream(spark, tmp, bucket_by):
    """A short availableNow run over three single-file epochs, with one
    late file that moves the watermark past the first windows. Returns the
    output root, the Spark jobs the query ran and its epoch count."""
    inp, out = str(tmp / "in"), str(tmp / "out")
    g = generate_turns(n_convs=14, seed=21, hours=3, dup_frac=0.05)
    g["turn_idx"] = g["turn_idx"].astype("int32")
    third = len(g) // 3
    for part in (g.iloc[:third], g.iloc[third : 2 * third], g.iloc[2 * third :]):
        spark.createDataFrame(part, schema=TURNS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
    q = start_stream_ingestion(
        spark,
        inp,
        out,
        str(tmp / "ck"),
        StreamOptions(batch_size=5, max_files_per_trigger=1, bucket_by=bucket_by),
    )
    q.awaitTermination(240)
    assert q.exception() is None
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    return out, jobs, len(q.recentProgress)


@pytest.fixture(scope="module", params=[4], ids=["bucketed"])
def streamed(request, spark, tmp_path_factory):
    return (spark, *_stream(spark, tmp_path_factory.mktemp("stream"), request.param))


def _sql_headers(packets):
    """build_headers' SQL digest and count per (batch, destination)."""
    ref = build_headers(
        packets.withColumn("ts", F.lit(None).cast("timestamp")), IngestionOptions()
    )
    return {
        (r["batch_id"], r["destination"]): (r["packet_file_digest"], r["n_packets"])
        for r in ref.collect()
    }


def _headers(spark, out):
    return spark.read.parquet(f"{out}/batch_headers").collect()


def test_one_spark_job_per_epoch(streamed):
    """Fed the assembler's output, the sink writes without a shuffle or a
    second pass: each epoch is one Spark action."""
    spark, out, jobs, epochs = streamed
    assert spark.read.parquet(f"{out}/packets").count() > 0
    assert 0 < len(jobs) <= epochs, f"{len(jobs)} Spark jobs over {epochs} epochs"


def test_one_header_per_batch_with_the_sql_digest(streamed):
    spark, out, _, _ = streamed
    headers = _headers(spark, out)
    keys = [(h["batch_id"], h["destination"]) for h in headers]
    assert len(keys) == len(set(keys))
    ref = _sql_headers(spark.read.parquet(f"{out}/packets"))
    assert {k: (h["packet_file_digest"], h["n_packets"]) for k, h in zip(keys, headers)} == ref


def test_lineage_is_exact(streamed):
    """Each epoch's lineage record equals counts over that epoch's packets."""
    spark, out, _, _ = streamed
    pha = spark.read.parquet(f"{out}/packets").filter("destination = 'pha'")
    ref = {
        r["epoch"]: r.asDict()
        for r in pha.groupBy("epoch")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("batch_id").alias("n_batches"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.min("ts_ms").alias("min_ts_ms"),
            F.max("ts_ms").alias("max_ts_ms"),
        )
        .collect()
    }
    got = {}
    for path in glob.glob(f"{out}/lineage/epoch-*.json"):
        with open(path) as fh:
            rec = json.load(fh)
        got[rec["epoch"]] = {k: rec[k] for k in LINEAGE}
    assert len(ref) > 1 and got == ref


def test_unclustered_frame_gets_one_header_per_batch(spark, tmp_path):
    """A frame whose batches straddle partitions is written once more,
    repartitioned by batch: one correct header per (batch, destination)."""
    rows = [
        (f"c{b % 2}", b * 10 + i, f"t{b}-{i}", (JAN + b * 10 + i) * 1000, JAN, b, f"batch-{b}", "size")
        for b in range(3)
        for i in range(10)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["conv_id", "turn_idx", "text", "ts_ms", "window_start_s",
                     "batch_ordinal", "batch_id", "close_reason"],
        ).astype({"turn_idx": "int32", "batch_ordinal": "int32"})
    ).repartition(3)
    spread = (
        df.withColumn("part", F.spark_partition_id())
        .groupBy("batch_id")
        .agg(F.countDistinct("part").alias("n"))
    )
    assert spread.filter("n > 1").count() > 0  # the input is not clustered
    out = str(tmp_path / "out")
    make_epoch_sink(out)(df, 3)

    headers = _headers(spark, out)
    keys = [(h["batch_id"], h["destination"]) for h in headers]
    assert sorted(keys) == sorted((f"batch-{b}", d) for b in range(3) for d in ("pha", "facilitator"))
    packets = spark.read.parquet(f"{out}/packets")
    assert packets.count() == 60
    ref = _sql_headers(packets)
    assert {k: (h["packet_file_digest"], h["n_packets"]) for k, h in zip(keys, headers)} == ref
    with open(f"{out}/lineage/epoch-3.json") as fh:
        rec = json.load(fh)
    assert (rec["n_rows"], rec["n_batches"], rec["n_convs"]) == (30, 3, 2)
    assert (rec["min_ts_ms"], rec["max_ts_ms"]) == (JAN * 1000, (JAN + 29) * 1000)
    assert not os.path.exists(f"{out}/_staging")
