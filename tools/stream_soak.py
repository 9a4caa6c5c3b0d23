"""Continuous-mode soak over the engine's stateful streaming constructs:
files arrive in waves on a processing-time trigger; per construct the tool
reports sustained throughput and batch-close latency p50/p95 (the
BASELINE.json latency metric).

Constructs (``--constructs``, comma list):
  ingest  - the CEP assembler + exactly-once sink (the original soak)
  cep     - watermark-closed episode pattern detection (streaming/cep_stream)
  sketch  - windowed HLL profile stream (streaming/sketch_stream)
  cdc     - correction stream -> MERGE upsert sink (streaming/cdc_sink);
            waves carry a seq column and per-wave event hours so each epoch's
            merge is scoped to its own hive partitions

Batch-close latency = micro-batch duration from the engine's own progress
events — "how long after its window can a batch be read downstream". For
the cdc construct that duration INCLUDES the merge (the sink is the state).

The run is canary-gated (the shared miniature-job canary from
``streaming.canary``): the window verdict rides in the JSON, and budget
violations only fail the process in a HEALTHY window — a degraded host
must not read as an engine regression (BENCH/BASELINE.md round-4 addendum).

Usage:
  python tools/stream_soak.py [--n-convs 4000] [--waves 25] [--cores 32]
      [--bucket-by 256] [--constructs ingest,cep,sketch,cdc]
      [--record BENCH/stream_soak.json] [--no-canary]

Per-construct p95 budgets at 4k-conv waves / 32 cores (≈1.2M turns per
construct at 25 waves) carry ~1.5-2x headroom over HEALTHY-window
measurements; use >=~25 waves so the p95 index doesn't collapse onto the
one JIT-warm-up epoch.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

# HEALTHY-window p95 budgets (ms); ~1.5-2x over measured. The ingest budget
# matches the long-standing regression gate in BENCH/BASELINE.md.
P95_BUDGETS_MS = {"ingest": 6000, "cep": 6000, "sketch": 4000, "cdc": 15000}

CEP_SYMBOLS = {"user": "u", "assistant": "a", "tool": "t"}
CEP_PATTERN = "ut*a"  # user turn, optional tool calls, assistant reply


def _gen_waves(n_convs: int, n_waves: int):
    import pandas as pd

    from exposure_notifications_private_analytics_ingestion_spark.sources import (
        generate_turns,
    )

    waves = []
    for i in range(n_waves):
        pdf = generate_turns(n_convs=n_convs, seed=100 + i, hours=1, dup_frac=0.02)
        # each wave advances event time by one hour so watermarks keep
        # closing earlier windows while new data arrives
        pdf["ts"] = pdf["ts"] + pd.Timedelta(hours=i)
        waves.append(pdf)
    return waves


def _start(spark, construct, root, inp, bucket_by):
    """Start the construct's continuous stream over ``inp``; returns the
    query (and creates the cdc target table as a side effect)."""
    from exposure_notifications_private_analytics_ingestion_spark.streaming import (
        StreamOptions,
        start_stream_ingestion,
    )

    if construct == "ingest":
        return start_stream_ingestion(
            spark, inp, f"{root}/out", f"{root}/ck",
            StreamOptions(batch_size=1000, window_s=3600,
                          watermark="30 minutes", bucket_by=bucket_by),
            available_now=False, rocksdb_state=False,
        )
    if construct == "cep":
        from exposure_notifications_private_analytics_ingestion_spark.streaming.cep_stream import (
            start_pattern_stream,
        )

        return start_pattern_stream(
            spark, inp, f"{root}/out", f"{root}/ck",
            key="conv_id", ts_col="ts", tiebreak="turn_idx", type_col="role",
            symbols=CEP_SYMBOLS, pattern=CEP_PATTERN,
            gap_s=1800, watermark="30 minutes", available_now=False,
        )
    if construct == "sketch":
        from exposure_notifications_private_analytics_ingestion_spark.streaming.sketch_stream import (
            start_profile_stream,
        )

        return start_profile_stream(
            spark, inp, f"{root}/out", f"{root}/ck",
            window_s=3600, watermark="30 minutes", available_now=False,
        )
    if construct == "cdc":
        from exposure_notifications_private_analytics_ingestion_spark.plans.tables import (
            TableProvider,
        )
        from exposure_notifications_private_analytics_ingestion_spark.streaming.cdc_sink import (
            start_cdc_upsert_stream,
        )

        provider = TableProvider(spark, f"{root}/wh")
        # seed the target with an empty slice of the stream schema: the
        # first epoch's merge needs a table to merge into
        seed = spark.read.parquet(inp).limit(0)
        provider.replace(seed, "turns_cdc")
        return start_cdc_upsert_stream(
            spark, inp, provider, "turns_cdc",
            keys=["conv_id", "turn_idx"], seq_col="seq",
            checkpoint=f"{root}/ck", partition_col="ts_hour",
            available_now=False,
        )
    raise SystemExit(f"unknown construct {construct!r}")


def _soak_one(spark, construct, waves, cores, bucket_by):
    """One construct's full soak: seed, stream, feed, drain, measure."""
    from pyspark.sql import functions as F

    from exposure_notifications_private_analytics_ingestion_spark.model.schema import (
        TURNS_SCHEMA,
    )
    from exposure_notifications_private_analytics_ingestion_spark.streaming import (
        MetricsListener,
    )

    root = tempfile.mkdtemp(prefix=f"enpa-soak-{construct}-")
    inp = f"{root}/turns"

    def _write(pdf, i, mode):
        df = spark.createDataFrame(pdf, schema=TURNS_SCHEMA)
        if construct == "cdc":
            # correction-stream shape: per-wave seq (latest wins) + the
            # partition column the merge scopes its copy-on-write to
            df = df.withColumn("seq", F.lit(i).cast("long")).withColumn(
                "ts_hour", F.date_format("ts", "yyyy-MM-dd-HH")
            )
        df.write.mode(mode).parquet(inp)

    _write(waves[0], 0, "overwrite")  # seed so the source has a schema
    ml = MetricsListener()
    spark.streams.addListener(ml)
    q = _start(spark, construct, root, inp, bucket_by)
    t0 = time.time()
    total = len(waves[0])
    try:
        for i, pdf in enumerate(waves[1:], start=1):
            _write(pdf, i, "append")
            total += len(pdf)
            time.sleep(3)
        deadline = time.time() + 180
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["numInputRows"] == 0 and len(ml.progress) > len(waves):
                break
            time.sleep(2)
    finally:
        q.stop()
        spark.streams.removeListener(ml)
    wall = time.time() - t0

    data_epochs = [r for r in ml.progress if r["num_input_rows"] > 0]
    durations = sorted(r["batch_duration_ms"] for r in data_epochs)
    p95 = (
        durations[min(len(durations) - 1, int(0.95 * len(durations)))]
        if durations
        else None
    )
    p50 = durations[len(durations) // 2] if durations else None
    busy_s = sum(r["batch_duration_ms"] for r in data_epochs) / 1000
    rec = {
        "turns_ingested": total,
        "wall_sec": round(wall, 2),
        "sustained_turns_per_sec": round(total / wall, 1),  # arrival-throttled
        "processing_turns_per_sec": round(total / busy_s, 1) if busy_s else None,
        "epochs": len(ml.progress),
        "data_epochs": len(data_epochs),
        "batch_close_p50_ms": p50,
        "batch_close_p95_ms": p95,
        "p95_budget_ms": P95_BUDGETS_MS.get(construct),
        "max_state_rows": max((r["state_rows"] for r in ml.progress), default=0),
    }
    shutil.rmtree(root, ignore_errors=True)
    return rec


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--n-convs", type=int, default=4000)
    ap.add_argument("--waves", type=int, default=25)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--bucket-by", type=int, default=256)
    ap.add_argument("--constructs", default="ingest")
    ap.add_argument("--record", default=None,
                    help="also write the JSON to this path (e.g. BENCH/stream_soak.json)")
    ap.add_argument("--no-canary", action="store_true")
    args = ap.parse_args()
    constructs = [c.strip() for c in args.constructs.split(",") if c.strip()]

    from exposure_notifications_private_analytics_ingestion_spark.session import get_spark
    from exposure_notifications_private_analytics_ingestion_spark.streaming.canary import (
        canary_tps,
        classify,
    )

    spark = get_spark(
        app_name="soak", cores=args.cores, shuffle_partitions=32,
        extra_conf={"spark.sql.streaming.maxBatchesToRetainInMemory": "1"},
    )

    window, canary_rate = "UNGATED", None
    if not args.no_canary:
        croot = tempfile.mkdtemp(prefix="enpa-soak-canary-")
        try:
            _n, rate = canary_tps(spark, croot, n_convs=15000, width=args.cores)
        finally:
            shutil.rmtree(croot, ignore_errors=True)
        canary_rate, window = round(rate, 1), classify(rate)

    waves = _gen_waves(args.n_convs, args.waves)
    results = {c: _soak_one(spark, c, waves, args.cores, args.bucket_by)
               for c in constructs}

    out = {
        "metric": "streaming soak: sustained turns/sec + batch-close p95 per construct",
        "n_convs_per_wave": args.n_convs,
        "waves": args.waves,
        "cores": args.cores,
        "bucket_by": args.bucket_by,
        "stream_window": window,
        "stream_canary_turns_per_sec": canary_rate,
        "constructs": results,
    }
    line = json.dumps(out)
    print(line)
    if args.record:
        with open(args.record, "w") as f:
            json.dump(out, f, indent=1)

    over = {
        c: r["batch_close_p95_ms"]
        for c, r in results.items()
        if r["p95_budget_ms"] is not None
        and r["batch_close_p95_ms"] is not None
        and r["batch_close_p95_ms"] > r["p95_budget_ms"]
    }
    if over and window != "DEGRADED":
        print(f"REGRESSION: p95 over budget in HEALTHY window: {over}",
              file=sys.stderr)
        raise SystemExit(1)


if __name__ == "__main__":
    main()
