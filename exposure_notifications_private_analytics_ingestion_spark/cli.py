"""spark-submit entry points.

Usage (cluster — spark-submit takes a driver script, so the thin forwarder
tools/submit_job.py carries argv here; tools/submit.sh packages + submits):
  spark-submit --master spark://... --py-files dist/enpa_spark.zip \\
      tools/submit_job.py ingest \\
      --input s3://bucket/turns --output s3://bucket/out \\
      --window-start 1704067200 --duration 3600 --batch-size 100000

  ... cli stream  --input ... --output ... --checkpoint ... [--continuous]
  ... cli delete  --table ... --window-start ... [--duration 43200]
  ... cli catchup --input ... --output ... --state state.json  (incremental)
  ... cli profile --input ... --output ... --checkpoint ...  (HLL windows)
  ... cli compact --table ... [--target-file-mb 128]

Local sandbox: python -m exposure_..._spark.cli <cmd> ... (master local[N]).

Mirrors the reference's three mains: IngestionPipeline (batch),
the Structured-Streaming rebuild, and DeletionPipeline
(``pipeline/IngestionPipeline.java:124-162``, ``pipeline/DeletionPipeline.java:40-89``).
"""

from __future__ import annotations

import argparse
import json
import time

from .plans.deletion import run_deletion
from .plans.ingestion import IngestionOptions, run_ingestion
from .operators.window_filter import calculate_window_start
from .session import get_spark
from .streaming import StreamOptions, start_stream_ingestion


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="enpa-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest", help="batch ingestion for one window")
    pi.add_argument("--input", required=True)
    pi.add_argument("--output", required=True)
    pi.add_argument("--window-start", type=int, default=None)
    pi.add_argument("--duration", type=int, default=3600)
    pi.add_argument("--batch-size", type=int, default=100_000)
    pi.add_argument("--attestation", default=None,
                    help="registered stage: signature_presence | signature_verify")
    pi.add_argument("--scalable-chunking", action="store_true")
    pi.add_argument("--emit-avro-containers", action="store_true",
                    help="also write one Avro object-container file per "
                         "(batch, destination) at the reference path layout")
    pi.add_argument("--signing-key-pem", default=None,
                    help="PEM file: sign batch headers with ECDSA P-256 "
                         "(W3, asymmetricSign contract) and publish the "
                         "public key to signing_key.json")

    ps = sub.add_parser("stream", help="continuous streaming ingestion")
    ps.add_argument("--input", required=True)
    ps.add_argument("--output", required=True)
    ps.add_argument("--checkpoint", required=True)
    ps.add_argument("--batch-size", type=int, default=100_000)
    ps.add_argument("--window", type=int, default=3600)
    ps.add_argument("--watermark", default="1 hour")
    ps.add_argument("--mode", choices=["tumbling", "session"], default="tumbling")
    ps.add_argument("--session-gap", type=int, default=1800,
                    help="session-mode inactivity gap, seconds")
    ps.add_argument("--bucket-by", type=int, default=StreamOptions.bucket_by,
                    help="state keys: key the stateful assembler by "
                         "hash(conv_id) %% N (output does not depend on N; "
                         "fixed for a checkpoint's life). Size it "
                         "~n_active_convs/200.")
    ps.add_argument("--facts", default=None,
                    help="attestation-fact stream path (conv_id, fact_id, "
                         "fact_ts): only turns whose conversation has a fact "
                         "within --facts-bound seconds at-or-before the turn "
                         "are ingested (watermarked stream-stream join)")
    ps.add_argument("--facts-bound", type=int, default=3600)
    ps.add_argument("--invalid-path", default=None,
                    help="dead-letter queue: write filter-dropped rows "
                         "(null ts/text) here with an invalid_reason column")
    ps.add_argument("--resilient", action="store_true",
                    help="skip corrupt/vanished source files instead of "
                         "failing the query; audit skips afterwards with "
                         "sources.quarantine.corrupt_file_inventory")
    ps.add_argument("--continuous", action="store_true",
                    help="keep running (default: availableNow then exit)")

    pd = sub.add_parser("delete", help="retention job (2-window lookback)")
    pd.add_argument("--table", required=True)
    pd.add_argument("--window-start", type=int, default=None)
    pd.add_argument("--duration", type=int, default=43200)

    pc = sub.add_parser("catchup", help="incremental ingestion of all new, "
                        "settled hour partitions (crash-safe state file)")
    pc.add_argument("--input", required=True)
    pc.add_argument("--output", required=True)
    pc.add_argument("--state", required=True,
                    help="JSON state file tracking processed hours")
    pc.add_argument("--batch-size", type=int, default=100_000)
    pc.add_argument("--settle-hours", type=int, default=1,
                    help="withhold the newest N hours present in the data "
                         "(late-arrival settlement)")

    pp = sub.add_parser("profile", help="streaming windowed cardinality "
                        "profile: per-(window, role) distinct-conv HLL "
                        "sketches, one row per watermark-closed window")
    pp.add_argument("--input", required=True)
    pp.add_argument("--output", required=True)
    pp.add_argument("--checkpoint", required=True)
    pp.add_argument("--window", type=int, default=3600)
    pp.add_argument("--watermark", default="30 minutes")
    pp.add_argument("--continuous", action="store_true")

    pm = sub.add_parser("compact", help="rewrite oversplit partitions of a "
                        "parquet table to the target file size")
    pm.add_argument("--table", required=True)
    pm.add_argument("--target-file-mb", type=int, default=128)

    pu = sub.add_parser("upsert", help="streaming CDC upsert: a correction "
                        "stream lands as keyed MERGE updates on a table")
    pu.add_argument("--input", required=True)
    pu.add_argument("--warehouse", required=True,
                    help="table warehouse root (TableProvider)")
    pu.add_argument("--table", required=True)
    pu.add_argument("--keys", required=True,
                    help="comma-separated key columns, e.g. conv_id,turn_idx")
    pu.add_argument("--seq-col", required=True,
                    help="version column; greatest wins within an epoch")
    pu.add_argument("--checkpoint", required=True)
    pu.add_argument("--partition-col", default=None,
                    help="hive partition column for scoped copy-on-write")
    pu.add_argument("--continuous", action="store_true")

    pq = sub.add_parser("cep", help="streaming pattern detection: per-key "
                        "session episodes matched against a regex over "
                        "event-type symbols, one row per watermark-closed "
                        "episode")
    pq.add_argument("--input", required=True)
    pq.add_argument("--output", required=True)
    pq.add_argument("--checkpoint", required=True)
    pq.add_argument("--key", default="conv_id")
    pq.add_argument("--ts-col", default="ts")
    pq.add_argument("--tiebreak", default="turn_idx")
    pq.add_argument("--type-col", default="role")
    pq.add_argument("--symbols", required=True,
                    help="JSON object mapping event-type values to single "
                         "chars, e.g. '{\"user\":\"u\",\"assistant\":\"a\"}'")
    pq.add_argument("--pattern", required=True,
                    help="regex over the symbol chars (portable subset: "
                         "literals, classes, * + ? |)")
    pq.add_argument("--gap", type=int, default=1800,
                    help="session gap seconds splitting episodes")
    pq.add_argument("--watermark", default="30 minutes")
    pq.add_argument("--continuous", action="store_true")

    args = p.parse_args(argv)
    spark = get_spark(app_name=f"enpa-{args.cmd}")
    now = int(time.time())

    if args.cmd == "ingest":
        start = calculate_window_start(args.window_start, args.duration, now)
        signing_pem = None
        if args.signing_key_pem:
            with open(args.signing_key_pem, "rb") as f:
                signing_pem = f.read()
        opts = IngestionOptions(
            window_start_s=start,
            duration_s=args.duration,
            batch_size=args.batch_size,
            attestation=args.attestation,
            scalable_chunking=args.scalable_chunking,
            emit_avro_containers=args.emit_avro_containers,
            signing_key_pem=signing_pem,
        )
        stats = run_ingestion(spark, args.input, args.output, opts)
        run = {k: stats.pop(k) for k in ("packets_written", "batches", "min_ts", "max_ts")}
        print(json.dumps({"window_start": start, **run, "invalid_counters": stats}))
    elif args.cmd == "stream":
        q = start_stream_ingestion(
            spark,
            args.input,
            args.output,
            args.checkpoint,
            StreamOptions(
                batch_size=args.batch_size,
                window_s=args.window,
                watermark=args.watermark,
                mode=args.mode,
                session_gap_s=args.session_gap,
                bucket_by=args.bucket_by,
                facts_path=args.facts,
                facts_bound_s=args.facts_bound,
                resilient=args.resilient,
                invalid_path=args.invalid_path,
            ),
            available_now=not args.continuous,
        )
        q.awaitTermination()
        # the DLQ side query has its own offsets; exiting before it drains
        # would silently drop the dead-letter rows the flag exists to keep
        if getattr(q, "dlq_query", None) is not None:
            q.dlq_query.awaitTermination()
    elif args.cmd == "delete":
        start = calculate_window_start(args.window_start, args.duration, now)
        deleted = run_deletion(spark, args.table, start, args.duration)
        print(json.dumps({"deleted_partitions": deleted}))
    elif args.cmd == "catchup":
        from .plans.incremental import run_incremental

        done = run_incremental(
            spark,
            args.input,
            args.output,
            args.state,
            IngestionOptions(batch_size=args.batch_size),
            settle_hours=args.settle_hours,
        )
        print(json.dumps({"processed_hours": done}))
    elif args.cmd == "profile":
        from .streaming import start_profile_stream

        q = start_profile_stream(
            spark,
            args.input,
            args.output,
            args.checkpoint,
            window_s=args.window,
            watermark=args.watermark,
            available_now=not args.continuous,
        )
        q.awaitTermination()
    elif args.cmd == "compact":
        from .plans.compaction import compact_table

        plan = compact_table(
            spark, args.table, target_file_bytes=args.target_file_mb * 1024 * 1024
        )
        print(
            json.dumps(
                {
                    "partitions": len(plan),
                    "rewritten": [p.partition for p in plan if p.oversplit],
                }
            )
        )
    elif args.cmd == "upsert":
        from .plans.tables import TableProvider
        from .streaming import start_cdc_upsert_stream

        q = start_cdc_upsert_stream(
            spark,
            args.input,
            TableProvider(spark, args.warehouse),
            args.table,
            keys=[k.strip() for k in args.keys.split(",") if k.strip()],
            seq_col=args.seq_col,
            checkpoint=args.checkpoint,
            partition_col=args.partition_col,
            available_now=not args.continuous,
        )
        q.awaitTermination()
    elif args.cmd == "cep":
        from .streaming import start_pattern_stream

        q = start_pattern_stream(
            spark,
            args.input,
            args.output,
            args.checkpoint,
            key=args.key,
            ts_col=args.ts_col,
            tiebreak=args.tiebreak,
            type_col=args.type_col,
            symbols=json.loads(args.symbols),
            pattern=args.pattern,
            gap_s=args.gap,
            watermark=args.watermark,
            available_now=not args.continuous,
        )
        q.awaitTermination()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
