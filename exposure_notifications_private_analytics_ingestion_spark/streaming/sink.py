"""Exactly-once epoch sink for the streaming CEP core.

Each epoch's closed batches go through the batch job's write entry
(``plans/ingestion.py::write_partition``): ONE Spark action, in which each
task writes the packet rows and the header — with ``packet_file_digest``,
the one Python definition both jobs use — of each (batch, destination)
group into a staging tree, which the driver then swaps into the legs'
``epoch=E`` partitions. foreachBatch hands a retried epoch the same id, so
a retry replaces exactly its own partitions and the sink is exactly-once, as
the reference's deterministic file UUIDs make its batch job
(``BatchWriterFn.java:135-150``).

Each epoch that closes rows writes:
- ``packets/epoch=E/destination=D/`` — one row per closed turn and
  destination (pha + facilitator)
- ``batch_headers/epoch=E/`` — one row per (batch, destination), with
  ``destination`` as a column
- ``lineage/epoch-E.json`` — the epoch's exact row, batch and conversation
  counts and ts bounds, from the writer's task results (the north_rule's
  per-partition lineage record)

No shuffle of its own: the writer needs each batch in one task, and the
assembler emits a closed batch from the state group holding its
conversation, so each batch already sits in one partition of the stateful
operator's output; the pass only sorts within partitions. A frame not
clustered that way — a caller's own — is written once more, repartitioned
by ``batch_id`` (``write_partition``'s rule).
"""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.packets import DESTINATIONS
from ..plans.ingestion import _data_schema, _local_root, write_partition

# the header leg's file schema; its files carry ``destination`` as a column
EPOCH_HEADERS_SCHEMA = pa.schema(
    [
        ("batch_id", pa.string()),
        ("destination", pa.string()),
        ("name", pa.string()),
        ("batch_start_time", pa.int64()),
        ("n_packets", pa.int64()),
        ("min_ts_ms", pa.int64()),
        ("max_ts_ms", pa.int64()),
        ("packet_file_digest", pa.string()),
    ]
)


def _packets(batch_df: DataFrame) -> DataFrame:
    """One packet row per closed turn and destination. Narrow, so it keeps
    the partitioning of the assembler's output."""
    dest = F.explode(F.array(*[F.lit(d) for d in DESTINATIONS])).alias("destination")
    return batch_df.select(
        "batch_id",
        dest,
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("uuid"),
        F.encode("text", "UTF-8").alias("encrypted_payload"),
        "conv_id",
        "turn_idx",
        "ts_ms",
        "window_start_s",
        "batch_ordinal",
        "close_reason",
    )


def _header_row(batch_id: str, dest: str, group: pa.Table, digest: str) -> dict:
    ts = pc.min_max(group.column("ts_ms"))
    return {
        "batch_id": batch_id,
        "destination": dest,
        "name": group.column("conv_id")[0].as_py(),
        "batch_start_time": group.column("window_start_s")[0].as_py(),
        "n_packets": group.num_rows,
        "min_ts_ms": ts["min"].as_py(),
        "max_ts_ms": ts["max"].as_py(),
        "packet_file_digest": digest,
    }


def make_epoch_sink(output_root: str):
    """foreachBatch callable: one writer pass per epoch, committed into the
    legs' ``epoch=E`` partitions, then the epoch's lineage record. The
    output root must be a local or mounted path (or a ``file:`` URI)."""
    root = _local_root(output_root)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # no emptiness probe and no persist: in foreachBatch every action
        # re-executes the stateful plan, so the epoch is this one action
        packets = _packets(batch_df)
        schemas = {
            "packets": _data_schema(packets.schema),
            "batch_headers": EPOCH_HEADERS_SCHEMA,
        }
        results = write_partition(
            packets, root, f"epoch={epoch_id}", schemas, _header_row, "ts_ms"
        )
        if not results:
            return
        rec = {
            "epoch": epoch_id,
            # every closed turn is one packet per destination
            "n_rows": sum(r["packets"] for r in results) // len(DESTINATIONS),
            "n_batches": len({b for r in results for b in r["batch_ids"]}),
            "n_convs": len({c for r in results for c in r["convs"]}),
            "min_ts_ms": min(r["min_ts"] for r in results),
            "max_ts_ms": max(r["max_ts"] for r in results),
            "wall_time": time.time(),
        }
        os.makedirs(f"{root}/lineage", exist_ok=True)
        tmp = f"{root}/lineage/.epoch-{epoch_id}.tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, f"{root}/lineage/epoch-{epoch_id}.json")

    return sink
