"""X1 — packet split: each share fans out to exactly NUMBER_OF_SERVERS(=2)
packets, index 0 → 'pha', index 1 → 'facilitator'.

Reference: ``PrioSerializationHelper.splitPackets``
(``pipeline/PrioSerializationHelper.java:106-121``) nulls
``encryption_key_id`` / ``version_configuration`` / ``device_nonce`` on the
output packets; routing + size check in ``pipeline/BatchWriterFn.java:121-133``.
Fork-consistency contract (``IngestionPipelineIT.java:601-630``): both
destinations carry the same uuid set with equal r_pit.

Spark shape: ``posexplode`` on the shares array — a pure narrow transform, no
shuffle, fully codegen'd (Generate node). uuid = ``conv_id#turn_idx``
(FIXTURES.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DESTINATIONS = ["pha", "facilitator"]

# the packet uuid of a turn
TURN_UUID_SQL = "concat_ws('#', conv_id, CAST(turn_idx AS STRING))"
# the batch's Prio metadata a packet carries to the header stage — the
# reference derives header fields from DataShareMetadata, never from
# constants (pipeline/BatchWriterFn.java:152-176)
_PRIO_FIELDS = (("bins", "INT"), ("epsilon", "DOUBLE"), ("hamming_weight", "INT"), ("prime", "BIGINT"))


def turn_uuid() -> Column:
    return F.expr(TURN_UUID_SQL)


def packet_generator_sql(columns: list[str], payload_col: str = "encrypted_shares") -> str:
    """The fan-out of a turn into its destinations' rows, as a SQL
    generator yielding ``(_pos, _share)``: the shares array when the rows
    carry ``payload_col``, else positions 0 and 1."""
    shares = payload_col if payload_col in columns else "array(0, 1)"
    return f"posexplode({shares})"


def packet_columns_sql(columns: list[str], payload_col: str = "encrypted_shares") -> list[str]:
    """The packet row's columns as SQL text over a fanned-out row (see
    ``packet_generator_sql``) of a frame with ``columns``."""
    payload = (
        "unbase64(_share.payload)"
        if payload_col in columns
        else "encode(text, 'UTF-8')"
    )
    cols = [
        "batch_id",
        f"CASE WHEN _pos = 0 THEN '{DESTINATIONS[0]}' ELSE '{DESTINATIONS[1]}' END AS destination",
        f"{TURN_UUID_SQL} AS uuid",
        "r_pit" if "r_pit" in columns else "CAST(NULL AS BIGINT) AS r_pit",
        f"{payload} AS encrypted_payload",
        "CAST(NULL AS STRING) AS encryption_key_id",
        "CAST(NULL AS STRING) AS version_configuration",
        "CAST(NULL AS BINARY) AS device_nonce",
        "conv_id",
        "turn_idx",
        "ts",
    ]
    if "prio_params" in columns:
        cols += [f"CAST(prio_params.{f} AS {t}) AS {f}" for f, t in _PRIO_FIELDS]
    return cols


def split_packets(df: DataFrame, payload_col: str = "encrypted_shares") -> DataFrame:
    """Valid turns (with a 2-element shares array) → 2 packet rows each.

    If ``payload_col`` is absent (plain transcript turns), both forks carry
    the turn text bytes — the graft's per-turn parity column.
    """
    gen = packet_generator_sql(df.columns, payload_col)
    return df.selectExpr("*", f"{gen} AS (_pos, _share)").selectExpr(
        *packet_columns_sql(df.columns, payload_col)
    )
