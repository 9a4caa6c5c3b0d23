"""F1 — half-open event-time window filter.

Reference: ``DateFilterFn`` keeps ``createdMs ∈ [start*1000, (start+dur)*1000)``
and drops null/zero createdMs with a warning (``pipeline/DateFilterFn.java:36-66``);
window start defaults to ``floor(now/duration - 1) * duration``
(``pipeline/IngestionPipelineOptions.java:219-224``).

The reference applies this AFTER reading ±grace hours of partitions; Catalyst
instead pushes the predicate into the parquet/Iceberg scan (partition pruning
+ row-group skipping) — a physical upgrade with identical row semantics
(SURVEY §4 "predicate pushdown"). Comparison is done at millisecond
granularity to match ``DateFilterFn.java:57-58`` exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def calculate_window_start(start_s: int | None, duration_s: int, now_s: int) -> int:
    """Port of IngestionPipelineOptions.calculatePipelineStart(:219-224)."""
    if start_s is not None:
        return start_s
    return (now_s // duration_s - 1) * duration_s


def window_predicate_sql(lo_ms: str | int, hi_ms: str | int, ts_col: str = "ts") -> str:
    """``ts_ms ∈ [lo_ms, hi_ms)`` and a non-null ``ts``, as SQL text; the
    bounds are SQL operands (literals or parameter markers). ts_ms is exact
    epoch-ms — integer division on unix micros, never float math, which is
    off-by-one at µs-000 boundaries."""
    ts_ms = f"unix_micros({ts_col}) div 1000"
    return f"{ts_col} IS NOT NULL AND {ts_ms} >= {lo_ms} AND {ts_ms} < {hi_ms}"


def window_filter(
    df: DataFrame, start_s: int, duration_s: int, ts_col: str = "ts"
) -> DataFrame:
    """Keep rows with ts_ms in [start_s*1000, (start_s+duration_s)*1000)."""
    return df.filter(
        window_predicate_sql(start_s * 1000, (start_s + duration_s) * 1000, ts_col)
    )
