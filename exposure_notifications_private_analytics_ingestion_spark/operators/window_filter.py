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
from pyspark.sql import functions as F


def calculate_window_start(start_s: int | None, duration_s: int, now_s: int) -> int:
    """Port of IngestionPipelineOptions.calculatePipelineStart(:219-224)."""
    if start_s is not None:
        return start_s
    return (now_s // duration_s - 1) * duration_s


def ts_ms_col(ts_col: str = "ts"):
    """Exact epoch-ms (integer division on unix micros — never float math,
    which is off-by-one at µs-000 boundaries)."""
    return F.expr(f"unix_micros({ts_col}) div 1000")


def window_filter(
    df: DataFrame, start_s: int, duration_s: int, ts_col: str = "ts"
) -> DataFrame:
    """Keep rows with ts_ms in [start_s*1000, (start_s+duration_s)*1000)."""
    ts_ms = ts_ms_col(ts_col)
    lo = start_s * 1000
    hi = (start_s + duration_s) * 1000
    return df.filter(
        F.col(ts_col).isNotNull() & (ts_ms >= F.lit(lo)) & (ts_ms < F.lit(hi))
    )
