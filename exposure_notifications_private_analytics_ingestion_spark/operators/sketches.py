"""Mergeable sketch summaries: HLL distinct-count sketches and KLL-style
approximate quantiles over arbitrary group keys.

Why sketches at 100 TB: exact ``COUNT(DISTINCT x)`` re-shuffles the full key
set for every grouping you ask for, and exact percentiles need a global
sort. Sketches make both ONE-PASS and MERGEABLE: each partition builds a
fixed-size summary (an HLL register array / a KLL sample hierarchy),
partials merge associatively map-side, and — the part that matters
operationally — sketches for fine-grained groups (per language, per hour,
per shard) can be UNIONED later into coarser rollups without touching the
raw data again. That is how a corpus profile is maintained incrementally:
sketch each new partition once, merge into the running profile.

Implementation is the JVM's Apache DataSketches integration (Spark 3.5+:
``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``) and
``percentile_approx`` — all codegen'd aggregates, no Python anywhere.
Estimates are deterministic for a given input (hash-based, no RNG) but
algorithm-specific, so the DuckDB oracle cannot value-match them; the gate
is pytest relative-error bounds against exact counts plus the
merge-consistency law (union of per-group sketches ≈ global sketch,
EXACTLY — byte-equal estimates — since HLL union is lossless at the same
lgK).

Reference parity: the reference's metrics are exact counters over small
batch metadata (``DataProcessorMetrics.java``); sketches are driver-brief
scale breadth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_LGK = 12  # 2^12 registers ≈ 0.8% relative standard error


def sketch_profile(
    df: DataFrame,
    group_cols: list[str],
    distinct_col: str,
    quantile_col: str | None = None,
    lgk: int = DEFAULT_LGK,
) -> DataFrame:
    """Per-group profile row: HLL sketch + its estimate, and (optionally)
    p50/p95/p99 of a numeric column — one hash-aggregate, partials merged
    map-side."""
    aggs = [
        F.hll_sketch_agg(F.col(distinct_col), lgk).alias("hll"),
        F.count("*").alias("n_rows"),
    ]
    if quantile_col is not None:
        aggs.append(
            F.percentile_approx(
                F.col(quantile_col),
                F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)),
                F.lit(10000),
            ).alias("quantiles")
        )
    out = df.groupBy(*group_cols).agg(*aggs)
    return out.withColumn(
        "distinct_est", F.hll_sketch_estimate(F.col("hll")).cast("long")
    )


def merge_profiles(profiles: DataFrame, rollup_cols: list[str]) -> DataFrame:
    """Roll per-group sketches up to a coarser grouping WITHOUT re-reading
    the raw data: hll_union_agg merges the register arrays losslessly (same
    lgK), so the rolled-up estimate is identical to sketching the raw union
    directly."""
    return (
        profiles.groupBy(*rollup_cols)
        .agg(
            F.hll_union_agg(F.col("hll")).alias("hll"),
            F.sum("n_rows").alias("n_rows"),
        )
        .withColumn(
            "distinct_est", F.hll_sketch_estimate(F.col("hll")).cast("long")
        )
    )
