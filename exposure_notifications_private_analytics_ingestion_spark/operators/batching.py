"""K1 + G1 + G2 — key-by metadata, fixed-size chunking, batch-id assignment.

Reference: shares are keyed by their stringified ``DataShareMetadata``
(``pipeline/IngestionPipeline.java:78-88,196-207``), chunked with
``GroupIntoBatches.ofSize(batchSize)`` (default 200k / deployed 100k —
``IngestionPipelineOptions.java:172-177``, ``terraform/variables.tf:101-104``),
then a batch id is attached (``IngestionPipeline.java:210-236``). The
reference's batch id is a random UUID whose retry-idempotence comes from a
second deterministic file-UUID; we collapse both into one deterministic
``uuid5(name|window_start|ordinal)`` (see functions.hashing) — full re-runs
hit identical destinations, which is strictly stronger
(comment at ``IngestionPipeline.java:229-231`` concedes the reference's isn't).

Spark shapes (no GroupIntoBatches built-in — SURVEY §2 G1). Both chunkers
take rows already deduplicated by ``operators/dedup.py``'s winner rule and
window-filtered, so they differ only in batch membership:
- exact chunking (``assign_batches``): ``row_number() over (partition by
  key order by turn_idx)`` then ``floor((rn-1)/batch_size)``. A per-key sort;
  after ``shuffle_by(dedup key)`` it needs no exchange of its own
  (``dedup_window_chunk``). Matches the reference's "every batch except the
  last is exactly batch_size" property and gives a replay-stable membership.
- scalable chunking for hot keys (``assign_batches_scalable``): a per-key
  count (hash-agg, map-side partial) joined back (AQE picks broadcast vs
  skew-split SMJ at runtime), then stateless ``pmod(xxhash64(turn_idx),
  n_batches)`` assignment — no per-key sort, batches are *approximately*
  batch_size. Use when a single conversation exceeds what one task should
  sort (the 10^12-turn hot-key case); membership is still deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import uuid5_sql
from .dedup import dedup_turns_deterministic, quote
from .window_filter import window_filter

# separates the chunk key's parts in a batch id's name
_KEY_SEP = "'\\u001F'"


def exact_ordinal_sql(key: list[str], order: list[str], batch_size: str | int) -> str:
    """Exact chunking as SQL text: a row's ``floor((rn - 1) / batch_size)``
    in its key's ``order`` (SQL expressions)."""
    rank = f"row_number() OVER (PARTITION BY {', '.join(key)} ORDER BY {', '.join(order)})"
    return f"CAST(floor(({rank} - 1) / {batch_size}) AS INT)"


def batch_count_sql(batch_size: str | int) -> str:
    """Scalable chunking's per-key aggregate: the key's number of batches."""
    return f"CAST(ceil(count(*) / {batch_size}) AS INT)"


def hashed_ordinal_sql(salt: str, n_batches: str) -> str:
    """Scalable chunking's stateless ordinal of a row in ``n_batches``."""
    return f"CAST(pmod(xxhash64({salt}), {n_batches}) AS INT)"


def batch_id_sql(key: list[str], window_start_s: str | int, ordinal: str) -> str:
    """``uuid5(key|window_start|ordinal)`` as SQL text, the key's parts
    (SQL expressions) as strings joined by U+001F."""
    parts = ", ".join(f"CAST({k} AS STRING)" for k in key)
    return uuid5_sql(
        f"concat_ws('|', concat_ws({_KEY_SEP}, {parts}),"
        f" CAST({window_start_s} AS STRING), CAST({ordinal} AS STRING))"
    )


def assign_batches(
    df: DataFrame,
    batch_size: int,
    window_start_s: int,
    key_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Exact fixed-size chunking per key (GroupIntoBatches semantics).

    Adds ``batch_ordinal`` (int) and deterministic ``batch_id`` (uuid5).
    """
    key = [quote(c) for c in key_cols or ["conv_id"]]
    order = [quote(c) for c in order_cols or ["turn_idx"]]
    return df.selectExpr(
        "*", f"{exact_ordinal_sql(key, order, batch_size)} AS batch_ordinal"
    ).selectExpr("*", f"{batch_id_sql(key, window_start_s, 'batch_ordinal')} AS batch_id")


def shuffle_by(df: DataFrame, *cols: str) -> DataFrame:
    """``df`` hash-repartitioned by ``cols`` into EXACTLY
    ``spark.sql.shuffle.partitions`` partitions. AQE coalesces a plain
    ``repartition(cols)`` to advisory-sized partitions; the batch job's
    writer pass rides these exchanges, and coalesced it would run well
    below the core count on large windows."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)


def dedup_window_chunk(
    df: DataFrame,
    batch_size: int,
    window_start_s: int,
    duration_s: int,
    key_cols: list[str] | None = None,
    order_cols: list[str] | None = None,
    ts_col: str = "ts",
    dedup_key_cols: list[str] | None = None,
) -> DataFrame:
    """D1+F1+G1 behind ONE exchange: ``shuffle_by(dedup_key_cols)``, then
    ``dedup_turns_deterministic`` on ``(dedup_key_cols, order_cols)``,
    ``window_filter`` and ``assign_batches`` on ``key_cols``.

    HashPartitioning on the dedup keys satisfies both windows' clustering
    (dedup's ``(dedup_key_cols, order_cols)`` and chunking's ``key_cols``,
    which only ever extend the dedup keys), so Catalyst adds no second
    exchange. Dedup is keyed on the dedup keys, NOT the extended chunk key:
    duplicate turns collapse to one row even when their payload metadata
    differs. ``plans/ingestion.py::_core_sql`` builds the same chain from
    the same SQL fragments, its attestation stage between the window
    filter and chunking."""
    key_cols = key_cols or ["conv_id"]
    dedup_key_cols = dedup_key_cols or key_cols
    order_cols = order_cols or ["turn_idx"]
    deduped = dedup_turns_deterministic(
        shuffle_by(df, *dedup_key_cols), dedup_key_cols + order_cols
    )
    return assign_batches(
        window_filter(deduped, window_start_s, duration_s, ts_col),
        batch_size,
        window_start_s,
        key_cols,
        order_cols,
    )


def assign_batches_scalable(
    df: DataFrame,
    batch_size: int,
    window_start_s: int,
    key_cols: list[str] | None = None,
    salt_col: str = "turn_idx",
) -> DataFrame:
    """Sort-free chunking for skewed keys: count per key → n_batches →
    hash-route each row. Two hash-aggregates, zero per-key sorts; AQE's
    skew handling splits the hot key's shuffle partitions."""
    key_cols = key_cols or ["conv_id"]
    counts = df.groupBy(*key_cols).agg(
        F.expr(f"{batch_count_sql(batch_size)} AS _n_batches")
    )
    # No broadcast hint: `counts` has one row PER DISTINCT KEY, which is
    # unbounded (a forced broadcast OOMs the driver at 10^9+ conversations).
    # AQE broadcasts it at runtime when it is actually small, and its
    # skew-join splitting handles the hot key on the SMJ path otherwise.
    key = [quote(c) for c in key_cols]
    return (
        df.join(counts, key_cols)
        .selectExpr(
            "*", f"{hashed_ordinal_sql(quote(salt_col), '_n_batches')} AS batch_ordinal"
        )
        .drop("_n_batches")
        .selectExpr("*", f"{batch_id_sql(key, window_start_s, 'batch_ordinal')} AS batch_id")
    )
