"""D1 — exactly-once dedup on the representative key.

Reference: ``Distinct.withRepresentativeValueFn(doc → doc.getName())``
(``pipeline/IngestionPipeline.java:110-119``) — needed because overlapping
hourly scans + partition retries can deliver a document more than once. The
graft key is ``(conv_id, turn_idx)`` (FIXTURES.md §1).

Placement matters and is preserved from the reference: dedup runs BEFORE the
expensive validate/decode stage so duplicates never pay the pandas-UDF cost
(SURVEY §4 "dedup placement").

The batch winner rule is defined here, once: among rows sharing a key, the
one whose remaining columns are smallest, compared in column order with
NULL first (``dedup_rank_sql``: ``row_number() over (partition by key
order by rest)``). It is total up to fully identical rows, so a replay or a
retry keeps the same bytes, and every batch path of ``plans/ingestion.py``
uses it. The window
needs the rows clustered by the key; any partitioning on a subset of the key
serves, so a caller that chunks by an extension of the key can exchange once
for both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

DEDUP_KEY = ["conv_id", "turn_idx"]


def dedup_turns(df: DataFrame, key: list[str] | None = None) -> DataFrame:
    """Arbitrary-winner dedup (the reference's semantics: rows with the same
    path are interchangeable; Distinct keeps one)."""
    return df.dropDuplicates(key or DEDUP_KEY)


def quote(name: str) -> str:
    """A column name as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def dedup_rank_sql(columns: list[str], key: list[str]) -> str:
    """The winner rule as SQL text: a row's rank among the rows sharing
    ``key``, ordered by its other ``columns`` in column order, NULL first;
    rank 1 wins."""
    rest = [c for c in columns if c not in key]
    # with no other column, rows sharing a key are identical
    order = ", ".join(quote(c) for c in rest or key)
    return (
        f"row_number() OVER (PARTITION BY {', '.join(quote(c) for c in key)}"
        f" ORDER BY {order})"
    )


def dedup_turns_deterministic(df: DataFrame, key: list[str] | None = None) -> DataFrame:
    """Deterministic-winner dedup: per key, the row whose other columns are
    smallest in column order, NULL first (the module's winner rule)."""
    rank = dedup_rank_sql(df.columns, key or DEDUP_KEY)
    return df.selectExpr("*", f"{rank} AS _rn_dedup").filter("_rn_dedup = 1").drop("_rn_dedup")
