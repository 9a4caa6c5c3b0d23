"""Scalar helpers: deterministic uuid5 and hex→long conversion.

The reference attaches a *random* UUID batch id pre-writer and then derives a
*deterministic* file UUID ``nameUUIDFromBytes(aggregateId + batchId)`` so
runner retries overwrite the same destination
(``pipeline/IngestionPipeline.java:226-233``, ``pipeline/BatchWriterFn.java:140-143``).
We go one step stronger (as planned in SURVEY §2 G2): the batch id itself is
``uuid5(name + window + chunk_ordinal)``, so a full re-run — not just a bundle
retry — lands on identical destinations. uuid5 = SHA-1 namespace UUID,
computed JVM-side from SQL text (``uuid5_sql``), bit-identical to the
stdlib's ``uuid.uuid5(NAMESPACE, name)``.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

NAMESPACE = uuid.UUID("6ba7b810-9dad-11d1-80b4-00c04fd430c8")  # uuid.NAMESPACE_DNS


def uuid5_sql(name: str) -> str:
    """RFC-4122 v5 UUID of the SQL string expression ``name``, as SQL text:
    sha1 and string ops only, so the batch-id path stays inside whole-stage
    codegen with no Python in the plan. Version nibble := 5; variant nibble
    := (x & 3) | 8."""
    h = f"sha1(concat(unhex('{NAMESPACE.hex}'), encode({name}, 'UTF-8')))"
    variant = f"lower(conv(CAST(CAST(conv(substring({h}, 17, 1), 16, 10) AS INT) % 4 + 8 AS STRING), 10, 16))"
    return (
        f"concat_ws('-', substring({h}, 1, 8), substring({h}, 9, 4),"
        f" concat('5', substring({h}, 14, 3)), concat({variant}, substring({h}, 18, 3)),"
        f" substring({h}, 21, 12))"
    )


def uuid5_col(name: str) -> Column:
    """``uuid5_sql`` of the SQL string expression ``name`` as a Column."""
    return F.expr(uuid5_sql(name))


def hex_to_long(col: Column, n_hex: int = 15) -> Column:
    """First ``n_hex`` hex chars of a hash string → non-negative long.

    JVM-side (``conv``), no Python. n_hex ≤ 15 keeps the value under 2^60 so
    the signed-long cast never wraps.
    """
    return F.conv(F.substring(col, 1, n_hex), 16, 10).cast(T.LongType())
