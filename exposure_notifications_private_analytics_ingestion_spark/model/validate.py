"""Parse/validate/drop-invalid stage (V1) + rpit generation (V2).

Reference parity: ``model/DataShare.from()`` (``model/DataShare.java:109-272``)
validates one Firestore document at a time, throwing
``InvalidDataShareException`` per failure class; the DoFn catches, counts, and
drops (``model/DataShare.java:316-332``). Here the whole check chain is a
single Catalyst ``CASE WHEN`` cascade (whole-stage codegen, no Python), producing an
``invalid_reason`` column; dropping + per-class counting are then plain
``filter`` / ``groupBy`` — counters come for free as a DataFrame instead of
Beam metric side-channels — or an ``Observation`` on the scan itself.

rpit (``model/DataShare.java:190-205,368-383``) is a random field element of
``[0, PRIME)`` that is not an n-th root of unity for ``n = nextPow2(bins+1)``.
The reference uses ``SecureRandom`` (nondeterministic; its own IT therefore
excludes rpit from parity — ``IngestionPipelineIT.java:525-530``). We make it
deterministic-per-row (md5 of uuid + attempt, rejection-sampled) so reruns are
reproducible — computed in an Arrow-vectorized pandas UDF with numpy modpow by
repeated squaring (values < 2^32 so squares fit uint64).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import sql_function
from .schema import LATEST_SCHEMA_VERSION, MIN_SCHEMA_VERSION, NUMBER_OF_SERVERS, PRIME

_B64_RE = r"^[A-Za-z0-9+/]*={0,2}$"

# The full DataShare.from() check chain, in order: the first failing check
# names the row's reason. Check order mirrors model/DataShare.java:109-272:
# payload → created → schemaVersion → prioParams(prime/epsilon/bins/
# numberServers) → encryptedDataShares → signature → certificateChain.
# SQL text, so the driver builds the whole cascade in one call rather than
# one JVM round trip per column expression.
PAYLOAD_CHECKS = (
    (
        "missing_payload",
        "schema_version IS NULL AND prio_params IS NULL AND encrypted_shares IS NULL",
    ),
    ("missing_created", "ts IS NULL"),
    ("missing_schema_version", "schema_version IS NULL"),
    (
        "invalid_schema_version",
        f"schema_version < {MIN_SCHEMA_VERSION} OR schema_version > {LATEST_SCHEMA_VERSION}",
    ),
    ("missing_prio_params", "prio_params IS NULL"),
    ("missing_prime", "prio_params.prime IS NULL"),
    ("wrong_prime", f"prio_params.prime != {PRIME}"),
    ("missing_epsilon", "prio_params.epsilon IS NULL"),
    ("invalid_bins", "prio_params.bins IS NULL OR prio_params.bins < 0"),
    (
        "wrong_number_servers",
        "prio_params.number_servers IS NULL"
        f" OR prio_params.number_servers != {NUMBER_OF_SERVERS}",
    ),
    (
        "share_count_mismatch",
        "encrypted_shares IS NULL OR size(encrypted_shares) != prio_params.number_servers",
    ),
    (
        "missing_encryption_key_id",
        "NOT forall(encrypted_shares,"
        " s -> s.encryption_key_id IS NOT NULL AND length(s.encryption_key_id) > 0)",
    ),
    (
        "invalid_base64_payload",
        "NOT forall(encrypted_shares, s -> s.payload IS NOT NULL"
        f" AND s.payload RLIKE '{_B64_RE}' AND length(s.payload) % 4 = 0)",
    ),
    ("missing_signature", "signature IS NULL"),
    ("missing_cert_chain", "cert_chain IS NULL OR size(cert_chain) = 0"),
)
# plain transcript turns (no encrypted_shares): a turn needs its timestamp
# and its text
PLAIN_CHECKS = (
    ("missing_created", "ts IS NULL"),
    ("missing_payload", "text IS NULL"),
)


def _checks(columns: list[str]) -> tuple[tuple[str, str], ...]:
    """The checks of a frame with ``columns``: Prio documents when it has
    ``encrypted_shares``, else plain turns."""
    return PAYLOAD_CHECKS if "encrypted_shares" in columns else PLAIN_CHECKS


def invalid_reason_sql(columns: list[str]) -> str:
    """The check chain of a frame with ``columns`` as one SQL when-cascade
    (null ⇒ valid)."""
    cases = " ".join(f"WHEN {cond} THEN '{r}'" for r, cond in _checks(columns))
    return f"CASE {cases} END"


def invalid_reason_col(df: DataFrame) -> Column:
    """``invalid_reason_sql`` of ``df``'s shape as a Column."""
    return F.expr(invalid_reason_sql(df.columns))


def validate_turns(df: DataFrame) -> DataFrame:
    """Annotate with ``invalid_reason`` (null ⇒ valid). Pure, narrow, codegen'd."""
    return df.selectExpr("*", f"{invalid_reason_sql(df.columns)} AS invalid_reason")


def observe_invalid(annotated: DataFrame, observation: Observation) -> DataFrame:
    """``annotated`` (see ``validate_turns``) with its invalid rows counted
    per reason into ``observation`` — one ``count_if`` per reason of the
    cascade — as it is scanned, so a job that consumes it gets the counters
    without a second pass over the input."""
    return annotated.observe(
        observation,
        *[F.expr(f"count_if(invalid_reason = '{r}') AS {r}") for r, _ in _checks(annotated.columns)],
    )


def invalid_counters(annotated: DataFrame) -> DataFrame:
    """Per-class drop counts ``(invalid_reason, n)`` of ``annotated`` — the
    counter analog of model/DataShare.java:46-55."""
    return (
        annotated.filter("invalid_reason IS NOT NULL")
        .groupBy("invalid_reason")
        .agg(F.count("*").alias("n"))
    )


def split_valid(
    df: DataFrame, observation: Observation | None = None
) -> tuple[DataFrame, DataFrame]:
    """(valid rows sans marker, per-class drop counts); with
    ``observation``, the counts also ride the scan (``observe_invalid``)."""
    annotated = validate_turns(df)
    if observation is not None:
        annotated = observe_invalid(annotated, observation)
    valid = annotated.filter("invalid_reason IS NULL").drop("invalid_reason")
    return valid, invalid_counters(annotated)


@F.pandas_udf(T.LongType())
def _rpit_udf(uuid: pd.Series, bins: pd.Series) -> pd.Series:
    """Deterministic rpit: md5(uuid#attempt) mod PRIME, rejecting n-th roots
    of unity (n = nextPow2(bins+1)) by vectorized repeated squaring."""
    n_uuid = uuid.to_numpy(dtype=object)
    b = bins.fillna(0).to_numpy(dtype=np.int64)
    # n = next power of two >= bins+1  (model/DataShare.java:335-349)
    n_exp = np.zeros(len(b), dtype=np.int64)
    target = np.maximum(b + 1, 1)
    while np.any((1 << n_exp) < target):
        n_exp = np.where((1 << n_exp) < target, n_exp + 1, n_exp)

    out = np.zeros(len(b), dtype=np.uint64)
    pending = np.ones(len(b), dtype=bool)
    attempt = 0
    while pending.any():
        idx = np.nonzero(pending)[0]
        cand = np.array(
            [
                int.from_bytes(
                    hashlib.md5(f"{n_uuid[i]}#{attempt}".encode()).digest()[:8], "big"
                )
                % PRIME
                for i in idx
            ],
            dtype=np.uint64,
        )
        # x^(2^k) mod p via k squarings; uint64 holds (p-1)^2 < 2^64
        p = np.uint64(PRIME)
        acc = cand % p
        max_k = int(n_exp[idx].max()) if len(idx) else 0
        pw = acc.copy()
        result = np.where(n_exp[idx] == 0, acc, np.uint64(0))
        for k in range(1, max_k + 1):
            pw = (pw * pw) % p
            result = np.where(n_exp[idx] == k, pw, result)
        ok = result != np.uint64(1)  # not an n-th root of unity
        out[idx[ok]] = cand[ok]
        pending[idx[ok]] = False
        attempt += 1
    return pd.Series(out.astype(np.int64))


def rpit_sql(spark: SparkSession, uuid: str, bins: str) -> str:
    """``_rpit_udf`` of the SQL expressions ``uuid`` and ``bins`` as SQL
    text, through a temporary function of ``spark``."""
    return f"{sql_function(spark, '_enpa_rpit', _rpit_udf)}({uuid}, {bins})"


def with_rpit(
    df: DataFrame,
    uuid_col: str | Column = "uuid",
    bins_col: str | Column = "bins",
) -> DataFrame:
    uuid = F.col(uuid_col) if isinstance(uuid_col, str) else uuid_col
    bins = F.col(bins_col) if isinstance(bins_col, str) else bins_col
    return df.withColumn("r_pit", _rpit_udf(uuid, bins))
