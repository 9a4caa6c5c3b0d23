"""F2 — pluggable device-attestation stage.

Reference: ``AbstractDeviceAttestation`` is a whole-collection
``PTransform<PCollection<DataShare>, PCollection<DataShare>>`` discovered via
``ServiceLoader`` (``pipeline/IngestionPipeline.java:67-77``,
``attestation/AbstractDeviceAttestation.java:32-43``); deliberately not a
per-row predicate so implementations may compute distributions.

Spark shape: a registry of relation transforms in SQL. A stage gets the
session, the relation it attests (a name, or an aliased subquery, to select
FROM) and that relation's column names, and returns a query over the
relation with the same columns —
filters, aggregates, joins or window functions alike — registering any
function it calls. The batch core splices the query into its one SQL
statement. The default implementation checks the signature/cert surface is
present and well-formed — the sandbox stand-in for cryptographic
attestation (no device keys here).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import sql_function

AttestationStage = Callable[[SparkSession, str, list[str]], str]

_REGISTRY: dict[str, AttestationStage] = {}


def register_attestation(name: str, stage: AttestationStage) -> None:
    _REGISTRY[name] = stage


def get_attestation(name: str | None) -> AttestationStage | None:
    if name is None:
        return None
    return _REGISTRY[name]


def signature_presence_attestation(spark: SparkSession, relation: str, columns: list[str]) -> str:
    """Keep rows with a non-empty signature and ≥1 certificate."""
    if "signature" not in columns:
        return f"SELECT * FROM {relation}"
    return (
        f"SELECT * FROM {relation} WHERE signature IS NOT NULL AND length(signature) > 0"
        " AND cert_chain IS NOT NULL AND size(cert_chain) > 0"
    )


register_attestation("signature_presence", signature_presence_attestation)


# --- cryptographic attestation (F2, full-strength path) ---
#
# The reference's production attestations verify a device signature over the
# Prio payload (attestation/AbstractDeviceAttestation.java:32-43; the IT
# validates signature-over-payload against golden base64 fixtures,
# IngestionPipelineIT.java:237-345). Same contract here: ECDSA P-256/SHA-256,
# signature = base64(DER sig), cert_chain[0] = base64(DER SubjectPublicKeyInfo)
# of the signing key. Runs as an Arrow-batched pandas UDF — per-row public-key
# crypto is inherent to the operator (the reference verifies per-share on
# workers too); everything around it stays JVM-side.


def canonical_message(conv_id: str, turn_idx: int, payloads: list[str]) -> bytes:
    """The signed byte string: uuid + ordered share payloads (base64 text),
    pipe-delimited. Stable across engines and re-serializations."""
    return ("#".join([conv_id, str(int(turn_idx))]) + "|" + "|".join(payloads)).encode()


@F.pandas_udf(T.BooleanType())
def _signature_verifies(
    sig: pd.Series,
    chain: pd.Series,
    conv: pd.Series,
    idx: pd.Series,
    shares: pd.Series,
) -> pd.Series:
    """Per row: the ECDSA P-256 signature verifies over the canonical
    message under the leaf public key in cert_chain[0]."""
    import base64

    try:
        from cryptography.exceptions import InvalidSignature
        from cryptography.hazmat.primitives import hashes
        from cryptography.hazmat.primitives.asymmetric import ec
        from cryptography.hazmat.primitives.serialization import (
            load_der_public_key,
        )
    except ImportError as e:  # pragma: no cover - env without cryptography
        raise NotImplementedError(
            "signature_verify attestation requires the 'cryptography' "
            "package on the executors"
        ) from e

    pubkey_cache: dict[bytes, object] = {}
    out = []
    for s, ch, c, i, sh in zip(sig, chain, conv, idx, shares):
        try:
            if s is None or ch is None or len(ch) == 0 or sh is None:
                out.append(False)
                continue
            der_pub = base64.b64decode(ch[0])
            pub = pubkey_cache.get(der_pub)
            if pub is None:
                pub = pubkey_cache[der_pub] = load_der_public_key(der_pub)
            msg = canonical_message(c, i, [x["payload"] for x in sh])
            pub.verify(base64.b64decode(s), msg, ec.ECDSA(hashes.SHA256()))
            out.append(True)
        except (InvalidSignature, ValueError, TypeError, KeyError):
            out.append(False)
    return pd.Series(out)


def signature_verify_attestation(spark: SparkSession, relation: str, columns: list[str]) -> str:
    """Keep only rows whose ECDSA P-256 signature verifies over the canonical
    message under the leaf public key in cert_chain[0]."""
    # Fail CLOSED: an explicitly requested cryptographic attestation over a
    # frame that cannot carry a signature must be an error, not a silent
    # pass-through (the presence stand-in stays lenient; this one must not).
    required = ["signature", "cert_chain", "encrypted_shares"]
    missing = [c for c in required if c not in columns]
    if missing:
        raise ValueError(
            "signature_verify attestation requires columns "
            f"{required}; input is missing {missing} — refusing to fail "
            "open (every row would pass unverified)"
        )
    verifies = sql_function(spark, "_enpa_signature_verifies", _signature_verifies)
    return (
        f"SELECT * FROM {relation} WHERE {verifies}("
        "signature, cert_chain, conv_id, turn_idx, encrypted_shares)"
    )


register_attestation("signature_verify", signature_verify_attestation)


# --- fixture/test helpers (golden-signature generation, mirrors the IT's
#     SignatureKeyGeneration fixtures) ---

# group order of secp256r1 (SEC 2 §2.4.2)
_P256_ORDER = int(
    "ffffffff00000000ffffffffffffffffbce6faada7179e84f3b9cac2fc632551", 16
)


def fixture_signing_key(seed: str = "enpa-test-key-1"):
    """Deterministic P-256 private key for fixtures (NOT for production)."""
    import hashlib

    from cryptography.hazmat.primitives.asymmetric import ec

    scalar = int.from_bytes(hashlib.sha256(seed.encode()).digest(), "big")
    return ec.derive_private_key(scalar % (_P256_ORDER - 1) + 1, ec.SECP256R1())


def sign_turns_pdf(pdf, private_key=None):
    """Attach valid (signature, cert_chain) columns to a turns-with-payload
    pandas frame — the golden-fixture generator for signature_verify tests."""
    import base64

    from cryptography.hazmat.primitives import hashes, serialization
    from cryptography.hazmat.primitives.asymmetric import ec

    key = private_key or fixture_signing_key()
    pub_b64 = base64.b64encode(
        key.public_key().public_bytes(
            serialization.Encoding.DER,
            serialization.PublicFormat.SubjectPublicKeyInfo,
        )
    ).decode()
    sigs = []
    for r in pdf.itertuples():
        msg = canonical_message(
            r.conv_id, r.turn_idx, [s["payload"] for s in r.encrypted_shares]
        )
        sigs.append(base64.b64encode(key.sign(msg, ec.ECDSA(hashes.SHA256()))).decode())
    pdf = pdf.copy()
    pdf["signature"] = sigs
    pdf["cert_chain"] = [[pub_b64] for _ in range(len(pdf))]
    return pdf
