"""W3 — verifiable batch-header signing: ECDSA P-256 over the header digest.

Reference contract: ``pipeline/BatchWriterFn.java:225-239`` calls GCP KMS
``asymmetricSign`` on the batch header's SHA-256 digest and emits a
``PrioBatchSignature {key_identifier, signature}``; the integration test
verifies the signature with the key's PUBLIC key
(``IngestionPipelineIT.java:700-721``) — i.e. downstream needs no shared
secret. No KMS exists in this sandbox, so the same contract is implemented
with a locally-held P-256 key: ``sign(Prehashed(SHA-256))`` over the digest
bytes (exactly what ``asymmetricSign(digest)`` does server-side), publishing
the key id plus the DER ``SubjectPublicKeyInfo`` so any consumer can verify.
On a real deployment, swap ``sign_headers``'s UDF body for the KMS client
call — the (batch_id, signature, key_identifier) surface is unchanged.

``digest_signer`` is the one per-digest signing definition: the run's writer
pass calls it once per (batch, destination) as it writes the batch, and
``sign_headers`` wraps it in a pandas UDF over a headers frame. The private key
lives Python-side; header cardinality is one row per (batch, destination),
thousands per window at most, so per-row asymmetric crypto here is negligible
next to the packet pipeline (the reference also signs once per batch on
workers).
"""

from __future__ import annotations

import base64
import hashlib
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_KEY_ID = "local-ecdsa-p256-v1"
# the legacy symmetric stand-in used when no private key is given
KEYED_DIGEST_KEY_ID = "sandbox-keyed-digest-v1"
KEYED_DIGEST_SECRET = "enpa-sandbox-secret"


def generate_signing_key_pem(seed: str = "enpa-batch-signing-v1") -> bytes:
    """Deterministic P-256 private key as PEM (fixtures/sandbox only — a real
    deployment holds the key in KMS and never materializes it)."""
    from cryptography.hazmat.primitives import serialization

    from ..operators.attestation import fixture_signing_key

    key = fixture_signing_key(seed)
    return key.private_bytes(
        serialization.Encoding.PEM,
        serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption(),
    )


def public_key_der_b64(private_key_pem: bytes) -> str:
    """base64(DER SubjectPublicKeyInfo) of the signing key — the verification
    material published next to the signatures."""
    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.serialization import load_pem_private_key

    key = load_pem_private_key(private_key_pem, None)
    return base64.b64encode(
        key.public_key().public_bytes(
            serialization.Encoding.DER,
            serialization.PublicFormat.SubjectPublicKeyInfo,
        )
    ).decode()


def digest_signer(private_key_pem: bytes | None) -> Callable[[str], str]:
    """hex digest → signature. With a PEM: base64 ECDSA P-256 over the
    digest bytes (Prehashed SHA-256 — the asymmetricSign(digest) analog).
    Without: the keyed-digest stand-in ``sha256(secret|digest|secret)`` as
    hex, the same value ``plans.ingestion.build_signatures`` computes in SQL.
    Build it where it is used: the returned function holds a loaded key."""
    if private_key_pem is None:
        secret = KEYED_DIGEST_SECRET

        def keyed(digest_hex: str) -> str:
            return hashlib.sha256(f"{secret}|{digest_hex}|{secret}".encode()).hexdigest()

        return keyed
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import ec, utils
    from cryptography.hazmat.primitives.serialization import load_pem_private_key

    key = load_pem_private_key(private_key_pem, None)
    algo = ec.ECDSA(utils.Prehashed(hashes.SHA256()))

    def ecdsa(digest_hex: str) -> str:
        return base64.b64encode(key.sign(bytes.fromhex(digest_hex), algo)).decode()

    return ecdsa


def sign_headers(
    headers: DataFrame,
    private_key_pem: bytes,
    key_id: str = DEFAULT_KEY_ID,
) -> DataFrame:
    """One signature row per header: ``digest_signer`` over the header's
    packet_file_digest. Signatures are randomized (standard ECDSA), so re-runs
    produce different BYTES that verify against the same key — identical to
    the KMS behavior; idempotence is carried by the deterministic batch ids,
    digests, and paths, not signature bytes."""

    @F.pandas_udf(T.StringType())
    def _sign(dig: pd.Series) -> pd.Series:
        sign = digest_signer(private_key_pem)
        return pd.Series([sign(d) for d in dig])

    return headers.select(
        "batch_id",
        "destination",
        _sign(F.col("packet_file_digest")).alias("batch_header_signature"),
        F.lit(key_id).alias("key_identifier"),
    )


def verify_header_signature(
    digest_hex: str, signature_b64: str, pub_der_b64: str
) -> bool:
    """Downstream-side verification (IngestionPipelineIT.java:700-721 analog):
    True iff the signature verifies over the digest under the public key."""
    from cryptography.exceptions import InvalidSignature
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import ec, utils
    from cryptography.hazmat.primitives.serialization import load_der_public_key

    pub = load_der_public_key(base64.b64decode(pub_der_b64))
    try:
        pub.verify(
            base64.b64decode(signature_b64),
            bytes.fromhex(digest_hex),
            ec.ECDSA(utils.Prehashed(hashes.SHA256())),
        )
        return True
    except (InvalidSignature, ValueError):
        return False
