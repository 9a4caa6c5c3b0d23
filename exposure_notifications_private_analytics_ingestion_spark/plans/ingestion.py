"""The ingestion pipeline — pure DataFrame core + batch job wrapper.

Reference graph (``pipeline/IngestionPipeline.java:92-122``):
source → filter-empty → project → Distinct(path) → parse/validate →
window-filter → [attestation] → key-by-metadata → GroupIntoBatches →
batch-id → packet-split → Avro triplet write.

``process_turns`` is the testable seam, mirroring
``IngestionPipeline.processDataShares`` (``:61-89``) which the reference unit
tests drive directly (``IngestionPipelineTest.java:50-109``): pure
``DataFrame → (packets, headers, counters)``, no I/O. ``run_ingestion`` wraps
the same core with the scan and one writer pass.

The core is ONE SQL statement (``_core_sql``), generated from the options
for every option set — Prio or plain, attested or not, exact or hot-key
chunking — out of the operators' own SQL fragments (``dedup_rank_sql``,
``window_predicate_sql``, ``exact_ordinal_sql``, ``batch_id_sql``,
``packet_columns_sql``, ...), with the window bounds, the batch size and
the window start as named parameters. So a window's plan costs the driver a
few dozen py4j calls, not one per Column expression. Plan shape at scale:
the core shuffles once by the dedup key, for dedup and exact chunking
alike; window filter, attestation, r_pit and the packet fan-out ride that
exchange (the hot-key chunker adds its own). The validation cascade and
the invalid-row counters — an ``Observation`` — sit on the scan below it.
``run_ingestion`` then runs ONE action (``write_partition``), which rides
the same exchange — a batch id is a function of the chunk key, so each
batch sits in one partition: a ``mapInArrow`` writer sorts each task's
packets by ``(batch_id, destination, uuid)``, appends each Arrow batch to
the packet leg, and handles each (batch, destination) group in turn —
header with ``packet_file_digest`` (``build_headers``' definition),
signature, and the ``.batch.avro`` container with its SHA-256 — the
per-batch step of the reference's ``BatchWriterFn.java:104-239``. Tasks
stream every leg into a per-run staging tree, each container as one flat
file, and the driver moves it all into place only after the action
succeeded. ``build_headers`` / ``build_signatures`` / ``sign_headers``
remain the DataFrame definitions of the same values. The streaming epoch
sink (``streaming/sink.py``) writes each epoch through the same
``write_partition``.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import shutil
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from urllib.parse import unquote, urlsplit
from zoneinfo import ZoneInfo

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.avro_codec import (
    MANIFEST_SCHEMA,
    container_dir,
    encode_container,
    group_runs,
    utc_ts_path,
    write_file_atomic,
)
from ..functions.signing import (
    KEYED_DIGEST_KEY_ID,
    KEYED_DIGEST_SECRET,
    digest_signer,
    public_key_der_b64,
)
from ..model.validate import (
    invalid_counters,
    observe_invalid,
    rpit_sql,
    validate_turns,
)
from ..operators.attestation import get_attestation
from ..operators.batching import (
    batch_count_sql,
    batch_id_sql,
    exact_ordinal_sql,
    hashed_ordinal_sql,
    shuffle_by,
)
from ..operators.dedup import dedup_rank_sql, quote
from ..operators.packets import (
    DESTINATIONS,
    TURN_UUID_SQL,
    packet_columns_sql,
    packet_generator_sql,
)
from ..operators.window_filter import window_predicate_sql
from ..model.schema import HEADERS_SCHEMA, NUMBER_OF_SERVERS, PRIME


@dataclass
class IngestionOptions:
    """Analog of IngestionPipelineOptions (defaults from
    IngestionPipelineOptions.java:131-177 scaled to transcript batches)."""

    window_start_s: int = 0
    duration_s: int = 3600
    batch_size: int = 1000
    key_cols: list[str] = field(default_factory=lambda: ["conv_id"])
    attestation: str | None = None
    scalable_chunking: bool = False
    grace_hours_backwards: int = 1
    grace_hours_forwards: int = 1
    # also emit one Avro object-container file per (batch, destination) —
    # the reference's native output format (PrioSerializationHelper.java:53-88)
    emit_avro_containers: bool = False
    # W3 — when set, sign headers with this P-256 key (PEM) instead of the
    # keyed-digest stand-in, and publish {key_identifier, public key DER} to
    # {output_root}/signing_key.json so downstream verifies without secrets
    # (BatchWriterFn.java:225-239 asymmetricSign contract)
    signing_key_pem: bytes | None = None
    signing_key_id: str = "local-ecdsa-p256-v1"


def process_turns(df: DataFrame, opts: IngestionOptions) -> tuple[DataFrame, DataFrame, DataFrame]:
    """validate → dedup → window → (attest) → batch → split → headers.

    Returns (packets, headers, invalid_counters).
    """
    annotated = validate_turns(df)
    packets = _packets(annotated, opts)
    return packets, build_headers(packets, opts), invalid_counters(annotated)


# the Prio fields that extend the chunk key, in key order
_PRIO_KEY = ("bins", "epsilon", "hamming_weight", "prime")


def _core_sql(spark: SparkSession, source: str, columns: list[str], opts: IngestionOptions) -> str:
    """r_pit → dedup → window → (attest) → batch → split over the valid rows
    of the relation ``source`` (``validate_turns``' columns), as one SQL
    statement. Its parameters: ``:lo_ms`` and ``:hi_ms`` (the window),
    ``:batch_size`` and ``:window_start``."""
    has_payload = "encrypted_shares" in columns
    valid = [c for c in columns if c != "invalid_reason"]
    select = "* EXCEPT (invalid_reason)"
    if has_payload:
        # V2 — rPit generated once per valid share BEFORE the fork, so both
        # destinations carry the same value (DataShare.java:190-205; the
        # fork-consistency contract of IngestionPipelineIT.java:601-630).
        # Deterministic (md5-of-uuid rejection sampling) rather than
        # SecureRandom, so re-runs are idempotent. Computed before the
        # exchange from the row's own uuid and bins, so the winner keeps its
        # value (as the last column it never decides the winner), and the
        # UDF's Python worker is not a second one beside the writer's.
        select += f", {rpit_sql(spark, TURN_UUID_SQL, 'prio_params.bins')} AS r_pit"
        valid.append("r_pit")
    n_parts = spark.conf.get("spark.sql.shuffle.partitions")
    dedup_keys = ", ".join(quote(k) for k in opts.key_cols)
    # One chain for every option set: dedup → window → [attestation] →
    # chunk, with the winner rule of operators/dedup.py. Attestation sits
    # between the window filter and chunking (reference op order F1→F2→K1,
    # IngestionPipeline.java:61-89); scalable_chunking only picks the chunker.
    # Dedup is keyed on (key_cols, turn_idx) in ALL paths — duplicate turns
    # collapse to one row regardless of payload differences, matching the
    # reference's Distinct-by-path (IngestionPipeline.java:110-119). On the
    # exact path one exchange on the dedup keys serves dedup and exact
    # chunking, whose keys extend them; a narrow stage and the writer ride
    # it too: a batch id is a function of the chunk key, so each batch sits
    # in one partition. On the hot-key path dedup exchanges on the full
    # (key, turn_idx), so no conversation is sorted whole, and the chunker
    # routes by hash.
    shuffle = "" if opts.scalable_chunking else f"/*+ REPARTITION({n_parts}, {dedup_keys}) */ "
    # each step is a subquery of the next: as CTEs, the same steps cost the
    # analyser and optimiser 50-100 ms more per warm window (InlineCTE alone
    # ~30 ms; 4-core host, local[2])
    rank = dedup_rank_sql(valid, list(opts.key_cols) + ["turn_idx"])
    q = f"SELECT {shuffle}{select} FROM {source} WHERE invalid_reason IS NULL"
    q = f"SELECT *, {rank} AS _rn FROM ({q})"
    q = (
        f"SELECT * EXCEPT (_rn) FROM ({q})"
        f" WHERE _rn = 1 AND {window_predicate_sql(':lo_ms', ':hi_ms')}"
    )
    stage = get_attestation(opts.attestation)
    if stage is not None:
        q = stage(spark, f"({q}) windowed", valid)
    # K1 — the reference keys batches by the FULL stringified
    # DataShareMetadata (IngestionPipeline.java:78-88), so documents with
    # different prio_params never share a batch: the chunk key extends the
    # dedup keys by the Prio fields.
    chunk_key = [quote(k) for k in opts.key_cols]
    if has_payload:
        chunk_key += [f"prio_params.{f}" for f in _PRIO_KEY]
    by_batch = ""
    if opts.scalable_chunking:
        keys = ", ".join(f"{k} AS _k{i}" for i, k in enumerate(chunk_key))
        on = " AND ".join(f"a.{k} = c._k{i}" for i, k in enumerate(chunk_key))
        counts = (
            f"SELECT {keys}, {batch_count_sql(':batch_size')} AS _n_batches"
            f" FROM ({q}) GROUP BY {', '.join(chunk_key)}"
        )
        q = (
            f"SELECT a.*, {hashed_ordinal_sql('a.turn_idx', 'c._n_batches')} AS batch_ordinal"
            f" FROM ({q}) a JOIN ({counts}) c ON {on}"
        )
        # the hash-routed chunker spreads each batch over partitions; the
        # writer needs each batch whole in one
        by_batch = f"/*+ REPARTITION({n_parts}, batch_id) */ "
    else:
        ordinal = exact_ordinal_sql(chunk_key, ["turn_idx"], ":batch_size")
        q = f"SELECT *, {ordinal} AS batch_ordinal FROM ({q})"
    batch_id = batch_id_sql(chunk_key, ":window_start", "batch_ordinal")
    q = f"SELECT *, {batch_id} AS batch_id FROM ({q})"
    batched = valid + ["batch_ordinal", "batch_id"]
    q = f"SELECT *, {packet_generator_sql(batched)} AS (_pos, _share) FROM ({q})"
    return f"SELECT {by_batch}{', '.join(packet_columns_sql(batched))} FROM ({q})"


def _packets(annotated: DataFrame, opts: IngestionOptions) -> DataFrame:
    """``_core_sql`` over ``annotated`` (``validate_turns``' output), bound
    to the window of ``opts``."""
    spark = annotated.sparkSession
    view = f"_enpa_validated_{uuid.uuid4().hex}"
    annotated.createOrReplaceTempView(view)
    try:
        # analysed here, so the view is no longer needed once this returns
        return spark.sql(
            _core_sql(spark, view, annotated.columns, opts),
            args={
                "lo_ms": opts.window_start_s * 1000,
                "hi_ms": (opts.window_start_s + opts.duration_s) * 1000,
                "batch_size": opts.batch_size,
                "window_start": opts.window_start_s,
            },
        )
    finally:
        spark.catalog.dropTempView(view)


# header Prio metadata of plain transcript batches (ENPA deployment values),
# in header column order
PLAIN_PRIO_HEADER = {"bins": 2, "hamming_weight": 1, "prime": PRIME, "epsilon": 5.2933}


def build_headers(packets: DataFrame, opts: IngestionOptions) -> DataFrame:
    """W2 — one header per (batch, destination) with the SHA-256 digest of the
    batch's serialized packets (``pipeline/BatchWriterFn.java:211-216``,
    ``PrioSerializationHelper.java:90-104``) and the deterministic output path
    ``{dest}/{name}/YYYY/MM/dd/HH/mm/{batch_id}``
    (``BatchWriterFn.java:135-150``, asserted in IngestionPipelineIT.java:642-657).

    Digest = sha256 over packets sorted by (uuid) — replay-stable regardless
    of shuffle order. collect_list is bounded by batch_size (the reference's
    own memory rationale, ``BatchWriterFn.java:120``).
    """
    name_col = F.col("conv_id")
    has_prio = "bins" in packets.columns
    prio_select = (
        ["bins", "epsilon", "hamming_weight", "prime"] if has_prio else []
    )
    per_packet = packets.select(
        "batch_id",
        "destination",
        name_col.alias("name"),
        "uuid",
        F.hex(F.col("encrypted_payload")).alias("payload_hex"),
        "ts",
        *prio_select,
    )
    window_start = F.lit(opts.window_start_s).cast("long")
    window_end = F.lit(opts.window_start_s + opts.duration_s).cast("long")
    ts_path = F.from_unixtime(window_start, "yyyy/MM/dd/HH/mm")
    prio_aggs = (
        [
            F.first("bins").alias("_bins"),
            F.first("epsilon").alias("_epsilon"),
            F.first("hamming_weight").alias("_hamming_weight"),
            F.first("prime").alias("_prime"),
        ]
        if has_prio
        else []
    )
    agg = (
        per_packet.groupBy("batch_id", "destination")
        .agg(
            F.first("name").alias("name"),
            F.count("*").alias("n_packets"),
            *prio_aggs,
            F.sha2(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("uuid", "payload_hex"))
                        ),
                        lambda s: F.concat(s["uuid"], F.lit(":"), s["payload_hex"]),
                    ),
                ),
                256,
            ).alias("packet_file_digest"),
        )
        .select(
            "batch_id",
            "name",
            window_start.alias("batch_start_time"),
            window_end.alias("batch_end_time"),
            F.lit(NUMBER_OF_SERVERS).alias("number_of_servers"),
            # header metadata reflects the batch's own prio_params when the
            # input carries them (BatchWriterFn.java:152-176), else the
            # plain-transcript defaults
            *[
                (F.col(f"_{c}") if has_prio else F.lit(v)).alias(c)
                for c, v in PLAIN_PRIO_HEADER.items()
            ],
            "packet_file_digest",
            F.concat_ws(
                "/", F.col("destination"), F.col("name"), ts_path, F.col("batch_id")
            ).alias("path"),
            "n_packets",
            "destination",
        )
    )
    return agg


def packet_file_digest(uuids: list, payloads: list) -> str:
    """``build_headers``' digest for one (batch, destination), in Python:
    SHA-256 of the ``uuid:HEX(payload)`` texts sorted by (uuid, hex) and
    concatenated. A row with a null side adds nothing, as ``concat_ws``
    skips the null ``concat`` it makes."""
    pairs = sorted(
        (u, p.hex().upper())
        for u, p in zip(uuids, payloads)
        if u is not None and p is not None
    )
    return hashlib.sha256("".join(f"{u}:{h}" for u, h in pairs).encode()).hexdigest()


def build_signatures(
    headers: DataFrame,
    key_id: str = KEYED_DIGEST_KEY_ID,
    secret: str = KEYED_DIGEST_SECRET,
) -> DataFrame:
    """W3 — batch-header signature file (``PrioBatchSignature``:
    ``pipeline/BatchWriterFn.java:225-239`` signs the header's SHA-256 via
    GCP KMS asymmetricSign). This is the LEGACY symmetric stand-in — a keyed
    digest ``sha256(secret | header_digest | secret)`` behind the same
    (batch_id, signature, key_identifier) interface; ``digest_signer(None)``
    computes the same value per digest. Prefer the verifiable asymmetric
    path: set ``IngestionOptions.signing_key_pem`` (see
    ``functions/signing.py``), which signs with ECDSA P-256 and publishes
    the public key so downstream verifies without a shared secret."""
    sig = F.sha2(
        F.concat_ws(
            "|", F.lit(secret), F.col("packet_file_digest"), F.lit(secret)
        ),
        256,
    )
    return headers.select(
        "batch_id",
        "destination",
        sig.alias("batch_header_signature"),
        F.lit(key_id).alias("key_identifier"),
    )


# the output legs the writer pass stages, in commit order; each is parquet
# under {output_root}/{leg}/{partition}/, split by destination=D unless its
# files carry the destination column
LEGS = ("packets", "batch_headers", "signatures", "avro_manifest")
# columns no reader prunes on — hashes, signatures, payload bytes, file
# paths — get no min/max statistics; they, the per-file unique uuid and the
# stream's millisecond event time get no dictionary (each value would be
# stored twice, once in the dictionary)
_OPAQUE = {
    "encrypted_payload",
    "device_nonce",
    "packet_file_digest",
    "batch_header_signature",
    "file_sha256",
    "path",
}
_UNIQUE = _OPAQUE | {"uuid", "ts_ms"}
_ROW_GROUP_BYTES = 64 << 20


def _data_schema(schema: T.StructType) -> pa.Schema:
    """Arrow schema of a leg's parquet files: the partition column
    ``destination`` lives in the directory name, not in the file."""
    return to_arrow_schema(
        T.StructType([f for f in schema.fields if f.name != "destination"])
    )


def _parquet_writer(path: str, schema: pa.Schema) -> pq.ParquetWriter:
    return pq.ParquetWriter(
        path,
        schema,
        compression="snappy",
        store_schema=False,
        write_statistics=[n for n in schema.names if n not in _OPAQUE],
        use_dictionary=[n for n in schema.names if n not in _UNIQUE],
    )


class _PartFile:
    """One leg's parquet file for one destination of one task attempt,
    buffered into row groups of about ``_ROW_GROUP_BYTES``."""

    def __init__(self, path: str, schema: pa.Schema):
        self.path, self.schema = path, schema
        self.writer = _parquet_writer(path, schema)
        self.tables: list[pa.Table] = []
        self.rows: list[dict] = []
        self.nbytes = 0

    def add_table(self, table: pa.Table) -> None:
        self.tables.append(table.select(self.schema.names).cast(self.schema))
        self.nbytes += table.nbytes
        if self.nbytes >= _ROW_GROUP_BYTES:
            self.flush()

    def add_row(self, row: dict) -> None:
        self.rows.append(row)
        if len(self.rows) >= 65536:
            self.flush()

    def flush(self) -> None:
        if self.rows:
            self.tables.append(pa.Table.from_pylist(self.rows, schema=self.schema))
        if self.tables:
            self.writer.write_table(pa.concat_tables(self.tables))
        self.tables, self.rows, self.nbytes = [], [], 0

    def close(self) -> None:
        self.flush()
        self.writer.close()


def _mkdirs_in(root: str, path: str) -> None:
    """``makedirs`` for a directory under ``root`` that never creates
    ``root`` itself: once the driver has retired a run's staging tree, a
    task still running from that run (killed, or a speculative copy) fails
    instead of re-creating the tree."""
    d = root
    for part in os.path.relpath(path, root).split(os.sep):
        d = os.path.join(d, part)
        with contextlib.suppress(FileExistsError):
            os.mkdir(d)


def _leg_schemas(packets: DataFrame) -> dict[str, pa.Schema]:
    """Each leg's file schema. The header and signature types are those
    ``build_headers`` and ``build_signatures`` produce (pinned by tests),
    written out here so no per-window plan is built just for a schema."""
    return {
        "packets": _data_schema(packets.schema),
        "batch_headers": _data_schema(HEADERS_SCHEMA),
        "signatures": _data_schema(
            T.StructType(
                [
                    T.StructField(c, T.StringType())
                    for c in ("batch_id", "batch_header_signature", "key_identifier")
                ]
            )
        ),
        "avro_manifest": _data_schema(MANIFEST_SCHEMA),
    }


def _window_header_row(spark: SparkSession, opts: IngestionOptions, has_prio: bool):
    """The batch job's header builder for ``_writer_pass``: the
    ``build_headers`` row of one (batch, destination) group."""
    window_start, window_end = opts.window_start_s, opts.window_start_s + opts.duration_s
    tz = ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
    ts_path = datetime.fromtimestamp(window_start, tz=tz).strftime("%Y/%m/%d/%H/%M")

    def header_row(batch_id: str, dest: str, group: pa.Table, digest: str) -> dict:
        name = group.column("conv_id")[0].as_py()
        prio = (
            {c: group.column(c)[0].as_py() for c in PLAIN_PRIO_HEADER}
            if has_prio
            else PLAIN_PRIO_HEADER
        )
        return {
            "batch_id": batch_id,
            "name": name,
            "batch_start_time": window_start,
            "batch_end_time": window_end,
            "number_of_servers": NUMBER_OF_SERVERS,
            **prio,
            "packet_file_digest": digest,
            "path": f"{dest}/{name}/{ts_path}/{batch_id}",
            "n_packets": group.num_rows,
        }

    return header_row


def _writer_pass(
    packets: DataFrame,
    staging: str,
    schemas: dict[str, pa.Schema],
    header_row: Callable[[str, str, pa.Table, str], dict],
    ts_col: str,
    signing: tuple[bytes | None, str] | None = None,
    containers: tuple[str, str] | None = None,
) -> list:
    """One action that writes every output leg executor-side, over the
    partitioning ``packets`` already has (``write_partition`` drives it).

    A batch split over tasks comes back in several results' ``batch_ids``,
    each task having written a partial header for it. Each task sorts its
    rows by ``(batch_id, destination, uuid)``, appends each Arrow batch's
    rows to the packet leg of their destination, and walks its
    (batch, destination) groups in turn: per group the header
    ``header_row(batch_id, destination, group, digest)`` around
    ``packet_file_digest``; with ``signing=(pem, key_id)`` the header's
    signature; with ``containers=(output_root, ts_path)`` the
    ``.batch.avro`` file and its manifest row. The legs land in ``staging``
    at the layout of the final tree: a leg whose file schema has a
    ``destination`` column gets one file per task, any other leg one per
    task under each ``destination=D``. A container is one flat file under
    ``staging/avro``, named by the task attempt, which the commit moves to
    its path under the root. Each task yields one row: the leg files it
    wrote, its containers as ``[staged file, path under the root]`` pairs,
    its packet count, batch ids and conversations, and the min and max of
    ``ts_col``."""
    ts_type = packets.schema[ts_col].dataType
    result = T.StructType(
        [
            T.StructField("files", T.ArrayType(T.StringType())),
            T.StructField("containers", T.ArrayType(T.ArrayType(T.StringType()))),
            T.StructField("packets", T.LongType()),
            T.StructField("batch_ids", T.ArrayType(T.StringType())),
            T.StructField("convs", T.ArrayType(T.StringType())),
            T.StructField("min_ts", ts_type),
            T.StructField("max_ts", ts_type),
        ]
    )
    result_arrow = to_arrow_schema(result)
    # bound here, so the shipped closure carries this exact function
    encode = encode_container

    def write(batches):
        tc = TaskContext.get()
        tag = f"part-{tc.partitionId():05d}-{tc.taskAttemptId()}"
        sign = digest_signer(signing[0]) if signing else None
        parts: dict[tuple[str, str | None], _PartFile] = {}

        def part(leg: str, dest: str) -> _PartFile:
            key = (leg, None if "destination" in schemas[leg].names else dest)
            if key not in parts:
                d = os.path.join(staging, leg)
                if key[1] is not None:
                    d = os.path.join(d, f"destination={dest}")
                _mkdirs_in(staging, d)
                parts[key] = _PartFile(os.path.join(d, f"{tag}.parquet"), schemas[leg])
            return parts[key]

        n_packets, lo, hi = 0, None, None

        def packet_rows(batches):
            # the packet leg and the ts bounds, once per Arrow batch
            nonlocal n_packets, lo, hi
            for rb in batches:
                if not rb.num_rows:
                    continue
                dests = rb.column("destination")
                for dest in pc.unique(dests).to_pylist():
                    rows = rb.filter(pc.equal(dests, dest))
                    part("packets", dest).add_table(pa.Table.from_batches([rows]))
                mm = pc.min_max(rb.column(ts_col))
                lo = mm["min"].as_py() if lo is None else min(lo, mm["min"].as_py())
                hi = mm["max"].as_py() if hi is None else max(hi, mm["max"].as_py())
                n_packets += rb.num_rows
                yield rb

        staged, batch_ids, convs = [], set(), set()
        for (batch_id, dest), group in group_runs(packet_rows(batches)):
            name = group.column("conv_id")[0].as_py()
            digest = packet_file_digest(
                group.column("uuid").to_pylist(),
                group.column("encrypted_payload").to_pylist(),
            )
            part("batch_headers", dest).add_row(header_row(batch_id, dest, group, digest))
            if sign is not None:
                part("signatures", dest).add_row(
                    {
                        "batch_id": batch_id,
                        "batch_header_signature": sign(digest),
                        "key_identifier": signing[1],
                    }
                )
            if containers is not None:
                output_root, ts_path = containers
                blob = encode(group, batch_id, dest)
                rel = os.path.join(
                    container_dir("avro", dest, str(name), ts_path),
                    f"{batch_id}.batch.avro",
                )
                if not staged:
                    _mkdirs_in(staging, os.path.join(staging, "avro"))
                path = os.path.join(staging, "avro", f"{tag}-{batch_id}-{dest}.batch.avro")
                with open(path, "wb") as f:
                    f.write(blob)
                staged.append([path, rel])
                part("avro_manifest", dest).add_row(
                    {
                        "batch_id": batch_id,
                        "path": os.path.join(output_root, rel),
                        "n_records": group.num_rows,
                        "file_sha256": hashlib.sha256(blob).hexdigest(),
                    }
                )
            batch_ids.add(batch_id)
            convs.add(name)
        files = []
        for p in parts.values():
            p.close()
            files.append(p.path)
        if n_packets:
            yield pa.RecordBatch.from_pylist(
                [
                    {
                        "files": files,
                        "containers": staged,
                        "packets": n_packets,
                        "batch_ids": sorted(batch_ids),
                        "convs": sorted(convs),
                        "min_ts": lo,
                        "max_ts": hi,
                    }
                ],
                schema=result_arrow,
            )

    return (
        packets.sortWithinPartitions("batch_id", "destination", "uuid")
        .mapInArrow(write, schema=result)
        .collect()
    )


@contextlib.contextmanager
def _staging_tree(output_root: str):
    """A private staging directory under ``{output_root}/_staging`` (readers
    of the legs never list it), removed when the block ends. Spark does not
    wait for the tasks it kills when an action fails: the tree is moved away
    first, so that one still running cannot write into it (see
    ``_mkdirs_in``), then deleted."""
    staging = os.path.join(output_root, "_staging", uuid.uuid4().hex)
    os.makedirs(staging)
    try:
        yield staging
    finally:
        retired = f"{staging}.retired"
        os.rename(staging, retired)
        shutil.rmtree(retired, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(staging))


def _write_empty_legs(staging: str, legs: tuple[str, ...], schemas: dict) -> set[str]:
    """An empty window's legs: one zero-row, full-schema file each, under a
    real destination value — a null one would make partition discovery type
    ``destination`` as void — so the window reads back like any other."""
    paths = set()
    for leg in legs:
        path = os.path.join(
            staging, leg, f"destination={DESTINATIONS[0]}", "part-00000-empty.parquet"
        )
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _parquet_writer(path, schemas[leg]).close()
        paths.add(path)
    return paths


def _listed_subtrees(output_root: str, partition: str) -> set[str]:
    """The container subtrees ``avro/{dest}/{name}/{ts}``, relative to the
    root, that the partition's committed ``avro_manifest`` leg lists."""
    subtrees = set()
    for f in glob.glob(os.path.join(output_root, "avro_manifest", partition, "*", "*.parquet")):
        for path in pq.read_table(f, columns=["path"]).column("path").to_pylist():
            rel = os.path.relpath(os.path.dirname(path), output_root)
            # a manifest written before the root was moved names paths
            # outside it; nothing outside the root is replaced
            if rel.split(os.sep)[0] == "avro":
                subtrees.add(rel)
    return subtrees


def _commit(
    staging: str,
    output_root: str,
    partition: str,
    written: set[str],
    containers: list[tuple[str, str]],
) -> None:
    """Swap the staged output into the tree, after the action succeeded.
    Leg files of failed or speculative task attempts — anything the
    successful attempts did not report — are dropped first. Each staged leg
    replaces that leg's ``partition`` directory (``window_start_s=W`` or
    ``epoch=E``); other partitions are not touched. A staged
    ``avro_manifest`` leg also replaces the container leaf directories
    ``avro/{dest}/{name}/YYYY/MM/dd/HH/mm`` that the partition's previous
    manifest lists and those its ``containers`` — ``(staged file, path
    under the root)`` pairs — fill: each is moved aside, and each staged
    container file is moved to its path. So the commit reads one
    partition's manifest instead of listing the container tree. The
    previous output is moved into the staging tree rather than deleted, so
    if any move fails, the moves already done are undone and the partition
    reads back as before."""
    for leg in LEGS:
        for base, _, names in os.walk(os.path.join(staging, leg)):
            for n in names:
                if os.path.join(base, n) not in written:
                    os.remove(os.path.join(base, n))
    legs = [leg for leg in LEGS if os.path.isdir(os.path.join(staging, leg))]
    leaves = set()
    if "avro_manifest" in legs:
        leaves = _listed_subtrees(output_root, partition) | {
            os.path.dirname(rel) for _, rel in containers
        }
    replaced = os.path.join(staging, "replaced")
    os.mkdir(replaced)
    undo: list[Callable[[], None]] = []

    def move(src: str, dst: str) -> None:
        os.rename(src, dst)
        undo.append(lambda: os.rename(dst, src))

    try:
        for leg in legs:
            final = os.path.join(output_root, leg, partition)
            if os.path.isdir(final):
                move(final, os.path.join(replaced, leg))
            os.makedirs(os.path.dirname(final), exist_ok=True)
            move(os.path.join(staging, leg), final)
        for i, rel in enumerate(sorted(leaves)):
            if os.path.isdir(os.path.join(output_root, rel)):
                move(os.path.join(output_root, rel), os.path.join(replaced, str(i)))
        made = set()
        for src, rel in containers:
            leaf = os.path.join(output_root, os.path.dirname(rel))
            if leaf not in made:
                os.makedirs(leaf)
                made.add(leaf)
                undo.append(lambda leaf=leaf: os.rmdir(leaf))
            move(src, os.path.join(output_root, rel))
    except BaseException:
        for step in reversed(undo):
            step()
        raise


def write_partition(
    packets: DataFrame,
    root: str,
    partition: str,
    schemas: dict[str, pa.Schema],
    header_row: Callable[[str, str, pa.Table, str], dict],
    ts_col: str,
    signing: tuple[bytes | None, str] | None = None,
    containers: tuple[str, str] | None = None,
    empty_legs: tuple[str, ...] = (),
) -> list:
    """Stage → write each batch whole → commit ``partition``, the output
    protocol of the batch job (``window_start_s=W``) and of the epoch sink
    (``epoch=E``). The writer pass runs on the frame's own partitioning; if
    a batch id comes back from two tasks it runs once more over ``packets``
    repartitioned by ``batch_id``, and the first pass's files, which no
    result names, never reach the tree. A partition with no packets gets a
    zero-row file for each of ``empty_legs``. Returns the task results."""
    with _staging_tree(root) as staging:

        def write(df: DataFrame) -> list:
            return _writer_pass(df, staging, schemas, header_row, ts_col, signing, containers)

        results = write(packets)
        ids = [b for r in results for b in r["batch_ids"]]
        if len(ids) != len(set(ids)):
            results = write(shuffle_by(packets, "batch_id"))
        written = {f for r in results for f in r["files"]}
        if not written:
            written = _write_empty_legs(staging, empty_legs, schemas)
        staged = [(src, rel) for r in results for src, rel in r["containers"]]
        _commit(staging, root, partition, written, staged)
    return results


def _local_root(output_root: str) -> str:
    """``output_root`` as a local path. Tasks write their files straight
    into it, so it must be a directory the driver and every executor share:
    a local or mounted path, plain or as a ``file:`` URI. Any other scheme
    (``hdfs://``, ``s3a://``) is refused — taken for a path, it would name a
    relative directory on each executor's own disk."""
    parts = urlsplit(output_root)
    if not parts.scheme:
        return output_root
    if parts.scheme == "file" and parts.netloc in ("", "localhost"):
        return unquote(parts.path)
    raise ValueError(
        f"run_ingestion writes to a local or mounted output root; got {output_root!r}"
    )


def _scan_hours(opts: IngestionOptions) -> list[str]:
    """``ts_hour`` partitions of the window widened by the grace hours."""
    lo = datetime.fromtimestamp(opts.window_start_s, tz=timezone.utc) - timedelta(
        hours=opts.grace_hours_backwards
    )
    hi = datetime.fromtimestamp(
        opts.window_start_s + opts.duration_s, tz=timezone.utc
    ) + timedelta(hours=opts.grace_hours_forwards)
    hours = []
    cur = lo.replace(minute=0, second=0, microsecond=0)
    while cur <= hi:
        hours.append(cur.strftime("%Y-%m-%d-%H"))
        cur += timedelta(hours=1)
    return hours


def run_ingestion(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    opts: IngestionOptions,
) -> dict[str, int | str]:
    """Batch job: scan hour-partitioned turns (pruned to the window ± grace),
    run the core, write the output legs per destination in one pass.

    Idempotence (W4 analog, strengthened per SURVEY §4): the run stages its
    whole output and then replaces exactly its own window's partitions — a
    re-run of the same window replaces its output, never duplicates it, and
    a failed run leaves the previous output as it was. The output root must
    be a local or mounted path (or a ``file:`` URI); any other scheme raises
    ``ValueError``, because tasks write their files directly.

    Returns the M2 counters: invalid rows per reason (non-zero only), and
    ``packets_written``, ``batches``, ``min_ts``, ``max_ts`` as strings.
    """
    output_root = _local_root(output_root)
    df = spark.read.parquet(input_path)
    if "ts_hour" in df.columns:  # hour-partition pruning, ± grace (S1 analog)
        df = df.filter(F.col("ts_hour").isin(_scan_hours(opts))).drop("ts_hour")
    obs = Observation("invalid")
    annotated = observe_invalid(validate_turns(df), obs)
    packets = _packets(annotated, opts)

    schemas = _leg_schemas(packets)
    legs = LEGS if opts.emit_avro_containers else LEGS[:3]
    pem = opts.signing_key_pem
    signing = (pem, KEYED_DIGEST_KEY_ID if pem is None else opts.signing_key_id)
    containers = (
        (output_root, utc_ts_path(opts.window_start_s))
        if opts.emit_avro_containers
        else None
    )
    results = write_partition(
        packets,
        output_root,
        f"window_start_s={opts.window_start_s}",
        schemas,
        _window_header_row(spark, opts, "bins" in packets.columns),
        "ts",
        signing,
        containers,
        empty_legs=legs,
    )
    if opts.signing_key_pem is not None:
        # publish the verification material (key id + public key DER) —
        # the sandbox analog of the KMS key resource name the reference's
        # downstream resolves (IngestionPipelineIT.java:700-721); atomic,
        # so a verifier never reads a partial file
        key = {
            "key_identifier": opts.signing_key_id,
            "public_key_der_b64": public_key_der_b64(opts.signing_key_pem),
        }
        write_file_atomic(
            os.path.join(output_root, "signing_key.json"), json.dumps(key).encode()
        )

    # M2 counters (Beam Metrics analog, model/DataShare.java:46-55). The
    # Observation has a value only when packets reached the writer: a scan
    # with no file runs no task, and once a stage runs empty AQE swaps the
    # plan below it, observed scan included, for an empty relation. A window
    # with no packets counts its invalid rows with one small aggregation.
    invalid = obs.get if results else {
        r["invalid_reason"]: r["n"] for r in invalid_counters(annotated).collect()
    }
    stats: dict[str, int | str] = {r: n for r, n in invalid.items() if n}
    stats.update(
        packets_written=str(sum(r["packets"] for r in results)),
        batches=str(len({b for r in results for b in r["batch_ids"]})),
        min_ts=str(min((r["min_ts"] for r in results), default=None)),
        max_ts=str(max((r["max_ts"] for r in results), default=None)),
    )
    return stats
