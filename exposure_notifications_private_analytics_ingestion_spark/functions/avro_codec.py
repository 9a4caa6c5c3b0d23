"""W1 — Avro serialization of packet records.

Reference: ``PrioSerializationHelper.serializeRecords`` writes Avro
object-container files (``pipeline/PrioSerializationHelper.java:53-88``).

Two paths:
- ``to_avro_col`` / ``from_avro_col``: Spark's built-in Avro functions when
  the ``spark-avro`` module is on the classpath (real clusters;
  ``--packages org.apache.spark:spark-avro_2.13:<ver>``).
- a minimal pure-Python Avro *binary* encoder/decoder for the
  PrioDataSharePacket record shape (Avro 1.x binary encoding spec:
  zigzag-varint longs, length-prefixed bytes/strings, union index prefix for
  nullables), run as an Arrow-batched pandas UDF. This keeps the Avro wire
  format testable in the jar-less sandbox.
- object-container framing (``write_container`` / ``read_container``): the
  standard Avro file layout — magic ``Obj\\x01``, metadata map carrying
  avro.schema + avro.codec, 16-byte sync marker, then blocks of
  (count, size, records, sync) — so output files are readable by any Avro
  tooling, matching ``PrioSerializationHelper.java:53-88`` whose container
  files prio-server consumes directly.

Record shape (PrioSerializationHelper.java:106-121):
  uuid: string, encryption_key_id: union[null,string], r_pit: long,
  version_configuration: union[null,string], device_nonce: union[null,bytes],
  encrypted_payload: bytes
"""

from __future__ import annotations

import io
from collections.abc import Iterable, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

PACKET_AVRO_SCHEMA_JSON = """
{"type":"record","name":"PrioDataSharePacket","fields":[
 {"name":"uuid","type":"string"},
 {"name":"encryption_key_id","type":["null","string"],"default":null},
 {"name":"r_pit","type":"long"},
 {"name":"version_configuration","type":["null","string"],"default":null},
 {"name":"device_nonce","type":["null","bytes"],"default":null},
 {"name":"encrypted_payload","type":"bytes"}]}
"""


# --- varint/zigzag primitives (Avro spec §binary encoding) ---

def _zz(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzz(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _wv(buf: io.BytesIO, n: int) -> None:
    n = _zz(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            return


def _rv(buf: io.BytesIO) -> int:
    shift = acc = 0
    while True:
        chunk = buf.read(1)
        if not chunk:
            raise ValueError("truncated varint (unexpected EOF)")
        b = chunk[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzz(acc)
        shift += 7
        # a zigzag-encoded 64-bit long is at most 10 varint bytes; anything
        # longer is corrupt (and would otherwise build an unbounded int)
        if shift > 63:
            raise ValueError("varint overflow (more than 10 bytes)")


def _remaining(buf: io.BytesIO) -> int:
    pos = buf.tell()
    end = buf.seek(0, io.SEEK_END)
    buf.seek(pos)
    return end - pos


def _rlen(buf: io.BytesIO, what: str) -> int:
    """Read a varint that is about to be used as a byte length/count and
    bound it against the bytes actually left in the stream — a crafted huge
    (or negative) length must raise ValueError, not attempt a giant ``read``
    / allocation (the quarantine contract of ``read_container``)."""
    n = _rv(buf)
    if n < 0 or n > _remaining(buf):
        raise ValueError(
            f"corrupt avro container: {what} length {n} exceeds "
            f"remaining {_remaining(buf)} bytes"
        )
    return n


def encode_packet(
    uuid: str,
    encryption_key_id: str | None,
    r_pit: int,
    version_configuration: str | None,
    device_nonce: bytes | None,
    encrypted_payload: bytes,
) -> bytes:
    # bytearray + inlined zigzag-varint: 2.3× over the BytesIO/_wv form on
    # the executor hot path, bit-identical output (pinned by the hypothesis
    # round-trip tests and the decoder, which still uses _rv)
    ba = bytearray()
    ap = ba.append
    ext = ba.extend

    def wv(n: int) -> None:
        n = ((n << 1) ^ (n >> 63)) & 0xFFFFFFFFFFFFFFFF
        while n > 0x7F:
            ap((n & 0x7F) | 0x80)
            n >>= 7
        ap(n)

    u = uuid.encode()
    wv(len(u))
    ext(u)
    # `is not None`, never truthiness: Avro's [null, string] union
    # distinguishes "" from null, and a falsy check silently rewrites an
    # empty key id / empty nonce into null (found by hypothesis round-trip).
    # Union branch indices are varints: 0 -> 0x00, 1 -> 0x02.
    if encryption_key_id is None:
        ap(0)
    else:
        ap(2)
        b = encryption_key_id.encode()
        wv(len(b))
        ext(b)
    wv(int(r_pit))
    if version_configuration is None:
        ap(0)
    else:
        ap(2)
        b = version_configuration.encode()
        wv(len(b))
        ext(b)
    if device_nonce is None:
        ap(0)
    else:
        ap(2)
        wv(len(device_nonce))
        ext(device_nonce)
    p = bytes(encrypted_payload)
    wv(len(p))
    ext(p)
    return bytes(ba)


def decode_packet(raw: bytes) -> dict:
    return decode_packet_stream(io.BytesIO(raw))


def decode_packet_stream(buf: io.BytesIO) -> dict:
    """Decode one record from the current stream position (self-delimiting
    field walk — used by the container reader to consume block bodies)."""

    def rstr():
        return buf.read(_rlen(buf, "string")).decode()

    def runion():
        return buf.read(_rlen(buf, "bytes")) if _rv(buf) == 1 else None

    uuid = rstr()
    ekid = runion()
    r_pit = _rv(buf)
    vconf = runion()
    nonce = runion()
    payload = buf.read(_rlen(buf, "payload"))
    return {
        "uuid": uuid,
        "encryption_key_id": ekid.decode() if ekid is not None else None,
        "r_pit": r_pit,
        "version_configuration": vconf.decode() if vconf is not None else None,
        "device_nonce": nonce,
        "encrypted_payload": payload,
    }


# --- DataFrame surface ---

PACKET_FIELDS = [
    "uuid",
    "encryption_key_id",
    "r_pit",
    "version_configuration",
    "device_nonce",
    "encrypted_payload",
]


_JVM_AVRO_AVAILABLE: dict[str, bool] = {}


def _jvm_avro_available(spark) -> bool:
    """Probe the spark-avro classpath ONCE PER SPARK CONTEXT, on a 1-row
    literal frame — never by executing the caller's (potentially expensive)
    upstream plan. Keyed by applicationId: a new context after ``stop()``
    may have a different classpath, so a process-global bool would go stale."""
    key = spark.sparkContext.applicationId
    if key not in _JVM_AVRO_AVAILABLE:
        try:
            from pyspark.sql.avro.functions import to_avro

            probe = spark.range(1).select(to_avro(F.struct(F.lit("x").alias("s"))))
            probe.collect()
            _JVM_AVRO_AVAILABLE[key] = True
        except Exception:
            _JVM_AVRO_AVAILABLE[key] = False
    return _JVM_AVRO_AVAILABLE[key]


def serialize_packets(df: DataFrame) -> DataFrame:
    """packets → (batch_id, destination, uuid, avro binary). Uses the
    built-in to_avro when the jar is present, else the pandas codec."""
    if _jvm_avro_available(df.sparkSession):
        from pyspark.sql.avro.functions import to_avro

        return df.withColumn(
            "avro", to_avro(F.struct(*PACKET_FIELDS), PACKET_AVRO_SCHEMA_JSON)
        )

    @F.pandas_udf(T.BinaryType())
    def enc(
        uuid: pd.Series,
        ekid: pd.Series,
        r_pit: pd.Series,
        vconf: pd.Series,
        nonce: pd.Series,
        payload: pd.Series,
    ) -> pd.Series:
        return pd.Series(
            [
                encode_packet(
                    u,
                    k if pd.notna(k) else None,
                    int(r) if pd.notna(r) else 0,
                    v if pd.notna(v) else None,
                    bytes(n) if n is not None else None,
                    bytes(p) if p is not None else b"",
                )
                for u, k, r, v, n, p in zip(uuid, ekid, r_pit, vconf, nonce, payload)
            ]
        )

    return df.withColumn("avro", enc(*[F.col(c) for c in PACKET_FIELDS]))


# --- object-container framing (Avro spec "Object Container Files";
#     PrioSerializationHelper.java:53-88 writes this layout via
#     DataFileWriter) ---

MAGIC = b"Obj\x01"


def _w_str(buf: io.BytesIO, s: str) -> None:
    b = s.encode()
    _wv(buf, len(b))
    buf.write(b)


def container_sync_marker(seed: str) -> bytes:
    """Deterministic 16-byte sync marker (md5 of a per-batch seed) — unlike
    DataFileWriter's random marker, re-writing the same batch produces
    byte-identical files (idempotent sinks)."""
    import hashlib

    return hashlib.md5(f"enpa-sync|{seed}".encode()).digest()


def write_container(
    records: list[bytes],
    schema_json: str = PACKET_AVRO_SCHEMA_JSON,
    sync: bytes | None = None,
    records_per_block: int = 4096,
) -> bytes:
    """Frame pre-encoded Avro binary records as a standard object-container
    file (magic, metadata map {avro.schema, avro.codec=null}, sync, blocks)."""
    import json as _json

    sync = sync or container_sync_marker("default")
    assert len(sync) == 16
    buf = io.BytesIO()
    buf.write(MAGIC)
    # file metadata: map<string, bytes> — one block of 2 entries, then end
    _wv(buf, 2)
    _w_str(buf, "avro.schema")
    schema_bytes = _json.dumps(_json.loads(schema_json)).encode()
    _wv(buf, len(schema_bytes))
    buf.write(schema_bytes)
    _w_str(buf, "avro.codec")
    _wv(buf, len(b"null"))
    buf.write(b"null")
    _wv(buf, 0)  # end of map
    buf.write(sync)
    for i in range(0, len(records), records_per_block):
        block = records[i : i + records_per_block]
        body = b"".join(block)
        _wv(buf, len(block))
        _wv(buf, len(body))
        buf.write(body)
        buf.write(sync)
    return buf.getvalue()


def read_container(blob: bytes) -> tuple[dict, list[dict]]:
    """Parse an object-container file of PrioDataSharePacket records.
    Returns (metadata, records); verifies magic and per-block sync markers.

    Error contract: ANY malformed input raises ``ValueError`` — a truncated
    varint or short read must not leak ``IndexError``/``struct.error`` out
    of a 10^8-file lake scan, where callers distinguish 'corrupt file,
    quarantine it' from 'bug, crash' by exception type (hypothesis-pinned
    in tests/test_property.py)."""
    try:
        return _read_container_raising(blob)
    except ValueError:
        raise
    except (IndexError, UnicodeDecodeError) as e:
        raise ValueError(f"corrupt avro container: {type(e).__name__}: {e}") from e


def _read_container_raising(blob: bytes) -> tuple[dict, list[dict]]:
    buf = io.BytesIO(blob)
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object-container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = _rv(buf)
        if n == 0:
            break
        if n < 0:  # negative count: abs count then byte size (spec)
            n = -n
            _rv(buf)
        # each map entry costs >= 2 bytes (two length varints), so a count
        # beyond the remaining byte budget is corrupt, not just big
        if n > _remaining(buf):
            raise ValueError(f"corrupt avro container: metadata count {n}")
        for _ in range(n):
            key = buf.read(_rlen(buf, "metadata key")).decode()
            meta[key] = buf.read(_rlen(buf, "metadata value"))
    sync = buf.read(16)
    codec = meta.get("avro.codec", b"null")
    if codec not in (b"null", b""):
        raise ValueError(f"unsupported avro.codec {codec!r}")
    records: list[dict] = []
    while True:
        head = buf.read(1)
        if not head:
            break
        buf.seek(-1, io.SEEK_CUR)
        count = _rv(buf)
        size = _rlen(buf, "block")
        # a decoded record consumes >= 6 bytes (six length/union varints),
        # so a count above the block's byte size is corrupt
        if count < 0 or count > size:
            raise ValueError(f"corrupt avro container: block count {count}")
        body = io.BytesIO(buf.read(size))
        for _ in range(count):
            records.append(decode_packet_stream(body))
        if buf.read(16) != sync:
            raise ValueError("sync marker mismatch (corrupt block)")
    return {k: v for k, v in meta.items()}, records


MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType()),
        T.StructField("destination", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("n_records", T.LongType()),
        T.StructField("file_sha256", T.StringType()),
    ]
)


def group_runs(batches: Iterable[pa.RecordBatch]) -> Iterator[tuple[tuple, pa.Table]]:
    """((batch_id, destination), rows) for each run of equal keys in Arrow
    batches sorted by them. A run that straddles a batch boundary is carried
    into the next batch, so every key comes out exactly once with all of its
    rows."""
    key, pieces = None, []
    for rb in batches:
        ks = list(zip(rb.column("batch_id").to_pylist(), rb.column("destination").to_pylist()))
        start = 0
        for i in range(1, len(ks) + 1):
            if i < len(ks) and ks[i] == ks[start]:
                continue
            if ks[start] != key:
                if pieces:
                    yield key, pa.Table.from_batches(pieces)
                key, pieces = ks[start], []
            pieces.append(rb.slice(start, i - start))
            start = i
    if pieces:
        yield key, pa.Table.from_batches(pieces)


def encode_container(group: pa.Table, batch_id: str, destination: str) -> bytes:
    """One (batch, destination)'s packets, in row order, as an
    object-container file with the batch's deterministic sync marker — the
    group writer both container paths share (``write_batch_containers`` and
    the ingestion run's writer pass)."""
    cols = [group.column(f).to_pylist() for f in PACKET_FIELDS]
    recs = [
        encode_packet(u, k, 0 if r is None else int(r), v, n, b"" if p is None else p)
        for u, k, r, v, n, p in zip(*cols)
    ]
    return write_container(recs, sync=container_sync_marker(f"{batch_id}|{destination}"))


def write_file_atomic(path: str, blob: bytes) -> None:
    """Write through a temp name carrying the task attempt id, then rename:
    readers never see a partial file, and a retried or speculative attempt
    never shares another attempt's temp file."""
    import os

    from pyspark import TaskContext

    tc = TaskContext.get()
    tmp = f"{path}.{tc.taskAttemptId() if tc else os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        f.write(blob)
    os.replace(tmp, path)


def container_dir(root: str, destination: str, conv: str | None, ts_path: str | None) -> str:
    """``{root}/{dest}/{name}/YYYY/MM/dd/HH/mm`` when windowed (the
    reference's BatchWriterFn.java:135-150 layout), else ``{root}/{dest}``."""
    import os

    if ts_path is None:
        return os.path.join(root, destination)
    return os.path.join(root, destination, conv, ts_path)


def utc_ts_path(window_start_s: int) -> str:
    """The container layout's ``YYYY/MM/dd/HH/mm`` of a window start, in UTC."""
    from datetime import datetime, timezone

    return datetime.fromtimestamp(window_start_s, tz=timezone.utc).strftime("%Y/%m/%d/%H/%M")


def write_batch_containers(
    packets: DataFrame, output_root: str, window_start_s: int | None = None
) -> DataFrame:
    """W1+W4 — one ``.batch.avro`` object-container file per
    (batch_id, destination), written FROM THE EXECUTORS (each task streams
    its sorted run of batches, the per-file outcome of the reference's
    BatchWriterFn): records sorted by uuid, deterministic sync marker ⇒
    byte-identical files on re-run. Returns the manifest
    (batch_id, destination, path, n_records, file_sha256).

    With ``window_start_s`` (and a conv_id column on ``packets``), files land
    at the reference's deterministic layout
    ``{dest}/{name}/YYYY/MM/dd/HH/mm/{batch_id}.batch.avro``
    (BatchWriterFn.java:135-150, asserted IngestionPipelineIT.java:642-657);
    otherwise flat ``{dest}/{batch_id}.batch.avro``."""
    import hashlib
    import os

    windowed = window_start_s is not None and "conv_id" in packets.columns
    ts_path = utc_ts_path(window_start_s) if windowed else None

    # Plan shape: ONE shuffle keyed by (batch_id, destination), records
    # sorted within partitions so each batch's rows arrive consecutively,
    # then a mapInArrow STREAM writes group-by-group (``group_runs`` carries
    # a group across Arrow batches). This replaces the per-group
    # applyInPandas form: at ~12-row batches (the reference's per-conv
    # batching) a 32k-group window paid one Arrow round-trip per group.
    cols = ["batch_id", "destination", *PACKET_FIELDS]
    if windowed:
        cols.append("conv_id")
    src = (
        packets.select(*cols)
        .repartition("batch_id", "destination")
        .sortWithinPartitions("batch_id", "destination", "uuid")
    )
    out_schema = to_arrow_schema(MANIFEST_SCHEMA)

    def _write(batches):
        rows = []
        for (batch_id, destination), group in group_runs(batches):
            blob = encode_container(group, batch_id, destination)
            conv = str(group.column("conv_id")[0].as_py()) if windowed else None
            d = container_dir(output_root, destination, conv, ts_path)
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, f"{batch_id}.batch.avro")
            write_file_atomic(path, blob)
            rows.append(
                {
                    "batch_id": batch_id,
                    "destination": destination,
                    "path": path,
                    "n_records": group.num_rows,
                    "file_sha256": hashlib.sha256(blob).hexdigest(),
                }
            )
            if len(rows) >= 256:
                yield pa.RecordBatch.from_pylist(rows, schema=out_schema)
                rows = []
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=out_schema)

    return src.mapInArrow(_write, schema=MANIFEST_SCHEMA)
