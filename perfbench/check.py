"""Output checker, independent of the engine.

It reads what a run wrote with pyarrow and the standard library only, and
compares it with the generator's record and with properties the method must
have: recomputed digests, verified signatures, exactly-once keys, batch
sizes, r_pit constraints and validation counters. Nothing is compared with
a stored copy of an earlier output. Every failed check raises
``CheckFailed``.
"""

from __future__ import annotations

import base64
import glob
import hashlib
import io
import json
import math
import os
from collections import Counter, defaultdict
from datetime import datetime, timezone

import pyarrow.parquet as pq

from gen import INVALID_REASONS, PRIME, PRIO_SETS, T0_S, PrioRecord, TurnRecord

GRACE_HOURS = 1  # hours scanned before and after each window


class CheckFailed(AssertionError):
    pass


def _require(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


# --- Avro object-container decoding, written from the Avro 1.x spec ---


class _Reader:
    def __init__(self, blob: bytes):
        self.buf = io.BytesIO(blob)
        self.size = len(blob)

    def read(self, n: int) -> bytes:
        b = self.buf.read(n)
        _require(len(b) == n, "avro: unexpected end of file")
        return b

    def long(self) -> int:
        shift = acc = 0
        while True:
            b = self.read(1)[0]
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                return (acc >> 1) ^ -(acc & 1)
            shift += 7
            _require(shift < 70, "avro: varint too long")

    def bytes_(self) -> bytes:
        n = self.long()
        _require(0 <= n <= self.size, "avro: bad length")
        return self.read(n)

    def at_end(self) -> bool:
        return self.buf.tell() == self.size


def _decode(r: _Reader, schema):
    if isinstance(schema, list):  # union: branch index, then the value
        i = r.long()
        _require(0 <= i < len(schema), "avro: bad union branch")
        return _decode(r, schema[i])
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return {f["name"]: _decode(r, f["type"]) for f in schema["fields"]}
        return _decode(r, t)
    if schema == "null":
        return None
    if schema in ("long", "int"):
        return r.long()
    if schema == "bytes":
        return r.bytes_()
    if schema == "string":
        return r.bytes_().decode()
    raise CheckFailed(f"avro: unsupported type {schema!r}")


def read_avro_container(blob: bytes) -> list[dict]:
    """Records of an object-container file (null codec)."""
    r = _Reader(blob)
    _require(r.read(4) == b"Obj\x01", "avro: bad magic")
    meta = {}
    while True:
        n = r.long()
        if n == 0:
            break
        if n < 0:
            n = -n
            r.long()  # block byte size
        for _ in range(n):
            key = r.bytes_().decode()
            meta[key] = r.bytes_()
    sync = r.read(16)
    _require(meta.get("avro.codec", b"null") in (b"null", b""), "avro: codec")
    schema = json.loads(meta["avro.schema"])
    records = []
    while not r.at_end():
        count = r.long()
        size = r.long()
        start = r.buf.tell()
        for _ in range(count):
            records.append(_decode(r, schema))
        _require(r.buf.tell() - start == size, "avro: block size mismatch")
        _require(r.read(16) == sync, "avro: sync marker mismatch")
    return records


# --- shared helpers ---


def _read_parquet_dir(pattern: str) -> list[dict]:
    """Rows of every parquet file matching ``pattern``, with hive partition
    values from the path added as strings."""
    rows = []
    for path in sorted(glob.glob(pattern)):
        parts = {
            k: v
            for k, _, v in (
                seg.partition("=") for seg in path.split(os.sep) if "=" in seg
            )
        }
        for row in pq.read_table(path).to_pylist():
            rows.append({**parts, **row})
    return rows


def packet_digest(pairs) -> str:
    """SHA-256 over the sorted ``uuid:HEX(payload)`` text of one batch."""
    text = "".join(f"{u}:{p.hex().upper()}" for u, p in sorted(pairs))
    return hashlib.sha256(text.encode()).hexdigest()


def _next_pow2(n: int) -> int:
    return 1 if n <= 1 else 1 << (n - 1).bit_length()


def _verify_signature(pub, digest_hex: str, sig_b64: str) -> bool:
    from cryptography.exceptions import InvalidSignature
    from cryptography.hazmat.primitives import hashes
    from cryptography.hazmat.primitives.asymmetric import ec, utils

    try:
        pub.verify(
            base64.b64decode(sig_b64),
            bytes.fromhex(digest_hex),
            ec.ECDSA(utils.Prehashed(hashes.SHA256())),
        )
        return True
    except (InvalidSignature, ValueError):
        return False


def _check_batch_sizes(sizes_by_key: dict, batch_size: int, what: str) -> None:
    """Every batch of a key but its last holds exactly batch_size."""
    for key, sizes in sizes_by_key.items():
        n = sum(sizes)
        short = [s for s in sizes if s != batch_size]
        _require(
            len(sizes) == math.ceil(n / batch_size)
            and len(short) <= 1
            and all(0 < s <= batch_size for s in sizes),
            f"{what}: batches of {key} have sizes {sorted(sizes)}",
        )


# --- hourly-prio ---


def scanned_hours(h: int) -> set[int]:
    """Hour partitions a window scans: the window's hours widened by the
    grace on each side, both ends inclusive."""
    return set(range(h - GRACE_HOURS, h + 1 + GRACE_HOURS + 1))


def check_prio(
    rec: PrioRecord,
    out: str,
    windows: list[int],
    stats: dict[int, dict],
    signing_key_id: str,
) -> dict:
    """Check the triplet, the Avro containers and the counters of every
    window in ``windows`` (hour indices) under output root ``out``."""
    bs = rec.batch_size
    key_path = os.path.join(out, "signing_key.json")
    _require(os.path.isfile(key_path), "signing_key.json missing")
    with open(key_path) as fh:
        key = json.load(fh)
    _require(key["key_identifier"] == signing_key_id, "signing key id differs")
    from cryptography.hazmat.primitives.serialization import load_der_public_key

    pub = load_der_public_key(base64.b64decode(key["public_key_der_b64"]))

    n_checked = Counter()
    seen_uuid = Counter()
    for h in windows:
        ws = T0_S + h * 3600
        lo, hi = ws * 1000, (ws + 3600) * 1000
        scan = scanned_hours(h)
        # expectations from the generator's record
        cand = defaultdict(set)  # key -> {(pha, fac)}
        pset = {}
        invalid = Counter()
        for i in range(rec.n_docs):
            if rec.partition[i] not in scan:
                continue
            if rec.invalid[i]:
                invalid[rec.invalid[i]] += 1
                continue
            if lo <= rec.ts_ms[i] < hi:
                k = f"{rec.conv_id[i]}#{rec.turn_idx[i]}"
                cand[k].add(rec.payload[i])
                pset[k] = rec.prio_set[i]
        st = stats[h]
        for reason in INVALID_REASONS:
            _require(
                int(st.get(reason, 0)) == invalid[reason],
                f"window {h}: counter {reason}={st.get(reason)} expected {invalid[reason]}",
            )
        _require(
            int(st["packets_written"]) == 2 * len(cand),
            f"window {h}: packets_written {st['packets_written']} expected {2 * len(cand)}",
        )

        packets = _read_parquet_dir(
            os.path.join(out, "packets", f"window_start_s={ws}", "destination=*", "*.parquet")
        )
        by_dest = defaultdict(dict)
        batches = defaultdict(list)  # (batch_id, dest) -> [(uuid, payload)]
        batch_key = {}
        for p in packets:
            d, u = p["destination"], p["uuid"]
            _require(u not in by_dest[d], f"window {h}: {u} twice in {d}")
            by_dest[d][u] = p
            seen_uuid[(d, u)] += 1
            batches[(p["batch_id"], d)].append((u, p["encrypted_payload"]))
            bk = (p["conv_id"], p["bins"], p["epsilon"], p["hamming_weight"], p["prime"])
            _require(
                batch_key.setdefault(p["batch_id"], bk) == bk,
                f"window {h}: batch {p['batch_id']} mixes keys",
            )
        _require(set(by_dest) == {"pha", "facilitator"}, f"window {h}: destinations {set(by_dest)}")
        for d, rows in by_dest.items():
            _require(
                set(rows) == set(cand),
                f"window {h}: {d} uuid set differs from the input "
                f"(missing {len(set(cand) - set(rows))}, extra {len(set(rows) - set(cand))})",
            )
        for u, k in pset.items():
            a, b = by_dest["pha"][u], by_dest["facilitator"][u]
            _require(a["batch_id"] == b["batch_id"], f"{u}: forks in different batches")
            _require(a["r_pit"] == b["r_pit"], f"{u}: r_pit differs between forks")
            prime, eps, bins, _, hw = PRIO_SETS[k]
            r = a["r_pit"]
            _require(0 <= r < PRIME, f"{u}: r_pit {r} out of range")
            _require(pow(r, _next_pow2(bins + 1), PRIME) != 1, f"{u}: r_pit is a root of unity")
            _require(
                (a["encrypted_payload"], b["encrypted_payload"]) in cand[u],
                f"{u}: payload is not one of the key's input candidates",
            )
            _require(
                (a["bins"], a["epsilon"], a["hamming_weight"], a["prime"]) == (bins, eps, hw, prime),
                f"{u}: prio params differ from the input",
            )
        sizes = defaultdict(list)
        for (bid, d), rows in batches.items():
            if d == "pha":
                sizes[batch_key[bid]].append(len(rows))
        _check_batch_sizes(sizes, bs, f"window {h}")

        # headers and signatures
        headers = _read_parquet_dir(
            os.path.join(out, "batch_headers", f"window_start_s={ws}", "destination=*", "*.parquet")
        )
        _require(
            {(x["batch_id"], x["destination"]) for x in headers} == set(batches)
            and len(headers) == len(batches),
            f"window {h}: headers do not match the packet batches",
        )
        ts_path = datetime.fromtimestamp(ws, tz=timezone.utc).strftime("%Y/%m/%d/%H/%M")
        for x in headers:
            key_ = (x["batch_id"], x["destination"])
            rows = batches[key_]
            conv, bins, eps, hw, prime = batch_key[x["batch_id"]]
            _require(x["n_packets"] == len(rows), f"{key_}: n_packets {x['n_packets']} != {len(rows)}")
            _require(x["packet_file_digest"] == packet_digest(rows), f"{key_}: packet_file_digest differs")
            _require(
                (x["name"], x["bins"], x["epsilon"], x["hamming_weight"], x["prime"])
                == (conv, bins, eps, hw, prime)
                and x["batch_start_time"] == ws
                and x["batch_end_time"] == ws + 3600
                and x["number_of_servers"] == 2,
                f"{key_}: header metadata differs",
            )
            _require(
                x["path"] == f"{x['destination']}/{conv}/{ts_path}/{x['batch_id']}",
                f"{key_}: header path {x['path']}",
            )
        digests = {(x["batch_id"], x["destination"]): x["packet_file_digest"] for x in headers}
        sigs = _read_parquet_dir(
            os.path.join(out, "signatures", f"window_start_s={ws}", "destination=*", "*.parquet")
        )
        _require(
            sorted((s["batch_id"], s["destination"]) for s in sigs) == sorted(digests),
            f"window {h}: signatures do not match the headers",
        )
        for s in sigs:
            k_ = (s["batch_id"], s["destination"])
            _require(s["key_identifier"] == signing_key_id, f"{k_}: key id")
            _require(
                _verify_signature(pub, digests[k_], s["batch_header_signature"]),
                f"{k_}: signature does not verify",
            )

        # Avro containers and their manifest
        manifest = _read_parquet_dir(
            os.path.join(out, "avro_manifest", f"window_start_s={ws}", "destination=*", "*.parquet")
        )
        files = {
            os.path.relpath(p, os.path.join(out, "avro"))
            for p in glob.glob(os.path.join(out, "avro", "*", "*", ts_path, "*.batch.avro"))
        }
        expected = {
            f"{d}/{batch_key[b][0]}/{ts_path}/{b}.batch.avro" for b, d in batches
        }
        _require(files == expected, f"window {h}: Avro files do not match the batches")
        _require(len(manifest) == len(batches), f"window {h}: manifest rows {len(manifest)}")
        for m in manifest:
            k_ = (m["batch_id"], m["destination"])
            _require(k_ in batches, f"{k_}: manifest row without a batch")
            conv = batch_key[m["batch_id"]][0]
            path = os.path.join(out, "avro", m["destination"], conv, ts_path, f"{m['batch_id']}.batch.avro")
            with open(path, "rb") as fh:
                blob = fh.read()
            _require(hashlib.sha256(blob).hexdigest() == m["file_sha256"], f"{k_}: file SHA-256 differs from the manifest")
            recs = read_avro_container(blob)
            rows = batches[k_]
            _require(len(recs) == len(rows) == m["n_records"], f"{k_}: Avro record count")
            _require([x["uuid"] for x in recs] == sorted(u for u, _ in rows), f"{k_}: Avro uuids")
            dest_rows = by_dest[m["destination"]]
            for x in recs:
                p = dest_rows[x["uuid"]]
                _require(
                    x["encrypted_payload"] == p["encrypted_payload"] and x["r_pit"] == p["r_pit"],
                    f"{k_}: Avro record {x['uuid']} differs from its packet",
                )
        n_checked["windows"] += 1
        n_checked["keys"] += len(cand)
        n_checked["batches"] += len(batches)
    _require(all(v == 1 for v in seen_uuid.values()), "a key was emitted in more than one window")
    return dict(n_checked)


# --- stream-resume ---


def check_stream(
    rec: TurnRecord, n_files: int, out: str, final_watermark_ms: int, batch_size: int
) -> dict:
    """Check the streaming output for the first ``n_files`` files offered.
    ``final_watermark_ms`` is the watermark the last epoch reported; it must
    equal the latest offered event time minus the 1-hour delay."""
    sel = [i for i in range(rec.n_rows) if rec.file_of_row[i] < n_files]
    max_ts = max(int(rec.ts_ms[i]) for i in sel)
    _require(
        final_watermark_ms == max_ts - 3_600_000,
        f"final watermark {final_watermark_ms} != {max_ts - 3_600_000}",
    )
    text = {}
    window = {}
    for i in sel:
        k = f"{rec.conv_id[i]}#{int(rec.turn_idx[i])}"
        t = rec.text[i]
        _require(text.setdefault(k, t) == t, f"generator: {k} has two texts")
        window[k] = int(rec.ts_ms[i]) // 3_600_000 * 3600
    closed = {k for k, w in window.items() if (w + 3600) * 1000 <= final_watermark_ms}

    packets = _read_parquet_dir(os.path.join(out, "packets", "epoch=*", "destination=*", "*.parquet"))
    by_dest = defaultdict(dict)
    batches = defaultdict(list)
    per_epoch = Counter()
    for p in packets:
        d, u = p["destination"], p["uuid"]
        _require(u not in by_dest[d], f"{u} emitted twice to {d}")
        by_dest[d][u] = p
        per_epoch[int(p["epoch"])] += 1
        batches[(p["batch_id"], d)].append((u, p["encrypted_payload"]))
    _require(set(by_dest) == {"pha", "facilitator"}, f"destinations {set(by_dest)}")
    _require(set(by_dest["pha"]) == set(by_dest["facilitator"]), "forks carry different uuid sets")
    emitted = set(by_dest["pha"])
    _require(emitted <= set(text), "emitted a turn that was never offered")
    _require(closed <= emitted, f"closed windows: {len(closed - emitted)} turns missing")
    sizes = defaultdict(list)
    for u, p in by_dest["pha"].items():
        _require(p["encrypted_payload"] == text[u].encode(), f"{u}: payload differs from the input")
        _require(int(p["window_start_s"]) == window[u], f"{u}: window")
        if u not in closed:
            _require(p["close_reason"] == "size", f"{u}: open window emitted by {p['close_reason']}")
    for (bid, d), rows in batches.items():
        if d == "pha":
            p = by_dest["pha"][rows[0][0]]
            sizes[(p["conv_id"], p["window_start_s"])].append(len(rows))
            if p["close_reason"] == "size":
                _require(len(rows) == batch_size, f"{bid}: size-closed batch of {len(rows)}")
    _check_batch_sizes(
        {k: v for k, v in sizes.items() if k[1] * 1000 + 3_600_000 <= final_watermark_ms},
        batch_size,
        "stream",
    )
    headers = _read_parquet_dir(os.path.join(out, "batch_headers", "epoch=*", "*.parquet"))
    _require(
        sorted((x["batch_id"], x["destination"]) for x in headers) == sorted(batches),
        "headers do not match the packet batches",
    )
    for x in headers:
        k_ = (x["batch_id"], x["destination"])
        _require(x["n_packets"] == len(batches[k_]), f"{k_}: n_packets")
        _require(x["packet_file_digest"] == packet_digest(batches[k_]), f"{k_}: packet_file_digest differs")
    lineage = {}
    for path in glob.glob(os.path.join(out, "lineage", "epoch-*.json")):
        with open(path) as fh:
            r = json.load(fh)
        lineage[int(r["epoch"])] = r["n_rows"]
    _require(
        {e: 2 * n for e, n in lineage.items()} == dict(per_epoch),
        "lineage row counts do not add up to the packets",
    )
    return {"turns_offered": len(sel), "emitted": len(emitted), "closed": len(closed), "batches": len(batches) // 2}
