"""Seeded input generator for the benchmark workloads.

numpy + pyarrow only: no Spark session and no import from the engine
package, so a change to the engine's own synthetic generators cannot change
a workload. Every size is fixed by the workload; the seed only decides the
content (lengths, timestamps, payloads, which documents are corrupted or
duplicated), so two seeds give inputs of the same size and shape.

Two input kinds:

* ``write_prio_documents`` writes hour-partitioned nested Prio data-share
  documents (``ts_hour=YYYY-MM-DD-HH/part-*.parquet``), the layout the batch
  job scans. It returns a ``PrioRecord`` with every document's key, payload
  pair, parameter set, partition and fate: valid, invalid (and why), exact
  duplicate or conflicting duplicate.
* ``write_turn_files`` writes plain transcript turn files in event-time
  order for the streaming job, from the ``TurnRecord`` that
  ``turn_rows`` makes.
"""

from __future__ import annotations

import base64
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIME = 4293918721
T0_S = 1_709_251_200  # 2024-03-01T00:00:00Z, an hour boundary

# make-up of the Prio documents, per hour
INVALID_PER_CLASS = 1  # corrupted documents per failure class
EXACT_DUP_FRAC = 0.03
CONFLICT_DUP_FRAC = 0.005  # same key and timestamp, another payload
PRIO_LATE_FRAC = 0.03  # stored in the next hour's partition
FILES_PER_PARTITION = 2

# make-up of the turn files
FILE_SPAN_S = 3600  # event time one file covers
HOT_CONVS = 2  # conversations that run through the whole stream
HOT_SHARE = 0.25  # share of each file's rows they carry
TURN_DUP_FRAC = 0.02
TURN_LATE_FRAC = 0.02
MAX_LATE_S = 900
WATERMARK_S = 3600  # the stream's watermark delay

# the Prio parameter sets documents are drawn from (prime, epsilon, bins,
# number_servers, hamming_weight)
PRIO_SETS = (
    (PRIME, 5.2933, 2, 2, 1),
    (PRIME, 8.0, 10, 2, 2),
    (PRIME, 12.5, 100, 2, 4),
)

# the 15 validation failure classes of the reference's DataShare.from()
INVALID_REASONS = (
    "missing_payload",
    "missing_prio_params",
    "missing_signature",
    "missing_cert_chain",
    "missing_prime",
    "wrong_prime",
    "missing_epsilon",
    "missing_encryption_key_id",
    "invalid_bins",
    "wrong_number_servers",
    "invalid_schema_version",
    "missing_schema_version",
    "share_count_mismatch",
    "invalid_base64_payload",
    "missing_created",
)

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu window batch stream state shuffle packet header share"
).split()

_PRIO_TYPE = pa.struct(
    [
        ("prime", pa.int64()),
        ("epsilon", pa.float64()),
        ("bins", pa.int32()),
        ("number_servers", pa.int32()),
        ("hamming_weight", pa.int32()),
    ]
)
_SHARE_TYPE = pa.struct([("encryption_key_id", pa.string()), ("payload", pa.string())])
_TS = pa.timestamp("us", tz="UTC")
PRIO_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", _TS),
        ("signature", pa.string()),
        ("cert_chain", pa.list_(pa.string())),
        ("schema_version", pa.int32()),
        ("prio_params", _PRIO_TYPE),
        ("encrypted_shares", pa.list_(_SHARE_TYPE)),
    ]
)
TURN_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", _TS),
    ]
)


def hour_name(hour: int) -> str:
    """Partition value of hour index ``hour`` (``YYYY-MM-DD-HH``)."""
    return np.datetime_as_string(
        np.datetime64(T0_S + hour * 3600, "s"), unit="h"
    ).replace("T", "-")


def _lengths(rng: np.random.Generator, total: int, lo: int, hi: int) -> list[int]:
    """Skewed conversation lengths in [lo, hi] summing to exactly total.
    The multiset of lengths does not depend on the seed, only their order:
    every seed gets the same number of conversations of each length."""
    fixed = np.random.default_rng(0)
    out: list[int] = []
    left = total
    while left > 0:
        n = min(int(min(hi, lo + fixed.zipf(1.7) - 1)), left)
        out.append(n)
        left -= n
    return [out[i] for i in rng.permutation(len(out))]


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """n texts of 3 to 11 words (the word count cycles, the words are
    random)."""
    w = rng.integers(0, len(_WORDS), size=(n, 12))
    return [" ".join(_WORDS[j] for j in w[i, : 3 + i % 9]) for i in range(n)]


def _share_pair(rng: np.random.Generator, pset: int) -> tuple[bytes, bytes]:
    """Random (pha, facilitator) share bytes; the length grows with the
    parameter set's bin count, as a real share's does."""
    n = 16 + 8 * min(PRIO_SETS[pset][2], 16)
    return rng.bytes(n), rng.bytes(n)


def _pick(rng: np.random.Generator, n: int, frac: float, taken=None) -> np.ndarray:
    """Exactly round(n * frac) distinct indices in [0, n), avoiding taken."""
    free = np.setdiff1d(np.arange(n), taken if taken is not None else [])
    return np.sort(rng.choice(free, size=int(round(n * frac)), replace=False))


@dataclass
class PrioRecord:
    """What the generator wrote, for the checker. Row i describes row i of
    every written document (stored order is irrelevant)."""

    hours: int
    batch_size: int
    conv_id: list = field(default_factory=list)
    turn_idx: list = field(default_factory=list)
    ts_ms: list = field(default_factory=list)  # None for missing_created
    partition: list = field(default_factory=list)  # hour index it is stored in
    prio_set: list = field(default_factory=list)  # index into PRIO_SETS
    payload: list = field(default_factory=list)  # (pha bytes, facilitator bytes)
    invalid: list = field(default_factory=list)  # reason or None
    dup: list = field(default_factory=list)  # None | 'exact' | 'conflict'
    late: list = field(default_factory=list)  # stored after its own hour

    @property
    def n_docs(self) -> int:
        return len(self.conv_id)

    def docs_per_hour(self) -> list[int]:
        """Documents offered to each hour's window: those whose event time
        falls in the hour (duplicates included), plus the hour's documents
        without one. The same for every seed."""
        n = [0] * (self.hours + 1)
        for ts, part in zip(self.ts_ms, self.partition):
            n[part if ts is None else (ts // 1000 - T0_S) // 3600] += 1
        return n

    def summary(self) -> dict:
        inv = [r for r in self.invalid if r]
        return {
            "documents": self.n_docs,
            "hours": self.hours,
            "batch_size": self.batch_size,
            "invalid": len(inv),
            "invalid_classes": len(set(inv)),
            "exact_duplicates": self.dup.count("exact"),
            "conflicting_duplicates": self.dup.count("conflict"),
            "late": sum(self.late),
            "prio_sets": len(PRIO_SETS),
        }


def _b64(b: bytes) -> str:
    return base64.b64encode(b).decode()


def _corrupt(doc: dict, reason: str) -> None:
    """Give one valid document exactly one invalid field (mirrors the
    reference's per-class fixtures)."""
    p = dict(doc["prio_params"])
    if reason == "missing_payload":
        doc["schema_version"] = None
        doc["prio_params"] = None
        doc["encrypted_shares"] = None
    elif reason == "missing_prio_params":
        doc["prio_params"] = None
    elif reason == "missing_signature":
        doc["signature"] = None
    elif reason == "missing_cert_chain":
        doc["cert_chain"] = []
    elif reason == "missing_prime":
        doc["prio_params"] = {**p, "prime": None}
    elif reason == "wrong_prime":
        doc["prio_params"] = {**p, "prime": 17}
    elif reason == "missing_epsilon":
        doc["prio_params"] = {**p, "epsilon": None}
    elif reason == "missing_encryption_key_id":
        doc["encrypted_shares"] = [
            {**doc["encrypted_shares"][0], "encryption_key_id": None},
            doc["encrypted_shares"][1],
        ]
    elif reason == "invalid_bins":
        doc["prio_params"] = {**p, "bins": -1}
    elif reason == "wrong_number_servers":
        doc["prio_params"] = {**p, "number_servers": 3}
    elif reason == "invalid_schema_version":
        doc["schema_version"] = 3
    elif reason == "missing_schema_version":
        doc["schema_version"] = None
    elif reason == "share_count_mismatch":
        doc["encrypted_shares"] = doc["encrypted_shares"][:1]
    elif reason == "invalid_base64_payload":
        doc["encrypted_shares"] = [
            {"encryption_key_id": s["encryption_key_id"], "payload": "!!!not-base64!!"}
            for s in doc["encrypted_shares"]
        ]
    elif reason == "missing_created":
        doc["ts"] = None
    else:
        raise ValueError(reason)


def write_prio_documents(
    root: str,
    seed: int,
    hours: int,
    docs_per_hour: int,
    hot_turns_per_hour: int,
    batch_size: int,
) -> PrioRecord:
    """Hour-partitioned nested Prio documents under ``root``.

    Per hour: ``docs_per_hour`` distinct valid documents, of which three hot
    conversations carry ``hot_turns_per_hour`` each (one on a single Prio
    set, one alternating two sets, one on a third set); the rest are short
    conversations, 60/30/10 % of them on each set. On top: exact and
    conflicting duplicates (same key and timestamp, stored in the same or
    the next hour), late rows (stored in the next hour), and corrupted
    documents with one invalid field each (``INVALID_PER_CLASS`` per
    failure class). Timestamps are whole milliseconds; some land
    exactly on the window start.
    """
    rng = np.random.default_rng([seed, 11])
    rec = PrioRecord(hours=hours, batch_size=batch_size)
    docs: list[dict] = []
    n_hot = 3

    def add(doc, part, pset, pay, invalid=None, dup=None, late=False):
        docs.append({**doc, "_part": part})
        rec.conv_id.append(doc["conv_id"])
        rec.turn_idx.append(doc["turn_idx"])
        rec.ts_ms.append(doc["ts"])
        rec.partition.append(part)
        rec.prio_set.append(pset)
        rec.payload.append(pay)
        rec.invalid.append(invalid)
        rec.dup.append(dup)
        rec.late.append(late)

    def make(conv, idx, ts_ms, pset, pay, text):
        pr = PRIO_SETS[pset]
        return {
            "conv_id": conv,
            "turn_idx": int(idx),
            "role": "user" if idx % 2 == 0 else "assistant",
            "text": text,
            "tool": "",
            "ts": int(ts_ms),
            "signature": _b64(f"sig|{conv}|{idx}".encode()),
            "cert_chain": ["cert-leaf", "cert-root"],
            "schema_version": 2,
            "prio_params": {
                "prime": pr[0], "epsilon": pr[1], "bins": pr[2],
                "number_servers": pr[3], "hamming_weight": pr[4],
            },
            "encrypted_shares": [
                {"encryption_key_id": "pha-key-1", "payload": _b64(pay[0])},
                {"encryption_key_id": "facilitator-key-1", "payload": _b64(pay[1])},
            ],
        }

    for h in range(hours):
        h0 = (T0_S + h * 3600) * 1000
        valid: list[tuple] = []  # (conv, idx, ts_ms, pset)
        # hot conversations: several batches per window
        for k in range(n_hot):
            ts = np.sort(rng.integers(h0, h0 + 3_600_000, hot_turns_per_hour))
            for j in range(hot_turns_per_hour):
                pset = (0, j % 2, 2)[k]
                valid.append((f"hot-{k}", h * 100_000 + j, int(ts[j]), pset))
        n_norm = docs_per_hour - n_hot * hot_turns_per_hour
        lengths = _lengths(rng, n_norm, 1, 24)
        # Prio sets in fixed shares (60/30/10 %) of the conversations,
        # assigned in a seeded order
        psets = np.repeat([0, 1, 2], np.diff(np.round(np.array([0, 0.6, 0.9, 1.0]) * len(lengths)).astype(int)))
        psets = psets[rng.permutation(len(lengths))]
        for i, (n, pset) in enumerate(zip(lengths, psets.tolist())):
            ts = np.sort(rng.integers(h0, h0 + 3_600_000, n))
            if i % 50 == 0:
                ts[0] = h0  # exactly on the window start (ms boundary)
            for j in range(n):
                valid.append((f"c{h:03d}-{i:05d}", j, int(ts[j]), pset))
        pays = [_share_pair(rng, v[3]) for v in valid]
        texts = _texts(rng, len(valid))
        late_idx = set(_pick(rng, len(valid), PRIO_LATE_FRAC).tolist())
        exact = _pick(rng, len(valid), EXACT_DUP_FRAC)
        conflict = _pick(rng, len(valid), CONFLICT_DUP_FRAC, exact)
        for i, ((conv, idx, ts, pset), pay, text) in enumerate(zip(valid, pays, texts)):
            doc = make(conv, idx, ts, pset, pay, text)
            late = i in late_idx
            add(doc, h + 1 if late else h, pset, pay, late=late)
        for i in exact:
            conv, idx, ts, pset = valid[i]
            doc = make(conv, idx, ts, pset, pays[i], texts[i])
            part = h + int(rng.integers(0, 2))
            add(doc, part, pset, pays[i], dup="exact", late=part > h)
        for i in conflict:
            conv, idx, ts, pset = valid[i]
            pay = _share_pair(rng, pset)
            doc = make(conv, idx, ts, pset, pay, texts[i])
            part = h + int(rng.integers(0, 2))
            add(doc, part, pset, pay, dup="conflict", late=part > h)
        # corrupted documents: their own keys, one invalid field each
        j = 0
        for reason in INVALID_REASONS:
            for _ in range(INVALID_PER_CLASS):
                ts = int(rng.integers(h0, h0 + 3_600_000))
                pay = _share_pair(rng, 0)
                doc = make(f"x{h:03d}-{j:03d}", 0, ts, 0, pay, "corrupt")
                _corrupt(doc, reason)
                add(doc, h, 0, pay, invalid=reason)
                rec.ts_ms[-1] = doc["ts"]
                j += 1

    # write: one directory per stored hour, rows shuffled within it
    parts = np.array([d["_part"] for d in docs])
    for p in np.unique(parts):
        idx = np.nonzero(parts == p)[0]
        idx = idx[rng.permutation(len(idx))]
        d = os.path.join(root, f"ts_hour={hour_name(int(p))}")
        os.makedirs(d, exist_ok=True)
        for f, chunk in enumerate(np.array_split(idx, FILES_PER_PARTITION)):
            rows = [docs[i] for i in chunk]
            cols = {
                name: [r[name] for r in rows] for name in PRIO_SCHEMA.names
            }
            cols["ts"] = [None if t is None else t * 1000 for t in cols["ts"]]
            table = pa.table(cols, schema=PRIO_SCHEMA)
            pq.write_table(table, os.path.join(d, f"part-{f:05d}.parquet"))
    return rec


@dataclass
class TurnRecord:
    """What the stream generator made: every row of every file, in file
    order, and the file each row belongs to."""

    conv_id: np.ndarray
    turn_idx: np.ndarray
    ts_ms: np.ndarray
    text: list
    file_of_row: np.ndarray
    n_files: int

    @property
    def n_rows(self) -> int:
        return len(self.conv_id)

    def summary(self) -> dict:
        keys = set(zip(self.conv_id.tolist(), self.turn_idx.tolist()))
        return {
            "turns": self.n_rows,
            "distinct_turns": len(keys),
            "files": self.n_files,
            "file_span_s": FILE_SPAN_S,
        }


def turn_rows(seed: int, n_files: int, turns_per_file: int) -> TurnRecord:
    """Event-time-ordered turns: file k covers ``[k, k+1) * FILE_SPAN_S``
    after T0. ``HOT_SHARE`` of each file's rows belongs to ``HOT_CONVS``
    conversations that run through the whole stream (several size-closed
    batches per window); the rest to short conversations that start in
    that file. ``TURN_LATE_FRAC`` of rows carry a timestamp up to
    ``MAX_LATE_S`` before their file's span (below the stream's 1-hour
    watermark, so none is dropped); ``TURN_DUP_FRAC`` rows are exact copies
    of a row in the same or the previous file, young enough to stay above
    the ``WATERMARK_S`` watermark when the copy arrives."""
    rng = np.random.default_rng([seed, 23])
    conv, idx, ts, fil, dup_of = [], [], [], [], []
    hot_next = [0] * HOT_CONVS
    n_hot = int(turns_per_file * HOT_SHARE)
    for f in range(n_files):
        f0 = (T0_S + f * FILE_SPAN_S) * 1000
        n_dup = int(turns_per_file * TURN_DUP_FRAC)
        n_own = turns_per_file - n_dup
        c_f, i_f, t_f = [], [], []
        for j in range(n_hot):
            k = j % HOT_CONVS
            c_f.append(f"hot-{k}")
            i_f.append(hot_next[k])
            hot_next[k] += 1
        for c, n in enumerate(_lengths(rng, n_own - n_hot, 1, 40)):
            c_f += [f"s{f:04d}-{c:04d}"] * n
            i_f += list(range(n))
        t = np.sort(rng.integers(f0, f0 + FILE_SPAN_S * 1000, len(c_f)))
        if f > 0:
            late = _pick(rng, len(c_f), TURN_LATE_FRAC)
            t[late] -= rng.integers(1, MAX_LATE_S * 1000, len(late))
        t_f = t.tolist()
        # within one conversation, event time rises with turn index
        order = {}
        for p, (c, i) in enumerate(zip(c_f, i_f)):
            order.setdefault(c, []).append(p)
        for c, ps in order.items():
            ts_sorted = sorted(t_f[p] for p in ps)
            for p, v in zip(ps, ts_sorted):
                t_f[p] = v
        base = len(conv)
        conv += c_f
        idx += i_f
        ts += t_f
        fil += [f] * len(c_f)
        # exact duplicates of rows from this file or the previous one; the
        # watermark trails the previous files' latest event time (< f0),
        # so a copy 10 minutes younger than f0 - WATERMARK_S is never late
        lo = max(base - (turns_per_file if f > 0 else 0), 0)
        young = f0 - (WATERMARK_S - 600) * 1000
        cand = [i for i in range(lo, len(conv)) if ts[i] >= young]
        for s in rng.choice(cand, n_dup).tolist():
            dup_of.append((len(conv), s))
            conv.append(conv[s])
            idx.append(idx[s])
            ts.append(ts[s])
            fil.append(f)
    text = _texts(rng, len(conv))
    for d, s in dup_of:
        text[d] = text[s]
    return TurnRecord(
        conv_id=np.array(conv, dtype=object),
        turn_idx=np.array(idx, dtype=np.int32),
        ts_ms=np.array(ts, dtype=np.int64),
        text=text,
        file_of_row=np.array(fil, dtype=np.int32),
        n_files=n_files,
    )


def write_turn_files(rec: TurnRecord, root: str, files: range) -> None:
    """Write the record's files ``files`` (indices) under ``root``, one
    parquet file each."""
    os.makedirs(root, exist_ok=True)
    for f in files:
        sel = np.nonzero(rec.file_of_row == f)[0]
        texts = [rec.text[i] for i in sel.tolist()]
        table = pa.table(
            {
                "conv_id": rec.conv_id[sel].tolist(),
                "turn_idx": rec.turn_idx[sel],
                "role": ["user" if i % 2 == 0 else "assistant" for i in rec.turn_idx[sel].tolist()],
                "text": texts,
                "tool": [""] * len(sel),
                "ts": (rec.ts_ms[sel] * 1000).astype("datetime64[us]"),
            },
            schema=TURN_SCHEMA,
        )
        pq.write_table(table, os.path.join(root, f"turns-{f:05d}.parquet"))
