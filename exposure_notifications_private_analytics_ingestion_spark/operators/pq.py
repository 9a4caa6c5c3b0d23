"""Product quantization (PQ) for the ANN suite — the memory-compression
scale path for billion-vector search (Jégou et al., "Product Quantization
for Nearest Neighbor Search", TPAMI 2011; the FAISS IVF-PQ layout).

Why PQ at 10^9+ vectors: IVF (``similarity.ivf_topk``) bounds the CANDIDATE
count, but each candidate still costs a full d-dim dot product against raw
vectors — 64 dims × 8 bytes of quantized ints per vector of memory
bandwidth. PQ splits each vector into ``m`` subvectors, k-means-codes each
subspace with ``ks`` centroids, and stores only the m code bytes
(64 longs → 8 bytes here, a 64× cut); candidate scoring becomes m table
lookups into a precomputed centroid-dot-product table instead of d
multiplies. Accuracy is recovered where it matters by exact re-ranking of
the top-``rerank`` approximate hits — the standard IVF-PQ + re-rank recipe.

Spark shape (everything JVM-side, no Python in the data path). The
codebook is TINY by construction (m·ks = 128 rows) and lives driver-side
between stages, so every per-row operation embeds it as a plan LITERAL —
the same pattern as the scoring dot-product table — instead of joining:
- assignment: argmin-over-ks squared-L2 against the literal per-subspace
  centroid arrays, a pure codegen'd projection — no broadcast join, no
  shuffle, no explode (ties → lowest code, matching ``min_by``).
- training: per Lloyd round, assign (projection) → ONE hash-agg of
  per-dimension ``avg`` columns per (sub_idx, code) with map-side partials
  → collect the 128-row codebook for the next round's literal (the collect
  doubles as the lineage cut — no ``localCheckpoint``). Deterministic end
  to end: integer input (``similarity.quantize``), md5-hash-ordered
  seeding, exact long sums behind each avg, integer-rounded means, fixed
  iterations — the codebook is a pure function of the data, stable under
  repartitioning.
- encoding: one zero-shuffle projection — subvector slices → per-subspace
  literal argmin → ``codes array<int>``. No join, no groupBy: at 10^9
  vectors encode is embarrassingly parallel map work, as it should be.
- scoring: the m·ks·ks centroid dot-product table (8·16·16 = 2048 longs
  here) is embedded as an array LITERAL in the plan — codegen'd
  ``element_at`` lookups, no join, no shuffle, no Python.

The reference has no vector search; this extends the driver-brief
similarity suite the same way IVF/LSH do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from .similarity import _prep, _qdot


def _subvectors(prep: DataFrame, m: int, d: int) -> DataFrame:
    """(id, qn, sub_idx, sv): m disjoint slices of the quantized vector."""
    sub_d = d // m
    return prep.select(
        "*",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda i: F.slice(F.col("qv"), i * sub_d + 1, sub_d),
            )
        ).alias("sub_idx", "sv"),
    )


def _l2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _codebook_lits(rows: list, m: int) -> tuple[Column, Column]:
    """The collected codebook as two plan literals indexed by sub_idx:
    ``cent_lit[s]`` = the subspace's centroid arrays (codes ascending) and
    ``codeid_lit[s]`` = the matching code ids. Codes ascending means
    ``array_position`` of the min distance (FIRST occurrence) reproduces
    ``min_by``'s ties → lowest-code rule. Subspaces that lost a code to an
    empty Lloyd cluster simply list fewer entries — same semantics as the
    join form, where a missing codebook row was never a candidate."""
    per_sub: dict[int, list] = {s: [] for s in range(m)}
    for r in rows:
        per_sub[r["sub_idx"]].append((int(r["code"]), [int(v) for v in r["centroid"]]))
    entries = [sorted(per_sub[s]) for s in range(m)]
    # one nested-list F.lit per literal — a single Literal node each, not an
    # m·ks·sub_d-node F.array tree that every analyzer pass has to walk
    cent_lit = F.lit([[c for _, c in e] for e in entries]).cast(
        "array<array<array<bigint>>>"
    )
    codeid_lit = F.lit([[code for code, _ in e] for e in entries])
    return cent_lit, codeid_lit


def _argmin_code(dists: Column, codeid_lit: Column, sub_ix: Column) -> Column:
    """Code id of the nearest centroid given a per-candidate distance array
    (ties → lowest code: candidates are code-ascending and array_position
    returns the first match)."""
    return F.element_at(
        F.element_at(codeid_lit, sub_ix + 1),
        F.array_position(dists, F.array_min(dists)).cast("int"),
    )


# training rows below which pq_train collects the quantized vectors and
# runs seeding + Lloyd locally (≈ 50 MB at 64 dims); above it, the
# distributed kernel loop is the path — see the r6b note in pq_train
_TRAIN_COLLECT_MAX = 100_000

_TRAIN_SCHEMA = "sub_idx INT, code INT, centroid ARRAY<BIGINT>"


def _round_half_up(x: float) -> int:
    import math

    return int(math.copysign(math.floor(abs(x) + 0.5), x))


def _pq_train_local(
    prep: DataFrame, m: int, ks: int, iters: int, id_col: str, dims: int
) -> list[dict]:
    """Driver-side twin of the distributed Lloyd loop — identical
    arithmetic on the collected quantized vectors (codebook pinned equal by
    tests/test_opt_r06.py). Returns the codebook ROWS (sub_idx, code,
    centroid) so callers that need the collected form (pq_topk) skip a
    createDataFrame → collect round trip."""
    import hashlib

    import numpy as np

    sub_d = dims // m
    # Arrow transfer (the session enables arrow.pyspark): a plain collect()
    # converts 64-element arrays row-by-row through py4j (~2.5 s for 20k
    # vectors); toPandas moves the same gated, size-bounded matrix in one
    # Arrow batch (~0.5 s)
    pdf = prep.select(id_col, "qv").toPandas()
    ids = pdf[id_col].tolist()
    mat = np.array(pdf["qv"].tolist(), dtype=np.float64).reshape(
        len(ids), m, sub_d
    )
    # seeding: the ks subvectors with smallest (md5("{id}|{sub}"), id) per
    # subspace — hashlib.md5 over the same concat_ws bytes the JVM hashes
    cents: list[list[tuple[int, np.ndarray]]] = []
    for s in range(m):
        keyed = sorted(
            (hashlib.md5(f"{vid}|{s}".encode()).hexdigest(), vid, i)
            for i, vid in enumerate(ids)
        )[:ks]
        cents.append(
            [(c, mat[i, s, :]) for c, (_h, _v, i) in enumerate(keyed)]
        )
    for _ in range(iters):
        nxt = []
        for s in range(m):
            code_ids = np.array([c for c, _ in cents[s]], dtype=np.int64)
            cm = np.array([v for _, v in cents[s]], dtype=np.float64)
            sv = mat[:, s, :]
            d = ((sv[:, None, :] - cm[None, :, :]) ** 2).sum(-1)
            codes = code_ids[d.argmin(axis=1)]  # first match = lowest code
            sv_i = sv.astype(np.int64)
            entries = []
            for c in np.unique(codes):
                mask = codes == c
                cnt = int(mask.sum())
                ssum = sv_i[mask].sum(axis=0)
                entries.append(
                    (
                        int(c),
                        np.array(
                            [
                                _round_half_up(int(x) / cnt)
                                for x in ssum
                            ],
                            dtype=np.float64,
                        ),
                    )
                )
            nxt.append(entries)
        cents = nxt
    return [
        {"sub_idx": s, "code": int(c), "centroid": [int(x) for x in v]}
        for s in range(m)
        for c, v in sorted((int(c), list(v)) for c, v in cents[s])
    ]


def pq_train(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    train_frac: float | None = None,
) -> DataFrame:
    """Deterministic per-subspace k-means codebook:
    (sub_idx, code, centroid array<long>).

    Seeding: the ``ks`` subvectors with the smallest md5(id|sub) per
    subspace (a deterministic pseudo-random sample — no RNG, stable across
    engines and partitionings). ``iters`` Lloyd rounds with integer-rounded
    means keep every quantity exact.

    ``train_frac``: train on a deterministic md5-bucket sample of the
    corpus (``operators.sampling`` — a pure filter, no shuffle). At 10^9+
    vectors this is not an optimization but the correct design: codebook
    quality saturates at ~100k·ks training points (FAISS trains IVF-PQ on
    samples for the same reason), while the Lloyd joins on the full corpus
    would shuffle everything ``iters`` times for nothing."""
    rows = _pq_train_rows(
        df, m, ks, iters, id_col, vec_col, dims, train_frac
    )
    return df.sparkSession.createDataFrame(
        sorted((r["sub_idx"], r["code"], list(r["centroid"])) for r in rows),
        _TRAIN_SCHEMA,
    )


def _pq_train_rows(
    df: DataFrame,
    m: int = 8,
    ks: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    train_frac: float | None = None,
) -> list[dict]:
    """``pq_train``'s engine, returning the collected codebook rows —
    ``pq_topk`` consumes these directly (the codebook is driver-side either
    way; wrapping it in a DataFrame just to re-collect it cost ~1.5 s of
    job latency)."""
    if train_frac is not None:
        from .sampling import deterministic_sample

        df = deterministic_sample(df, train_frac, key_col=id_col, salt="pqtrain")
    prep = _prep(df, id_col, vec_col, [])
    sub_d = dims // m

    # r6b: below ``_TRAIN_COLLECT_MAX`` materialized training rows, collect
    # the quantized vectors ONCE and run seeding + every Lloyd round in
    # local NumPy — the distributed form costs one windowed sort (seeding)
    # plus one full mapInPandas job PER ROUND just to move a k·ks-row
    # partial table (7.7 s of job latency for 20k vectors at 10× scale,
    # ~1.5 s collected). The arithmetic is the identical kernel (same
    # argmin tie rule, same int64 sums, same HALF_UP means — pinned
    # codebook-equal by tests/test_opt_r06.py), quantization stays in the
    # JVM, and above the gate the distributed loop below is unchanged —
    # training at 10^9 vectors needs it. FAISS trains IVF-PQ codebooks on
    # an in-memory sample for the same reason.
    n_train = prep.count()
    if n_train == 0:
        # empty input → empty codebook, matching the distributed path's
        # pre-r6b behavior (the local kernel would index empty matrices)
        return []
    if n_train <= _TRAIN_COLLECT_MAX:
        return _pq_train_local(prep, m, ks, iters, id_col, dims)

    sub = _subvectors(prep, m, dims).select(id_col, "sub_idx", "sv")

    w = Window.partitionBy("sub_idx").orderBy(
        F.md5(F.concat_ws("|", F.col(id_col), F.col("sub_idx"))), F.col(id_col)
    )
    rows = (
        sub.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ks)
        .select(
            "sub_idx",
            (F.col("rn") - 1).cast("int").alias("code"),
            F.col("sv").alias("centroid"),
        )
    ).collect()

    # r6: each Lloyd round is ONE mapInPandas partial-aggregation kernel
    # over the full vectors (guide §4.2) instead of an exploded 16-candidate
    # literal-argmin expression tree per subvector row — assignment is a
    # vectorized NumPy distance argmin, the update emits per-task
    # (sub, code, count, component sums) partials, and one tiny hash-agg
    # merges them. Exactness is unchanged: squared distances ≤ m·(2·QUANT)²
    # stay integral in float64, argmin's first-match tie rule over
    # code-ascending centroids IS min_by's lowest-code rule, component sums
    # are int64, and the driver-side mean replicates F.round's HALF_UP
    # (away-from-zero at exact .5; sums < 2^53 make the division's double
    # equal Spark's).
    import numpy as np
    import pandas as pd

    vecs = prep.select("qv")
    part_schema = "sub_idx int, code int, cnt long, " + ", ".join(
        f"s{j} long" for j in range(sub_d)
    )
    # means use the MODULE-LEVEL _round_half_up — the local/distributed
    # codebook-equality invariant depends on one shared rounding definition

    for _ in range(iters):
        per_sub: dict[int, list] = {s: [] for s in range(m)}
        for r in rows:  # Row objects (seeding/merge) or dicts (later rounds)
            per_sub[r["sub_idx"]].append(
                (int(r["code"]), [int(v) for v in r["centroid"]])
            )
        cents = [sorted(per_sub[s]) for s in range(m)]
        code_ids = [np.array([c for c, _ in e], dtype=np.int64) for e in cents]
        cent_mats = [
            np.array([v for _, v in e], dtype=np.float64) for e in cents
        ]

        def partials(batches):
            import numpy as np_

            for pdf in batches:
                v = np_.array(pdf["qv"].tolist(), dtype=np.float64).reshape(
                    -1, m, sub_d
                )
                out = {
                    "sub_idx": [], "code": [], "cnt": [],
                    **{f"s{j}": [] for j in range(sub_d)},
                }
                for s in range(m):
                    sv = v[:, s, :]
                    d = ((sv[:, None, :] - cent_mats[s][None, :, :]) ** 2).sum(
                        -1
                    )
                    codes = code_ids[s][d.argmin(axis=1)]
                    uniq = np_.unique(codes)
                    sv_i = sv.astype(np_.int64)
                    for c in uniq:
                        mask = codes == c
                        out["sub_idx"].append(s)
                        out["code"].append(int(c))
                        out["cnt"].append(int(mask.sum()))
                        ssum = sv_i[mask].sum(axis=0)
                        for j in range(sub_d):
                            out[f"s{j}"].append(int(ssum[j]))
                yield pd.DataFrame(out)

        merged = (
            vecs.mapInPandas(partials, schema=part_schema)
            .groupBy("sub_idx", "code")
            .agg(
                F.sum("cnt").alias("cnt"),
                *[F.sum(f"s{j}").alias(f"s{j}") for j in range(sub_d)],
            )
            .collect()
        )
        rows = [
            {
                "sub_idx": r["sub_idx"],
                "code": r["code"],
                "centroid": [
                    _round_half_up(r[f"s{j}"] / r["cnt"]) for j in range(sub_d)
                ],
            }
            for r in merged
        ]
    return [
        {"sub_idx": r["sub_idx"], "code": int(r["code"]),
         "centroid": [int(v) for v in r["centroid"]]}
        for r in rows
    ]


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    extra: list[str] | None = None,
) -> DataFrame:
    """(id, qn, codes array<int>, *extra): the compressed representation —
    m code ids replace the d-dim vector. One zero-shuffle projection:
    subvector slices → literal argmin per subspace, all codegen'd.
    ``codebook`` may be the trained DataFrame or its collected rows."""
    rows = codebook.collect() if isinstance(codebook, DataFrame) else list(codebook)
    cent_lit, codeid_lit = _codebook_lits(rows, m)
    prep = _prep(df, id_col, vec_col, extra or [])
    sub_d = dims // m
    subvecs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda i: F.slice(F.col("qv"), i * sub_d + 1, sub_d),
    )
    # materialize the per-subspace distance arrays in a named projection so
    # the argmin's two references (array_min + array_position) bind to one
    # evaluation, not two (lambda CSE does not cross the alias boundary)
    with_d = prep.select(
        id_col,
        "qn",
        *(extra or []),
        F.transform(
            subvecs,
            lambda sv, i: F.transform(
                F.element_at(cent_lit, i.cast("int") + 1), lambda cb: _l2(sv, cb)
            ),
        ).alias("_dists"),
    )
    return with_d.select(
        id_col,
        "qn",
        *(extra or []),
        F.transform(
            F.col("_dists"),
            lambda ds, i: _argmin_code(ds, codeid_lit, i.cast("int")),
        ).alias("codes"),
    )


def _encode_np(
    df: DataFrame,
    cb_rows: list,
    m: int,
    id_col: str,
    vec_col: str,
    dims: int,
    extra: list[str],
) -> DataFrame:
    """One Arrow pass emitting (id, qv, qn, codes, *extra) — the NumPy twin
    of ``_prep`` + ``pq_encode`` (guide §4.2). The JVM forms evaluate
    higher-order-function lambdas interpreted (not codegen'd), and
    ``pq_topk`` needed THREE separate passes (encode + the two re-rank
    prep branches). Exactness: float32 source ⇒ x·1000 exact in float64 and
    copysign(floor(|v|+0.5), v) IS F.round's HALF_UP (the
    ``_prep_np_with_bucket`` argument); squared distances and qn stay
    below 2^53; argmin first-match over code-ascending centroids is
    ``array_position(array_min)``'s lowest-code tie rule. Codes verified
    equal to ``pq_encode`` by tests/test_opt_r06.py."""
    import pandas as pd

    import numpy as np

    from .similarity import QUANT

    sub_d = dims // m
    per_sub: dict[int, list] = {s: [] for s in range(m)}
    for r in cb_rows:
        per_sub[r["sub_idx"]].append(
            (int(r["code"]), [int(v) for v in r["centroid"]])
        )
    entries = [sorted(per_sub[s]) for s in range(m)]
    code_ids = [np.array([c for c, _ in e], dtype=np.int64) for e in entries]
    cent_mats = [np.array([v for _, v in e], dtype=np.float64) for e in entries]

    id_type = dict(df.dtypes)[id_col]
    dts = dict(df.dtypes)
    schema = (
        f"{id_col} {id_type}, qv array<bigint>, qn long, codes array<int>"
        + "".join(f", {c} {dts[c]}" for c in extra)
    )

    def op(batches):
        for pdf in batches:
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64) * QUANT
            v = np.copysign(np.floor(np.abs(x) + 0.5), x)
            qn = (v * v).sum(axis=1)
            vm = v.reshape(-1, m, sub_d)
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for s in range(m):
                d = ((vm[:, s, None, :] - cent_mats[s][None, :, :]) ** 2).sum(
                    -1
                )
                codes[:, s] = code_ids[s][d.argmin(axis=1)]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "qv": list(v.astype(np.int64)),
                    "qn": qn.astype(np.int64),
                    "codes": list(codes.astype(np.int32)),
                    **{c: pdf[c] for c in extra},
                }
            )

    return df.select(id_col, vec_col, *extra).mapInPandas(op, schema=schema)


def _dot_table(codebook_rows: list, m: int, ks: int) -> list[int]:
    """Flat m·ks·ks table of centroid dot products (symmetric distance
    computation): entry [sub·ks² + ca·ks + cb] = dot(C[sub][ca], C[sub][cb]).
    Built driver-side from the collected codebook (m·ks rows — tiny) and
    embedded as a plan literal."""
    cent: dict[tuple[int, int], list[int]] = {
        (r["sub_idx"], r["code"]): list(r["centroid"]) for r in codebook_rows
    }
    table = [0] * (m * ks * ks)
    for (s, ca), va in cent.items():
        for cb in range(ks):
            vb = cent.get((s, cb))
            if vb is not None:
                table[s * ks * ks + ca * ks + cb] = sum(
                    x * y for x, y in zip(va, vb)
                )
    return table


def _grouped_pq_adots(
    enc: DataFrame,
    group_col: str,
    id_col: str,
    table: list[int],
    m: int,
    ks: int,
    rerank: int,
    chunk: int = 1024,
) -> DataFrame:
    """Within-group PQ approximate dot products via NumPy table gathers —
    the kernel behind ``pq_topk``'s shortlist stage. Emits
    (query_id, neighbor_id, adot, qn_a, qn_b) for a provable superset of
    each query's rounded top-``rerank`` candidates (margin contract and
    exactness argument as in ``similarity._grouped_pair_qdots``; ``adot``
    sums m int64 table entries — exact)."""
    import pandas as pd

    from .similarity import _topk_keep_mask

    id_type = dict(enc.dtypes)[id_col]
    out_schema = (
        f"query_id {id_type}, neighbor_id {id_type}, "
        "adot long, qn_a long, qn_b long"
    )
    empty = {
        "query_id": [], "neighbor_id": [], "adot": [], "qn_a": [], "qn_b": []
    }

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        tab = np.asarray(table, dtype=np.float64).reshape(m, ks, ks)
        ids = pdf[id_col].to_numpy()
        codes = np.array(pdf["codes"].tolist(), dtype=np.int64)  # n×m
        qn = pdf["qn"].to_numpy(dtype=np.float64)
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(empty)
        # r6b: one BLAS matmul instead of m giant fancy-index gathers
        # (the gather form cost ~7 s wall on 10-task parallelism at 10×
        # scale). R = per-sub row gathers (chunk × m·ks, cheap), B = the
        # neighbors' one-hot code matrix (m·ks × n); R @ B ==
        # Σ_sub tab[sub][ca, cb] exactly — every entry is an integer sum
        # < 2^53, so float64 matmul is exact and the int64 cast below is
        # lossless.
        B = np.zeros((m * ks, n))
        for sub in range(m):
            B[sub * ks + codes[:, sub], np.arange(n)] = 1.0
        out = []
        for s in range(0, n, chunk):
            ca = codes[s : s + chunk]
            R = np.concatenate(
                [tab[sub][ca[:, sub]] for sub in range(m)], axis=1
            )
            adot = (R @ B).astype(np.int64)
            denom = np.sqrt(qn[s : s + chunk, None] * qn[None, :])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = adot / denom
            cand = ids[s : s + chunk][:, None] != ids[None, :]
            keep = _topk_keep_mask(cos, cand, rerank)
            qi, ni = np.nonzero(keep)
            out.append(
                pd.DataFrame(
                    {
                        "query_id": ids[s + qi],
                        "neighbor_id": ids[ni],
                        "adot": adot[qi, ni],
                        "qn_a": qn[s + qi].astype(np.int64),
                        "qn_b": qn[ni].astype(np.int64),
                    }
                )
            )
        return pd.concat(out) if out else pd.DataFrame(empty)

    return (
        enc.select(id_col, "codes", "qn", group_col)
        .groupBy(group_col)
        .applyInPandas(score_group, schema=out_schema)
    )


def pq_topk(
    df: DataFrame,
    k: int = 3,
    m: int = 8,
    ks: int = 16,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    dims: int = 64,
    codebook: DataFrame | list | None = None,
) -> DataFrame:
    """IVF-PQ top-k with exact re-rank: candidates restricted to the
    query's coarse cluster (the IVF stage), scored by the PQ
    dot-product table (m ``element_at`` lookups per pair — no vector math,
    no join for the table), then the top-``rerank`` approximate hits per
    query are re-scored with the EXACT integer dot product and the true
    top-k of those is returned. Output schema matches ``ivf_topk``
    (query_id, neighbor_id, cosine, rank)."""
    if codebook is None:
        cb_rows = _pq_train_rows(
            df, m=m, ks=ks, id_col=id_col, vec_col=vec_col, dims=dims
        )
    elif isinstance(codebook, DataFrame):
        cb_rows = codebook.collect()
    else:
        cb_rows = list(codebook)

    # r6b: ONE NumPy pass builds (id, qv, qn, codes, cluster) — the JVM
    # encode + the two re-rank prep branches each re-evaluated interpreted
    # higher-order-function lambdas over the corpus (HOFs never reach
    # codegen). Size-gated checkpoint: the pass has THREE consumers (adots
    # kernel, both re-rank sides); above the gate the lazy recompute is the
    # scale path (materializing the encoded corpus at 10^9 vectors is the
    # INDEX build, a separate artifact decision).
    enc = _encode_np(
        df, cb_rows, m, id_col, vec_col, dims, extra=[cluster_col]
    )
    if df.count() <= 10 * _TRAIN_COLLECT_MAX:
        enc = enc.localCheckpoint(eager=True)
    # r6: the per-cluster pair join + per-pair element_at chain + full-pair
    # window is replaced by a grouped NumPy kernel (guide §4.2): table
    # lookups are m fancy-index gathers per chunk, and each query emits only
    # the provable superset of its rounded top-``rerank`` shortlist (the
    # same margin contract as similarity._grouped_pair_qdots). The JVM
    # recomputes approx_cosine from the emitted exact integer ``adot`` with
    # the identical round/sqrt expression, so shortlist membership, ties and
    # everything downstream are bit-equal to the join form (which measured
    # 168 s at sf1.0 on 40M pairs).
    from .similarity import _emitted_pair_sim

    emitted = _grouped_pq_adots(
        enc, cluster_col, id_col, _dot_table(cb_rows, m, ks), m, ks, rerank
    )
    approx = emitted.select(
        "query_id",
        "neighbor_id",
        _emitted_pair_sim(
            F.col("adot"), F.col("qn_a"), F.col("qn_b")
        ).alias("approx_cosine"),
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx_cosine").desc(), F.col("neighbor_id").asc()
    )
    shortlist = approx.withColumn("arank", F.row_number().over(wa)).filter(
        F.col("arank") <= rerank
    )

    # exact re-rank of the shortlist only: join the raw quantized vectors
    # back for `rerank` rows per query, not per candidate pair — both sides
    # read the same (checkpointed) encode pass
    prep = enc
    qa = prep.select(
        F.col(id_col).alias("query_id"),
        F.col("qv").alias("qv_a"),
        F.col("qn").alias("qn_a"),
    )
    qb = prep.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qv").alias("qv_b"),
        F.col("qn").alias("qn_b"),
    )
    exact = (
        shortlist.join(qa, "query_id")
        .join(qb, "neighbor_id")
        .withColumn("qdot", _qdot(F.col("qv_a"), F.col("qv_b")))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.col("qdot") / F.sqrt((F.col("qn_a") * F.col("qn_b")).cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
