"""Document deduplication suite: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design constraints for 100 TB corpora:
- **exact**: hash-groupBy on ``md5(text)`` — one shuffle whose key is 32
  bytes regardless of document size; map-side partial aggregation collapses
  same-partition dups before the exchange.
- **minhash_lsh**: shingle → k minhashes (ONE pass: explode shingles, one
  grouped agg computing all k mins) → band → self-join on band bucket. The
  join is on the band value, so candidate generation is O(collisions), never
  the O(n²) all-pairs — this is the scale path.
- **simhash**: one exploded agg with 16 signed bit-sums; near-dup lookup is
  then an equality (or small-hamming-ball) join on the signature.
- **ngram_jaccard**: exact verification for candidate pairs — intersection
  counts via a shingle self-join. Quadratic in the worst case; intended to
  run AFTER an LSH candidate filter at scale (provided standalone for small
  inputs / verification).

Hash functions are ``md5(shingle + '#' + i)`` (lexicographic min over hex
strings ≡ min over a uniform hash family) — chosen because the identical
expression exists in every SQL engine, making every op here oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text_analysis import words_col


def exact_dedup(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts: representative id (min), duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text)).alias("text_hash"))
        .agg(F.min(id_col).alias("rep_id"), F.count("*").alias("n_dups"))
    )


def shingle_arrays(
    df: DataFrame, n: int = 3, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sh_arr): the DISTINCT word n-gram shingles per document as one
    array row (docs shorter than n words are dropped — they carry no
    n-shingle). Zero-shuffle: everything is row-local projection work.

    The word array is MATERIALIZED once per row before the window transform:
    codegen does not common-subexpression-eliminate across a filter + a
    lambda body, so referencing ``split(text)`` inline would re-split the
    full document n+2 times per row (the same re-evaluation fixed in
    ``fingerprint`` — ~10× at sf0.1). Feeds every shingle consumer: MinHash/
    LSH, Jaccard verify, contamination, the incremental corpus index."""
    w = F.col("_sh_ws")
    # the upper bound is clamped to ≥1 so the expression is TOTAL: the
    # optimizer may evaluate it on rows the size-filter later drops
    # (InferFiltersFromGenerate derives a size(sh_arr) > 0 predicate from
    # the exploded form, and predicate CSE evaluates the transform before
    # the short-circuiting size >= n conjunct), and an unclamped
    # sequence(1, size-(n-1)) runs DESCENDING through index 0 on short
    # docs. Rows passing the filter see an unchanged bound.
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(w, i + F.lit(j)) for j in range(n)]
        ),
    )
    return (
        df.select(F.col(id_col), words_col(text).alias("_sh_ws"))
        .filter(F.size(w) >= n)
        .select(F.col(id_col), F.array_distinct(sh).alias("sh_arr"))
    )


def shingles_df(
    df: DataFrame, n: int = 3, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exploded twin of ``shingle_arrays`` — one (id, shingle) row per
    distinct shingle per document.

    Deliberately NOT ``shingle_arrays(...).select(explode(...))``: when the
    generator input is a plain column, InferFiltersFromGenerate derives a
    ``size(sh_arr) > 0`` predicate whose codegen CSE re-evaluates the whole
    shingle transform per row BEFORE the short-circuiting size filter
    (measured 1.8 → 52 s on contamination_check at 10× scale). With the
    expression inline in the generator the rule does not fire and the
    transform runs exactly once."""
    w = F.col("_sh_ws")
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(
            " ", *[F.try_element_at(w, i + F.lit(j)) for j in range(n)]
        ),
    )
    return (
        df.select(F.col(id_col), words_col(text).alias("_sh_ws"))
        .filter(F.size(w) >= n)
        .select(F.col(id_col), F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def _minhash_from_arrays(arrs: DataFrame, k: int, id_col: str) -> DataFrame:
    """r6b: MinHash per row from the shingle ARRAY — ``array_min`` over the
    per-element md5s — instead of explode → groupBy(id).agg(k mins). Same
    values (min over the same element set, duplicates cannot change a min),
    but ZERO shuffle where the exploded form moved every shingle occurrence
    through an exchange (3.3M rows at 10× scale, on four declared query
    paths: lsh pairs, verified CC, and both corpus-index legs)."""
    return arrs.select(
        F.col(id_col),
        *[
            F.array_min(
                F.transform(
                    F.col("sh_arr"),
                    lambda s: F.md5(F.concat_ws("#", s, F.lit(str(i)))),
                )
            ).alias(f"mh_{i}")
            for i in range(k)
        ],
    )


def band_signatures(
    df: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band_idx, band_hash): LSH band signature rows per doc — the
    join key for both the self-join (``minhash_lsh_pairs``) and the
    persisted-index batch join (``corpus_index.incremental_dedup``)."""
    rows = k // bands
    sig = _minhash_from_arrays(shingle_arrays(df, n, text, id_col), k, id_col)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"mh_{b * rows + r}") for r in range(rows)]
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        F.col(id_col), F.explode(band_structs).alias("band")
    ).select(id_col, "band.band_idx", "band.band_hash")


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band. Returns (doc_a, doc_b,
    n_shared_bands). Join key = (band_idx, band_hash) — collision-bounded.

    r6b: both the self-join and the pair aggregation get an EXPLICIT
    defaultParallelism-wide hash repartition on their keys. AQE coalesces
    exchanges by INPUT bytes, and this join's input is tiny (4 rows/doc)
    while its OUTPUT is the band-collision product — at 10× scale AQE
    squeezed the product onto 6 tasks (and the 7.5M-row pair agg onto
    fewer), serializing the expansion while the rest of the machine idled.
    The explicit width derives from the session's parallelism, not a
    constant, and the repartitioned ``banded`` feeds BOTH join sides from
    one reused exchange."""
    par = df.sparkSession.sparkContext.defaultParallelism
    banded = band_signatures(df, k, bands, n, text, id_col).repartition(
        par, "band_idx", "band_hash"
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .repartition(par, "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_bands"))
    )


def simhash(
    df: DataFrame, bits: int = 16, n: int = 1, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash over distinct word shingles: bit b set iff the signed sum of
    bit b across shingle hashes is positive.

    r6b: computed PER ROW from the shingle array — the md5s are one
    ``transform`` pass and each bit's signed sum one ``aggregate`` over
    that array — instead of explode → groupBy(id).agg(bits sums). Same
    values (integer sums over the same distinct-shingle set are
    order-independent), ZERO shuffle where the exploded form moved every
    shingle occurrence through an exchange."""
    arrs = shingle_arrays(df, n, text, id_col).select(
        F.col(id_col),
        F.transform(F.col("sh_arr"), lambda s: F.md5(s)).alias("_h_arr"),
    )

    def bit_sum(b: int) -> Column:
        def signed(h):
            digit = F.substring(h, 1 + b // 4, 1)
            v = F.conv(digit, 16, 10).cast("int")
            bit = F.shiftright(v, 3 - (b % 4)) % 2
            return F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1))

        return F.aggregate(
            F.col("_h_arr"), F.lit(0), lambda acc, h: acc + signed(h)
        )

    sim = None
    for b in range(bits):
        term = F.when(bit_sum(b) > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return arrs.select(F.col(id_col), sim.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    text: str = "text",
    id_col: str = "doc_id",
    candidates: DataFrame | None = None,
    allow_quadratic: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard for pairs above ``threshold``.

    Without ``candidates``: shingle self-join over ALL pairs sharing a
    shingle — quadratic worst case, small inputs / verification only.

    With ``candidates`` (columns doc_a < doc_b, e.g. from
    ``minhash_lsh_pairs``): intersection counts are computed ONLY for those
    pairs — cost O(|candidates| · avg_shingles), never all-pairs. This is
    the 100 TB path; shingle computation is also pruned (semi-join) to docs
    that appear in some candidate pair.

    The candidate-less form is guarded above 50k docs (pass candidates from
    ``minhash_lsh_pairs``, or allow_quadratic=True for the exact baseline)."""
    if candidates is None:
        from .guards import guard_quadratic

        guard_quadratic(
            df,
            "ngram_jaccard_pairs(candidates=None)",
            "ngram_jaccard_pairs(candidates=minhash_lsh_pairs(...))",
            allow_quadratic,
        )
    if candidates is not None:
        # materialize the candidate list once (narrow: two ids per row) —
        # it feeds the id-prune AND the pair verify below, and without this
        # the (expensive) candidate generator runs once per consumer branch
        # (the same reuse hazard clustering.connected_components guards)
        cand = candidates.select("doc_a", "doc_b").localCheckpoint(eager=True)
        ids = (
            cand.select(F.col("doc_a").alias(id_col))
            .union(cand.select(F.col("doc_b").alias(id_col)))
            .distinct()
        )
        # prune the DOCS before shingling (not the shingles after): the
        # semi-join lands below the explode, so this pass only re-shingles
        # candidate documents — the one full-corpus shingle pass is the
        # candidate generator's
        df = df.join(ids, id_col, "left_semi")
    if candidates is not None:
        # r6: attach each side's full shingle ARRAY to the pair and count
        # the intersection per row, instead of joining the exploded shingle
        # table twice and the sizes table twice more. The old shape
        # materialized |candidates|·|shingles per doc| rows (243M at sf1.0
        # for 4.19M candidates) through FOUR pair-table shuffles before the
        # jaccard filter; this one moves each pair exactly twice, carries
        # the sizes for free (n_sh == size of the attached array) and does
        # a per-row array_intersect — same n_inter/n_a/n_b (guide §2.3:
        # shuffle fewer bytes — the decision needs the SET, not one row per
        # member).
        #
        # r6b: intersect INT64-encoded shingles, not the raw ~20-byte
        # strings — array_intersect hashes/compares every element, and a
        # long is ~3× cheaper (measured 11.2 → 3.4 s for the 3.78M-pair
        # attach at 10× scale). n_inter is invariant under ANY injective
        # relabeling of shingles, so xxhash64 is exact AS LONG AS it is
        # injective on this corpus's distinct shingles — which the one tiny
        # guard aggregate PROVES per run (count(distinct shingle) ==
        # count(distinct hash)); on the astronomically-rare collision
        # (expected only at ≥10^9 distinct shingles) we fall back to the
        # byte-exact string arrays, so results never depend on hash luck.
        # r6b: the per-doc arrays come straight from ``shingle_arrays`` —
        # no explode → groupBy(id).collect_list round trip (that shape
        # re-shuffled every shingle occurrence just to reassemble the array
        # it started from). ONE materialization carries both the string and
        # the hashed arrays, so the injectivity guard's two distinct counts
        # read the checkpoint instead of re-running the shingle transform
        # (a combined two-countDistinct aggregate over the live exploded
        # plan measured 38 s at 10× scale — Expand doubled the rows and the
        # transform re-evaluated under the inferred generate filter).
        both = shingle_arrays(df, n, text, id_col).select(
            F.col(id_col),
            F.col("sh_arr"),
            F.transform(F.col("sh_arr"), lambda s: F.xxhash64(s)).alias(
                "_h_arr"
            ),
        ).localCheckpoint(eager=True)
        n_str = (
            both.select(F.explode("sh_arr").alias("s"))
            .agg(F.countDistinct("s"))
            .collect()[0][0]
        )
        n_hash = (
            both.select(F.explode("_h_arr").alias("h"))
            .agg(F.countDistinct("h"))
            .collect()[0][0]
        )
        use_hash = n_str == n_hash
        # one row per candidate doc — materialized once, joined twice
        arrs = both.select(
            F.col(id_col),
            F.col("_h_arr" if use_hash else "sh_arr").alias("_sh_arr"),
        )
        # Join strategy picked from the MATERIALIZED dictionary's real row
        # count (guide §3.1 — size estimates are wrong after aggregation):
        # broadcasting it keeps the (pairs × attached-array) table out of
        # BOTH attach shuffles — the second one was moving ~1 KB/pair
        # (measured 18 s for 4.19M pairs at sf1.0, vs 1.5 s broadcast).
        # Above the cap (≈ hundreds of MB built) fall back to the
        # partitioned join, which is the only shape that scales unboundedly.
        a_side = arrs.select(
            F.col(id_col).alias("doc_a"), F.col("_sh_arr").alias("_a")
        )
        b_side = arrs.select(
            F.col(id_col).alias("doc_b"), F.col("_sh_arr").alias("_b")
        )
        if arrs.count() <= 200_000:
            a_side, b_side = F.broadcast(a_side), F.broadcast(b_side)
        scored = cand.join(a_side, "doc_a").join(b_side, "doc_b").select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_a", "_b")).alias("n_inter"),
            F.size("_a").alias("n_a"),
            F.size("_b").alias("n_b"),
        )
        # r6b: MATERIALIZE the scored pairs (5 ints per pair) before the
        # jaccard filter. Catalyst alias-substitutes the jaccard predicate
        # and the n_inter > 0 filter below the projection — and pushes them
        # through any exchange, including a repartition (verified on the
        # optimized plan: a repartition "barrier" left array_intersect
        # evaluated 3× in the join condition + 1× in the projection) — so
        # the only reliable single-evaluation shape is a checkpoint of the
        # narrow scored table; everything downstream binds to the
        # materialized n_inter. The checkpoint is bounded by the candidate
        # count × 5 ints — far smaller than either attach input.
        attached = scored.localCheckpoint(eager=True).filter(
            F.col("n_inter") > 0
        )
    else:
        sh = shingles_df(df, n, text, id_col)
        sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
            )
            .agg(F.count("*").alias("n_inter"))
        )
        sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
        sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
        attached = inter.join(sa, "doc_a").join(sb, "doc_b")
    return (
        attached.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def near_dup_verified_pairs(
    df: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.2,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The blessed scale path, end to end: MinHash+LSH candidate generation
    → exact n-gram Jaccard verification ON THE CANDIDATES ONLY. No stage is
    all-pairs; the only quadratic term is Σ per-bucket collisions, bounded by
    the band width. Feed the result to ``clustering.connected_components``
    for component ids / representatives."""
    cands = minhash_lsh_pairs(df, k=k, bands=bands, n=n, text=text, id_col=id_col)
    return ngram_jaccard_pairs(
        df, n=n, threshold=threshold, text=text, id_col=id_col, candidates=cands
    )


def span_dedup(
    df: DataFrame,
    span_words: int = 10,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact repeated-span removal — the within/cross-document analog of
    exact-substring dedup (boilerplate, mirrored passages), at fixed
    ``span_words``-word granularity: split each document into disjoint
    word-chunks, keep only the corpus-wide FIRST occurrence of each chunk's
    text (first = lowest (doc_id, span_idx)), and reassemble the surviving
    chunks in order. Returns (doc_id, clean_text, n_spans, n_dropped).

    Plan shape at scale: one narrow chunking projection (no shuffle), a
    map-side-partial ``groupBy(span).agg(min(struct(doc_id, span_idx)))`` to
    pick each span's first occurrence, a join-back on span, and one exchange
    back on doc_id for reassembly — all hash-partitioned narrow rows, never
    all-pairs, never a full-corpus sort. The first-occurrence step is
    deliberately NOT a ``row_number`` window: a window partitioned by raw
    span text has no partial aggregation, so a boilerplate span repeated
    10⁷–10⁸× at corpus scale (cookie banners, license headers) would shuffle
    every occurrence into one task. The hash-agg shrinks the hot span to one
    row map-side, and the join-back probe side is AQE-skew-splittable.
    (The reference engine has no corpus operators; this extends the dedup
    suite the same way minhash/simhash do.)"""
    # materialize the split once per row: referencing it inside the
    # per-position slice lambda would re-split the document per SPAN (the
    # position-dependent index defeats CSE — same fix as shingles_df)
    ws = F.col("_sp_ws")
    n_spans = F.ceil(F.size(ws) / F.lit(span_words)).cast("int")
    chunks = df.select(
        F.col(id_col), F.split(F.col(text), " ").alias("_sp_ws")
    ).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(ws, i * span_words + 1, span_words)
                ),
            )
        ).alias("span_idx", "span"),
    )
    first = chunks.groupBy("span").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("span_idx").alias("i"))).alias(
            "_first"
        )
    )
    marked = (
        chunks.join(first, on="span", how="inner")
        .withColumn(
            "keep",
            (F.col(id_col) == F.col("_first.d"))
            & (F.col("span_idx") == F.col("_first.i")),
        )
        .drop("_first")
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.coalesce(
                F.array_join(
                    F.filter(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct("span_idx", "keep", "span")
                                )
                            ),
                            lambda st: F.when(st["keep"], st["span"]),
                        ),
                        lambda s: s.isNotNull(),
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("clean_text"),
            F.count("*").cast("int").alias("n_spans"),
            F.sum(F.when(~F.col("keep"), 1).otherwise(0))
            .cast("int")
            .alias("n_dropped"),
        )
    )
