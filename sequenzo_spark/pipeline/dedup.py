"""Deduplication operators for training-data pipelines.

All four families, Spark-first (pure expressions wherever possible — no
Python in the hot path):

- exact:       hash-groupBy on md5(text);
- n-gram Jaccard: word-shingle explode → shingle-equijoin → exact Jaccard.
  For a threshold τ>0 the candidate set {pairs sharing ≥1 shingle} is
  COMPLETE (J(a,b)>0 ⇒ a∩b≠∅), so this is exact near-dup detection, not an
  approximation. The shingle join is the scalable plan: cost ∝ Σ shingle
  co-occurrences, not O(n²). At 100 TB, frequent-shingle hotspots are capped
  with a document-frequency filter (`max_shingle_df`).
- MinHash + LSH: k=n_hashes signatures via xxhash64(shingle, seed_i)
  minimum — one expression per hash, JVM-side, no UDF; banding hashes
  signature slices into buckets; bucket-equijoin yields candidates (tunable
  recall/precision). Probabilistic → verified by unit test, not SQL oracle.
- SimHash: 64-bit sign-aggregated token hashes via bit-counting expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from sequenzo_spark.session import (  # noqa: F401  (public name)
    persist,
    release_caches as release_sig_caches,
)


def tokens_col(text_col: str = "text") -> F.Column:
    return F.split(F.trim(F.col(text_col)), r"\s+")


def _spread(docs: DataFrame) -> DataFrame:
    """Match input partitioning to the cluster's parallelism before the
    CPU-heavy tokenize/shingle/hash expressions.

    A small corpus arrives as one scan partition (one parquet file locally),
    which would run the whole expression pipeline on ONE core; at 100 TB the
    scan already yields thousands of partitions and this is a no-op. Uses
    round-robin repartition — no key needed, rows are independent."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        return docs.repartition(target)
    return docs


def _shingle_rows(
    docs: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(doc_id, sh) for docs with ≥1 shingle — the shared head of every
    shingle-based operator.

    The ≥n-token filter runs on the CHEAP token count BEFORE the spread,
    not on ``size(shingles)>0`` after it: Catalyst pushes a filter through
    the repartition by substituting the alias, so the old post-projection
    filter re-evaluated the whole shingle expression on the UNSPREAD scan
    partition — single-threaded, ~3 s of the 5 s shingle stage at sf0.1
    (guide §4.4's duplicated-evaluation trap, with plain expressions).
    Semantics identical: the shingle array is empty iff tokens < n (and
    null text tokenizes to null → filter drops it, as the old size-0
    filter did)."""
    pre = docs.filter(F.size(tokens_col(text_col)) >= n)
    return _spread(pre).select(
        F.col(id_col).alias("doc_id"), shingles_col(text_col, n).alias("sh")
    )


def shingles_col(text_col: str = "text", n: int = 3) -> F.Column:
    """Distinct word n-gram shingles as an array column (whole-stage
    codegen: sequence + transform + slice, no UDF).

    Docs with fewer than n tokens yield an EMPTY array: without the guard,
    F.sequence(1, size-(n-1)) would produce a descending sequence (Spark
    defaults step to -1 when start > stop) and F.slice would throw on the
    non-positive start index."""
    toks = tokens_col(text_col)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        ),
    ).otherwise(F.array().cast("array<string>"))


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return docs.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.count(F.lit(1)).alias("dup_count"),
        F.min(id_col).alias("keeper_doc_id"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = 10_000,
) -> DataFrame:
    """Exact near-dup pairs with word-n-gram Jaccard ≥ threshold.

    One explode + one self-equijoin on shingle + one pair aggregation.
    ``max_shingle_df`` drops shingles appearing in more than that many docs
    from the JOIN (stop-shingle skew cap: a shingle in d docs contributes d²
    join rows, so an uncapped stop-shingle is a cartesian bomb at web scale).
    Denominators keep the full shingle-set sizes, so capped Jaccard is a
    lower bound of true Jaccard; pairs whose similarity lives on rare
    shingles are still found exactly. Default 10k: inert at test scale,
    bounds any single shingle's join fan-out to 10⁸ rows at 100 TB."""
    sh = _shingle_rows(docs, text_col, id_col, n)
    # explode_outer, not explode: InferFiltersFromGenerate synthesizes a
    # size(sh)>0 filter for plain explode, and filter pushdown then
    # re-evaluates the WHOLE shingle expression below the spread exchange
    # — single-threaded on the scan partition (~3 s at sf0.1). The arrays
    # are provably non-empty (≥n-token pre-filter), so outer ≡ inner.
    ex = sh.select(
        "doc_id", F.explode_outer("sh").alias("s"), F.size("sh").alias("c")
    )
    # Round-6 shape: shingle document-frequency via ONE window count over s.
    # (a) df == 1 shingles can never co-occur, so dropping them before the
    #     self-join removes every unique shingle from the join input (the
    #     bulk of the rows on real corpora) without changing a single pair
    #     or intersection count — denominators c are computed from the full
    #     shingle sets above, before any df pruning;
    # (b) the window's hash-partitioning on s IS the join partitioning, so
    #     both self-join sides reuse one Exchange (guide §2.4) instead of
    #     the previous plan's three evaluations of the explode (df
    #     aggregate + both join sides);
    # (c) df > max_shingle_df rows are dropped by the same filter — the
    #     separate broadcast anti-join subtree is gone.
    ex = ex.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("s")))
    keep = F.col("df") >= 2
    if max_shingle_df:
        keep = keep & (F.col("df") <= max_shingle_df)
    ex = ex.filter(keep).drop("df")
    a = ex.alias("a")
    b = ex.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first(F.col("a.c")).alias("c1"),
            F.first(F.col("b.c")).alias("c2"),
        )
    )
    jac = F.col("inter") / (F.col("c1") + F.col("c2") - F.col("inter"))
    return pairs.select(
        "d1", "d2", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 64,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """k MinHash values per doc: min over shingles of xxhash64(shingle, i).
    Pure expressions (k array_min/transform columns), deterministic.

    The per-seed hasher MUST be built through a one-argument closure: a
    two-parameter lambda (``lambda s, i=i: ...``) makes Spark's transform
    pass the ARRAY INDEX as the second argument, silently shadowing the seed
    — every "hash function" then depends on shingle position instead of the
    seed, collapsing MinHash similarity to exact-array-alignment (bug found
    by the minhash_verified_pairs oracle check in round 3)."""
    sh = _shingle_rows(docs, text_col, id_col, n)

    def _hasher(seed: int):
        return lambda s: F.xxhash64(s, F.lit(seed))

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("sh"), _hasher(i)))
            for i in range(n_hashes)
        ]
    )
    return sh.select("doc_id", sig.alias("signature"))


def minhash_lsh_candidates(
    docs: DataFrame,
    n_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH banding: candidate pairs sharing ≥1 band bucket, with the
    estimated Jaccard = fraction of matching signature positions.

    bands=16 of rows=4 over 64 hashes → P(candidate) ≈ 1−(1−j⁴)¹⁶
    (≈0.99 at j=0.8). The band join is the scale path: shuffle keyed by
    (band, bucket_hash), never O(n²).

    The internal signature table is persisted (it feeds the band join and
    both re-attach joins) through ``session.persist``; release the storage
    after materializing the pairs with ``session.release_caches()``.

    Timing note (round-5 probe): computing the 64-hash signatures is
    itself ~70-80% of this query's wall at sf0.1 (~4 s of ~5 s warm).
    Round 3's 2.0 s "warm" number predates the cache registry — its
    second run silently reused the FIRST run's still-persisted signature
    table (the leak the round-3 advisor flagged); once releases run
    between plans, the honest warm time includes signature computation.
    At production scale the signature table is materialized once and
    shared across band joins and rescoring — the persist-and-reuse path
    ``minhash_verified_pairs`` demonstrates."""
    rows = n_hashes // bands
    # Persist signatures: referenced three times below (band join on ids,
    # then one re-attach per pair side). At cluster scale this is the
    # materialized signature table.
    sig = persist(minhash_signatures(docs, n_hashes, n, text_col, id_col))
    # Band join carries ONLY (doc_id, band, bucket) through the shuffle —
    # never the 64-long signatures (signature payload on both sides of a
    # skewed self-join was the round-1 perf finding).
    # explode_outer: the array is literal-length (bands structs, never
    # empty) and outer explode stops InferFiltersFromGenerate from
    # duplicating the band-hash expressions into a pre-filter
    bucketed = sig.select(
        "doc_id",
        F.explode_outer(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("signature", bi * rows + r + 1)
                                    for r in range(rows)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cand_ids = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2")
        )
        .distinct()
    )
    # Re-attach one signature per side AFTER dedup of candidate ids.
    cand = cand_ids.join(
        sig.select(F.col("doc_id").alias("d1"), F.col("signature").alias("s1")),
        "d1",
    ).join(
        sig.select(F.col("doc_id").alias("d2"), F.col("signature").alias("s2")),
        "d2",
    )
    # estimated Jaccard = fraction of matching signature positions
    est = (
        F.size(
            F.filter(F.zip_with("s1", "s2", lambda x, y: x == y), lambda m: m)
        ).cast("double")
        / F.lit(float(n_hashes))
    )
    return cand.select("d1", "d2", est.alias("jaccard_est"))


def _simhash_count_rows(
    docs: DataFrame, text_col: str, id_col: str, hi_lo
) -> DataFrame:
    """(doc_id, _c: array<long>[64]) SimHash bit counters (+1 per set bit,
    −1 per clear bit over the token multiset).

    Round-6 shape: explode tokens → per-token (hi, lo) 32-bit hash halves →
    ONE hash aggregation with 64 conditional-sum columns. Higher-order
    functions are codegen-fallback, so the previous per-row
    ``aggregate``/``zip_with`` fold interpreted ~64 lambda calls per token;
    the conditional sums are whole-stage-codegen'd, and partial (map-side)
    aggregation collapses each doc to one 64-long row before the shuffle
    (guide §2.3 — aggregate before you shuffle). Counter values are exact
    integers, so the result is bit-identical to the fold. ``hi_lo(tok)``
    returns the (hi, lo) column pair for one token.

    The counters are keyed per input ROW (``_row``), not per doc_id: two
    rows sharing an id each get the fingerprint of their own text."""
    rows = _spread(docs).filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.monotonically_increasing_id().alias("_row"),
        F.col(text_col),
    )
    ex = rows.select(
        "doc_id", "_row", F.explode_outer(tokens_col(text_col)).alias("_t")
    )
    hi, lo = hi_lo(F.col("_t"))
    ex = ex.select("doc_id", "_row", hi.alias("_hi"), lo.alias("_lo"))
    aggs = []
    for b in range(64):
        src = F.col("_lo") if b < 32 else F.col("_hi")
        bit = F.shiftright(src, b % 32).bitwiseAND(F.lit(1))
        aggs.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1))
            .cast("long")
            .alias(f"_c{b}")
        )
    cnt = ex.groupBy("doc_id", "_row").agg(*aggs)
    return cnt.select(
        "doc_id", F.array(*[F.col(f"_c{b}") for b in range(64)]).alias("_c")
    )


def _pack_bits(counts: F.Column, lo_bit: int, n_bits: int) -> F.Column:
    """Assemble ``n_bits`` majority bits (count > 0) starting at ``lo_bit``
    into a non-negative long: Σ 2^i over set bits. 2^i is exact as a double
    for any i ≤ 62, so the pow→long cast is lossless."""
    pairs = F.zip_with(
        F.slice(counts, lo_bit + 1, n_bits),
        F.sequence(F.lit(0), F.lit(n_bits - 1)),
        lambda c, b: F.struct(c.alias("c"), b.alias("b")),
    )
    return F.aggregate(
        pairs,
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.when(
            s["c"] > 0, F.pow(F.lit(2.0), s["b"].cast("double")).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )


def simhash64(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash of the token multiset: bit b of the fingerprint is the
    majority sign over tokens of bit b of xxhash64(token).

    Round-6 reshape: explode + codegen'd 64-conditional-sum aggregation
    (see ``_simhash_count_rows`` — 3.5× the round-4 per-row HOF fold at 10×
    bench scale, bit-identical integer counters). The signed xxhash64 is
    split into non-negative 32-bit halves with literal shifts;
    arithmetic-shift sign fill is masked off.

    Empty/whitespace text tokenizes to the single empty-string token (what
    ``split`` produces); NULL text drops the row."""

    def hi_lo(t):
        return (
            F.shiftright(F.xxhash64(t), 32).bitwiseAND(F.lit(0xFFFFFFFF)),
            F.xxhash64(t).bitwiseAND(F.lit(0xFFFFFFFF)),
        )

    out = _simhash_count_rows(docs, text_col, id_col, hi_lo)
    # pack bits 0..62 as Σ2^b; bit 63 is the long sign bit (add LONG_MIN)
    fp = _pack_bits(F.col("_c"), 0, 63) + F.when(
        F.element_at("_c", 64) > 0, F.lit(-9223372036854775808)
    ).otherwise(F.lit(0).cast("long"))
    return out.select("doc_id", fp.alias("simhash"))


def simhash64_hilo(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Engine-portable SimHash: per-token hash = md5(token) split into two
    32-bit halves (hex chars 1-8 → high, 9-16 → low), fingerprint returned
    as two non-negative longs (simhash_hi, simhash_lo).

    md5 and hex→int conversion exist verbatim in DuckDB, so this variant is
    ORACLE-CHECKABLE value-for-value (CORRECTNESS gate) — xxhash64 is
    Spark-only, which is why :func:`simhash64` could previously only get a
    rows-only check. Same explode + codegen'd conditional-sum aggregation
    as :func:`simhash64` (``_simhash_count_rows``)."""

    def hi_lo(t):
        return (
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"),
            F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("long"),
        )

    out = _simhash_count_rows(docs, text_col, id_col, hi_lo)
    return out.select(
        "doc_id",
        _pack_bits(F.col("_c"), 32, 32).alias("simhash_hi"),
        _pack_bits(F.col("_c"), 0, 32).alias("simhash_lo"),
    )


def minhash_verified_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH candidates re-scored with EXACT shingle Jaccard — the production
    dedup shape at 100 TB: the band join prunes the pair space to candidates
    (never O(n²)), then one join per side re-attaches the shingle sets and
    the exact Jaccard filters at ``threshold``.

    Output is identical to ``ngram_jaccard_pairs(threshold)`` whenever LSH
    recall at τ is 1. The default here is 32 bands × 2 rows (recall-heavy:
    P(miss) ≈ (1−τ²)³² ≈ 6·10⁻¹⁵ at τ=0.8 — 16×4 measurably missed a
    borderline pair at sf0.01); the extra low-similarity candidates the
    looser banding admits are killed by the exact rescoring, so banding only
    trades candidate-join fan-out, never the answer. This makes the
    probabilistic path ORACLE-CHECKABLE against the exact all-candidate SQL
    (the driver gate records any deterministic miss as a hash mismatch)."""
    cand = minhash_lsh_candidates(
        docs, n_hashes, bands, n, text_col, id_col
    ).select("d1", "d2")
    sh = _shingle_rows(docs, text_col, id_col, n)
    j = cand.join(
        sh.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1")), "d1"
    ).join(
        sh.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2")), "d2"
    )
    inter = F.size(F.array_intersect("sh1", "sh2"))
    jac = inter.cast("double") / (
        F.size("sh1") + F.size("sh2") - inter
    ).cast("double")
    return j.select("d1", "d2", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )
