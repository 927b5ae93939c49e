"""Similarity search over an embedding column (array<float>).

- brute_force_cosine_topk: the exact baseline — cosine of every vector
  against a query vector via zip_with/aggregate expressions (JVM-side fold,
  deterministic left-to-right summation), orderBy desc limit k. At scale
  this is one scan + a TakeOrdered (no shuffle of the full table).
- lsh_cosine_topk: the scale path — random-hyperplane (sign) LSH buckets;
  only vectors sharing a bucket with the query are scored. Hyperplanes are
  drawn deterministically from a seed via xxhash64-based pseudo-randoms, so
  results are reproducible at any parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from sequenzo_spark.pipeline.dedup import _spread


def _no_pushdown(cond: F.Column) -> F.Column:
    """Wrap a filter condition so Catalyst cannot push it below the
    parallelizing repartition: OR-prefix with an always-false
    NONDETERMINISTIC term (monotonically_increasing_id() is ≥ 0 by
    construction, so the predicate's VALUE is unchanged, but predicates
    containing a nondeterministic subexpression are never pushed, and OR
    terms are not split). The guard holds on every deployment, whatever
    the input's file layout: the 32 interpreted hyperplane dot products of
    the LSH candidate filter always run after the repartition, spread over
    all cores, never in the scan's tasks. Without it they sink into the
    parquet scan, which on an unsplittable input (the local fixtures are
    one row group) runs them on one core (guide §2)."""
    return (F.monotonically_increasing_id() < 0) | cond


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _py_norm(vec: list[float]) -> float:
    """Driver-side mirror of ``_norm`` with the identical IEEE operation
    sequence (left-to-right acc + x·x, then sqrt) — bit-equal to evaluating
    the expression on the literal array, computed once instead of per row."""
    import math

    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def brute_force_cosine_topk(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = F.lit(_py_norm(query_vec))
    scored = vectors.select(
        F.col(id_col).alias("vec_id"),
        (_dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * qn)).alias(
            "cosine"
        ),
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def _hyperplane(dim: int, plane_idx: int, seed: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j derived from a
    splitmix-style integer mix of (seed, plane_idx, j), mapped to [-1, 1)."""
    out = []
    for j in range(dim):
        z = (seed * 0x9E3779B97F4A7C15 + plane_idx * 0xBF58476D1CE4E5B9 + j) % (
            1 << 64
        )
        z = (z ^ (z >> 30)) * 0xBF58476D1CE4E5B9 % (1 << 64)
        z = (z ^ (z >> 27)) * 0x94D049BB133111EB % (1 << 64)
        z ^= z >> 31
        out.append((z / float(1 << 63)) - 1.0)
    return out


def signature_bits_col(vec_col: str, planes: list[list[float]]) -> F.Column:
    """Sign-LSH bucket id: bit i = 1[<v, plane_i> >= 0].

    The planes travel as ONE nested-array literal instead of per-plane
    CreateArray trees of 64 double literals each: a plan carrying
    thousands of literal nodes cost ~2 s of optimizer + Janino work per
    run (regenerated every execution — expression ids defeat the codegen
    cache). Bit values are unchanged: same dot fold (left-to-right from
    0.0 over elementwise double products), 2^i term ≡ the old
    shiftleft(1,i), bits OR-accumulated as a disjoint sum."""
    planes_lit = F.lit([[float(x) for x in p] for p in planes])
    idx = F.sequence(F.lit(0), F.lit(len(planes) - 1))
    bits = F.transform(
        idx,
        lambda i: F.when(
            _dot(F.col(vec_col), F.element_at(planes_lit, i + 1)) >= 0,
            F.pow(F.lit(2.0), i.cast("double")).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, b: acc + b
    )


def lsh_cosine_topk(
    vectors: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors landing in the query's bucket
    in ANY of ``n_tables`` independent sign-LSH tables, then exact cosine.

    Candidate filter is a pure expression (OR of bucket equalities with
    literal query buckets) → Catalyst pushes it into the scan."""
    import math

    dim = len(query_vec)
    cond = None
    for t in range(n_tables):
        planes = [
            _hyperplane(dim, t * n_planes + i, seed) for i in range(n_planes)
        ]
        qb = 0
        for i, p in enumerate(planes):
            dot = sum(a * b for a, b in zip(query_vec, p))
            qb |= (1 if dot >= 0 else 0) << i
        eq = signature_bits_col(vec_col, planes) == F.lit(qb)
        cond = eq if cond is None else (cond | eq)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    # On a parallel scan the bucket filter pushes into the scan (the
    # design point at cluster scale); on the local single-row-group
    # fixture that would serialize 32 interpreted dot products per row
    # onto one core, so spread first and pin the filter above the
    # repartition (see _no_pushdown).
    qn = F.lit(_py_norm(query_vec))
    scored = (
        _spread(vectors).filter(_no_pushdown(cond))
        .select(
            F.col(id_col).alias("vec_id"),
            (_dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * qn)).alias(
                "cosine"
            ),
        )
    )
    return scored.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(k)


def _bucket_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    tables_planes: list[list[list[float]]],
    out_id: str,
) -> DataFrame:
    """Explode each vector into one (id, table, bucket) row per LSH table —
    ids only, embeddings never enter the bucket shuffle."""
    arr = F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                signature_bits_col(vec_col, planes).alias("bucket"),
            )
            for t, planes in enumerate(tables_planes)
        ]
    )
    return _spread(df).select(
        # explode_outer: the array is literal-length (n_tables structs,
        # never empty); plain explode makes InferFiltersFromGenerate
        # duplicate EVERY bucket dot-product into a synthesized
        # size(...)>0 pre-filter — 2× the LSH hashing cost per row.
        # _spread parallelizes the interpreted dot products off the
        # single-task local scan (projections stay above the repartition).
        F.col(id_col).alias(out_id), F.explode_outer(arr).alias("tb")
    ).select(out_id, "tb.table", "tb.bucket")


def lsh_cosine_topk_batch(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Batch ANN — the 100 TB shape: MANY query vectors at once via a
    bucket EQUI-JOIN instead of one filter scan per query.

    Plan: both sides explode to (id, table, bucket) rows (ids only — the
    round-1 lesson: never shuffle vector payloads through a candidate join);
    join on (table, bucket); distinct candidate id pairs; re-attach the two
    embeddings; exact cosine; per-query top-k via row_number (partial top-k
    per partition, no global sort). The query side is broadcast when small —
    at web scale both sides are plain shuffles keyed by (table, bucket).

    Pass ``dim`` (the embedding dimensionality) to keep plan construction
    fully lazy; when omitted, it is probed with a driver-side ``first()``
    action (one extra Spark job per call).

    Output: query_id, vec_id, cosine, rank (1..k per query).
    """
    if dim is None:
        dim = len(queries.select(vec_col).first()[0])
    tables_planes = [
        [_hyperplane(dim, t * n_planes + i, seed) for i in range(n_planes)]
        for t in range(n_tables)
    ]
    vb = _bucket_rows(vectors, id_col, vec_col, tables_planes, "vec_id")
    qb = _bucket_rows(queries, query_id_col, vec_col, tables_planes, "query_id")
    cand = (
        vb.join(F.broadcast(qb), ["table", "bucket"])
        .select("query_id", "vec_id")
        .distinct()
    )
    # norms precomputed ONCE per vector/query row (same left-to-right fold,
    # bit-identical cosine) instead of re-evaluated per candidate pair —
    # interpreted HOF lambdas have no CSE, so the per-pair norm was ~40% of
    # the scoring stage's work (guide §4.1: fewer expression evaluations)
    cand = cand.join(
        vectors.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("_v"),
            _norm(F.col(vec_col)).alias("_vn"),
        ),
        "vec_id",
    ).join(
        F.broadcast(
            queries.select(
                F.col(query_id_col).alias("query_id"),
                F.col(vec_col).alias("_q"),
                _norm(F.col(vec_col)).alias("_qn"),
            )
        ),
        "query_id",
    )
    scored = cand.select(
        "query_id",
        "vec_id",
        (_dot(F.col("_v"), F.col("_q")) / (F.col("_vn") * F.col("_qn"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
