"""Tier aggregates: algebraic state + derived views.

The cascade stores ONLY algebraic quantities per tier — the counts, sums,
sums of squares, minima and maxima that ``TABLES`` declares for
state_counts, transitions and spells — all exactly re-mergeable (sums of integers / integer-valued doubles are
associative-exact in float64 below 2^53, min/max trivially), which is what
makes 1m→1h→1d bit-exact (SURVEY.md §4). Derived floats (freq, entropy,
rates, means, variances) are recomputed from merged counts at every tier by
``derive_*`` with a DETERMINISTIC reduction order (array_sort by state before
the fold), never depending on shuffle order or parallelism.

Semantics derive from the reference (studied, not copied):
- per-bucket weighted state frequencies / entropy: seqstatd,
  /root/reference/sequenzo/.../overall_cross_sectional_entropy.py:93-121;
- transition counts/rates: seqtrate,
  get_sm_trate_substitution_cost_matrix.pyx:50-93;
- spell durations: seqdur, seqdur.pyx:8-36 (a spell is attributed to the
  bucket of its first turn);
- modal state: seqmodst argmax, cross_sectional_indicators.py:171-177.

Skew: conv_bucket = pmod(xxhash64(conv_id), B) salts giant conversations
across B partitions (north rule); global per-bucket metrics re-merge over
conv_bucket, which is itself an exact algebraic merge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sequenzo_spark.session import persist

BUCKET_EXPRS = {
    "1m": lambda c: F.date_trunc("minute", c),
    "1h": lambda c: F.date_trunc("hour", c),
    "1d": lambda c: F.date_trunc("day", c),
}


def with_conv_bucket(df: DataFrame, conv_col: str = "conv_id", buckets: int = 32) -> DataFrame:
    return df.withColumn(
        "conv_bucket", F.pmod(F.xxhash64(F.col(conv_col)), F.lit(buckets)).cast("int")
    )


# ------------------------------------------------------------ the tables

# One definition per tier table: the keys beyond (conv_bucket, time_bucket),
# then per measure its merge function and the measure ONE raw row carries
# on its own (Spark SQL over that row). A raw row is thus the smallest tier
# row, and raw→1m is the same merge as 1m→1h→1d.
TABLES = {
    "state_counts": (
        ["state"],
        {"n_turns": (F.sum, "1"), "w_sum": (F.sum, "1.0D")},
    ),
    "transitions": (
        ["from_state", "to_state"],
        {"t_count": (F.sum, "1"), "w_count": (F.sum, "1.0D")},
    ),
    "spells": (
        ["state"],
        {
            "n_spells": (F.sum, "1"),
            "dur_sum": (F.sum, "duration"),
            "dur_sq_sum": (F.sum, "duration * duration"),
            "dur_min": (F.min, "duration"),
            "dur_max": (F.max, "duration"),
        },
    ),
}


def units(rows: DataFrame, table: str) -> DataFrame:
    """Raw rows of ``table`` with the measures each carries on its own."""
    return rows.withColumns(
        {m: F.expr(unit) for m, (_, unit) in TABLES[table][1].items()}
    )


def merge(df: DataFrame, table: str, bucket: Column, by: list[str]) -> DataFrame:
    """Group by ``by``, ``bucket`` (as time_bucket) and the table's keys,
    merging every measure with its ``TABLES`` function."""
    keys, measures = TABLES[table]
    return df.groupBy(*by, bucket.alias("time_bucket"), *keys).agg(
        *(fn(m).alias(m) for m, (fn, _) in measures.items())
    )


def merge_tier(df: DataFrame, table: str, tier: str) -> DataFrame:
    """Re-merge a lower tier of ``table`` into ``tier``'s time buckets."""
    return merge(
        df, table, BUCKET_EXPRS[tier](F.col("time_bucket")), ["conv_bucket"]
    )


# ------------------------------------------------------------ raw → 1m

def rollup_1m_fused(turns: DataFrame) -> tuple[DataFrame, dict[str, DataFrame]]:
    """All three 1m tables from ONE window pass over (conv_id, turn_idx).

    lead (transitions), lag (spell boundary) and row_number (spell length)
    share the same (seq, order) window spec, so Catalyst plans a single Window
    node → exactly one shuffle by conv_id for the whole raw→1m stage; the
    enriched frame is persisted and the three aggregations read the cache.

    Returns (enriched, {table: df}); ``session.release_caches`` drops the
    enriched cache. NULL states are dropped (rows absent = void, SURVEY.md
    §1.1); LOCF-style fill happens upstream at encode if desired.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    prev = F.lag("state").over(w)
    enriched = persist(
        turns.filter(F.col("state").isNotNull()).select(
            "conv_bucket",
            F.col("conv_id").alias("_seq"),
            "state",
            "ts",
            F.lead("state").over(w).alias("next_state"),
            (prev.isNull() | (prev != F.col("state"))).alias("is_boundary"),
            F.row_number().over(w).alias("_rk"),
            F.count(F.lit(1)).over(Window.partitionBy("conv_id")).alias("_len"),
        )
    )
    pairs = enriched.filter(F.col("next_state").isNotNull()).select(
        "conv_bucket",
        "ts",
        F.col("state").alias("from_state"),
        F.col("next_state").alias("to_state"),
    )
    # spells without a per-(seq, spell) shuffle: each spell is its boundary
    # row; duration = next boundary's rank − own rank (or to end of seq).
    # The boundary-row lead() shares the (seq, order) partitioning of the
    # first window pass — no extra exchange of the wide data.
    next_rk = F.lead("_rk").over(Window.partitionBy("_seq").orderBy("_rk"))
    spells = enriched.filter(F.col("is_boundary")).withColumn(
        "duration", F.coalesce(next_rk, F.col("_len") + 1) - F.col("_rk")
    )
    minute = BUCKET_EXPRS["1m"](F.col("ts"))
    rows = {"state_counts": enriched, "transitions": pairs, "spells": spells}
    return enriched, {
        t: merge(units(df, t), t, minute, ["conv_bucket"]) for t, df in rows.items()
    }


# ------------------------------------------------------------ derivations
# Each derivation first merges its table over conv_bucket (``by=[]``: one
# row per time bucket and key), then computes floats from the merged state.

def derive_distribution(
    state_counts: DataFrame, n_states: int | None = None
) -> DataFrame:
    """freq / entropy / modal per time bucket, derived from counts with a
    deterministic state-ordered fold (bit-stable at any parallelism).

    Entropy per seqstatd (:112-121); `+ 0.0` normalizes IEEE −0.0 so the
    stored bit pattern of a zero entropy is always that of +0.0."""
    rolled = merge(state_counts, "state_counts", F.col("time_bucket"), [])
    arr = F.array_sort(F.collect_list(F.struct("state", "w_sum", "n_turns")))
    g = rolled.groupBy("time_bucket").agg(arr.alias("_arr"))
    total = F.aggregate(
        F.col("_arr"), F.lit(0.0), lambda a, s: a + s["w_sum"]
    )
    g = g.withColumn("n_valid", total)
    ent = F.aggregate(
        F.col("_arr"),
        F.lit(0.0),
        lambda a, s: a
        + (s["w_sum"] / F.col("n_valid")) * F.log(s["w_sum"] / F.col("n_valid")),
    )
    g = g.withColumn("entropy", -ent + F.lit(0.0))
    if n_states:
        import math

        g = g.withColumn(
            "entropy_norm", F.col("entropy") / F.lit(math.log(n_states))
        )
    # modal = max w_sum, ties by state ascending — scan of the sorted array
    modal = F.aggregate(
        F.col("_arr"),
        F.struct(
            F.lit(None).cast("string").alias("state"),
            F.lit(-1.0).alias("w"),
        ),
        lambda acc, s: F.when(
            s["w_sum"] > acc["w"],
            F.struct(s["state"].alias("state"), s["w_sum"].alias("w")),
        ).otherwise(acc),
    )
    g = (
        g.withColumn("modal_state", modal["state"])
        .withColumn("modal_count", modal["w"])
        .withColumn("effective_states", F.exp(F.col("entropy")))
    )
    out_cols = [
        "time_bucket",
        "n_valid",
        "entropy",
        "effective_states",
        "modal_state",
        "modal_count",
    ] + (["entropy_norm"] if n_states else [])
    return g.select(*out_cols)


def derive_transition_rates(transitions: DataFrame) -> DataFrame:
    w = Window.partitionBy("time_bucket", "from_state")
    rolled = merge(transitions, "transitions", F.col("time_bucket"), [])
    return rolled.withColumn(
        "transition_rate", F.col("w_count") / F.sum("w_count").over(w)
    )


def derive_spell_stats(spells: DataFrame) -> DataFrame:
    """mean / var_pop of spell durations from algebraic sums:
    var = E[d²] − E[d]² over exact integer sums → deterministic floats."""
    n = F.col("n_spells").cast("double")
    mean = F.col("dur_sum") / n
    var = F.col("dur_sq_sum") / n - mean * mean
    rolled = merge(spells, "spells", F.col("time_bucket"), [])
    return rolled.select(
        "time_bucket",
        "state",
        "n_spells",
        "dur_min",
        "dur_max",
        mean.alias("dur_mean"),
        (F.greatest(var, F.lit(0.0)) + F.lit(0.0)).alias("dur_var"),
    )
