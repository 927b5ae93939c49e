"""Tier aggregates: algebraic state + derived views.

The cascade stores ONLY algebraic quantities per tier — the counts, sums,
sums of squares, minima and maxima that ``TABLES`` declares for
state_counts, transitions and spells — all exactly re-mergeable (sums of
integers / integer-valued doubles are associative-exact in float64 below
2^53, min/max trivially), which is what makes 1m→1h→1d bit-exact (SURVEY.md
§4). Derived floats (freq, entropy, rates, means, variances) are recomputed
from merged counts at every tier by ``derive_*`` with a DETERMINISTIC
reduction order (array_sort by state before the fold), never depending on
shuffle order or parallelism.

One definition per statistic: the 1m rows come from the operators the
driver queries call (``spell_table``, ``transitions.pair_columns``), and the
derivations are ``merge`` plus an operator (``fold_distribution``,
``transition_rates``). Null and out-of-alphabet states follow the one
missing-state policy written in ``operators/spells.py``.

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

from sequenzo_spark.operators.distributions import fold_distribution
from sequenzo_spark.operators.spells import spell_table
from sequenzo_spark.operators.transitions import (
    is_pair,
    pair_columns,
    transition_rates,
)
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
    """All three 1m tables from ONE window partitioning by conversation.

    The sequence key is ``_seq`` = (conv_bucket, conv_id). One window pass
    over (_seq, turn_idx) adds the transition pair columns
    (``transitions.pair_columns``); the enriched frame keeps every turn,
    null states included, and is persisted for the three tables:

    - state_counts: the turns with a valid state;
    - transitions: the rows where ``is_pair`` holds;
    - spells: ``spell_table`` over the enriched frame, each spell in the
      minute of its first turn (``ts_start``). Once the cache is built,
      its windows and its groupBy run in the cache's (_seq) partitioning
      with no shuffle of their own.

    Null states follow the one missing-state policy (``operators/spells.py``).
    Returns (enriched, {table: df}); ``session.release_caches`` drops the
    enriched cache.
    """
    w = Window.partitionBy("_seq").orderBy("turn_idx")
    enriched = persist(
        turns.withColumn("_seq", F.struct("conv_bucket", "conv_id")).select(
            "conv_bucket", "_seq", "turn_idx", "ts", *pair_columns(w)
        )
    )
    spells = spell_table(enriched, "_seq", "turn_idx", "from_state", ts_col="ts")
    rows = {
        "state_counts": enriched.filter(F.col("from_state").isNotNull()).select(
            "conv_bucket", "ts", F.col("from_state").alias("state")
        ),
        "transitions": enriched.filter(is_pair()),
        "spells": spells.select(
            F.col("_seq.conv_bucket").alias("conv_bucket"),
            F.col("ts_start").alias("ts"),
            "state",
            "duration",
        ),
    }
    minute = BUCKET_EXPRS["1m"](F.col("ts"))
    return enriched, {
        t: merge(units(df, t), t, minute, ["conv_bucket"]) for t, df in rows.items()
    }


# ------------------------------------------------------------ derivations
# Each derivation first merges its table over conv_bucket (``by=[]``: one
# row per time bucket and key), then computes floats from the merged state
# with the operator the driver queries call.

def derive_distribution(
    state_counts: DataFrame, n_states: int | None = None
) -> DataFrame:
    """n_valid / entropy / effective states / modal per time bucket (and
    entropy_norm given the alphabet size): ``fold_distribution`` over the
    merged ``w_sum``, bit-stable at any parallelism."""
    rolled = merge(state_counts, "state_counts", F.col("time_bucket"), [])
    return fold_distribution(rolled, "w_sum", n_states)


def derive_transition_rates(transitions: DataFrame) -> DataFrame:
    """P(to|from) per time bucket: ``transition_rates`` over the merged
    ``w_count``."""
    rolled = merge(transitions, "transitions", F.col("time_bucket"), [])
    return transition_rates(rolled, "time_bucket", "w_count")


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
