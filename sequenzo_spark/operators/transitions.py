"""Transition-rate aggregates — seqtrate semantics, Spark-first.

Reference semantics (studied, not copied) from
/root/reference/sequenzo/dissimilarity_measures/utils/
get_sm_trate_substitution_cost_matrix.pyx:8-94:
  P(to | from) = Σ w·1[state_t = from ∧ state_{t+lag} = to]
               / Σ w·1[state_t = from ∧ state_{t+lag} valid]
with a time-varying variant (one K×K matrix per time position, :50-71) and a
count-only variant (:73-93).

Spark recast: the column shift ``seq[:, t] vs seq[:, t+lag]`` is exactly a
``lead()`` window over (seq_id) ordered by pos — the canonical self-join-free
shift. Counts are ALGEBRAIC (re-mergeable across rollup tiers); rates are
derived per tier by row-normalizing with a window sum over `from_state`, so
cascading stays bit-exact (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def pair_columns(
    w: WindowSpec, state_col: str = "state", lag: int = 1
) -> list[Column]:
    """A turn's transition pair as columns over the sequence window ``w``:
    its own UNFILLED state (from_state) and the state ``lag`` turns ahead
    (to_state). A pair counts only where :func:`is_pair` holds — both ends
    valid, the missing-state policy of ``operators/spells.py``. The cascade's
    fused 1m pass puts these columns in its own window pass."""
    return [
        F.col(state_col).alias("from_state"),
        F.lead(state_col, lag).over(w).alias("to_state"),
    ]


def is_pair() -> Column:
    """Both ends of a :func:`pair_columns` pair are valid states."""
    return F.col("from_state").isNotNull() & F.col("to_state").isNotNull()


def transition_pairs(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
    lag: int = 1,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Rows (seq_id, pos, from_state, to_state [, extra…]) for every position
    whose ``lag``-ahead successor exists in the same sequence."""
    w = Window.partitionBy(seq_col).orderBy(order_col)
    keep = [seq_col, order_col] + (extra_cols or [])
    return df.select(*keep, *pair_columns(w, state_col, lag)).filter(is_pair())


def transition_counts(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
    weight_col: str | None = None,
    lag: int = 1,
    bucket_col: str | None = None,
) -> DataFrame:
    """Weighted from→to counts, optionally per time bucket.

    count=True semantics of the reference kernel (:73-93). One window pass +
    one partial/final hash aggregation; bucket grouping gives the
    time-varying variant (:50-71) with buckets instead of raw positions.
    """
    extra = [c for c in ([weight_col] if weight_col else []) + (
        [bucket_col] if bucket_col else []
    )]
    pairs = transition_pairs(df, seq_col, order_col, state_col, lag, extra)
    wexpr = F.col(weight_col) if weight_col else F.lit(1.0)
    keys = ([bucket_col] if bucket_col else []) + ["from_state", "to_state"]
    return pairs.groupBy(*keys).agg(F.sum(wexpr).alias("transition_count"))


def transition_rates(
    counts: DataFrame,
    bucket_col: str | None = None,
    count_col: str = "transition_count",
) -> DataFrame:
    """Row-normalize the transition counts in ``count_col`` into P(to|from).

    Derived (not stored) per tier: rates at 1h/1d are recomputed from the
    merged 1m counts, never averaged — which is what keeps tiers bit-exact
    (``rollup.aggregates.derive_transition_rates`` calls this on ``w_count``).
    """
    part = ([bucket_col] if bucket_col else []) + ["from_state"]
    w = Window.partitionBy(*part)
    return counts.withColumn(
        "transition_rate", F.col(count_col) / F.sum(count_col).over(w)
    )


def transition_pwight(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
) -> DataFrame:
    """Probability-weighted transition count (seqtransn pwight=True,
    simple_characteristics.py:283-294): per sequence, the sum of GLOBAL
    transition rates P(to|from) over its consecutive DSS (distinct-state)
    pairs.

    Sequences with a single spell have no DSS pair: the reference returns 0
    for them (get_number_of_transitions pwight=True), so they are kept with
    pwight = 0.0 / n_dss_pairs = 0 rather than dropped — the conditional
    aggregation keeps this one pass, no extra join.

    Plan: the K×K rate matrix is a tiny derived table → broadcast join onto
    the DSS pair rows; one window pass for the DSS, one for the pairs, one
    broadcast join, one aggregation. Output: seq_id, pwight, n_dss_pairs."""
    from sequenzo_spark.operators.spells import spell_table

    rates = transition_rates(
        transition_counts(df, seq_col, order_col, state_col)
    ).select("from_state", "to_state", "transition_rate")
    spells = spell_table(df, seq_col, order_col, state_col)
    w = Window.partitionBy(seq_col).orderBy("spell_id")
    pairs = spells.select(
        F.col(seq_col).alias("seq_id"),
        F.col("state").alias("from_state"),
        F.lead("state").over(w).alias("to_state"),
    )
    joined = pairs.join(F.broadcast(rates), ["from_state", "to_state"], "left")
    has_pair = F.col("to_state").isNotNull()
    return joined.groupBy("seq_id").agg(
        F.coalesce(
            F.sum(F.when(has_pair, F.col("transition_rate"))), F.lit(0.0)
        ).alias("pwight"),
        F.sum(has_pair.cast("long")).alias("n_dss_pairs"),
    )
