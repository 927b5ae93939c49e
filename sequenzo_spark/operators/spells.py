"""Spell derivation — the gaps-and-islands recast of seqdss / seqdur — and
the engine's one missing-state policy.

Missing-state policy (SURVEY.md §1.1, §2.4). A null state is MISSING; a
state outside the declared alphabet reaches the cascade tiers as null
(``ingest.encode_states``). Every statistic — the driver queries, the
cascade tiers and the stream — treats a missing state the same way:

- spells forward-fill (LOCF) over it, so a missing turn extends the spell
  before it, and leading missing turns belong to no spell
  (:func:`spell_table`; seqdur.pyx:19-20);
- a transition needs both ends valid: the pair is a turn's UNFILLED state
  and the ``lead`` of it (``transitions.pair_columns`` / ``is_pair``;
  seqtrate counts only valid pairs);
- state counts skip it (``distributions.cross_sectional_distribution``,
  the cascade's ``state_counts`` table, ``streaming_state_counts_1m``).

Reference semantics (studied, not copied):
- seqdss (/root/reference/sequenzo/dissimilarity_measures/utils/seqdss.pyx:8-34):
  forward-fill missing, collapse consecutive equal states → distinct-state
  sequence.
- seqdur (seqdur.pyx:8-36): run lengths of those collapsed spells.
- convert_seqdata_to_spells (prefix_tree/spell_level_indicators.py:41-92):
  one row per (seq, spell) with state + duration.

Spark recast: a single partition-local window pass per sequence —
``lag`` detects run boundaries, a cumulative ``sum`` numbers the islands,
then one groupBy produces the spell table. No UDFs; everything stays in
whole-stage codegen. At 10^12 turns the only shuffle is the hash partition
by seq_id (and Spark reuses it for the groupBy because spell keys are
prefixed by seq_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def locf_fill(
    df: DataFrame,
    cols: list[str],
    seq_col: str = "seq_id",
    order_col: str = "pos",
) -> DataFrame:
    """Forward-fill NULLs in ``cols`` within each sequence (LOCF).

    Mirrors the reference's own gap-fill precedent: the ffill loop in
    seqdss.pyx:19-21 / seqdur.pyx:19-20. Implemented with
    ``last(ignorenulls=True)`` over an unbounded-preceding frame.
    """
    w = (
        Window.partitionBy(seq_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    return out


def _spell_rows(
    df: DataFrame, seq_col: str, order_col: str, state_col: str
) -> DataFrame:
    """The turns that belong to a spell, LOCF-filled, with the 1-based
    ``spell_id`` and the ``_is_new`` flag of each spell's first turn — the
    one spell-boundary definition (:func:`spell_table`, :func:`dss`)."""
    filled = locf_fill(df, [state_col], seq_col, order_col).filter(
        F.col(state_col).isNotNull()
    )
    w = Window.partitionBy(seq_col).orderBy(order_col)
    prev = F.lag(state_col).over(w)
    is_new = (prev.isNull() | (prev != F.col(state_col))).cast("int")
    return filled.withColumn("_is_new", is_new).withColumn(
        "spell_id",
        F.sum("_is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def spell_table(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
    weight_col: str | None = None,
    ts_col: str | None = None,
) -> DataFrame:
    """One row per (sequence, spell): state, duration (turn count), bounds.

    Missing states follow the module's policy: LOCF before run detection
    (seqdur.pyx:19-20), so a missing turn never breaks a spell and counts
    in its duration. Output columns: seq_id, spell_id (1-based), state,
    duration, pos_start, pos_end [, ts_start, ts_end, weight].
    """
    df = _spell_rows(df, seq_col, order_col, state_col)
    aggs = [
        F.count(F.lit(1)).alias("duration"),
        F.min(order_col).alias("pos_start"),
        F.max(order_col).alias("pos_end"),
    ]
    if ts_col:
        aggs += [F.min(ts_col).alias("ts_start"), F.max(ts_col).alias("ts_end")]
    if weight_col:
        aggs.append(F.first(weight_col).alias("weight"))
    # every turn of a spell has its state, so the state is a grouping key;
    # a first() over a string column would turn the aggregate into a sort
    keys = [
        F.col(seq_col).alias("seq_id"), "spell_id", F.col(state_col).alias("state")
    ]
    return df.groupBy(*keys).agg(*aggs).withColumnRenamed("seq_id", seq_col)


def dss(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
) -> DataFrame:
    """Distinct-state sequence rows (seqdss semantics): the first turn of
    every spell, with ``spell_id`` as the new ordinal."""
    return (
        _spell_rows(df, seq_col, order_col, state_col)
        .filter(F.col("_is_new") == 1)
        .drop("_is_new")
    )
