"""Validate + dictionary-encode stage (SURVEY.md §3.1).

Mirrors the reference's SequenceData ingest lifecycle (studied, not copied):
eager validation with rich errors (_validate_parameters,
/root/reference/sequenzo/define_sequence_data.py:267-511), explicit
user-declared alphabet that may be a superset of observed states (:421-440).
The reference appends missing as an extra code K+1 (:517-792); here a state
outside the alphabet becomes null instead, and null is missing under the one
policy of ``operators/spells.py``.

In Spark the validation is a handful of cheap aggregate assertions over one
scan, and the encoding is a single ``isin`` expression — no UDF; parquet
dictionary-encodes the state strings at write time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class ValidationError(ValueError):
    pass


def validate_transcripts(
    df: DataFrame,
    states: list[str],
    seq_col: str = "conv_id",
    order_col: str = "turn_idx",
    state_col: str = "role",
    ts_col: str = "ts",
    strict: bool = True,
) -> dict[str, int]:
    """Fail-fast checks; returns the violation counts it measured.

    - (seq, order) key uniqueness (reference id uniqueness, :444-462)
    - observed states ⊆ declared alphabet (superset allowed, :421-440)
    - ts non-decreasing within each sequence (stable-ordering invariant)
    """
    # NULL-key rows are their own violation class: countDistinct drops
    # tuples containing NULL, so lumping them into dup_keys would misreport
    # a NULL turn_idx as a duplicate (round-1 advisor finding).
    null_key = (F.col(seq_col).isNull() | F.col(order_col).isNull()).cast("long")
    base = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(seq_col).alias("n_seqs"),
        F.sum(null_key).alias("null_keys"),
        (
            F.count(F.lit(1))
            - F.sum(null_key)
            - F.countDistinct(seq_col, order_col)
        ).alias("dup_keys"),
        F.sum(
            (
                F.col(state_col).isNotNull()
                & ~F.col(state_col).isin(states)
            ).cast("long")
        ).alias("out_of_alphabet"),
    ).first()

    w = Window.partitionBy(seq_col).orderBy(order_col)
    nonmono = (
        df.select((F.col(ts_col) < F.lag(ts_col).over(w)).alias("bad"))
        .agg(F.sum(F.col("bad").cast("long")).alias("n"))
        .first()["n"]
        or 0
    )
    report = {
        "n_rows": base["n_rows"],
        "n_seqs": base["n_seqs"],
        "null_keys": base["null_keys"] or 0,
        "dup_keys": base["dup_keys"],
        "out_of_alphabet": base["out_of_alphabet"] or 0,
        "ts_nonmonotonic": nonmono,
    }
    if strict:
        bad = {
            k: v
            for k, v in report.items()
            if k in ("null_keys", "dup_keys", "out_of_alphabet", "ts_nonmonotonic")
            and v
        }
        if bad:
            raise ValidationError(f"transcript validation failed: {bad}")
    return report


def encode_states(
    df: DataFrame, states: list[str], state_col: str = "role"
) -> DataFrame:
    """Apply the declared alphabet (reference :421-440): a ``state_col``
    value outside ``states`` becomes null, so the tiers see it as missing
    under the one missing-state policy (``operators/spells.py``) instead of
    as a state of its own. The cascade applies it to its derived ``state``
    column, so the raw ``role`` passes through unchanged."""
    return df.withColumn(
        state_col, F.when(F.col(state_col).isin(states), F.col(state_col))
    )


def refined_alphabet_col(
    role_col: str = "role", tool_col: str = "tool"
) -> F.Column:
    """role⊗tool refined alphabet (SURVEY.md §1.2): 'tool:bash', …"""
    return F.when(
        F.col(tool_col).isNotNull(),
        F.concat_ws(":", F.col(role_col), F.col(tool_col)),
    ).otherwise(F.col(role_col))
