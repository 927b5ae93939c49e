"""Property-based invariants (hypothesis) for the core sequence kernels.

Strategy: generate small random state sequences / sparse series in plain
Python, run the Spark operator once per example batch via a single
createDataFrame (one Spark job per property, not per example — hypothesis
drives the DATA, pandas recomputes the reference), and compare against an
independent pure-Python reference implementation.
"""

import itertools

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

STATES = ["A", "B", "C"]

seq_strategy = st.lists(
    st.sampled_from(STATES + [None]), min_size=1, max_size=12
)


def _ref_spells(states):
    """Pure-Python spell table with LOCF over None (seqdur.pyx:19-20)."""
    filled = []
    last = None
    for s in states:
        if s is None:
            s = last
            if s is None:
                continue
        filled.append(s)
        last = s
    return [(s, sum(1 for _ in run)) for s, run in itertools.groupby(filled)]


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(seq_strategy, min_size=1, max_size=6))
def test_spell_table_matches_python_reference(spark, seqs):
    from sequenzo_spark.operators.spells import spell_table

    rows = [
        (f"s{i}", p + 1, s)
        for i, states in enumerate(seqs)
        for p, s in enumerate(states)
    ]
    df = spark.createDataFrame(rows, "seq_id string, pos int, state string")
    got = {}
    for r in spell_table(df).collect():
        got.setdefault(r.seq_id, []).append((r.spell_id, r.state, r.duration))
    for i, states in enumerate(seqs):
        want = _ref_spells(states)
        g = sorted(got.get(f"s{i}", []))
        assert [(s, d) for _id, s, d in g] == want, (states, g, want)
        # invariant: durations sum to the LOCF-filled length
        assert sum(d for _sid, _s, d in g) == sum(d for _s2, d in want)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.dictionaries(
        st.integers(min_value=0, max_value=30),  # minute offsets (sparse)
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=1,
        max_size=10,
    )
)
def test_fill_gaps_locf_and_linear_match_pandas(spark, series):
    """LOCF == pandas ffill on the dense grid; linear == pandas
    interpolate(method='index') with edge fallback to nearest anchor."""
    from sequenzo_spark.operators.gapfill import fill_gaps

    base = pd.Timestamp("2024-01-01")
    rows = [
        ((base + pd.Timedelta(minutes=m)).to_pydatetime(), float(v))
        for m, v in sorted(series.items())
    ]
    df = spark.createDataFrame(rows, "time_bucket timestamp, v double")

    lo, hi = min(series), max(series)
    idx = pd.date_range(base + pd.Timedelta(minutes=lo),
                        base + pd.Timedelta(minutes=hi), freq="1min")
    ref = pd.Series(
        {base + pd.Timedelta(minutes=m): v for m, v in series.items()},
        dtype="float64",
    ).reindex(idx)

    got_locf = {
        r.time_bucket: r.v
        for r in fill_gaps(df, key_cols=[], value_cols=["v"]).collect()
    }
    ref_locf = ref.ffill()
    assert len(got_locf) == len(idx)
    for t, v in ref_locf.items():
        assert abs(got_locf[t.to_pydatetime()] - v) < 1e-9, ("locf", t)

    got_lin = {
        r.time_bucket: r.v
        for r in fill_gaps(df, key_cols=[], value_cols=["v"], method="linear").collect()
    }
    ref_lin = ref.interpolate(method="index").ffill().bfill()
    for t, v in ref_lin.items():
        assert abs(got_lin[t.to_pydatetime()] - v) < 1e-6, ("linear", t)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(seq_strategy, min_size=1, max_size=8))
def test_suffix_indicators_are_prefix_indicators_reversed(spark, seqs):
    """A suffix is a prefix of the sequence read backwards — the identity
    the shared prefix/suffix tree core is built on. Negating the order
    column turns every suffix operator into its prefix counterpart,
    EXACTLY (same frequencies, same level order in every fold). Compared
    as value tuples: the suffix level ``k`` is a long, the prefix ``t`` an
    int."""
    from sequenzo_spark.operators.prefix_tree import (
        prefix_rarity,
        prefix_tree_stats,
    )
    from sequenzo_spark.operators.suffix_tree import (
        spell_suffix_stats,
        suffix_rarity,
    )

    rows = [
        (f"s{i}", p + 1, s)
        for i, states in enumerate(seqs)
        for p, s in enumerate(states)
    ]
    df = spark.createDataFrame(rows, "seq_id string, pos int, state string")
    rev = df.withColumn("pos", -F.col("pos"))

    def values(frame):
        return sorted(map(tuple, frame.collect()), key=repr)

    assert values(suffix_rarity(df)) == values(prefix_rarity(rev))
    assert values(spell_suffix_stats(df)) == values(prefix_tree_stats(rev))
