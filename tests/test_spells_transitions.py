import math

from pyspark.sql import functions as F

from sequenzo_spark.operators import (
    cross_sectional_distribution,
    cross_sectional_entropy,
    dss,
    modal_state,
    sequence_indicators,
    spell_table,
    transition_counts,
    transition_rates,
    turbulence,
)


def _by_seq(rows, key="seq_id"):
    out = {}
    for r in rows:
        out.setdefault(r[key], []).append(r)
    return out


def test_spell_table_toy(toy):
    rows = spell_table(toy).orderBy("seq_id", "spell_id").collect()
    got = [(r.seq_id, r.spell_id, r.state, r.duration) for r in rows]
    assert got == [
        ("s1", 1, "A", 2), ("s1", 2, "B", 2),
        ("s2", 1, "A", 1), ("s2", 2, "B", 2), ("s2", 3, "A", 1),
    ]
    # pos bounds
    r = rows[1]
    assert (r.pos_start, r.pos_end) == (2, 3)


def test_dss_toy(toy):
    rows = dss(toy).orderBy("seq_id", "spell_id").collect()
    got = [(r.seq_id, r.spell_id, r.state) for r in rows]
    assert got == [
        ("s1", 1, "A"), ("s1", 2, "B"),
        ("s2", 1, "A"), ("s2", 2, "B"), ("s2", 3, "A"),
    ]


def test_spells_locf_over_missing(spark):
    # A, NULL, A, B → LOCF makes A,A,A,B → spells A(3), B(1);
    # matches seqdur.pyx:19-20 (missing forward-filled before run detection).
    df = spark.createDataFrame(
        [("s", 0, "A"), ("s", 1, None), ("s", 2, "A"), ("s", 3, "B")],
        "seq_id string, pos int, state string",
    )
    rows = spell_table(df).orderBy("spell_id").collect()
    assert [(r.state, r.duration) for r in rows] == [("A", 3), ("B", 1)]


def test_transition_counts_and_rates(toy):
    counts = transition_counts(toy)
    got = {
        (r.from_state, r.to_state): r.transition_count for r in counts.collect()
    }
    # s1: A→A, A→B, B→B; s2: A→B, B→B, B→A
    assert got == {
        ("A", "A"): 1.0, ("A", "B"): 2.0, ("B", "B"): 2.0, ("B", "A"): 1.0,
    }
    rates = {
        (r.from_state, r.to_state): r.transition_rate
        for r in transition_rates(counts).collect()
    }
    assert rates[("A", "A")] == 1 / 3
    assert rates[("A", "B")] == 2 / 3
    assert rates[("B", "B")] == 2 / 3
    assert rates[("B", "A")] == 1 / 3


def test_cross_sectional_distribution_entropy(toy):
    # use pos as the "bucket": t0 = {A:2}, t1 = {A:1,B:1}, ...
    dist = cross_sectional_distribution(toy, bucket_col="pos")
    d = {(r.time_bucket, r.state): (r.state_count, r.n_valid, r.freq)
         for r in dist.collect()}
    assert d[(0, "A")] == (2.0, 2.0, 1.0)
    assert d[(1, "A")] == (1.0, 2.0, 0.5)
    assert d[(1, "B")] == (1.0, 2.0, 0.5)

    ent = {r.time_bucket: r for r in
           cross_sectional_entropy(dist, n_states=2).collect()}
    assert ent[0].entropy == 0.0
    assert abs(ent[1].entropy - math.log(2)) < 1e-12
    assert abs(ent[1].entropy_norm - 1.0) < 1e-12
    assert abs(ent[0].effective_states - 1.0) < 1e-12

    modal = {r.time_bucket: r.modal_state for r in modal_state(dist).collect()}
    assert modal[0] == "A"
    assert modal[3] == "A"  # tie A/B at t3 → lexicographic tiebreak


def test_sequence_indicators(toy):
    ind = {r.seq_id: r for r in sequence_indicators(toy, n_states=2).collect()}
    s1, s2 = ind["s1"], ind["s2"]
    assert (s1.length, s1.visited, s1.transitions, s1.n_spells) == (4, 2, 1, 2)
    assert (s2.length, s2.visited, s2.transitions, s2.n_spells) == (4, 2, 2, 3)
    assert abs(s1.entropy - math.log(2)) < 1e-12  # 2+2 split
    assert abs(s1.entropy_norm - 1.0) < 1e-12
    assert s1.transitions_norm == 1 / 3
    assert s2.transitions_norm == 2 / 3
    assert s1.mean_spell_duration == 2.0
    assert s1.spell_duration_var == 0.0
    # s2 durations [1,2,1]: mean 4/3, var_pop = 2/9
    assert abs(s2.mean_spell_duration - 4 / 3) < 1e-12
    assert abs(s2.spell_duration_var - 2 / 9) < 1e-12
    assert abs(s1.complexity - math.sqrt((1 / 3) * 1.0)) < 1e-12
    assert s1.recurrence == 1.0
    assert s2.recurrence == 1.5


def test_turbulence_toy(toy):
    t = {r.seq_id: r for r in turbulence(toy).collect()}
    # s1 DSS = [A,B]: subsequences {ε,A,B,AB} → φ=4; durations [2,2]:
    # var=0, mean=2, s2max=(2-1)(1-2)^2=1 → T=log2(4*2/1)=3
    assert t["s1"].phi == 4.0
    assert abs(t["s1"].turbulence - 3.0) < 1e-12
    # s2 DSS=[A,B,A]: distinct subseqs: ε,A,B,AA,AB,BA,ABA → φ=7
    assert t["s2"].phi == 7.0
    dur_var = 2 / 9
    s2max = 2 * (1 - 4 / 3) ** 2
    expect = math.log2(7 * (s2max + 1) / (dur_var + 1))
    assert abs(t["s2"].turbulence - expect) < 1e-12


def test_transition_pwight_keeps_single_spell_sequences(spark):
    """A sequence with one spell has no DSS pair; the reference returns 0
    (get_number_of_transitions pwight=True), not a missing row (round-2
    advisor: consumers joining on seq_id silently lost these rows)."""
    from sequenzo_spark.operators.transitions import transition_pwight

    rows = [
        ("s1", 0, "A"), ("s1", 1, "B"),   # one A→B pair
        ("s2", 0, "A"), ("s2", 1, "A"),   # single spell → 0
    ]
    df = spark.createDataFrame(rows, "seq_id string, pos int, state string")
    got = {r.seq_id: r for r in transition_pwight(df).collect()}
    assert set(got) == {"s1", "s2"}
    assert got["s2"]["pwight"] == 0.0
    assert got["s2"]["n_dss_pairs"] == 0
    assert got["s1"]["n_dss_pairs"] == 1


def test_distribution_fold_is_one_definition(spark):
    """``derive_distribution`` (the tiers) and ``cross_sectional_entropy`` /
    ``modal_state`` (the driver queries) give the same bits on the same
    counts, also at a degenerate alphabet: at K = 1 ln K is 0 and
    entropy_norm is 0.0 on both sides. An empty count frame gives no rows."""
    import datetime as dt

    from sequenzo_spark.rollup.aggregates import derive_distribution

    t0, t1 = dt.datetime(2024, 1, 1, 10), dt.datetime(2024, 1, 1, 11)
    counts = spark.createDataFrame(
        [(t0, 0, "A", 3, 3.0), (t0, 1, "B", 1, 1.0), (t0, 1, "A", 1, 1.0),
         (t0, 0, "C", 4, 4.0), (t1, 0, "B", 2, 2.0)],
        "time_bucket timestamp, conv_bucket int, state string, "
        "n_turns long, w_sum double",
    )
    dist = counts.groupBy("time_bucket", "state").agg(
        F.sum("w_sum").alias("state_count")
    )
    for k in (1, 3):
        tier = {r.time_bucket: r for r in derive_distribution(counts, k).collect()}
        query = {r.time_bucket: r for r in
                 cross_sectional_entropy(dist, n_states=k).collect()}
        assert set(tier) == set(query) == {t0, t1}
        for t in (t0, t1):
            for c in ("n_valid", "entropy", "entropy_norm", "effective_states"):
                assert tier[t][c].hex() == query[t][c].hex(), (k, t, c)
        if k == 1:
            assert [tier[t].entropy_norm for t in (t0, t1)] == [0.0, 0.0]
    modal = {r.time_bucket: r for r in modal_state(dist).collect()}
    assert (modal[t0].modal_state, modal[t0].modal_count) == ("A", 4.0)
    assert (tier[t0].modal_state, tier[t0].modal_count) == ("A", 4.0)
    assert modal[t0].modal_freq == 4 / 9
    assert derive_distribution(counts.limit(0), n_states=1).count() == 0
