"""wide↔long reshape, person-period expansion, cut_prefix, seqfind, xtabs —
round-2 operators, toy fixtures mirroring the reference's test style
(tests/statistics/test_statistics_user_friendly_api.py:19-76)."""

from pyspark.sql import functions as F

from sequenzo_spark.functions.reshape import long_to_wide, person_period, wide_to_long
from sequenzo_spark.functions.seqops import (
    cut_prefix,
    find_sequence_occurrences,
    get_xtabs,
)


def test_wide_to_long_and_back(spark):
    wide = spark.createDataFrame(
        [(1, "A", "A", "B"), (2, "B", None, "A")],
        "id int, t1 string, t2 string, t3 string",
    )
    long = wide_to_long(wide, "id", ["t1", "t2", "t3"])
    rows = {(r["id"], r["time"]): r["state"] for r in long.collect()}
    assert rows[(1, "t1")] == "A" and rows[(2, "t2")] is None
    assert long.count() == 6

    back = long_to_wide(long, "id", "time", "state", time_values=["t1", "t2", "t3"])
    assert set(back.columns) == {"id", "state_t1", "state_t2", "state_t3"}
    r2 = {r["id"]: r for r in back.collect()}
    assert r2[1]["state_t3"] == "B" and r2[2]["state_t2"] is None


def test_person_period_reference_toy(spark):
    # reference docstring example (sequence_history_analysis.py:46-53)
    df = spark.createDataFrame([(1, 3, True), (2, 2, False)], "id int, time int, event boolean")
    out = person_period(df).orderBy("id", "time").collect()
    assert [(r["id"], r["time"], r["event"]) for r in out] == [
        (1, 1, False), (1, 2, False), (1, 3, True),
        (2, 1, False), (2, 2, False),
    ]


def test_person_period_rejects_bad(spark):
    import pytest

    df = spark.createDataFrame([(1, 0, True)], "id int, time int, event boolean")
    with pytest.raises(ValueError):
        person_period(df)


def test_cut_prefix(spark):
    df = spark.createDataFrame([([2, 2, 0, -1],), ([3, 1],)], "arr array<int>")
    got = df.select(cut_prefix(F.col("arr"), 1).alias("c")).collect()
    assert got[0]["c"] == [2, 2]
    assert got[1]["c"] == [3, 1]


def test_find_sequence_occurrences(spark, toy):
    # haystack: toy (s1=AABB, s2=ABBA) + s3 duplicating s1's pattern
    extra = spark.createDataFrame(
        [("s3", 0, "A"), ("s3", 1, "A"), ("s3", 2, "B"), ("s3", 3, "B")],
        "seq_id string, pos int, state string",
    )
    hay = toy.unionByName(extra)
    needles = toy.filter(F.col("seq_id") == "s1")
    got = {
        (r["needle_id"], r["match_id"])
        for r in find_sequence_occurrences(needles, hay).collect()
    }
    assert got == {("s1", "s1"), ("s1", "s3")}


def test_get_xtabs(toy):
    got = {
        (r["v1"], r["v2"]): r["weighted_count"]
        for r in get_xtabs(toy, "state", "seq_id").collect()
    }
    assert got[("A", "s1")] == 2.0
    assert got[("B", "s2")] == 2.0


def test_find_sequence_occurrences_no_concat_collision(spark):
    """['ab','c'] must NOT match ['a','bc'] — a separator-free concat would
    collide them (round-2 advisor finding; reference seqfind joins with '-',
    operations.py:283)."""
    needles = spark.createDataFrame(
        [("n1", 1, "ab"), ("n1", 2, "c")],
        "seq_id string, pos int, state string",
    )
    hay = spark.createDataFrame(
        [("h1", 1, "a"), ("h1", 2, "bc"), ("h2", 1, "ab"), ("h2", 2, "c")],
        "seq_id string, pos int, state string",
    )
    got = {
        (r.needle_id, r.match_id)
        for r in find_sequence_occurrences(needles, hay).collect()
    }
    assert got == {("n1", "h2")}


def test_to_event_rows_transition_and_state(spark):
    """STS→TSE toy: A-A-B-B-A → initial A, then A>B at the entering pos,
    then B>A (core.py:1195-1240 semantics in long format)."""
    from sequenzo_spark.functions.seqops import to_event_rows

    rows = [("s1", i + 1, s) for i, s in enumerate(["A", "A", "B", "B", "A"])]
    df = spark.createDataFrame(rows, "seq_id string, pos int, state string")
    got = [
        (r.pos, r.event)
        for r in to_event_rows(df).orderBy("pos").collect()
    ]
    assert got == [(1, "A"), (3, "A>B"), (5, "B>A")]
    got_state = [
        (r.pos, r.event)
        for r in to_event_rows(df, representation="state").orderBy("pos").collect()
    ]
    assert got_state == [(1, "A"), (3, "B"), (5, "A")]


def test_to_event_rows_skips_nulls(spark):
    from sequenzo_spark.functions.seqops import to_event_rows

    rows = [("s1", 1, None), ("s1", 2, "A"), ("s1", 3, None), ("s1", 4, "B")]
    df = spark.createDataFrame(rows, "seq_id string, pos int, state string")
    got = [(r.pos, r.event) for r in to_event_rows(df).orderBy("pos").collect()]
    # null positions are dropped before the lag: A at 2 is initial, B at 4 changes
    assert got == [(2, "A"), (4, "A>B")]


def test_most_frequent_sequences_topk(spark):
    from sequenzo_spark.functions.seqops import most_frequent_sequences

    rows = []
    for sid, pat in [("a", "AB"), ("b", "AB"), ("c", "AB"),
                     ("d", "BA"), ("e", "BA"), ("f", "CC")]:
        for i, s in enumerate(pat):
            rows.append((sid, i + 1, s))
    df = spark.createDataFrame(rows, "seq_id string, pos int, state string")
    got = [(r.seq_str, r.n_seqs) for r in most_frequent_sequences(df, k=2).collect()]
    assert got == [("A-B", 3), ("B-A", 2)]


def test_modal_sequence_occurrences_toy(spark):
    """Modal per pos of {AAB, ABB, AB} is A at 1 (3/3), B at 2 (2/3),
    B at 3 (tie A/B → B? counts: pos3 has B(s1) and B(s2)? s1=AAB: pos3=B;
    s2=ABB: pos3=B; s3 len2. modal = A-B-B. Matches: s2 (ABB == prefix 3),
    s3 (AB == prefix 2); s1 (AAB) differs at pos 2."""
    from sequenzo_spark.operators.distributions import modal_sequence_occurrences

    rows = []
    for sid, pat in [("s1", "AAB"), ("s2", "ABB"), ("s3", "AB")]:
        for i, s in enumerate(pat):
            rows.append((sid, i + 1, s))
    df = spark.createDataFrame(rows, "seq_id string, pos int, state string")
    r = modal_sequence_occurrences(df).first()
    assert r["modal_seq"] == "A-B-B"
    assert r["n_matching"] == 2
    assert r["n_seqs"] == 3


def test_combine_domains_two_domain_toy(spark):
    """CombT label-merge toy (combt.py:55-70): work ⊗ family expanded
    alphabet; inner keeps aligned positions, outer marks missing with '*'."""
    from sequenzo_spark.functions.multidomain import combine_domains

    work = spark.createDataFrame(
        [("p1", 1, "emp"), ("p1", 2, "unemp"), ("p2", 1, "emp")],
        "seq_id string, pos int, state string",
    )
    fam = spark.createDataFrame(
        [("p1", 1, "single"), ("p1", 2, "married"), ("p2", 2, "single")],
        "seq_id string, pos int, state string",
    )
    inner = {
        (r.seq_id, r.pos): r.state
        for r in combine_domains({"work": work, "family": fam}).collect()
    }
    assert inner == {("p1", 1): "emp+single", ("p1", 2): "unemp+married"}
    outer = {
        (r.seq_id, r.pos): r.state
        for r in combine_domains({"work": work, "family": fam}, how="outer").collect()
    }
    assert outer[("p2", 1)] == "emp+*"
    assert outer[("p2", 2)] == "*+single"
    assert len(outer) == 4


def test_combine_domains_single_shuffle_plan(spark):
    """The N-1 joins all key on (seq_id, pos): after the first exchange per
    input, no additional exchange may appear between the joins."""
    from sequenzo_spark.functions.multidomain import combine_domains

    a = spark.range(100).select(
        F.col("id").alias("seq_id"), F.lit(1).alias("pos"),
        F.lit("x").alias("state"))
    b = a.select("seq_id", "pos", F.lit("y").alias("state"))
    c = a.select("seq_id", "pos", F.lit("z").alias("state"))
    df = combine_domains({"a": a, "b": b, "c": c})
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one exchange per input at most (3), none between the two joins
    assert plan.count("Exchange") <= 3, plan[:2000]


def test_merge_sparse_types(spark):
    """Support-threshold relabel (distance-free recast of
    merge_sparse_combt_types, combt.py:220): labels under min_size → Others."""
    from sequenzo_spark.functions.multidomain import merge_sparse_types

    rows = [("a+x",)] * 5 + [("b+y",)] * 2 + [("c+z",)] * 1
    df = spark.createDataFrame(rows, "state string")
    got = merge_sparse_types(df, min_size=3).groupBy("state").count().collect()
    d = {r.state: r["count"] for r in got}
    assert d == {"a+x": 5, "Others": 3}


def test_flag_top_states(spark):
    from sequenzo_spark.operators.distributions import (
        cross_sectional_distribution,
        flag_top_states,
    )

    rows = [(1, "A"), (1, "A"), (1, "B"), (1, "C")]
    df = spark.createDataFrame(rows, "time_bucket int, state string")
    dist = flag_top_states(cross_sectional_distribution(df, "time_bucket", "state"), k=2)
    d = {r.state: r.is_top for r in dist.collect()}
    assert d == {"A": True, "B": True, "C": False}
