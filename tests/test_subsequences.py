"""Event-subsequence mining vs a pure-Python mirror of the reference
algorithms (event_sequences/core.py): ordered-subset occurrence search
(_find_occurrence_starting_at, :1497-1530) and the greedy CDIST_O counter
(_count_distinct_occurrences, :1574-1589)."""

import random

import pytest
from pyspark.sql import functions as F

from sequenzo_spark.operators.subsequences import (
    compare_group_subsequences,
    count_subsequence_occurrences,
    frequent_subsequences,
    parse_subsequence,
)


# ---- pure-Python reference mirror (greedy, as the reference implements it)

def _occurs_at(pat, seq, start):
    if seq[start] != pat[0]:
        return False
    pos = start + 1
    for k in range(1, len(pat)):
        found = False
        for i in range(pos, len(seq)):
            if seq[i] == pat[k]:
                pos = i + 1
                found = True
                break
        if not found:
            return False
    return True


def _cdist_o(pat, seq):
    """Reference greedy loop: find first occurrence with start >= s, count,
    continue from start+1."""
    count, s = 0, 0
    while True:
        hit = None
        for start in range(s, len(seq)):
            if _occurs_at(pat, seq, start):
                hit = start
                break
        if hit is None:
            break
        count += 1
        s = hit + 1
    return count


def _events_df(spark, seqs):
    rows = [
        (f"s{i}", p, e)
        for i, seq in enumerate(seqs)
        for p, e in enumerate(seq)
    ]
    return spark.createDataFrame(rows, "seq_id string, pos int, event string")


def test_count_matches_reference_greedy_randomized(spark):
    rng = random.Random(42)
    alpha = ["A", "B", "C"]
    seqs = [
        [rng.choice(alpha) for _ in range(rng.randint(1, 12))]
        for _ in range(40)
    ]
    pats = ["(A)", "(B)", "(A)-(B)", "(B)-(B)", "(A)-(B)-(A)", "(C)-(C)-(C)"]
    got = {
        (r["seq_id"], r["subseq"]): r["count"]
        for r in count_subsequence_occurrences(
            _events_df(spark, seqs), pats, method="count"
        ).collect()
    }
    for i, seq in enumerate(seqs):
        for pat in pats:
            want = _cdist_o(parse_subsequence(pat), seq)
            assert got[(f"s{i}", pat)] == want, (i, seq, pat)


def test_presence_matches_reference(spark):
    seqs = [["A", "B", "A"], ["B", "A"], ["A"], ["C", "B", "C"]]
    pats = ["(A)-(B)", "(A)", "(C)-(B)-(C)"]
    got = {
        (r["seq_id"], r["subseq"]): r["count"]
        for r in count_subsequence_occurrences(
            _events_df(spark, seqs), pats, method="presence"
        ).collect()
    }
    for i, seq in enumerate(seqs):
        for pat in pats:
            want = 1 if _cdist_o(parse_subsequence(pat), seq) > 0 else 0
            assert got[(f"s{i}", pat)] == want


def test_frequent_subsequences_toy_supports(spark):
    # 4 sequences; pattern (A)-(B): present in s0 (A@0 < B@1) and s3
    seqs = [["A", "B"], ["B", "A"], ["A"], ["A", "C", "B"]]
    df = _events_df(spark, seqs)
    out = {
        r["subseq"]: (r["k"], r["n_seqs"], r["support"])
        for r in frequent_subsequences(
            df, max_k=2, min_support_ratio=0.25
        ).collect()
    }
    assert out["(A)"] == (1, 4.0, 1.0)
    assert out["(B)"] == (1, 3.0, 0.75)
    assert out["(A)-(B)"] == (2, 2.0, 0.5)
    assert out["(B)-(A)"] == (2, 1.0, 0.25)
    assert out["(C)"] == (1, 1.0, 0.25)  # exactly at the >= threshold


def test_frequent_subsequences_threshold_boundary(spark):
    seqs = [["A", "B"], ["B", "A"], ["A"], ["A", "C", "B"]]
    out = {
        r["subseq"]
        for r in frequent_subsequences(
            _events_df(spark, seqs), max_k=1, min_support_ratio=0.25
        ).collect()
    }
    assert out == {"(A)", "(B)", "(C)"}  # >= threshold keeps (C) at 1/4
    out2 = {
        r["subseq"]
        for r in frequent_subsequences(
            _events_df(spark, seqs), max_k=1, min_support=2
        ).collect()
    }
    assert out2 == {"(A)", "(B)"}


def test_frequent_k3_matches_bruteforce(spark):
    rng = random.Random(7)
    alpha = ["A", "B"]
    seqs = [
        [rng.choice(alpha) for _ in range(rng.randint(1, 8))] for _ in range(25)
    ]
    got = {
        r["subseq"]: r["n_seqs"]
        for r in frequent_subsequences(
            _events_df(spark, seqs), max_k=3, min_support=1
        ).collect()
        if r["k"] == 3
    }
    from itertools import product

    for pat in product(alpha, repeat=3):
        want = sum(1 for s in seqs if _cdist_o(list(pat), s) > 0)
        label = "-".join(f"({e})" for e in pat)
        assert got.get(label, 0) == float(want), (pat, got.get(label), want)


def test_weighted_support(spark):
    seqs = [["A", "B"], ["B"]]
    rows = [
        ("s0", 0, "A", 3.0), ("s0", 1, "B", 3.0), ("s1", 0, "B", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "seq_id string, pos int, event string, w double"
    )
    out = {
        r["subseq"]: (r["n_seqs"], r["support"])
        for r in frequent_subsequences(
            df, max_k=2, min_support_ratio=0.0, weight_col="w"
        ).collect()
    }
    assert out["(B)"] == (4.0, 1.0)
    assert out["(A)"] == (3.0, 0.75)
    assert out["(A)-(B)"] == (3.0, 0.75)


def test_chisq_hand_computed(spark):
    # groups: g0 = {s0, s1}, g1 = {s2, s3}; pattern (A) present in s0, s2, s3
    seqs = [["A"], ["B"], ["A"], ["A", "B"]]
    ev = _events_df(spark, seqs)
    groups = spark.createDataFrame(
        [("s0", "g0"), ("s1", "g0"), ("s2", "g1"), ("s3", "g1")],
        "seq_id string, group string",
    )
    out = {
        r["subseq"]: r
        for r in compare_group_subsequences(ev, groups, ["(A)", "(B)"]).collect()
    }
    # (A): contingency [[1 absent, 1 present], [0, 2]]; expected
    # present = 1.5 each, absent = 0.5 each; Yates |d|=0.5 → statistic 0
    a = out["(A)"]
    assert a["dof"] == 1 and a["n_present"] == 3 and a["n_total"] == 4
    assert a["statistic"] == pytest.approx(0.0)
    # (B): present in s1, s3 → [[1,1],[1,1]] → perfectly balanced, stat 0
    assert out["(B)"]["statistic"] == pytest.approx(0.0)


def test_chisq_unbalanced(spark):
    # 8 seqs, g0: (A) present 4/4, g1: 0/4 → classic 2x2 with Yates
    seqs = [["A"]] * 4 + [["B"]] * 4
    ev = _events_df(spark, seqs)
    groups = spark.createDataFrame(
        [(f"s{i}", "g0" if i < 4 else "g1") for i in range(8)],
        "seq_id string, group string",
    )
    r = {
        x["subseq"]: x for x in compare_group_subsequences(ev, groups, ["(A)"]).collect()
    }["(A)"]
    # obs [[0,4],[4,0]], exp all 2; |d|-0.5 = 1.5 → 4 * 1.5²/2 = 4.5
    assert r["statistic"] == pytest.approx(4.5)


def test_chisq_small_diff_clamped_to_zero(spark):
    """Fractional expected counts with 0 < |obs-exp| < 0.5: scipy >= 1.7
    clamps Yates' correction to min(0.5, |d|), so the statistic is exactly
    0 (the pre-1.7 overshoot form would give (0.5-|d|)^2 terms > 0)."""
    # g0: 3 seqs (2 with A), g1: 2 seqs (1 with A) → r1=3, nt=5
    # exp present g0 = 3*3/5 = 1.8, obs 2 → |d| = 0.2 < 0.5 everywhere
    seqs = [["A"], ["A"], ["B"], ["A"], ["B"]]
    ev = _events_df(spark, seqs)
    groups = spark.createDataFrame(
        [(f"s{i}", "g0" if i < 3 else "g1") for i in range(5)],
        "seq_id string, group string",
    )
    r = {
        x["subseq"]: x
        for x in compare_group_subsequences(ev, groups, ["(A)"]).collect()
    }["(A)"]
    assert r["statistic"] == 0.0


def test_chisq_degenerate_patterns_skipped(spark):
    """Patterns present in zero or ALL sequences are dropped — the
    reference only tests 0 < total_present < N."""
    seqs = [["A", "B"], ["A"], ["A", "B"], ["A"]]
    ev = _events_df(spark, seqs)
    groups = spark.createDataFrame(
        [(f"s{i}", "g0" if i < 2 else "g1") for i in range(4)],
        "seq_id string, group string",
    )
    out = {
        r["subseq"]: r
        for r in compare_group_subsequences(
            ev, groups, ["(A)", "(B)", "(C)"]
        ).collect()
    }
    assert "(A)" not in out  # present in all 4
    assert "(C)" not in out  # present in none
    assert out["(B)"]["n_present"] == 2


def test_min_support_takes_precedence_over_ratio(spark):
    """When both thresholds are given the reference ignores the ratio
    (core.py:672-676)."""
    seqs = [["A", "B"], ["A"], ["B"], ["B"]]
    df = _events_df(spark, seqs)
    out = {
        r["subseq"]: r["n_seqs"]
        for r in frequent_subsequences(
            df, max_k=1, min_support=2.0, min_support_ratio=0.9
        ).collect()
    }
    # ratio 0.9 alone would keep nothing; min_support=2 keeps both events
    assert out == {"(A)": 2.0, "(B)": 3.0}


def test_parse_subsequence():
    assert parse_subsequence("(A)-(B)") == ["A", "B"]
    assert parse_subsequence("(view>click)") == ["view>click"]
    assert parse_subsequence("A-B") == ["A", "B"]
    # simultaneous events flatten (reference matcher treats the flat list
    # as an ordered subset — core.py:1499-1531)
    assert parse_subsequence("(A,B)") == ["A", "B"]
    assert parse_subsequence("(A)-(B,C)") == ["A", "B", "C"]
    assert parse_subsequence("(A,B)-(C,D)") == ["A", "B", "C", "D"]
    with pytest.raises(ValueError):
        parse_subsequence("(A)-(B)-(C)-(D)-(E)")


def _ref_greedy_count(seq, pattern):
    """Reference CDIST_O greedy counter (_count_distinct_occurrences +
    _find_occurrence_starting_at, core.py:1499-1589): ordered-subset
    match over the FLAT event list, restart past each found start."""
    def match_at(start):
        if seq[start] != pattern[0]:
            return False
        pos = start + 1
        for ev in pattern[1:]:
            for i in range(pos, len(seq)):
                if seq[i] == ev:
                    pos = i + 1
                    break
            else:
                return False
        return True

    count, start = 0, 0
    while start < len(seq):
        hit = next((i for i in range(start, len(seq)) if match_at(i)), None)
        if hit is None:
            break
        count += 1
        start = hit + 1
    return count


def test_simultaneous_pattern_counts_match_greedy(spark):
    """A comma pattern "(A)-(B,C)" must count exactly like the reference's
    greedy counter over the flattened pattern [A, B, C]."""
    seqs = [
        ["A", "B", "C"],
        ["A", "C", "B"],       # B after C → no (A)-(B,C)
        ["A", "B", "C", "A", "B", "C"],
        ["B", "A", "B", "C"],
        ["A", "A", "B", "B", "C"],
        ["C", "B", "A"],
    ]
    ev = _events_df(spark, seqs)
    got = {
        (r["seq_id"], r["subseq"]): r["count"]
        for r in count_subsequence_occurrences(
            ev, ["(A)-(B,C)"], method="count"
        ).collect()
    }
    flat = ["A", "B", "C"]
    for i, seq in enumerate(seqs):
        assert got[(f"s{i}", "(A)-(B,C)")] == _ref_greedy_count(seq, flat), i

def test_len4_pattern_counts_match_greedy(spark):
    """Length-4 closed form == the reference greedy counter."""
    seqs = [
        ["A", "B", "C", "D"],
        ["A", "B", "D", "C"],            # no full chain
        ["A", "A", "B", "C", "D", "D"],
        ["D", "C", "B", "A"],
        ["A", "B", "C", "D", "A", "B", "C", "D"],
    ]
    ev = _events_df(spark, seqs)
    got = {
        r["seq_id"]: r["count"]
        for r in count_subsequence_occurrences(
            ev, ["(A)-(B)-(C)-(D)"], method="count"
        ).collect()
    }
    flat = ["A", "B", "C", "D"]
    for i, seq in enumerate(seqs):
        assert got[f"s{i}"] == _ref_greedy_count(seq, flat), i


def test_mining_k4(spark):
    """k=4 mining: presence support of the emergent 4-pattern."""
    seqs = [
        ["A", "B", "C", "D"],
        ["A", "C", "B", "D"],
        ["A", "B", "C"],
    ]
    df = _events_df(spark, seqs)
    out = {
        r["subseq"]: r["n_seqs"]
        for r in frequent_subsequences(
            df, max_k=4, min_support=1.0
        ).collect()
        if r["k"] == 4
    }
    assert out["(A)-(B)-(C)-(D)"] == 1.0
    assert out["(A)-(C)-(B)-(D)"] == 1.0
    assert "(B)-(A)-(C)-(D)" not in out


def test_event_labels_with_the_pattern_separator_are_rejected(spark):
    """Patterns format as "(a)-(b)-(c)", so a label containing ")-(" makes
    distinct event tuples print as one subseq: here ("x)-(y", "z", "w")
    and ("x", "y)-(z", "w") are both "(x)-(y)-(z)-(w)" at k=3. Such
    labels are refused with an error naming the separator."""
    ev = _events_df(spark, [["x)-(y", "z", "w"], ["x", "y)-(z", "w"]])
    with pytest.raises(Exception, match=r"\)-\("):
        frequent_subsequences(ev, max_k=3, min_support=1).collect()
    with pytest.raises(Exception, match=r"\)-\("):
        count_subsequence_occurrences(ev, ["(x)-(w)"]).collect()
