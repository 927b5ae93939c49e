"""Bit-exact golden outputs of every public prefix/suffix-tree function.

A small fixed input (variable lengths, score ties, zero-variance and
single-row levels, sequences shorter than min_t + window − 1, two groups)
is run through each public tree operator and its method / group /
inclusive / max_t / hashed variants. Rows are compared exactly, floats as
``float.hex``, together with each output schema. Each case is built and
collected against an empty cache, so no case reads a frame another case
persisted.

The outputs must not depend on how Spark partitions the rows: the golden
is checked at 1, 4 and 13 shuffle partitions with AQE's partition
coalescing off (with it on, the tiny input collapses into one partition
and hides an order-dependent float fold), and the driver queries that run
the tree and subsequence operators must hash the same at 1 and 13.

Regenerate (only when an output change is intended):

    python tests/test_tree_golden.py
"""

from __future__ import annotations

import hashlib
import json
import os
from contextlib import contextmanager
from functools import partial

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "tree_golden.json")
SF_DIR = "/root/testdata/sf0.001"

#: driver queries over the tree and subsequence operators, which persist
#: their intermediate frames and fold per-level moments
DRIVER_QUERIES = (
    "frequent_event_subseq",
    "subseq_occurrence_counts",
    "subseq_group_chisq",
    "prefix_divergence",
    "prefix_divergence_topp",
    "suffix_convergence",
    "suffix_convergence_topp",
)

_SEQS = {
    "s01": ("g1", "ABABC"),
    "s02": ("g1", "ABABC"),
    "s03": ("g1", "ABCCAB"),
    "s04": ("g1", "AAA"),
    "s05": ("g1", "A"),
    "s06": ("g2", "BCABCAB"),
    "s07": ("g2", "AB"),
    "s08": ("g2", "CCCC"),
    "s09": ("g2", "ABABC"),
    "s10": ("g2", "B"),
    "s11": ("g2", "CABCAB"),
    "s12": ("g1", "CCB"),
}


def _input(spark):
    # gapped positions: levels come from the order, not the pos values
    rows = [
        (sid, 3 * i + 1, s, g)
        for sid, (g, states) in _SEQS.items()
        for i, s in enumerate(states)
    ]
    return spark.createDataFrame(
        rows, "seq_id string, pos int, state string, grp string"
    )


def _cases(df):
    """name → zero-argument callable building that case's output frame."""
    from sequenzo_spark.operators.prefix_tree import (
        prefix_divergence,
        prefix_rarity,
        prefix_tree_stats,
    )
    from sequenzo_spark.operators.suffix_tree import (
        spell_suffix_stats,
        suffix_convergence,
        suffix_rarity,
        suffix_rarity_per_level,
        suffix_tree_stats,
    )

    cases = {}
    for hashed in (False, True):
        cases[f"prefix_tree_stats/hashed={hashed}"] = partial(
            prefix_tree_stats, df, hashed=hashed
        )
        for g in (None, "grp"):
            tag = f"group={g}/hashed={hashed}"
            cases[f"prefix_rarity/{tag}"] = partial(
                prefix_rarity, df, group_col=g, hashed=hashed
            )
            cases[f"suffix_rarity/{tag}"] = partial(
                suffix_rarity, df, group_col=g, hashed=hashed
            )
    for max_len in (None, 2):
        cases[f"suffix_tree_stats/max_len={max_len}"] = partial(
            suffix_tree_stats, df, max_len=max_len
        )
    cases["spell_suffix_stats"] = partial(spell_suffix_stats, df)
    for zs in (False, True):
        cases[f"suffix_rarity_per_level/zscore={zs}"] = partial(
            suffix_rarity_per_level, df, zscore=zs
        )
    variants = {"base": {}, "inclusive,max_t": {"inclusive": True, "max_t": 3}}
    methods = {
        "zscore": {},
        "top_proportion": {"proportion": 0.3, "min_count": 2},
        "quantile": {"quantile_p": 0.25},
    }
    for name, fn, min_t in (
        ("prefix_divergence", prefix_divergence, 2),
        ("suffix_convergence", suffix_convergence, 1),
    ):
        for method, mkw in methods.items():
            for g in (None, "grp"):
                for vname, vkw in variants.items():
                    kw = dict(
                        z_threshold=0.5, min_t=min_t, window=2,
                        method=method, group_col=g, **mkw,
                    )
                    kw.update(vkw)
                    cases[f"{name}/{method}/group={g}/{vname}"] = partial(fn, df, **kw)
                    if (
                        vname == "base"
                        and name == "prefix_divergence"
                        and method != "quantile"
                    ):
                        cases[f"{name}/{method}/group={g}/hashed"] = partial(
                            fn, df, hashed=True, **kw
                        )
        cases[f"{name}/top_proportion/min_count=1"] = partial(
            fn, df, z_threshold=0.5, min_t=min_t, window=2,
            method="top_proportion", proportion=0.3,
        )
    return cases


def _enc(v):
    return v.hex() if isinstance(v, float) else v


def _rows(frame) -> list:
    return sorted(
        ([_enc(v) for v in r] for r in frame.collect()),
        key=lambda r: json.dumps(r),
    )


def capture(spark) -> dict:
    out = {}
    for name, build in _cases(_input(spark)).items():
        spark.catalog.clearCache()
        frame = build()
        out[name] = {"schema": frame.schema.simpleString(), "rows": _rows(frame)}
    spark.catalog.clearCache()
    return out


@contextmanager
def _partitions(spark, n: int):
    """Run with ``n`` shuffle partitions and AQE coalescing off, then
    restore both settings."""
    keys = {
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_tree_outputs_match_golden(spark):
    with open(GOLDEN) as f:
        want = json.load(f)
    for n in (1, 4, 13):
        with _partitions(spark, n):
            got = capture(spark)
        assert sorted(got) == sorted(want), n
        assert [k for k in want if got[k] != want[k]] == [], n


def test_driver_queries_do_not_depend_on_partitioning(spark):
    from sequenzo_spark.driver_queries import QUERIES

    digests = {}
    for n in (1, 13):
        with _partitions(spark, n):
            digests[n] = {
                q: hashlib.sha256(
                    json.dumps(_rows(QUERIES[q](spark, SF_DIR))).encode()
                ).hexdigest()
                for q in DRIVER_QUERIES
            }
    assert digests[1] == digests[13]


if __name__ == "__main__":
    from sequenzo_spark import get_spark

    spark = get_spark("tree-golden", cores=4, shuffle_partitions=4)
    with open(GOLDEN, "w") as f:
        json.dump(capture(spark), f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
