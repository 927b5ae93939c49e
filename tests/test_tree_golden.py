"""Bit-exact golden outputs of every public prefix/suffix-tree function.

A small fixed input (variable lengths, score ties, zero-variance and
single-row levels, sequences shorter than min_t + window − 1, two groups)
is run through each public tree operator and its method / group /
inclusive / max_t / hashed variants. Rows are compared exactly, floats as
``float.hex``, together with each output schema. Each case is built and
collected against an empty cache: a frame another case persisted could
otherwise stand in for an identical sub-plan and reorder its float sums.

Regenerate (only when an output change is intended):

    python tests/test_tree_golden.py
"""

from __future__ import annotations

import json
import os
from functools import partial

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "tree_golden.json")

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
        cases[f"{name}/top_proportion/persist_stats"] = partial(
            fn, df, z_threshold=0.5, min_t=min_t, window=2,
            method="top_proportion", proportion=0.3, persist_stats=True,
        )
    return cases


def _enc(v):
    return v.hex() if isinstance(v, float) else v


def capture(spark) -> dict:
    out = {}
    for name, build in _cases(_input(spark)).items():
        spark.catalog.clearCache()
        frame = build()
        rows = sorted(
            ([_enc(v) for v in r] for r in frame.collect()),
            key=lambda r: json.dumps(r),
        )
        out[name] = {"schema": frame.schema.simpleString(), "rows": rows}
    spark.catalog.clearCache()
    return out


def test_tree_outputs_match_golden(spark):
    with open(GOLDEN) as f:
        want = json.load(f)
    got = capture(spark)
    assert sorted(got) == sorted(want)
    for name in want:
        assert got[name] == want[name], name


if __name__ == "__main__":
    from sequenzo_spark import get_spark

    spark = get_spark("tree-golden", cores=4, shuffle_partitions=4)
    with open(GOLDEN, "w") as f:
        json.dump(capture(spark), f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
