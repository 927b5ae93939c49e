"""Bit-exact golden of the raw→1m→1h→1d cascade and the tier derivations,
and the gate that neither depends on shuffle parallelism.

A fixed synthetic input (80 conversations plus one 500-turn giant, starting
at 23:30 so conversations cross midnight) runs through ``run_cascade`` with
``spark.sql.shuffle.partitions`` at 1 and at 7. Each run must reproduce the
golden exactly:

- every manifest row ``(stage, table, partition_key, rows_out, checksum)``;
- for each ``derive_*`` output on each tier: the schema, the row count and
  the sha256 of its sorted rows (floats as ``float.hex``).

Regenerate (only when an output change is intended):

    python tests/test_rollup_golden.py
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile

import pytest

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "rollup_golden.json")
SALT = 4


def _enc(v):
    if isinstance(v, float):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _digest(frame) -> dict:
    rows = sorted(
        ([_enc(v) for v in r] for r in frame.collect()),
        key=lambda r: json.dumps(r),
    )
    return {
        "schema": frame.schema.simpleString(),
        "rows": len(rows),
        "sha256": hashlib.sha256(json.dumps(rows).encode()).hexdigest(),
    }


def capture(spark, out: str) -> dict:
    from sequenzo_spark.checkpoint.manifest import Manifest
    from sequenzo_spark.rollup.aggregates import (
        derive_distribution,
        derive_spell_stats,
        derive_transition_rates,
    )
    from sequenzo_spark.rollup.cascade import run_cascade
    from sequenzo_spark.schema import ROLE_ALPHABET
    from sequenzo_spark.synth import generate_transcripts

    raw = generate_transcripts(
        spark, n_convs=80, seed=11, giant_conv_turns=500,
        base_ts="2024-01-01 23:30:00",
    )
    run_cascade(
        spark, raw, out, states=ROLE_ALPHABET, salt_buckets=SALT, job_id="g"
    )
    manifest = sorted(
        [r.stage, r.table, r.partition_key, r.rows_out, r.checksum]
        for r in Manifest(spark, f"{out}/_manifest").stats("g").collect()
    )
    derived = {}
    for tier in ("1m", "1h", "1d"):
        def rd(t):
            return spark.read.parquet(f"{out}/rollup_{tier}/{t}")

        derived[f"distribution/{tier}"] = _digest(
            derive_distribution(rd("state_counts"), n_states=len(ROLE_ALPHABET))
        )
        derived[f"transition_rates/{tier}"] = _digest(
            derive_transition_rates(rd("transitions"))
        )
        derived[f"spell_stats/{tier}"] = _digest(derive_spell_stats(rd("spells")))
    return {"manifest": manifest, "derive": derived}


@pytest.mark.parametrize("shuffle_partitions", [1, 7])
def test_cascade_matches_golden_at_any_parallelism(
    spark, tmp_path, shuffle_partitions
):
    with open(GOLDEN) as f:
        want = json.load(f)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        got = capture(spark, str(tmp_path / "cascade"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert got["manifest"] == want["manifest"]
    assert sorted(got["derive"]) == sorted(want["derive"])
    for name in want["derive"]:
        assert got["derive"][name] == want["derive"][name], name


if __name__ == "__main__":
    from sequenzo_spark import get_spark

    spark = get_spark("rollup-golden", cores=4, shuffle_partitions=4)
    with tempfile.TemporaryDirectory() as d:
        golden = capture(spark, os.path.join(d, "cascade"))
    with open(GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
