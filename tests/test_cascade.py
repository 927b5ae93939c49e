"""Cascade: bit-exact tier merges, boundary-safe windows, text passthrough,
and kill→resume without recomputation of committed partitions."""

import pytest
from pyspark.sql import functions as F

from sequenzo_spark.checkpoint.manifest import Manifest
from sequenzo_spark.rollup.cascade import (
    InjectedFailure,
    run_cascade,
    text_passthrough_violations,
)
from sequenzo_spark.schema import ROLE_ALPHABET
from sequenzo_spark.synth import generate_transcripts

SALT = 4


@pytest.fixture(scope="module")
def raw(spark):
    # starts 23:30 so conversations cross midnight (window-boundary stress)
    return generate_transcripts(
        spark, n_convs=60, seed=3, giant_conv_turns=800,
        base_ts="2024-01-01 23:30:00",
    ).cache()


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_cascade_end_to_end(spark, raw, tmp_path):
    out = str(tmp_path / "cascade")
    res = run_cascade(
        spark, raw, out, states=ROLE_ALPHABET, salt_buckets=SALT, job_id="j1"
    )
    assert res.stages_run == ["encode", "rollup_1m", "rollup_1h1d"]
    assert all(v > 0 for v in res.rows_out.values())

    encoded = spark.read.parquet(f"{out}/encode")
    # 1. text passthrough invariant
    assert text_passthrough_violations(raw, encoded) == 0

    # 2. 1h tier == direct 1h aggregation of encoded turns (bit-exact)
    direct_1h = (
        encoded.groupBy(
            "conv_bucket",
            F.date_trunc("hour", "ts").alias("time_bucket"),
            "state",
        )
        .agg(F.count(F.lit(1)).alias("n_turns"), F.sum(F.lit(1.0)).alias("w_sum"))
    )
    got_1h = spark.read.parquet(f"{out}/rollup_1h/state_counts")
    cols = ["conv_bucket", "time_bucket", "state", "n_turns", "w_sum"]
    assert _rows(got_1h, cols) == _rows(direct_1h, cols)

    # 3. global transition matrix from the 1d tier == matrix from raw turns
    #    (catches lost transitions at batch/day boundaries)
    from sequenzo_spark.operators.transitions import transition_counts

    tier_global = (
        spark.read.parquet(f"{out}/rollup_1d/transitions")
        .groupBy("from_state", "to_state")
        .agg(F.sum("t_count").alias("n"))
    )
    direct = transition_counts(
        raw, seq_col="conv_id", order_col="turn_idx", state_col="role"
    ).select(
        "from_state", "to_state", F.col("transition_count").cast("long").alias("n")
    )
    assert _rows(tier_global, ["from_state", "to_state", "n"]) == _rows(
        direct, ["from_state", "to_state", "n"]
    )

    # 4. spell conservation: total spell-turns at every tier == total turns
    n_turns = raw.count()
    for tier in ("rollup_1m", "rollup_1h", "rollup_1d"):
        tot = (
            spark.read.parquet(f"{out}/{tier}/spells")
            .agg(F.sum("dur_sum"))
            .first()[0]
        )
        assert tot == n_turns, tier

    # 5. Gorilla chunks decode back to the exact tier points (bit-exact)
    from sequenzo_spark.compression.gorilla import gorilla_decompress_chunks

    chunks = spark.read.parquet(f"{out}/gorilla/chunks").filter(
        F.col("tier") == "1h"
    )
    assert chunks.count() > 0
    back = gorilla_decompress_chunks(
        chunks,
        key_cols=["tier", "conv_bucket", "state", "part_date"],
        value_col="value",
    ).select("conv_bucket", "state", F.col("ts").alias("time_bucket"), "value")
    want = got_1h.select("conv_bucket", "state", "time_bucket", "w_sum")
    assert _rows(back, ["conv_bucket", "state", "time_bucket", "value"]) == _rows(
        want, ["conv_bucket", "state", "time_bucket", "w_sum"]
    )

    # 6. second run skips everything (full resume)
    res2 = run_cascade(
        spark, raw, out, states=ROLE_ALPHABET, salt_buckets=SALT, job_id="j1"
    )
    assert all(res2.partitions_done[s] == 0 for s in res2.stages_run)
    assert sum(res2.partitions_skipped.values()) > 0


def test_kill_and_resume_identical_output(spark, raw, tmp_path):
    clean_out = str(tmp_path / "clean")
    run_cascade(
        spark, raw, clean_out, states=ROLE_ALPHABET, salt_buckets=SALT,
        job_id="clean",
    )

    crash_out = str(tmp_path / "crash")
    with pytest.raises(InjectedFailure):
        run_cascade(
            spark, raw, crash_out, states=ROLE_ALPHABET, salt_buckets=SALT,
            job_id="crash", batch_buckets=1, batch_dates=1,
            fail_after_batches=3,
        )
    # resume: must complete and must skip the committed partitions
    res = run_cascade(
        spark, raw, crash_out, states=ROLE_ALPHABET, salt_buckets=SALT,
        job_id="crash", batch_buckets=1, batch_dates=1,
    )
    assert sum(res.partitions_skipped.values()) >= 3

    # outputs identical to the clean one-shot run, bit-exactly
    for table in (
        "encode",
        "rollup_1m/state_counts", "rollup_1m/transitions", "rollup_1m/spells",
        "rollup_1h/state_counts", "rollup_1h/transitions", "rollup_1h/spells",
        "rollup_1d/state_counts", "rollup_1d/transitions", "rollup_1d/spells",
        "gorilla/chunks",
    ):
        a = spark.read.parquet(f"{clean_out}/{table}")
        b = spark.read.parquet(f"{crash_out}/{table}")
        cols = sorted(a.columns)
        assert _rows(a, cols) == _rows(b, cols), table

    # manifest has per-partition lineage rows with metrics
    m = Manifest(spark, f"{crash_out}/_manifest").stats("crash")
    rows = m.collect()
    assert all(r.rows_out >= 0 and r.wall_ms >= 0 for r in rows)
    assert {r.stage for r in rows} == {"encode", "rollup_1m", "rollup_1h1d"}


def test_failed_batch_leaves_no_persisted_rdds(spark, tmp_path, monkeypatch):
    """A batch that fails before its commit still releases what it
    persisted: the 1m enriched frame and the repartitioned outputs."""
    import sequenzo_spark.rollup.cascade as cascade

    def fail(*_args):
        raise RuntimeError("metrics failed")

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    small = generate_transcripts(spark, n_convs=10, seed=5)
    before = persisted()
    monkeypatch.setattr(cascade, "partition_metrics", fail)
    with pytest.raises(RuntimeError, match="metrics failed"):
        run_cascade(
            spark, small, str(tmp_path / "failed"), states=ROLE_ALPHABET,
            salt_buckets=SALT, job_id="jf",
        )
    assert persisted() <= before


def test_cascade_empty_input(spark, raw, tmp_path):
    """Empty transcripts: the min/max-ts encode-batch derivation returns
    (None, None) — the cascade must run zero encode batches (and zero rows
    everywhere downstream), not raise on None.date()."""
    out = str(tmp_path / "cascade_empty")
    empty = raw.filter("1 = 0")
    res = run_cascade(
        spark, empty, out, states=ROLE_ALPHABET, salt_buckets=SALT, job_id="je"
    )
    assert all(v == 0 for v in res.rows_out.values())


def test_compress_flag_is_config_drift(spark, raw, tmp_path):
    """Gorilla chunk output commits with the fused rollup_1h1d batches, so
    resuming a compress=False run with compress=True would silently skip
    chunk output for already-committed batches — the config check must
    refuse instead (round-5 advisor finding)."""
    out = str(tmp_path / "cascade_drift")
    run_cascade(
        spark, raw, out, states=ROLE_ALPHABET, salt_buckets=SALT,
        job_id="jc", compress=False,
    )
    with pytest.raises(ValueError, match="config drift"):
        run_cascade(
            spark, raw, out, states=ROLE_ALPHABET, salt_buckets=SALT,
            job_id="jc", compress=True,
        )
