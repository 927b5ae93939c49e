"""Cascade: bit-exact tier merges, boundary-safe windows, text passthrough,
write-time lineage equal to a read-back of the tables, and kill→resume
without recomputation of committed partitions."""

import pytest
from pyspark.sql import functions as F

from sequenzo_spark.checkpoint.manifest import Manifest, partition_metrics
from sequenzo_spark.rollup.cascade import (
    PART_COLS,
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


TABLES = (
    "encode",
    "rollup_1m/state_counts", "rollup_1m/transitions", "rollup_1m/spells",
    "rollup_1h/state_counts", "rollup_1h/transitions", "rollup_1h/spells",
    "rollup_1d/state_counts", "rollup_1d/transitions", "rollup_1d/spells",
    "gorilla/chunks",
)


@pytest.fixture(scope="module")
def j1(spark, raw, tmp_path_factory):
    """One full cascade over ``raw``: (out_root, result)."""
    out = str(tmp_path_factory.mktemp("j1") / "cascade")
    res = run_cascade(
        spark, raw, out, states=ROLE_ALPHABET, salt_buckets=SALT, job_id="j1"
    )
    return out, res


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_cascade_end_to_end(spark, raw, j1):
    out, res = j1
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
    for table in TABLES:
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
    """A batch that fails after its write but before its lineage commit
    still releases what it persisted: the 1m enriched frame, or the 1h
    frames and the cached 1m state counts. Nothing of the failed stage is
    committed."""
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    small = generate_transcripts(spark, n_convs=10, seed=5)
    commit = Manifest.commit
    for stage in ("rollup_1m", "rollup_1h1d"):
        def failing_commit(m, rows, stage=stage):
            if rows and rows[0]["stage"] == stage:
                raise RuntimeError("commit failed")
            commit(m, rows)

        out = str(tmp_path / stage)
        before = persisted()
        monkeypatch.setattr(Manifest, "commit", failing_commit)
        with pytest.raises(RuntimeError, match="commit failed"):
            run_cascade(
                spark, small, out, states=ROLE_ALPHABET, salt_buckets=SALT,
                job_id="jf",
            )
        monkeypatch.setattr(Manifest, "commit", commit)
        assert persisted() <= before, stage
        assert Manifest(spark, f"{out}/_manifest").completed("jf", stage) == set()


def test_manifest_rows_equal_a_read_back_of_every_table(spark, j1):
    """Each manifest row's (rows_out, checksum), taken from observations on
    the write, equals ``partition_metrics`` over the table read back, with
    the columns re-selected in the order they were written."""
    out, _res = j1

    def write_order(table, cols):
        data = [c for c in cols if c not in PART_COLS]
        if table == "encode":
            i = data.index("state")  # the keys are added before the states
            return data[:i] + PART_COLS + data[i:]
        if table == "gorilla/chunks":  # the chunk key leads
            return [data[0], "conv_bucket", data[1], "part_date", *data[2:]]
        return ["conv_bucket", *data, "part_date"]

    lineage = {}
    for r in Manifest(spark, f"{out}/_manifest").stats("j1").collect():
        table = "encode" if r.stage == "encode" else (
            r.table if "/" in r.table else f"rollup_1m/{r.table}"
        )
        lineage[(table, r.partition_key)] = (r.rows_out, r.checksum)
    got = {}
    for table in TABLES:
        back = spark.read.parquet(f"{out}/{table}").withColumn(
            "part_date", F.col("part_date").cast("string")
        )
        back = back.select(*write_order(table, back.columns))
        for r in partition_metrics(back, *PART_COLS).collect():
            got[(table, f"{r.conv_bucket}/{r.part_date}")] = (r.n, r.cs)
    assert {t for t, _k in lineage} == set(TABLES)
    assert all(cs is not None for _n, cs in lineage.values())
    assert lineage == got


def test_empty_day_commits_no_encode_row(spark, tmp_path):
    """A calendar day without turns between two busy ones runs as an
    encode batch but commits no manifest row."""
    def day(d, tag):
        return generate_transcripts(
            spark, n_convs=8, seed=5, base_ts=f"{d} 10:00:00"
        ).withColumn("conv_id", F.concat(F.lit(tag), "conv_id"))

    out = str(tmp_path / "gap")
    res = run_cascade(
        spark, day("2024-01-01", "a").unionByName(day("2024-01-03", "c")),
        out, states=ROLE_ALPHABET, salt_buckets=SALT, job_id="jg",
        batch_dates=1,
    )
    assert res.partitions_done["encode"] == 3
    committed = Manifest(spark, f"{out}/_manifest").completed("jg", "encode")
    assert {k.split("/")[1] for k in committed} == {"2024-01-01", "2024-01-03"}


def test_completed_ignores_an_in_flight_commit(spark, tmp_path):
    """A commit writes a hidden ``.tmp-*`` file, then renames it. Until
    the rename, its rows are not lineage."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    m = Manifest(spark, str(tmp_path / "_manifest"))
    assert m.completed("j", "encode") == set()

    def row(key):
        return dict(job_id="j", stage="encode", partition_key=key,
                    table="encoded_turns", rows_out=1, checksum=None, wall_ms=0)

    m.commit([row("0/2024-01-01")])
    stray = pa.Table.from_pylist([row("1/2024-01-01")])
    pq.write_table(stray, str(tmp_path / "_manifest" / ".tmp-stray.parquet"))
    assert m.completed("j", "encode") == {"0/2024-01-01"}
    assert m.completed("j", "rollup_1m") == set()
    assert m.completed("other", "encode") == set()


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
