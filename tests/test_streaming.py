"""Streaming 1m tier == batch 1m tier on the same input (availableNow file
source, deterministic); streamed 1m merges to the cascade's 1h tier; the
stateful spell tracker == the batch spell table across micro-batches."""

import os
from datetime import datetime, timedelta
from pyspark.sql import functions as F

from sequenzo_spark.rollup.aggregates import (
    merge_tier,
    rollup_1m_fused,
    with_conv_bucket,
)
from sequenzo_spark.schema import ROLE_ALPHABET, TRANSCRIPT_SCHEMA
from sequenzo_spark.session import release_caches
from sequenzo_spark.streaming.rollup_stream import streaming_state_counts_1m
from sequenzo_spark.synth import generate_transcripts

SALT = 4


def test_streaming_matches_batch_1m(spark, tmp_path):
    src = str(tmp_path / "turns")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    raw = generate_transcripts(spark, n_convs=30, seed=5)
    raw.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    agg = streaming_state_counts_1m(stream, salt_buckets=SALT, state_col="role")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    _enriched, tables = rollup_1m_fused(
        with_conv_bucket(raw, buckets=SALT).withColumn("state", F.col("role"))
    )
    want = tables["state_counts"]
    # append mode only emits windows closed by the watermark; the tail of
    # the stream stays in state. Compare on the emitted keys.
    emitted = {
        (r.conv_bucket, r.time_bucket, r.state): (r.n_turns, r.w_sum)
        for r in got.collect()
    }
    expected = {
        (r.conv_bucket, r.time_bucket, r.state): (r.n_turns, r.w_sum)
        for r in want.collect()
    }
    release_caches()
    assert len(emitted) > 0
    for k, v in emitted.items():
        assert expected[k] == v, k
    # coverage: the watermark tail is bounded (≤ watermark span of buckets)
    assert len(emitted) >= len(expected) * 0.5


def test_streaming_spell_tracker_matches_batch_closed_spells(spark, tmp_path):
    """Stateful spell tracking (applyInPandasWithState): every CLOSED spell
    the stream emits must equal the batch spell table's row for that spell;
    only each conversation's final (still-open) spell may be withheld."""
    from sequenzo_spark.operators.spells import spell_table
    from sequenzo_spark.streaming.rollup_stream import streaming_spell_tracker

    src = str(tmp_path / "turns2")
    out = str(tmp_path / "spells_out")
    ckpt = str(tmp_path / "spells_ckpt")
    raw = generate_transcripts(spark, n_convs=25, seed=9)
    raw.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    spells = streaming_spell_tracker(stream)
    q = (
        spells.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out)
    want = spell_table(
        raw.select(
            F.col("conv_id").alias("seq_id"),
            F.col("turn_idx").alias("pos"),
            F.col("role").alias("state"),
        )
    )
    emitted = {
        (r.seq_id, r.spell_id): (r.state, r.duration, r.pos_start, r.pos_end)
        for r in got.filter(F.col("closed")).collect()
    }
    expected = {
        (r.seq_id, r.spell_id): (r.state, r.duration, r.pos_start, r.pos_end)
        for r in want.collect()
    }
    assert len(emitted) > 0
    for k, v in emitted.items():
        assert expected[k] == v, (k, v, expected.get(k))
    # every non-final spell of every conversation must have been emitted
    finals = {
        r.seq_id: r.spell_id
        for r in want.groupBy("seq_id").agg(
            F.max("spell_id").alias("spell_id")
        ).collect()
    }
    missing = [
        k for k in expected
        if k not in emitted and k[1] != finals[k[0]]
    ]
    assert missing == [], missing


def test_streaming_spell_tracker_all_null_states_no_phantom(spark, tmp_path):
    """A conversation whose turns are ALL null-state must emit no spell rows
    at all — round-2 advisor: storing last_state=None caused the event-time
    timeout to flush a phantom NULL spell with duration 0."""
    from sequenzo_spark.streaming.rollup_stream import streaming_spell_tracker

    src = str(tmp_path / "turns_null")
    out = str(tmp_path / "null_out")
    ckpt = str(tmp_path / "null_ckpt")
    rows = [
        ("cnull", i, None, "t", None, f"2024-01-01 00:{i:02d}:00")
        for i in range(3)
    ] + [
        # a normal conversation far in the future so the watermark advances
        # well past cnull's timeout window
        ("cok", 0, "user", "t", None, "2024-01-02 00:00:00"),
        ("cok", 1, "assistant", "t", None, "2024-01-02 00:01:00"),
        ("cok", 2, "user", "t", None, "2024-01-02 12:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_s string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    spells = streaming_spell_tracker(stream, timeout_minutes=1)
    q = (
        spells.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    assert all(r.seq_id != "cnull" for r in got), got
    assert all(r.state is not None for r in got), got


def _run_stream(frame, path, ckpt, timeout_s):
    q = (
        frame.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return q


def test_streamed_1m_merges_to_cascade_1h_tier(spark, tmp_path):
    """1h/1d merges do not care whether 1m rows came from batch or stream:
    streamed 1m state counts merged to 1h equal the cascade's 1h tier bit
    for bit on every hour before the last emitted one (that hour may still
    have minutes held back by the watermark)."""
    from sequenzo_spark.rollup.cascade import run_cascade

    src = str(tmp_path / "turns")
    raw = generate_transcripts(spark, n_convs=30, seed=13, giant_conv_turns=200)
    raw.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    _run_stream(
        streaming_state_counts_1m(stream, salt_buckets=SALT),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        120,
    )
    run_cascade(
        spark, raw, str(tmp_path / "cascade"), states=ROLE_ALPHABET,
        salt_buckets=SALT, job_id="s",
    )

    def keyed(df):
        return {
            (r.conv_bucket, r.time_bucket, r.state): (r.n_turns, r.w_sum)
            for r in df.collect()
        }

    streamed = spark.read.parquet(str(tmp_path / "out"))
    got = keyed(merge_tier(streamed, "state_counts", "1h"))
    want = keyed(
        spark.read.parquet(str(tmp_path / "cascade/rollup_1h/state_counts"))
    )
    last = max(k[1] for k in got)
    got = {k: v for k, v in got.items() if k[1] < last}
    want = {k: v for k, v in want.items() if k[1] < last}
    assert len(got) >= 10
    assert got == want


def test_streaming_spell_tracker_spans_micro_batches(spark, tmp_path):
    """Four files, one per micro-batch (maxFilesPerTrigger=1): spells and
    null runs that cross a micro-batch boundary must come out as the batch
    spell table has them (LOCF through nulls, leading nulls dropped)."""
    from sequenzo_spark.operators.spells import spell_table
    from sequenzo_spark.streaming.rollup_stream import streaming_spell_tracker

    # micro-batch k reads file k: the turns with ts in [20k, 20k + 20) min
    hand = {
        # A spans files 0-1 and absorbs a null; B spans files 1-3 through a
        # null run that itself crosses the file 2/3 boundary
        "hand-a": (
            ["user", "user", "user", None, "tool", "tool", "tool", None, None,
             "user", "system", "system"],
            [0, 0, 1, 1, 1, 2, 2, 2, 3, 3, 3, 3],
        ),
        # a leading null run across the file 0/1 boundary forms no spell
        "hand-b": (
            [None, None, None, "user", "user", "tool", "tool", "tool"],
            [0, 0, 1, 1, 2, 2, 3, 3],
        ),
    }
    t0 = datetime(2024, 1, 1)
    rows = [
        (cid, i, s, "t", None, t0 + timedelta(minutes=20 * f + i))
        for cid, (states, files) in hand.items()
        for i, (s, f) in enumerate(zip(states, files))
    ]
    synth = generate_transcripts(spark, n_convs=12, seed=21).withColumn(
        "role",
        F.when(F.abs(F.xxhash64("conv_id", "turn_idx")) % 5 == 0, None)
        .otherwise(F.col("role")),
    )
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    turns = spark.createDataFrame(rows, schema).unionByName(synth)
    file_of = F.least(
        F.floor((F.unix_timestamp("ts") - F.unix_timestamp(F.lit(t0))) / 1200),
        F.lit(3),
    )
    src = tmp_path / "turns"
    src.mkdir()
    for k in range(4):
        stage = str(tmp_path / f"stage{k}")
        turns.filter(file_of == k).coalesce(1).write.parquet(stage)
        (part,) = [f for f in os.listdir(stage) if f.endswith(".parquet")]
        path = str(src / f"part-{k}.parquet")
        os.rename(os.path.join(stage, part), path)
        # the file source reads the oldest file first
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "spells_out")
    q = _run_stream(
        streaming_spell_tracker(stream), out, str(tmp_path / "ckpt"), 180
    )
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == 4

    got = spark.read.parquet(out).filter(F.col("closed"))
    emitted = {
        (r.seq_id, r.spell_id): (r.state, r.duration, r.pos_start, r.pos_end)
        for r in got.collect()
    }
    want = spell_table(
        turns.select(
            F.col("conv_id").alias("seq_id"),
            F.col("turn_idx").alias("pos"),
            F.col("role").alias("state"),
        )
    ).collect()
    expected = {
        (r.seq_id, r.spell_id): (r.state, r.duration, r.pos_start, r.pos_end)
        for r in want
    }
    finals = {}
    for seq_id, spell_id in expected:
        finals[seq_id] = max(finals.get(seq_id, 0), spell_id)
    # every spell but each conversation's open last one, exactly
    assert emitted == {k: v for k, v in expected.items() if k[1] != finals[k[0]]}
    assert emitted[("hand-a", 1)] == ("user", 4, 0, 3)
    assert emitted[("hand-a", 2)] == ("tool", 5, 4, 8)
    assert emitted[("hand-b", 1)] == ("user", 2, 3, 4)
