"""Structured Streaming front-end for the 1m tier.

The batch reference is batch-only (SURVEY.md §2.10); this is the engine's
forward path: a streaming source of transcript turns feeds the SAME 1m
continuous aggregate (per-bucket per-state counts) through tumbling
``window()`` aggregation with a watermark bounding turn lateness. The sink
is an append-mode parquet tier directory compatible with the batch cascade's
1m table, and ``merge_tier`` takes it to 1h/1d as it does the batch 1m
files: streamed 1m rows merged to 1h equal the cascade's 1h tier bit for bit
(tests/test_streaming.py::test_streamed_1m_merges_to_cascade_1h_tier).

Null states follow the engine's one missing-state policy, written in
``operators/spells.py``: the state counts skip them, and the spell tracker
forward-fills over them (leading nulls open no spell), as ``spell_table``
and the cascade's 1m spells do.

Tested with the file source + ``Trigger.AvailableNow`` (deterministic, no
wall-clock dependence); in production the source is Kafka/Iceberg CDC and
the trigger is processingTime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sequenzo_spark.rollup.aggregates import merge, units, with_conv_bucket


def streaming_state_counts_1m(
    turns_stream: DataFrame,
    watermark: str = "10 minutes",
    state_col: str = "role",
    ts_col: str = "ts",
    salt_buckets: int = 32,
) -> DataFrame:
    """Streaming per-(conv_bucket, 1m window, state) counts.

    The batch 1m merge with a tumbling ``window()`` as its bucket, because
    append mode needs a watermarked window key. Watermark = max tolerated
    turn lateness: a 1m bucket finalizes once the event-time high-water mark
    passes bucket_end + watermark, at which point the append-mode sink emits
    exactly one immutable row per key — the same algebraic shape the batch
    cascade writes."""
    turns = with_conv_bucket(
        turns_stream.withWatermark(ts_col, watermark)
        .filter(F.col(state_col).isNotNull())
        .withColumn("state", F.col(state_col)),
        buckets=salt_buckets,
    )
    minute = F.window(F.col(ts_col), "1 minute")
    counts = merge(
        units(turns, "state_counts"), "state_counts", minute, ["conv_bucket"]
    )
    return counts.withColumn("time_bucket", F.col("time_bucket.start"))


def streaming_spell_tracker(
    turns_stream: DataFrame,
    watermark: str = "10 minutes",
    seq_col: str = "conv_id",
    order_col: str = "turn_idx",
    state_col: str = "role",
    ts_col: str = "ts",
    timeout_minutes: int = 30,
):
    """Custom stateful streaming operator: incremental spell (run-length)
    tracking per conversation via ``applyInPandasWithState``.

    The batch spell table (operators/spells.py — seqdss/seqdur semantics)
    needs the whole conversation in one window partition; a stream cannot
    wait for conversation end. This operator keeps ONE tiny state row per
    live conversation (last state, current spell id/start/length, max seen
    turn_idx) and emits a spell row whenever a state CHANGE closes a run;
    the still-open final spell is emitted when the conversation times out
    (event-time timeout = conversation considered finished).

    Arrow-batched per group, and no per-row Python: the run boundaries of a
    micro-batch's turns come from one numpy change mask. Emitted columns
    match the batch spell table: seq_id, spell_id, state, duration,
    pos_start, pos_end (+ closed flag: false = timeout flush of an open
    spell).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from sequenzo_spark import ensure_workers_can_import

    ensure_workers_can_import(turns_stream.sparkSession)

    out_schema = (
        "seq_id string, spell_id int, state string, duration int, "
        "pos_start int, pos_end int, closed boolean"
    )
    state_schema = (
        "last_state string, spell_id int, pos_start int, pos_end int, "
        "duration int"
    )

    columns = [
        "seq_id", "spell_id", "state", "duration", "pos_start", "pos_end",
        "closed",
    ]

    def track(key, pdfs, state: GroupState):
        (seq_id,) = key
        if state.hasTimedOut:
            rows = []
            if state.exists:
                ls, sid, p0, p1, dur = state.get
                rows.append((seq_id, sid, ls, dur, p0, p1, False))
                state.remove()
            yield pd.DataFrame(rows, columns=columns)
            return
        turns = pd.concat(list(pdfs)).sort_values(order_col)
        if state.exists:
            ls, sid, p0, p1, dur = state.get
        else:
            ls, sid, p0, p1, dur = None, 0, None, None, 0
        # LOCF seeded by the carried state (seqdur.pyx:19-20 semantics); a
        # conversation's leading null turns belong to no spell.
        s = turns[state_col].ffill()
        if ls is not None:
            s = s.fillna(ls)
        keep = s.notna().to_numpy()
        v = s.to_numpy(dtype=object)[keep]
        pos = turns[order_col].to_numpy()[keep]
        prev = np.concatenate([np.array([ls], dtype=object), v[:-1]])
        starts = np.flatnonzero(v != prev)
        ends = np.append(starts, len(v))[1:]
        head = starts[0] if len(starts) else len(v)
        spells = {
            "spell_id": sid + 1 + np.arange(len(starts)),
            "state": v[starts],
            "duration": ends - starts,
            "pos_start": pos[starts],
            "pos_end": pos[ends - 1],
        }
        if ls is not None:
            # the carried spell runs on through the rows before the first
            # change
            carried = (sid, ls, dur + head, p0, pos[head - 1] if head else p1)
            spells = {
                c: np.concatenate([[x], a])
                for (c, a), x in zip(spells.items(), carried)
            }
        # The last spell stays open in the state. Skip state creation until a
        # non-null state is seen: a micro-batch of only null-state turns
        # would otherwise store last_state=None and the timeout would flush
        # a phantom NULL spell (duration 0).
        if len(spells["state"]):
            sid, ls, dur, p0, p1 = (a[-1] for a in spells.values())
            state.update((ls, int(sid), int(p0), int(p1), int(dur)))
            state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + timeout_minutes * 60_000
            )
        closed = {c: a[:-1] for c, a in spells.items()}
        yield pd.DataFrame(
            {"seq_id": seq_id, **closed, "closed": True}, columns=columns
        )

    return (
        turns_stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(seq_col))
        .applyInPandasWithState(
            track,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
