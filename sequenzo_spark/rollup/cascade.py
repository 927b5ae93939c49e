"""The resumable raw→1m→1h→1d downsample cascade.

Stage graph (SURVEY.md §3.4):

  transcripts ─encode→ encoded_turns ─rollup_1m→ {state_counts, transitions,
  spells}@1m ─rollup_1h1d→ …@1h AND …@1d (fused: one stage computes the 1h
  merge from the 1m files and the 1d merge from the in-memory 1h frames;
  the on-disk rollup_1h/ and rollup_1d/ trees are unchanged)

Partitioning / batching / resume design:

- Every table is written partitioned by (conv_bucket, part_date) — the north
  rule's salted, skew-aware (conv_id bucket, time bucket) key. Dynamic
  partition overwrite makes re-running a half-written batch idempotent.
- The ENCODE stage batches by part_date (row-local work, no windows).
- The RAW→1M stage batches by **conv_bucket**, NOT by date: every
  conversation lives in exactly one bucket, so lead/lag and spell windows
  always see the complete sequence — a conversation spanning midnight loses
  no transitions and no spell is split (batching by date would corrupt
  both). Partition pruning on conv_bucket keeps each batch's scan narrow.
- The 1M→1H and 1H→1D stages batch by part_date again: tier merges are
  per-time-bucket algebraic re-aggregations (aggregates.py), and minute
  buckets never straddle a day boundary.
- Resume: each stage left-anti-joins its batch keys against the manifest
  (checkpoint/manifest.py) and recomputes only missing ones. The manifest
  row is committed strictly AFTER the data write, so a crash leaves either
  (data+lineage) or (partial data, no lineage → overwritten on rerun).
- Lineage rides the write: every table of every stage goes through one
  observed write (``write_one`` in ``run_stage``). Its observation returns
  ``rows_out`` and the checksum of each (conv_bucket, part_date) partition
  the write produced, so there is no persist of the outputs, no separate
  metrics job and no read-back, and encode is checksummed like the tiers.
- Higher tiers read the lower tier's WRITTEN FILES, never the raw data.

At 100 TB: `batch_*` bounds per-job input; salt_buckets spreads giant
conversations; each rollup is one partial+final hash aggregation whose
grouping key prefixes the write partition key, so no second shuffle before
the write. AQE handles residual skew within a batch.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from sequenzo_spark.checkpoint.manifest import Manifest, row_hash
from sequenzo_spark.ingest import encode_states, refined_alphabet_col
from sequenzo_spark.rollup.aggregates import (
    TABLES,
    merge_tier,
    rollup_1m_fused,
    with_conv_bucket,
)
from sequenzo_spark.session import persist, release_caches

PART_COLS = ["conv_bucket", "part_date"]


@dataclass
class CascadeResult:
    job_id: str
    stages_run: list[str] = field(default_factory=list)
    partitions_done: dict[str, int] = field(default_factory=dict)
    partitions_skipped: dict[str, int] = field(default_factory=dict)
    rows_out: dict[str, int] = field(default_factory=dict)
    wall_ms: dict[str, int] = field(default_factory=dict)

    @property
    def total_rows_out(self) -> int:
        return sum(self.rows_out.values())


class InjectedFailure(RuntimeError):
    pass


def _chunk(xs: list, size: int | None):
    if not size:
        yield xs
        return
    for i in range(0, len(xs), size):
        yield xs[i : i + size]


def _dated(df: DataFrame) -> DataFrame:
    """A tier frame plus its part_date write key."""
    return df.withColumn("part_date", F.to_date("time_bucket").cast("string"))


def _list_part_dates(path: str) -> list[str]:
    """Distinct part_date partition values from the DIRECTORY LISTING —
    zero Spark jobs, no data scan (Iceberg metadata tables give the same at
    cluster scale). Layout: path/conv_bucket=*/part_date=*."""
    import glob
    import os

    vals = {
        os.path.basename(d).split("=", 1)[1]
        for d in glob.glob(os.path.join(path, "conv_bucket=*", "part_date=*"))
    }
    return sorted(vals)


def _check_job_config(
    spark: SparkSession,
    out_root: str,
    job_id: str,
    salt_buckets: int,
    states: list[str],
    use_refined: bool,
    compress: bool,
) -> None:
    """Refuse to resume a job whose partitioning/alphabet config drifted —
    a different salt_buckets would silently mix two incompatible bucketings
    in the same tables (caught live by a verification probe). ``compress``
    is part of the config because Gorilla chunk output commits with the
    fused rollup_1h1d batches: resuming a compress=False run with
    compress=True (or vice versa) would silently skip chunk output for the
    already-committed batches (round-5 advisor finding)."""
    import json
    import os

    path = f"{out_root}/_job_config.json"
    cfg = dict(
        job_id=job_id,
        salt_buckets=salt_buckets,
        states=list(states),
        use_refined_alphabet=use_refined,
        compress=bool(compress),
    )
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        # configs written before the compress key existed ran with the
        # default; fill it in so legacy out_roots stay resumable
        prev.setdefault("compress", True)
        if prev != cfg:
            raise ValueError(
                f"job config drift for out_root={out_root}: previous run used "
                f"{prev}, this run requests {cfg}; use a fresh out_root or "
                "delete the old tables"
            )
    else:
        os.makedirs(out_root, exist_ok=True)
        with open(path, "w") as f:
            json.dump(cfg, f)


def run_cascade(
    spark: SparkSession,
    transcripts: DataFrame,
    out_root: str,
    states: list[str],
    job_id: str = "cascade",
    salt_buckets: int = 32,
    state_col: str = "role",
    use_refined_alphabet: bool = False,
    batch_dates: int | None = None,
    batch_buckets: int | None = None,
    resume: bool = True,
    fail_after_batches: int | None = None,
    compress: bool = True,
    encode_dates: list[str] | None = None,
) -> CascadeResult:
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    _check_job_config(
        spark, out_root, job_id, salt_buckets, states, use_refined_alphabet,
        compress,
    )
    manifest = Manifest(spark, f"{out_root}/_manifest")
    res = CascadeResult(job_id=job_id)
    failures_left = [fail_after_batches]

    def run_stage(
        stage: str,
        batch_keys: list,
        batch_filter,  # (df, batch) -> df
        build,  # (sub, batch) -> dict table -> DataFrame with PART_COLS
        src: DataFrame,
        batch_size: int | None,
    ):
        # manifest rows are per fine (conv_bucket/part_date) partition; a
        # batch key is done iff any of its fine keys committed (they commit
        # atomically together, after the data write).
        done = (
            {_batch_of(stage, k) for k in manifest.completed(job_id, stage)}
            if resume
            else set()
        )
        remaining = [k for k in batch_keys if str(k) not in done]
        res.stages_run.append(stage)
        res.partitions_skipped[stage] = len(batch_keys) - len(remaining)
        res.partitions_done[stage] = 0
        res.rows_out[stage] = 0
        t_stage = time.time()

        def run_batch(batch):
            t0 = time.time()
            sub = batch_filter(src, batch)
            outputs = build(sub, batch)

            def _path_of(tname):
                # a "/" in the table name addresses a path relative to
                # out_root directly — the fused 1h+1d stage uses this to
                # keep the on-disk tier layout (rollup_1h/…, rollup_1d/…)
                # identical to the unfused cascade's
                if "/" in tname:
                    return f"{out_root}/{tname}"
                return (
                    f"{out_root}/{stage}/{tname}"
                    if len(outputs) > 1
                    else f"{out_root}/{stage}"
                )

            def write_one(tname, tdf):
                """Write one table and take its manifest rows from the write
                itself: a window over each (conv_bucket, part_date) the
                write produces gives its rows_out and checksum, and the
                observation collects one row per partition. No persist, no
                second job and no read-back; per row the cost does not grow
                with the number of partitions."""
                obs = Observation()
                part = Window.partitionBy(*PART_COLS)
                # one task per (cb, date) dir → one file each, instead of
                # every task spraying a small file into every dir; the
                # window's sort by the partition columns is the sort the
                # partitioned write needs anyway
                (
                    tdf.repartition(*PART_COLS)
                    .select("*", row_hash(tdf).alias("_h"))
                    .select(
                        *tdf.columns,
                        F.count(F.lit(1)).over(part).alias("_n"),
                        F.bit_xor("_h").over(part).alias("_cs"),
                    )
                    .observe(
                        obs,
                        F.collect_set(F.struct(*PART_COLS, "_n", "_cs")).alias("parts"),
                    )
                    .drop("_n", "_cs")
                    .write.mode("overwrite")
                    .partitionBy(*PART_COLS)
                    .parquet(_path_of(tname))
                )
                return tname, [
                    (f"{r['conv_bucket']}/{r['part_date']}", r["_n"], r["_cs"])
                    for r in obs.get["parts"]
                ]

            # the tables' writes are independent: submit them concurrently
            # so the scheduler interleaves them
            with ThreadPoolExecutor(max_workers=len(outputs)) as pool:
                results = list(pool.map(write_one, outputs, outputs.values()))
            wall = int((time.time() - t0) * 1000)
            commit_rows: list[dict] = []
            for tname, metrics in results:
                for key, n, cs in metrics:
                    res.rows_out[stage] += n
                    commit_rows.append(
                        dict(
                            job_id=job_id,
                            stage=stage,
                            partition_key=key,
                            table=tname,
                            rows_out=n,
                            checksum=cs,
                            wall_ms=wall,
                        )
                    )
            manifest.commit(commit_rows)
            res.partitions_done[stage] += len(batch)
            if failures_left[0] is not None:
                failures_left[0] -= 1
                if failures_left[0] <= 0:
                    raise InjectedFailure(
                        f"injected failure after a committed batch in {stage}"
                    )

        for batch in _chunk(remaining, batch_size):
            if not batch:
                continue
            # the frames a batch persists (the 1m enriched frame, the 1h
            # frames) are released after it, also when it fails before its
            # commit
            try:
                run_batch(batch)
            finally:
                release_caches()
        res.wall_ms[stage] = int((time.time() - t_stage) * 1000)

    def _batch_of(stage: str, part_key: str) -> str:
        cb, date = part_key.split("/", 1)
        return cb if stage == "rollup_1m" else date

    # ---- stage: encode (batched by date; carries text unchanged) ---------
    enc_src = with_conv_bucket(transcripts, buckets=salt_buckets).withColumn(
        "part_date", F.to_date("ts").cast("string")
    )
    enc_src = enc_src.withColumn(
        "state",
        refined_alphabet_col() if use_refined_alphabet else F.col(state_col),
    )
    if encode_dates is None:
        # Batch list from ONE min/max-ts aggregate + driver-side calendar
        # expansion — a columnar partial-agg pass (parquet footer stats serve
        # it where available), NOT the previous distinct+shuffle over every
        # row. With an Iceberg/partitioned source, pass ``encode_dates`` from
        # partition metadata instead (the same zero-scan mechanism the tier
        # stages use via _list_part_dates). Calendar days with no rows cost
        # one empty no-op batch each.
        import datetime as _dt

        lo, hi = transcripts.agg(F.min("ts"), F.max("ts")).first()
        if lo is None:
            # Empty input: min/max aggregate returns (None, None); run zero
            # encode batches (the previous distinct-collect path degraded the
            # same way) instead of raising on None.date().
            encode_dates = []
        else:
            d0, d1 = lo.date(), hi.date()
            encode_dates = [
                str(d0 + _dt.timedelta(days=i)) for i in range((d1 - d0).days + 1)
            ]
    enc_dates = sorted(str(x) for x in encode_dates)
    run_stage(
        "encode",
        enc_dates,
        lambda df, b: df.filter(F.col("part_date").isin([str(x) for x in b])),
        lambda sub, _b: {"encoded_turns": encode_states(sub, states, state_col="state")},
        enc_src,
        batch_dates,
    )

    if not enc_dates:
        # Empty input (or an explicit empty encode_dates): nothing was
        # written, so there is no encode/ directory for the tier stages to
        # read. Record the downstream stages as run-with-zero-rows.
        for stage in ["rollup_1m", "rollup_1h1d"]:
            res.stages_run.append(stage)
            res.partitions_skipped[stage] = 0
            res.partitions_done[stage] = 0
            res.rows_out[stage] = 0
            res.wall_ms[stage] = 0
        return res

    # ---- stage: rollup_1m — batched by conv_bucket (full conv context) ---
    encoded = spark.read.parquet(f"{out_root}/encode")

    def build_1m(sub: DataFrame, _batch):
        _enriched, tables = rollup_1m_fused(sub)
        return {name: _dated(df) for name, df in tables.items()}

    run_stage(
        "rollup_1m",
        list(range(salt_buckets)),
        lambda df, b: df.filter(F.col("conv_bucket").isin([int(x) for x in b])),
        build_1m,
        encoded,
        batch_buckets,
    )

    # ---- stage: rollup_1h1d — FUSED 1m→1h→1d merge (round-4) -------------
    # The 1h and 1d tiers were separate stages through round 3; each stage
    # carries a fixed driver cost (session scheduling, manifest commit) that
    # caps scaling efficiency once the per-level data work shrinks
    # (BENCH/BASELINE.md). A 1d bucket needs exactly one part_date of 1h
    # rows, so a date batch can compute BOTH tiers: 1h is aggregated from
    # the 1m files and persisted, because three consumers read it (its own
    # write, the 1d merge and the Gorilla points). The 1d merge reads the
    # persisted 1h FRAMES (in-memory lineage) instead of the 1h files.
    # On-disk layout is unchanged (path-style table names), so readers
    # (gorilla, queries, tests) see the same tree; both tiers' partitions
    # commit atomically per batch in the manifest.
    dates = _list_part_dates(f"{out_root}/rollup_1m/state_counts")

    def build_1h1d(_sub, batch):
        days = [str(b) for b in batch]
        h_tables = {}
        for tname in TABLES:
            low = spark.read.parquet(f"{out_root}/rollup_1m/{tname}").filter(
                F.col("part_date").cast("string").isin(days)
            )
            if compress and tname == "state_counts":
                # the 1m state_counts frame feeds BOTH the 1h merge and the
                # gorilla point union — cache it so the batch scans the 1m
                # parquet once instead of twice
                low = low_sc = persist(low)
            h_tables[tname] = persist(_dated(merge_tier(low, tname, "1h")))
        out = {f"rollup_1h/{t}": df for t, df in h_tables.items()}
        for tname, h in h_tables.items():
            out[f"rollup_1d/{tname}"] = _dated(merge_tier(h, tname, "1d"))
        if compress:
            # ---- fused gorilla chunking (round-5) ------------------------
            # Through round 4 this was a separate stage that RE-READ all
            # three tier tables from disk (another full 1m scan + shuffle
            # plus a stage's fixed driver cost — the fixed floor is what
            # caps scaling efficiency, BENCH/BASELINE.md). The batch already
            # holds every input in memory: 1m state_counts (cached above),
            # the persisted 1h frames, and the 1d frames — so one Gorilla
            # chunk per (tier, conv_bucket, state, day) is built here and
            # commits atomically with the tiers it encodes. Stored blobs
            # are the tiers' durable point format (north rule);
            # decompression is bit-exact (compression/gorilla.py).
            from sequenzo_spark.compression.gorilla import (
                gorilla_compress_chunks,
            )

            def _pts(df, tier):
                return df.select(
                    F.lit(tier).alias("tier"),
                    "conv_bucket",
                    "state",
                    F.col("part_date").cast("string").alias("part_date"),
                    F.col("time_bucket").alias("ts"),
                    F.col("w_sum").alias("value"),
                )

            pts = (
                _pts(low_sc, "1m")
                .unionByName(_pts(h_tables["state_counts"], "1h"))
                .unionByName(_pts(out["rollup_1d/state_counts"], "1d"))
            )
            out["gorilla/chunks"] = gorilla_compress_chunks(
                pts,
                key_cols=["tier", "conv_bucket", "state", "part_date"],
                ts_col="ts",
                value_col="value",
            )
        return out

    run_stage(
        "rollup_1h1d",
        dates,
        lambda df, b: df,  # build() reads + prunes the lower tier itself
        build_1h1d,
        None,
        batch_dates,
    )

    return res


def text_passthrough_violations(
    raw: DataFrame, encoded_turns: DataFrame
) -> int:
    """Per-turn text equality under stable (conv_id, turn_idx, ts) ordering:
    symmetric anti-join count — must be 0 (BASELINE.md invariant)."""
    key = ["conv_id", "turn_idx", "ts", "text"]
    a = raw.select(*key)
    b = encoded_turns.select(*key)
    return a.exceptAll(b).count() + b.exceptAll(a).count()
