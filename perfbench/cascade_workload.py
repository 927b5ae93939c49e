"""`cascade` workload: the write path, then a read-back of what it wrote.

Set-up stages `generate_transcripts(seed=<seed>)` to parquet (one giant
conversation keeps the salted-skew path live) and runs one untimed warm-up
iteration. Each timed iteration runs `run_cascade(resume=False)` into a
fresh output dir (raw→1m→1h→1d + Gorilla chunks + manifest lineage), then
reads the written tiers back through the public derivations and the Gorilla
decoder, each to the noop sink.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

N_CONVS = 400
GIANT_TURNS = 300
SALT_BUCKETS = 4
JOB_ID = "perfbench"
CHUNK_KEYS = ["tier", "conv_bucket", "state", "part_date"]
READERS = (
    "rollup.derive_distribution",
    "rollup.derive_transition_rates",
    "rollup.derive_spell_stats",
    "gorilla.decompress",
)

LAYER_METRICS = {
    "cascade.turns_per_s": "1/s",
    "cascade.tier_read_s": "s",
    "cascade.stored_bytes_per_turn": "B",
    "cascade.encode_s": "s",
    "cascade.rollup_1m_s": "s",
    "cascade.rollup_1h1d_s": "s",
    "cascade.spark_jobs": "count",
    "cascade.partition_dirs": "count",
    "cascade.files_written": "count",
    "checkpoint.commit_s": "s",
    "checkpoint.commits": "count",
    "checkpoint.completed_s": "s",
    "gorilla.encode_points_per_s": "points/s",
    "gorilla.decode_points_per_s": "points/s",
    "gorilla.bytes_per_point": "B/point",
    **{f"{r}_s": "s" for r in READERS},
    "cascade.persisted_after_op": "count",
    "cascade.shuffle_write_bytes": "B",
    "cascade.spill_bytes": "B",
    "cascade.gc_s": "s",
    "cascade.task_skew": "ratio",
}


def _output_counts(it: dict) -> dict:
    """Partition dirs (leaf `k=v` dirs holding files), files, bytes and
    per-stage rows of one iteration's output."""
    dirs = files = size = 0
    for d, _sub, names in os.walk(it["out"]):
        if names and "=" in os.path.basename(d):
            dirs += 1
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return {
        "partition_dirs": dirs,
        "files_written": files,
        "stored_bytes": size,
        "rows_out": dict(it["res"].rows_out),
    }


class CascadeWorkload:
    spark_conf = {
        # the cascade's shipped bench configuration (sequenzo_spark.benchjob)
        "spark.io.compression.codec": "zstd",
        "spark.sql.parquet.compression.codec": "zstd",
    }
    nominal_op_s = 11.0

    def op_s(self, walls: list[float]) -> float:
        """The end-to-end `op_s`: median wall of a timed iteration."""
        return statistics.median(walls)

    def __init__(self, work: str, seed: int, tracer):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.attempted = self.failed = 0
        self.persisted_max = 0
        self.iters: list[dict] = []
        self.warmup_wall = 0.0
        self._commit = [0.0, 0]

    # ------------------------------------------------------------ set-up
    def setup(self, spark, stats) -> None:
        from sequenzo_spark.checkpoint.manifest import Manifest
        from sequenzo_spark.synth import generate_transcripts

        self.stats = stats
        if self.tracer.enabled:
            self._wrap_manifest(Manifest)
        src = f"{self.work}/transcripts"
        with self.tracer.span("synth.stage_transcripts"):
            generate_transcripts(
                spark, n_convs=N_CONVS, seed=self.seed,
                giant_conv_turns=GIANT_TURNS, partitions=4,
            ).write.mode("overwrite").parquet(src)
            self.transcripts = spark.read.parquet(src)
            self.n_turns = self.transcripts.count()
        with self.tracer.span("cascade.warmup"):
            t0 = time.perf_counter()
            warm = self._iteration(spark, f"{self.work}/out-warmup")
            self.warmup_wall = time.perf_counter() - t0
        # every timed iteration must write exactly what the warm-up wrote
        self.reference = _output_counts(warm)
        shutil.rmtree(warm["out"])

    def _wrap_manifest(self, Manifest) -> None:
        tracer, acc = self.tracer, self._commit
        commit, completed = Manifest.commit, Manifest.completed

        def traced_commit(m, rows):
            t0 = time.perf_counter()
            with tracer.span("checkpoint.commit"):
                commit(m, rows)
            acc[0] += time.perf_counter() - t0
            acc[1] += 1

        def traced_completed(m, job_id, stage):
            with tracer.span("checkpoint.completed"):
                return completed(m, job_id, stage)

        Manifest.commit = traced_commit
        Manifest.completed = traced_completed

    # -------------------------------------------------------- iteration
    def _readers(self, spark, out: str):
        from sequenzo_spark.compression.gorilla import gorilla_decompress_chunks
        from sequenzo_spark.rollup.aggregates import (
            derive_distribution,
            derive_spell_stats,
            derive_transition_rates,
        )
        from sequenzo_spark.schema import ROLE_ALPHABET

        rd = spark.read.parquet
        return dict(zip(READERS, (
            lambda: derive_distribution(
                rd(f"{out}/rollup_1h/state_counts"), n_states=len(ROLE_ALPHABET)
            ),
            lambda: derive_transition_rates(rd(f"{out}/rollup_1d/transitions")),
            lambda: derive_spell_stats(rd(f"{out}/rollup_1d/spells")),
            lambda: gorilla_decompress_chunks(
                rd(f"{out}/gorilla/chunks"), CHUNK_KEYS, "value"
            ),
        )))

    def _iteration(self, spark, out: str) -> dict:
        from sequenzo_spark.rollup.cascade import run_cascade
        from sequenzo_spark.schema import ROLE_ALPHABET

        self._commit[:] = [0.0, 0]
        ids0 = self.stats.job_ids()
        t0 = time.perf_counter()
        with self.tracer.span("rollup.cascade.run_cascade"):
            res = run_cascade(
                spark, self.transcripts, out, states=ROLE_ALPHABET,
                job_id=JOB_ID, salt_buckets=SALT_BUCKETS, resume=False,
            )
        it = {
            "out": out,
            "res": res,
            "cascade_s": time.perf_counter() - t0,
            "spark_jobs": len(self.stats.job_ids() - ids0),
            "commit_s": self._commit[0],
            "commits": self._commit[1],
            "read_s": {},
        }
        for name, make in self._readers(spark, out).items():
            t = time.perf_counter()
            with self.tracer.span(name):
                make().write.format("noop").mode("overwrite").save()
            it["read_s"][name] = time.perf_counter() - t
        it["wall"] = it["cascade_s"] + sum(it["read_s"].values())
        return it

    def op(self, spark, i: int) -> float:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("cascade.iteration"):
                it = self._iteration(spark, f"{self.work}/out-{i}")
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return time.perf_counter() - t0
        it["counts"] = _output_counts(it)
        if it["counts"] != self.reference:
            print(f"cascade: iteration {i} wrote {it['counts']}, "
                  f"the warm-up wrote {self.reference}", file=sys.stderr)
            self.failed += 1
        self.persisted_max = max(
            self.persisted_max, spark.sparkContext._jsc.getPersistentRDDs().size()
        )
        if self.iters:
            shutil.rmtree(self.iters[-1]["out"], ignore_errors=True)
        self.iters.append(it)
        return it["wall"]

    # ----------------------------------------------------------- checks
    def check(self, spark) -> None:
        """Output checks on the last iteration; a failure fails that op."""
        if not self.iters:
            return
        problems = []
        for name, fn in (
            ("gorilla_roundtrip", self._check_gorilla),
            ("w_sum_conserved", self._check_conservation),
            ("manifest_rows", self._check_manifest),
            ("text_passthrough", self._check_passthrough),
        ):
            with self.tracer.span(f"check.{name}"):
                try:
                    msg = fn(spark, self.iters[-1]["out"])
                except Exception as e:  # noqa: BLE001
                    msg = f"raised {e!r}"
            if msg:
                problems.append(f"{name}: {msg}")
        if problems:
            print("cascade checks failed: " + "; ".join(problems), file=sys.stderr)
            self.failed += 1

    def _points_1m(self, spark, out: str):
        """The 1m state_counts points, in chunk-key and ts order."""
        from pyspark.sql import functions as F

        return (
            spark.read.parquet(f"{out}/rollup_1m/state_counts")
            .select("conv_bucket", "state", F.col("time_bucket").alias("ts"),
                    F.col("w_sum").alias("value"))
            .toPandas()
            .sort_values(["conv_bucket", "state", "ts"], kind="mergesort")
            .reset_index(drop=True)
        )

    def _check_gorilla(self, spark, out: str) -> str | None:
        from pyspark.sql import functions as F

        from sequenzo_spark.compression.gorilla import gorilla_decompress_chunks

        want = self._points_1m(spark, out)
        chunks = spark.read.parquet(f"{out}/gorilla/chunks").filter(
            F.col("tier") == "1m"
        )
        got = (
            gorilla_decompress_chunks(chunks, CHUNK_KEYS, "value")
            .select("conv_bucket", "state", "ts", "value")
            .toPandas()
            .sort_values(["conv_bucket", "state", "ts"], kind="mergesort")
            .reset_index(drop=True)
        )
        if len(got) != len(want):
            return f"{len(got)} decoded points vs {len(want)} 1m rows"
        for c in ("conv_bucket", "state", "ts"):
            if not (got[c].to_numpy() == want[c].to_numpy()).all():
                return f"column {c} differs"
        gv = got["value"].to_numpy("float64").view("int64")
        wv = want["value"].to_numpy("float64").view("int64")
        if not (gv == wv).all():
            return "w_sum bits differ"
        return None

    def _check_conservation(self, spark, out: str) -> str | None:
        from pyspark.sql import functions as F

        sums = {}
        for tier in ("1m", "1h", "1d"):
            r = spark.read.parquet(f"{out}/rollup_{tier}/state_counts").agg(
                F.sum("w_sum"), F.sum("n_turns")
            ).first()
            sums[tier] = (r[0], r[1])
        if len(set(sums.values())) != 1:
            return f"per-tier (sum w_sum, sum n_turns) differ: {sums}"
        if sums["1m"][1] != self.n_turns:
            return f"{sums['1m'][1]} turns rolled up vs {self.n_turns} input"
        return None

    def _check_manifest(self, spark, out: str) -> str | None:
        from pyspark.sql import functions as F

        from sequenzo_spark.checkpoint.manifest import Manifest

        lineage = (
            Manifest(spark, f"{out}/_manifest").stats(JOB_ID)
            .groupBy("stage", "table").agg(F.sum("rows_out").alias("n"))
            .collect()
        )
        if not lineage:
            return "empty manifest"

        def path(r):
            if "/" in r["table"]:
                return f"{out}/{r['table']}"
            if r["stage"] == "encode":
                return f"{out}/encode"
            return f"{out}/{r['stage']}/{r['table']}"

        with ThreadPoolExecutor(max_workers=4) as pool:
            counts = list(pool.map(lambda r: spark.read.parquet(path(r)).count(), lineage))
        for r, n in zip(lineage, counts):
            if n != r["n"]:
                return f"{r['stage']}/{r['table']}: manifest {r['n']} rows, table {n}"
        return None

    def _check_passthrough(self, spark, out: str) -> str | None:
        from sequenzo_spark.rollup.cascade import text_passthrough_violations

        v = text_passthrough_violations(
            self.transcripts, spark.read.parquet(f"{out}/encode")
        )
        return f"{v} text passthrough violations" if v else None

    # ---------------------------------------------------------- metrics
    def counts(self) -> dict:
        return self.iters[-1]["counts"] if self.iters else {}

    def layer_metrics(self, spark) -> dict:
        med = statistics.median
        its = self.iters
        m = {
            f"cascade.{k}_s": (med(i["res"].wall_ms[k] / 1000 for i in its), "s")
            for k in ("encode", "rollup_1m", "rollup_1h1d")
        }
        c = its[-1]["counts"]
        m.update({
            "cascade.turns_per_s": (
                self.n_turns / med(i["cascade_s"] for i in its), "1/s"
            ),
            "cascade.tier_read_s": (med(sum(i["read_s"].values()) for i in its), "s"),
            "cascade.stored_bytes_per_turn": (c["stored_bytes"] / self.n_turns, "B"),
            "cascade.spark_jobs": (med(i["spark_jobs"] for i in its), "count"),
            "cascade.partition_dirs": (c["partition_dirs"], "count"),
            "cascade.files_written": (c["files_written"], "count"),
            "checkpoint.commit_s": (med(i["commit_s"] for i in its), "s"),
            "checkpoint.commits": (med(i["commits"] for i in its), "count"),
            "cascade.persisted_after_op": (self.persisted_max, "count"),
        })
        for r in READERS:
            m[f"{r}_s"] = (med(i["read_s"][r] for i in its), "s")
        m.update(self._codec_metrics(spark, its[-1]["out"]))
        # resume over a finished output: every batch is already in the
        # manifest, so this is the lineage lookup (`completed`) alone
        from sequenzo_spark.rollup.cascade import run_cascade
        from sequenzo_spark.schema import ROLE_ALPHABET

        with self.tracer.span("cascade.resume_noop"):
            run_cascade(
                spark, self.transcripts, its[-1]["out"], states=ROLE_ALPHABET,
                job_id=JOB_ID, salt_buckets=SALT_BUCKETS, resume=True,
            )
        done = self.tracer.table().get("checkpoint.completed", {}).get("total_s", 0.0)
        m["checkpoint.completed_s"] = (done, "s")
        return m

    def _codec_metrics(self, spark, out: str) -> dict:
        """Gorilla kernels timed in this process on the run's own 1m points."""
        from pyspark.sql import functions as F

        from sequenzo_spark.compression.gorilla import (
            decode_timestamps,
            decode_values,
            encode_timestamps,
            encode_values,
        )

        pts = self._points_1m(spark, out)
        groups = [
            (g["ts"].astype("datetime64[us]").astype("int64").to_numpy(),
             g["value"].to_numpy("float64"))
            for _, g in pts.groupby(
                ["conv_bucket", "state", pts["ts"].dt.floor("D")], sort=False
            )
        ]
        n = sum(len(t) for t, _ in groups)
        with self.tracer.span("gorilla.encode_kernels"):
            t0 = time.perf_counter()
            blobs = [(encode_timestamps(t), encode_values(v)) for t, v in groups]
            enc_s = time.perf_counter() - t0
        with self.tracer.span("gorilla.decode_kernels"):
            t0 = time.perf_counter()
            for (tb, tbits, k), (vb, vbits, _) in blobs:
                decode_timestamps(tb, tbits, k)
                decode_values(vb, vbits, k)
            dec_s = time.perf_counter() - t0
        tot = spark.read.parquet(f"{out}/gorilla/chunks").agg(
            F.sum("enc_bytes"), F.sum("n_points")
        ).first()
        return {
            "gorilla.encode_points_per_s": (n / enc_s, "points/s"),
            "gorilla.decode_points_per_s": (n / dec_s, "points/s"),
            "gorilla.bytes_per_point": (tot[0] / tot[1], "B/point"),
        }
