"""Benchmark entry point.

    python3 perfbench/run.py --workload cascade|seq_queries --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. One process, one SparkSession on
local[2], one caller: each timed operation starts after the previous one
ends (closed loop). Set-up (session start, input staging, a fixed warm-up)
is reported as `setup_s`; the timed loop then runs a fixed number of
operations that takes about `--seconds` on a 4-core box. Output checks run
after the timed loop. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(`--trace 0`) or the per-layer metrics (`--trace 1`). See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# two task threads on a 4-core box leave room for the JIT compiler, GC and
# Python worker threads, so a busy neighbour slows a run less
CORES = 2
DRIVER_MEM = "3g"


def _session(work: str, workload: str, traced: bool, extra: dict[str, str]):
    from sequenzo_spark import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        **extra,
    }
    if traced:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{work}/eventlog",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        f"perfbench-{workload}", cores=CORES, shuffle_partitions=CORES,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children_of(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def _stop(spark) -> None:
    """Stop the session, the gateway JVM and its Python workers; wait for all."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    workers = _children_of(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 15
    while workers and time.time() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)


def _cpu_ticks() -> list[int]:
    """The box's aggregate CPU tick counters (user ... steal), or [] off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def _box_load(t0: list[int], t1: list[int]) -> dict:
    """Share of the box's CPU time that was stolen by the hypervisor and
    that was busy, between two `_cpu_ticks` readings."""
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d)
    if len(d) < 8 or total <= 0:
        return {}
    return {"steal": d[7] / total, "busy": 1 - (d[3] + d[4]) / total}


SHARED_LAYER_METRICS = {
    "session.start_s": "s",
    "session.cold_pass_extra_s": "s",
    "trace.op_s": "s",
}


def layer_catalogue() -> dict[str, str]:
    """Every per-layer metric of every workload, name -> unit."""
    import cascade_workload
    import query_workload

    return {
        **SHARED_LAYER_METRICS,
        **cascade_workload.LAYER_METRICS,
        **query_workload.LAYER_METRICS,
    }


def run(args) -> int:
    sys.path.insert(0, ROOT)
    import sparkstats
    from spans import Tracer

    if args.workload == "cascade":
        from cascade_workload import CascadeWorkload as W
    else:
        from query_workload import QueryWorkload as W

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    tracer = Tracer(enabled=bool(args.trace))
    wl = W(work=work, seed=args.seed, tracer=tracer)

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = _session(work, args.workload, bool(args.trace), wl.spark_conf)
    session_start_s = time.perf_counter() - t0
    try:
        stats = sparkstats.OpStats(spark)
        with tracer.span(f"{args.workload}.setup"):
            wl.setup(spark, stats)
        setup_s = time.perf_counter() - T_START

        # a fixed number of operations for a given --seconds, so every run,
        # traced or not, stops at the same point of the JVM's warm-up curve
        n_ops = max(1, int(args.seconds // wl.nominal_op_s))
        walls, windows = [], []
        ticks0 = _cpu_ticks()
        for i in range(n_ops):
            stats.mark(i)
            w0 = time.time()
            wall = wl.op(spark, i)
            windows.append((w0, time.time()))
            stats.record()
            walls.append(wall)
        box = _box_load(ticks0, _cpu_ticks())

        with tracer.span(f"{args.workload}.checks"):
            wl.check(spark)
        layer = wl.layer_metrics(spark) if args.trace else {}
    finally:
        _stop(spark)

    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "session_start_s": session_start_s, "setup_s": setup_s,
        "warmup_s": wl.warmup_wall, "op_walls_s": walls,
        "op_spark_jobs": stats.jobs, "op_gc_s": stats.gc_s,
        "persisted_max": wl.persisted_max, "counts": wl.counts(),
        "box_load_timed": box,
    }))
    if args.trace:
        med = statistics.median
        ev = sparkstats.event_log_stats(f"{work}/eventlog", windows)
        wk = args.workload
        layer.update({
            "session.start_s": (session_start_s, "s"),
            "session.cold_pass_extra_s": (wl.warmup_wall - wl.op_s(walls), "s"),
            "trace.op_s": (wl.op_s(walls), "s"),
            f"{wk}.gc_s": (med(stats.gc_s), "s"),
            f"{wk}.shuffle_write_bytes": (ev["shuffle_write_bytes"], "B"),
            f"{wk}.spill_bytes": (ev["spill_bytes"], "B"),
            f"{wk}.task_skew": (ev["task_skew"], "ratio"),
        })
        # a layer this workload never enters reads 0
        metrics = {
            name: layer.get(name, (0, unit)) for name, unit in layer_catalogue().items()
        }
        print(tracer.format_table())
        tracer.dump(os.path.join(WORK_ROOT, f"spans-{wk}-{args.seed}.json"))
    else:
        metrics = {
            "op_s": (wl.op_s(walls), "s"),
            "setup_s": (setup_s, "s"),
        }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["cascade", "seq_queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sequenzo_spark", "__init__.py")):
        print(
            f"perfbench: no sequenzo_spark package under {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    if os.environ.get("PYTHONHASHSEED") != "0":
        # a fixed string-hash seed keeps plan construction order identical
        # from process to process
        os.execve(sys.executable, [sys.executable, *sys.argv],
                  {**os.environ, "PYTHONHASHSEED": "0"})
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
