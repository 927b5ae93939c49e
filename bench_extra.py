"""Extra benchmarks for the optimization rounds (bench.py is frozen).

Usage:
  python bench_extra.py time  [query ...]   # per-query noop-sink wall times
  python bench_extra.py plans [query ...]   # write explain("formatted") to
                                            # plans/<tag>/<query>_<suffix>.txt
  python bench_extra.py both  [query ...]

Env:
  SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     cores (default 32)
  PLAN_TAG             plans subdir (default r06)
  PLAN_SUFFIX          file suffix: before|after (default before)
  N_RUNS               timed runs per query (default 2; min reported)

Per guide §1.4 every timing uses the noop sink so the computation, not the
sink, is measured; §1.5 every job is labelled.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TAG = os.environ.get("PLAN_TAG", "r06")
SUFFIX = os.environ.get("PLAN_SUFFIX", "before")
N_RUNS = int(os.environ.get("N_RUNS", "2"))


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:]

    from sequenzo_spark import get_spark
    from sequenzo_spark.driver_queries import QUERIES
    from sequenzo_spark.session import release_caches

    spark = get_spark("bench-extra", cores=CPUS, shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    todo = names or list(QUERIES)

    times: dict[str, float] = {}
    for name in todo:
        fn = QUERIES[name]
        if mode in ("plans", "both"):
            os.makedirs(f"{REPO}/plans/{TAG}", exist_ok=True)
            df = fn(spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(f"{REPO}/plans/{TAG}/{name}_{SUFFIX}.txt", "w") as f:
                f.write(plan)
            release_caches()
        if mode in ("time", "both"):
            per = []
            for i in range(N_RUNS):
                spark.sparkContext.setJobDescription(f"{name} run{i}")
                t0 = time.time()
                fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
                per.append(round(time.time() - t0, 3))
                release_caches()
            spark.sparkContext.setJobDescription(None)
            times[name] = min(per)
            print(f"{name}: {per} -> {min(per)}", file=sys.stderr)
    if times:
        print(json.dumps({"sf_dir": SF_DIR, "queries": times}))
    spark.stop()


if __name__ == "__main__":
    main()
