"""SparkSession factory tuned for the rollup engine.

Defaults target the sandbox (single JVM, local[N]) but every setting is the
one you would ship to a 1000-executor cluster: AQE on (runtime coalescing +
skew-join splitting), Arrow on (all custom kernels are pandas/Arrow UDFs,
never per-row Python), shuffle partitions sized to the parallelism level.

The session also owns the engine's one cache registry: every frame the
operators, the driver queries and the cascade persist goes through
:func:`persist`, and :func:`release_caches` unpersists them all.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_LIVE_CACHES: list[DataFrame] = []


def get_spark(
    app_name: str = "sequenzo-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` controls local parallelism (``local[cores]``); the bench harness
    runs the identical job at two levels (e.g. 8 and 32) to evidence the
    N-vs-4N scaling-efficiency criterion in BASELINE.md.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # one shuffle partition per core by default: at sandbox scale extra
        # partitions are pure scheduling overhead; at cluster scale this is
        # overridden (or left to AQE coalescing from a higher initial value).
        shuffle_partitions = max(cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash joins when the per-partition
        # build side fits (guide §3.1/§9): sort-merge pays an extra sort on
        # both sides; measured neutral-to-better across the query suite
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pandas.convertToArrowArraySafely", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for :func:`release_caches`."""
    df = df.persist()
    _LIVE_CACHES.append(df)
    return df


def build_caches() -> None:
    """Build every registered frame now, one after another (a noop write
    each), so that the queries reading them afterwards find them built."""
    for df in list(_LIVE_CACHES):
        df.write.format("noop").mode("overwrite").save()


def release_caches() -> int:
    """Unpersist every frame :func:`persist` registered since the last
    release and return their number. Plans that still reference a released
    frame simply recompute it. ``list.pop`` is atomic, so threads may
    release concurrently."""
    n = 0
    while True:
        try:
            df = _LIVE_CACHES.pop()
        except IndexError:
            return n
        df.unpersist()
        n += 1
