"""Per-partition checkpoint lineage — the resumability backbone.

A manifest table (FIXTURES.md §5) records one row per (job, stage,
partition, table) the moment that partition's output is durably written.
A restarted job reads the manifest and processes only partitions with no
row (the left-anti-join skip, SURVEY.md §3.4) — completed work is never
recomputed.

Storage here is an append-only parquet directory (each commit = one new
file, which is atomic-enough on a local FS and maps 1:1 onto an Iceberg
`append` snapshot in production — this sandbox ships no Iceberg runtime
jars, so the table format is parquet with the same commit protocol). Both
the commit and the resume lookup (``completed``) run on the driver with
pyarrow; ``stats`` returns the rows as a Spark DataFrame for analysis.

Checksums are order-independent (bit_xor of ``row_hash``, a per-row
xxhash64), so two runs at different parallelism produce comparable lineage.
The cascade takes each partition's ``rows_out`` and checksum from
observations on the write itself (rollup/cascade.py); ``partition_metrics``
is the same definition as a grouped aggregate over any frame.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("table", T.StringType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("checksum", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("committed_at", T.TimestampType(), False),
    ]
)


class Manifest:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _files(self) -> list[str]:
        """The committed lineage files. Like Spark's reader, skip names that
        start with "." or "_": an in-flight commit's ``.tmp-*`` file is not
        lineage until its rename."""
        if not os.path.isdir(self.path):
            return []
        return sorted(
            os.path.join(self.path, n)
            for n in os.listdir(self.path)
            if not n.startswith((".", "_"))
        )

    def completed(self, job_id: str, stage: str) -> set[str]:
        """Partition keys already committed for (job, stage), read on the
        driver with pyarrow (no Spark job). A partition counts as complete
        only when ALL its tables are present — the commit writes them
        together, so presence of any row implies all."""
        import pyarrow as pa
        import pyarrow.dataset as ds

        files = self._files()
        if not files:
            return set()
        keys = pa.schema(
            [(c, pa.string()) for c in ("job_id", "stage", "partition_key")]
        )
        rows = ds.dataset(files, schema=keys, format="parquet").to_table(
            columns=["partition_key"],
            filter=(ds.field("job_id") == job_id) & (ds.field("stage") == stage),
        )
        return set(rows.column("partition_key").to_pylist())

    def commit(self, rows: list[dict]) -> None:
        """Append one parquet file with the batch's lineage rows.

        Written DRIVER-SIDE with pyarrow (temp file + atomic rename — the
        same append-snapshot protocol), not as a Spark job: a manifest
        commit is a handful of rows, and a Spark job per commit added ~1 s
        of pure scheduling latency to EVERY stage of the cascade."""
        if not rows:
            return
        import uuid
        from datetime import datetime, timezone

        import pyarrow as pa
        import pyarrow.parquet as pq

        now = datetime.fromtimestamp(time.time(), tz=timezone.utc).replace(
            tzinfo=None
        )
        table = pa.table(
            {
                "job_id": pa.array([r["job_id"] for r in rows], pa.string()),
                "stage": pa.array([r["stage"] for r in rows], pa.string()),
                "partition_key": pa.array(
                    [r["partition_key"] for r in rows], pa.string()
                ),
                "table": pa.array([r["table"] for r in rows], pa.string()),
                "rows_out": pa.array(
                    [int(r["rows_out"]) for r in rows], pa.int64()
                ),
                "checksum": pa.array(
                    [r.get("checksum") for r in rows], pa.int64()
                ),
                "wall_ms": pa.array(
                    [int(r["wall_ms"]) for r in rows], pa.int64()
                ),
                "committed_at": pa.array([now] * len(rows), pa.timestamp("us")),
            }
        )
        os.makedirs(self.path, exist_ok=True)
        tmp = f"{self.path}/.tmp-{uuid.uuid4().hex}.parquet"
        final = f"{self.path}/part-{uuid.uuid4().hex}.parquet"
        pq.write_table(table, tmp)
        os.rename(tmp, final)

    def stats(self, job_id: str | None = None) -> DataFrame | None:
        """The manifest rows as a Spark DataFrame, or None before the first
        commit creates the directory. Any other read error propagates."""
        if not os.path.isdir(self.path):
            return None
        df = self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)
        return df.filter(F.col("job_id") == job_id) if job_id else df


def row_hash(df: DataFrame) -> Column:
    """The checksum's per-row term: xxhash64 over all of ``df``'s columns in
    their order. A partition's checksum is the bit_xor of it over the
    partition's rows."""
    return F.xxhash64(*df.columns)


def partition_metrics(df: DataFrame, *part_cols: str) -> DataFrame:
    """Per-partition rows ``n`` and order-independent checksum ``cs``, one
    aggregation keyed by ``part_cols``."""
    return df.groupBy(*part_cols).agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(row_hash(df)).alias("cs")
    )
