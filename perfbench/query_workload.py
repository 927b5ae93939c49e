"""`seq_queries` workload: a pass over driver queries, one per layer.

The queries read the fixed `events` and `documents` tables in `data/`, a
copy of the repository's sf0.01 test tables, so the seed does not change
the input. Set-up runs one untimed warm-up pass, all five queries at once,
one thread each. A timed pass runs each query in `SEQ_QUERIES` once, in
order: `QUERIES[name](spark, data_dir).toPandas()`, then the four `release_*`
cache releases that `bench.py` also calls (outside the query's time).
Each query's row count and order-independent checksum must match the
warm-up pass; the first timed pass is also compared with the DuckDB oracle.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("events", "documents")

# query -> the module whose public function it calls; one query per module,
# so each q.<query>_s is that module's time
SEQ_QUERIES = {
    "transition_rates": "operators.transitions",
    "prefix_divergence_topp": "operators.prefix_tree",
    "suffix_convergence_topp": "operators.suffix_tree",
    "top_sequences": "functions.seqops",
    "minhash_verified_pairs": "pipeline.dedup",
}

LAYER_METRICS = {
    **{f"q.{q}_s": "s" for q in SEQ_QUERIES},
    "seq_queries.spark_jobs_per_pass": "count",
    "seq_queries.persisted_after_query": "count",
    "seq_queries.shuffle_write_bytes": "B",
    "seq_queries.spill_bytes": "B",
    "seq_queries.gc_s": "s",
    "seq_queries.task_skew": "ratio",
}


def _release_caches() -> None:
    from sequenzo_spark.operators.prefix_tree import release_prefix_caches
    from sequenzo_spark.operators.subsequences import release_stats_caches
    from sequenzo_spark.operators.suffix_tree import release_suffix_caches
    from sequenzo_spark.pipeline.dedup import release_sig_caches

    release_sig_caches()
    release_stats_caches()
    release_prefix_caches()
    release_suffix_caches()


def _checksum(df) -> tuple[int, int]:
    """(rows, order-independent checksum) of a result frame."""
    import pandas as pd

    h = pd.util.hash_pandas_object(df.astype(str), index=False)
    return len(df), int(h.sum()) if len(df) else 0


def _normalize(df):
    """Name-sorted columns, canonical dtypes, row-sorted: the comparison of
    tests/test_driver_oracle_parity.py."""
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def oracle_mismatch(got_raw, want_raw) -> str | None:
    import pandas as pd

    got, want = _normalize(got_raw), _normalize(want_raw)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    for c in got.columns:
        gk, wk = got_raw[c].dtype.kind, want_raw[c].dtype.kind
        gk, wk = ("i" if k in "iu" else k for k in (gk, wk))
        if gk != wk:
            return f"{c}: dtype kind {gk} != oracle {wk}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_exact=True, check_dtype=False)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


class QueryWorkload:
    spark_conf: dict[str, str] = {}
    nominal_op_s = 8.0

    def op_s(self, walls: list[float]) -> float:
        """The end-to-end `op_s`: a pass assembled from each query's median
        over the timed passes, so one slow query in one pass does not move it."""
        return sum(
            statistics.median(p[n] for p in self.passes if n in p) for n in SEQ_QUERIES
        )

    def __init__(self, work: str, seed: int, tracer):
        self.data = DATA
        self.tracer = tracer
        self.attempted = self.failed = 0
        self.persisted_max = 0
        self.passes: list[dict[str, float]] = []
        self.reference: dict[str, tuple[int, int]] = {}
        self.first_results: dict = {}
        self.warmup_wall = 0.0

    def setup(self, spark, stats) -> None:
        import pyarrow.parquet as pq

        self.stats = stats
        self.input_rows = {
            t: pq.read_metadata(f"{self.data}/{t}.parquet").num_rows for t in TABLES
        }
        # the warm-up runs the queries at once, one thread each: a cold
        # query is mostly single-threaded class loading and JIT compilation,
        # which the threads spread over the cores the task slots leave idle
        from sequenzo_spark.driver_queries import QUERIES

        names = list(SEQ_QUERIES)
        with self.tracer.span("seq_queries.warmup"):
            t0 = time.perf_counter()
            with ThreadPoolExecutor(max_workers=len(names)) as pool:
                dfs = list(pool.map(
                    lambda n: QUERIES[n](spark, self.data).toPandas(), names
                ))
            _release_caches()
            self.warmup_wall = time.perf_counter() - t0
        self.reference = {n: _checksum(df) for n, df in zip(names, dfs)}

    def _run_query(self, spark, name: str):
        from sequenzo_spark.driver_queries import QUERIES

        t0 = time.perf_counter()
        with self.tracer.span(f"q.{name}", module=SEQ_QUERIES[name]):
            df = QUERIES[name](spark, self.data).toPandas()
        wall = time.perf_counter() - t0
        _release_caches()
        self.persisted_max = max(
            self.persisted_max, spark.sparkContext._jsc.getPersistentRDDs().size()
        )
        return df, wall

    def op(self, spark, i: int) -> float:
        times: dict[str, float] = {}
        with self.tracer.span("seq_queries.pass"):
            for name in SEQ_QUERIES:
                self.attempted += 1
                try:
                    df, times[name] = self._run_query(spark, name)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    self.failed += 1
                    continue
                got = _checksum(df)
                if got != self.reference[name]:
                    print(f"seq_queries: {name} pass {i} (rows, checksum) {got} "
                          f"!= warm-up {self.reference[name]}", file=sys.stderr)
                    self.failed += 1
                elif name not in self.first_results:
                    self.first_results[name] = df
        self.passes.append(times)
        return sum(times.values())

    def check(self, spark) -> None:
        """Once per run: the first timed result of every oracled query
        against ORACLE_SQL run by DuckDB on the same parquet files."""
        import duckdb

        from sequenzo_spark.driver_queries import ORACLE_SQL

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )
        for name, got in self.first_results.items():
            if name not in ORACLE_SQL:
                continue
            with self.tracer.span(f"check.oracle.{name}"):
                try:
                    msg = oracle_mismatch(got, con.execute(ORACLE_SQL[name]).df())
                except Exception as e:  # noqa: BLE001
                    msg = f"raised {e!r}"
            if msg:
                print(f"seq_queries: {name} differs from the oracle: {msg}",
                      file=sys.stderr)
                self.failed += 1
        con.close()

    def counts(self) -> dict:
        return {
            "input_rows": self.input_rows,
            "result_rows": {q: r for q, (r, _) in self.reference.items()},
            "pass_query_s": [{q: round(t, 3) for q, t in p.items()} for p in self.passes],
        }

    def layer_metrics(self, spark) -> dict:
        med = statistics.median
        q = {n: med(p[n] for p in self.passes if n in p) for n in SEQ_QUERIES}
        m = {f"q.{n}_s": (v, "s") for n, v in q.items()}
        m.update({
            "seq_queries.spark_jobs_per_pass": (med(self.stats.jobs), "count"),
            "seq_queries.persisted_after_query": (self.persisted_max, "count"),
        })
        return m
