"""Emulates the driver's correctness gate locally: every queries() entry with
an oracle must match the DuckDB result on the same parquet — row count,
column names, and exact values after name-sorting columns and row-sorting.

Runs at sf0.001 for speed (the driver uses sf0.01; same code path).
"""

import duckdb
import pandas as pd
import pytest

from sequenzo_spark.driver_queries import ORACLE_SQL, QUERIES
from sequenzo_spark.session import release_caches

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_query_matches_oracle(name, spark, duck):
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    got_raw = QUERIES[name](spark, SF_DIR).toPandas()
    # the one release name drains whatever the query persisted
    release_caches()
    assert persisted() <= before, f"{name}: persisted RDDs left over"
    want_raw = duck.execute(ORACLE_SQL[name]).df()
    got, want = _normalize(got_raw), _normalize(want_raw)
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    )
    # dtype KIND must agree pre-normalization: the driver's value hash
    # distinguishes int 150 from float 150.0 (the round-1 spell_stats red
    # cell was exactly a DuckDB HUGEINT→float64 vs Spark int64 mismatch that
    # dtype-coercing comparison masked).
    for c in got.columns:
        gk = got_raw[sorted(got_raw.columns)][c].dtype.kind
        wk = want_raw[sorted(want_raw.columns)][c].dtype.kind
        gk = "i" if gk in "iu" else gk
        wk = "i" if wk in "iu" else wk
        assert gk == wk, f"{name}.{c}: dtype kind {gk} != oracle {wk}"
    assert len(got) == len(want), f"{name}: {len(got)} rows != {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_exact=True, check_dtype=False)


def test_all_queries_have_oracle_or_reason():
    missing = set(QUERIES) - set(ORACLE_SQL)
    # documented rows-only checks (non-SQL-expressible / probabilistic).
    # Round 4 oracle-ized simhash (portable md5 variant), lsh_cosine_topk
    # and ann_batch_topk (hyperplanes embedded as SQL literals).
    assert missing <= {
        "turbulence",           # subsequence-count DP
        "turbulence_norm",      # subsequence-count DP (normalized)
        "minhash_lsh_candidates",  # engine-specific hash + probabilistic
    }, missing
