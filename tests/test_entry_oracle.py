"""Mimics the driver's correctness gate: run every queries() entry at
sf0.01 and compare against its oracle_sql() twin via DuckDB (row count +
column names + order-insensitive values)."""

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tests.conftest import SF_ORACLE_DIR  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_ORACLE_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.4f}"
    if isinstance(v, bool):
        return str(int(v))
    if v is None:
        return ""
    return str(v)


def _multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)


ORACLES = entrymod.oracle_sql()
ALL_QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(ALL_QUERIES))
def test_query_vs_oracle(spark, duck, name):
    q = ALL_QUERIES[name]
    sdf = q(spark, SF_ORACLE_DIR)
    srows = sdf.collect()
    scols = sdf.columns
    if name not in ORACLES:
        assert len(srows) >= 0  # rows-only check for non-SQL-expressible ops
        return
    ores = duck.execute(ORACLES[name])
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()
    assert sorted(scols) == sorted(ocols), f"{name}: column mismatch"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} != {len(orows)}"
    sm = _multiset([[r[c] for c in scols] for r in srows], scols)
    om = _multiset(orows, ocols)
    mism = [(a, b) for a, b in zip(sm, om) if a != b]
    assert sm == om, f"{name}: value mismatch, first diffs: {mism[:3]}"


def test_nodequery_has_releases_node_table(spark):
    """The cached node table is unpersisted once the counts are computed:
    Spark's cache manager is empty after the query's rows are collected."""
    spark.catalog.clearCache()
    rows = entrymod.q_nodequery_has(spark, SF_ORACLE_DIR).collect()
    assert rows
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(50).collect()
    assert len(rows) > 0
    assert set(df.columns) == {"doc_id", "pos", "kind", "text", "media_ref"}
