"""Local twin of the driver's correctness gate: each queries() entry vs its
DuckDB oracle at sf0.01 — row count, column names, order-insensitive values.

``SPARK_GRAFT_SF_DIR`` (also read by bench.py) points the sweep at another
scale factor, e.g. ``SPARK_GRAFT_SF_DIR=<testdata>/sf0.1 python -m pytest
tests/test_entry_oracle.py``."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TESTDATA = os.path.dirname(SF_DIR)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR)
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, int):
        return f"{float(v):.9g}"
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())


def test_every_oracle_key_has_query():
    qs = entrymod.queries()
    missing = [k for k in ORACLE_KEYS if k not in qs]
    assert not missing


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row counts {len(srows)} vs {len(drows)}"
    a, b = _canon(srows, scols), _canon(drows, dcols)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_rows_only_queries_run(spark):
    qs = entrymod.queries()
    for name in set(qs) - set(ORACLE_KEYS):
        df = qs[name](spark, SF_DIR)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"doc_id", "score", "rank"} <= set(df.columns)


@pytest.mark.parametrize("name", ["bm25_topk", "field_query"])
def test_bm25_plan_shape(spark, name):
    """Round-6 shape (plans/r06/bm25_topk_after.txt): scoring reads the
    tokenize-once checkpoint with array functions (no explode) and ranks
    with a heap (TakeOrderedAndProject), never a full sort."""
    sdf = entrymod.queries()[name](spark, os.path.join(TESTDATA, "sf0.001"))
    plan = sdf._sc._jvm.PythonSQLUtils.explainString(sdf._jdf.queryExecution(), "formatted")
    assert "Scan ExistingRDD" in plan and "localCheckpoint" in plan, plan
    assert "Generate" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
