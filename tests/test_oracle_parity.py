"""Replicates the driver's correctness gate locally: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet tables
(sf0.01) and compare row count, column names, and order-insensitive values.
Queries without an oracle, and entry(), are held to pinned (rows, digest)
pairs in tests/data/no_oracle_digests.json (perfbench.workloads.digest_rows).
"""

from __future__ import annotations

import json
import math
from pathlib import Path

import duckdb
import pytest

from perfbench.workloads import digest_rows
from tests.conftest import SF_ORACLE, TABLES

DIGESTS = json.loads(
    (Path(__file__).parent / "data" / "no_oracle_digests.json").read_text())


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    return v


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


@pytest.fixture(scope="module")
def qmod():
    import __spark_entry__ as e

    return e


@pytest.mark.spark
def test_all_queries_match_oracle(spark, qmod):
    con = _duck(SF_ORACLE)
    failures = []
    pinned = DIGESTS["queries_sf0.01"]
    no_oracle = []
    for name, fn in qmod.queries().items():
        sql = qmod.oracle_sql().get(name)
        sdf = fn(spark, SF_ORACLE)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        if sql is None:
            no_oracle.append(name)
            got = list(digest_rows(srows, scols))
            if got != pinned.get(name):
                failures.append(f"{name}: (rows, digest) {got} != pinned {pinned.get(name)}")
            continue
        rel = con.sql(sql)
        dcols = rel.columns
        drows = rel.fetchall()
        if sorted(scols) != sorted(dcols):
            failures.append(f"{name}: columns {sorted(scols)} != {sorted(dcols)}")
            continue
        if len(srows) != len(drows):
            failures.append(f"{name}: rows {len(srows)} != {len(drows)}")
            continue
        a = _normalize(srows, scols)
        b = _normalize(drows, dcols)
        if a != b:
            diff_a = [r for r in a if r not in set(b)][:3]
            diff_b = [r for r in b if r not in set(a)][:3]
            failures.append(f"{name}: values differ; spark-only={diff_a} duck-only={diff_b}")
    if sorted(no_oracle) != sorted(pinned):
        failures.append(f"no-oracle queries {sorted(no_oracle)} != pinned {sorted(pinned)}")
    assert not failures, "\n".join(failures)


@pytest.mark.spark
def test_entry_smoke(spark, qmod):
    df = qmod.entry(spark)
    rows = df.collect()
    assert isinstance(df.columns, list) and len(df.columns) > 0
    assert list(digest_rows(rows, df.columns)) == DIGESTS["entry_sf0.001"]
