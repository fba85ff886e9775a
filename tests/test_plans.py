"""Physical-plan quality gates: the optimizations the 100TB design relies on
must be visible in the plan (SURVEY.md §4), so regressions fail loudly.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


@pytest.mark.spark
def test_pip_join_broadcasts_boxes(spark):
    from resolve_overlap_and_gap_spark.plans import queries as Q

    plan = _plan(Q.q_pip_join(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.spark
def test_cell_count_prunes_columns(spark):
    from resolve_overlap_and_gap_spark.plans import queries as Q

    plan = _plan(Q.q_cell_count(spark, SF_SMOKE))
    # only the key column is read from the 6-column orders table
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas, plan
    for ln in schemas:
        assert "ReadSchema: struct<o_orderkey:bigint>" in ln, ln


@pytest.mark.spark
def test_box_overlaps_no_cartesian(spark):
    from resolve_overlap_and_gap_spark.plans import queries as Q

    plan = _plan(Q.q_box_overlaps(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # the join key is the covering cell -> hash-partitioned equi-join
    assert "cell_id" in plan


@pytest.mark.spark
def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").where("o_orderkey = 42")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]" in plan or (
        "PushedFilters" in plan and "EqualTo(o_orderkey,42)" in plan
    )

@pytest.mark.spark
def test_banded_joins_no_nested_loop(spark):
    """dwithin_geo / interval_count / pip_polygon plan as shuffle or
    broadcast HASH joins on band/bucket/cell keys — never a nested-loop or
    cartesian join (the inequality-join trap these operators exist to avoid)."""
    from resolve_overlap_and_gap_spark.plans import queries as Q

    for q in (Q.q_dwithin_geo, Q.q_interval_count, Q.q_pip_polygon, Q.q_asof_join):
        plan = _plan(q(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__


def test_bench_queries_subset_of_registry():
    """Every bench.py suite entry must exist in the driver registry, and
    every oracle must have a query — guards bench/registry drift."""
    import bench
    from resolve_overlap_and_gap_spark.plans import queries as Q

    qs, osql = Q.queries(), Q.oracle_sql()
    missing = [n for n in bench.BENCH_QUERIES if n not in qs]
    assert not missing, f"bench entries without a registry query: {missing}"
    orphans = [n for n in osql if n not in qs]
    assert not orphans, f"oracles without a query: {orphans}"


def test_session_memo_is_per_application(monkeypatch):
    """The registry's one session memo: the same application gets the
    same object back without rebuilding; a second application rebuilds,
    and storing it evicts the first application's entries."""
    from types import SimpleNamespace

    from resolve_overlap_and_gap_spark.plans import queries as Q

    monkeypatch.setattr(Q, "_MEMO", {})  # leave the session's memos alone

    def app(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    builds = []

    def build():
        builds.append(object())
        return builds[-1]

    a, b = app("memo-test-a"), app("memo-test-b")
    first = Q._session_memo(a, ("k",), build)
    assert Q._session_memo(a, ("k",), build) is first
    assert len(builds) == 1
    second = Q._session_memo(b, ("k",), build)
    assert second is not first and len(builds) == 2
    assert all(k[0] == "memo-test-b" for k in Q._MEMO)
    assert Q._session_memo(a, ("k",), build) is not first
    assert len(builds) == 3
