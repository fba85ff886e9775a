"""Tests for the interval join and the point-in-polygon join."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark.operators.rangejoin import interval_count_join


@pytest.mark.spark
def test_interval_count_join_matches_bruteforce(spark):
    t0 = dt.datetime(2024, 1, 1)
    probes = spark.createDataFrame(
        [(k % 3, k, t0 + dt.timedelta(days=k % 11)) for k in range(40)],
        "key long, probe_id long, t0 timestamp",
    )
    facts = spark.createDataFrame(
        [(i % 3, t0 + dt.timedelta(hours=7 * i)) for i in range(300)],
        "key long, ft timestamp",
    )
    got = {(r.key, r.probe_id, r.n_in_range)
           for r in interval_count_join(probes, facts, 7).collect()}
    brute = {
        (r.key, r.probe_id, r.n_in_range)
        for r in probes.join(facts, "key")
        .where((F.col("ft") >= F.col("t0"))
               & (F.col("ft").cast("double") < F.col("t0").cast("double") + 7 * 86400))
        .groupBy("key", "probe_id").agg(F.count("*").alias("n_in_range"))
        .collect()
    }
    assert got == brute
    assert len(brute) > 0


@pytest.mark.spark
def test_point_in_polygon_join_with_hole(spark):
    from resolve_overlap_and_gap_spark.geom import wkb
    from resolve_overlap_and_gap_spark.operators.pip import point_in_polygon_join

    shell = np.array([[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    hole = np.array([[4.0, 4.0], [6.0, 4.0], [6.0, 6.0], [4.0, 6.0]])
    donut = wkb.dump_polygon([shell, hole])
    polys = spark.createDataFrame([(1, bytearray(donut))], "bid long, geom binary")
    pts = spark.createDataFrame(
        [(1, 2.0, 2.0),   # inside shell
         (2, 5.0, 5.0),   # inside hole -> excluded
         (3, 11.0, 5.0)],  # outside
        "pid long, px double, py double",
    )
    got = {(r.point_id, r.poly_id)
           for r in point_in_polygon_join(pts, polys, res=5).collect()}
    assert got == {(1, 1)}
