"""Content-balanced detection (F5): a hot cluster forces cell refinement;
pair results must match the fixed-resolution runs."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark.config import EngineConfig, GridConfig
from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.operators.overlap_gap import (
    detect_all,
    detect_all_balanced,
)
from tests.fixtures import jittered_tiling


@pytest.fixture(scope="module")
def hot_fixture(spark):
    base = jittered_tiling(k=6, cell=0.1, origin=(5.0, 55.0), jitter=0.015, seed=13)
    # hot cluster: 300 small overlapping quads inside one base-resolution cell
    rng = np.random.default_rng(99)
    rows = []
    fid = 10_000
    for _ in range(300):
        x0 = 5.21 + rng.uniform(0, 0.05)
        y0 = 55.21 + rng.uniform(0, 0.05)
        s = 0.004 + rng.uniform(0, 0.004)
        quad = np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]])
        rows.append((fid, f"hot{fid}", wkb.dump_polygon([quad])))
        fid += 1
    pdf = pd.concat([base, pd.DataFrame(rows, columns=base.columns)], ignore_index=True)
    df = spark.createDataFrame(pdf)
    df.cache().count()
    return df


CFG = EngineConfig(
    snap_tolerance=1e-5,
    grid=GridConfig(base_resolution=6, max_resolution=14, max_rows_in_each_cell=50),
)


@pytest.mark.spark
def test_refinement_happens_and_pairs_match(spark, hot_fixture):
    from resolve_overlap_and_gap_spark.operators.celljoin import content_balanced_cells
    from resolve_overlap_and_gap_spark.operators.overlap_gap import wkb_bounds

    b = hot_fixture.withColumn("_b", wkb_bounds(F.col("geom")))
    b = b.select(
        ((F.col("_b.xmin") + F.col("_b.xmax")) / 2).alias("cx"),
        ((F.col("_b.ymin") + F.col("_b.ymax")) / 2).alias("cy"),
    )
    cells = content_balanced_cells(b, 6, 14, 50, lon="cx", lat="cy")
    res_seen = sorted(r["res"] for r in cells.select("res").distinct().collect())
    assert len(res_seen) > 1, res_seen  # the hot cluster forced refinement
    assert max(r["n_rows"] for r in cells.collect()) <= 50

    bal = detect_all_balanced(hot_fixture, CFG).where("kind = 'overlap'")
    fixed = detect_all(hot_fixture, CFG, res=9).where("kind = 'overlap'")
    pb = {(r.id_a, r.id_b) for r in bal.collect()}
    pf = {(r.id_a, r.id_b) for r in fixed.collect()}
    assert pb == pf

    ab = {k: v for k, v in (
        ((r.id_a, r.id_b), r.area) for r in
        bal.groupBy("id_a", "id_b").agg(F.sum("area").alias("area")).collect()
    )}
    af = {k: v for k, v in (
        ((r.id_a, r.id_b), r.area) for r in
        fixed.groupBy("id_a", "id_b").agg(F.sum("area").alias("area")).collect()
    )}
    for k in ab:
        assert ab[k] == pytest.approx(af[k], rel=2e-3, abs=2e-6), k

@pytest.mark.spark
def test_balanced_grid_never_reaches_the_driver(spark, monkeypatch):
    """The frontier must stay distributed: building the content-balanced
    grid (including forced multi-level refinement) may pull only per-level
    COUNTS to the driver — never cell rows (collect) nor a rebuilt grid
    (createDataFrame).  Pins the round-3 fix of the driver-side
    collect()/isin(hot)/createDataFrame frontier."""
    from pyspark.sql import DataFrame, SparkSession
    from resolve_overlap_and_gap_spark.operators.celljoin import (
        content_balanced_cells,
    )

    # uniform background + a hot cluster that refines several levels
    pts = spark.range(0, 4000).selectExpr(
        "cast(pmod(id * 37, 360) as double) - 180.0 + pmod(id, 7) * 1e-3 as px",
        "cast(pmod(id * 53, 170) as double) - 85.0 + pmod(id, 5) * 1e-3 as py",
    ).unionByName(
        spark.range(0, 800).selectExpr(
            "10.0 + pmod(id, 40) * 1e-4 as px", "50.0 + pmod(id, 37) * 1e-4 as py"
        )
    ).localCheckpoint()

    def no_collect(self, *a, **k):
        raise AssertionError("balanced grid collected rows to the driver")

    def no_create(self, *a, **k):
        raise AssertionError("balanced grid rebuilt a DataFrame driver-side")

    monkeypatch.setattr(DataFrame, "collect", no_collect)
    monkeypatch.setattr(DataFrame, "toPandas", no_collect)
    monkeypatch.setattr(SparkSession, "createDataFrame", no_create)
    cells, hot = content_balanced_cells(pts, 4, 12, 60, with_hot=True)
    monkeypatch.undo()

    assert hot, "fixture must force refinement"
    rows = cells.collect()
    assert max(r.n_rows for r in rows) <= 60 or max(r.res for r in rows) == 12
    # the frontier is a proper partition: every point is counted in exactly
    # one cell
    assert sum(r.n_rows for r in rows) == pts.count()
