"""Detection-engine tests: mirrors the reference's compare-harness metrics
(resolve_overlap_gap_compare_result.sql:96-268) on the jittered-tiling
fixture, plus cross-parallelism determinism."""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pytest

from resolve_overlap_and_gap_spark import grid
from resolve_overlap_and_gap_spark.config import EngineConfig
from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.operators.overlap_gap import (
    _detect_bucket,
    detect_all,
)
from tests.fixtures import tiling_df

CFG = EngineConfig(snap_tolerance=1e-5)


@pytest.fixture(scope="module")
def fixture_df(spark):
    df = tiling_df(spark, k=10, cell=0.1, jitter=0.02, seed=42)
    df.cache().count()
    return df


@pytest.mark.spark
def test_detection_finds_overlaps_and_gaps(spark, fixture_df):
    res = detect_all(fixture_df, CFG, res=8).cache()
    ovl = res.where("kind = 'overlap'")
    gaps = res.where("kind = 'gap' and not touches_border")
    n_ovl = ovl.count()
    n_gap = gaps.count()
    # jittered tiling must produce many overlaps and interior gaps
    assert n_ovl > 50
    assert n_gap > 10
    # overlap areas positive and bounded by 2*jitter band area
    rows = ovl.select("area").collect()
    assert all(0 < r.area < 0.1 * 0.04 * 4 for r in rows)


@pytest.mark.spark
def test_pairwise_overlap_area_matches_single_cell_run(spark, fixture_df):
    """Cross-cell exactness: per-pair overlap area summed over cells at a
    fine grid equals the single-coarse-cell result (cell borders are
    snap-grid aligned; clipping is exact)."""
    import pyspark.sql.functions as F

    fine = (
        detect_all(fixture_df, CFG, res=9)
        .where("kind = 'overlap'")
        .groupBy("id_a", "id_b")
        .agg(F.sum("area").alias("area"))
    )
    coarse = (
        detect_all(fixture_df, CFG, res=4)
        .where("kind = 'overlap'")
        .groupBy("id_a", "id_b")
        .agg(F.sum("area").alias("area"))
    )
    f = {(r.id_a, r.id_b): r.area for r in fine.collect()}
    c = {(r.id_a, r.id_b): r.area for r in coarse.collect()}
    assert set(f) == set(c)
    # areas agree up to the snapped-clip bound O(grid x border crossings):
    # clip points on cell borders round to the snap grid (documented
    # ST_SnapToGrid-style semantics), so finer grids differ by ~1e-6 deg^2
    for kpair in f:
        assert f[kpair] == pytest.approx(c[kpair], rel=2e-3, abs=2e-6), kpair


@pytest.mark.spark
def test_cell_partition_is_exact(spark, fixture_df):
    """Strong exactness: within a cell, overlay faces PARTITION the cell —
    sum of all face areas (covered + gaps, incl. holes) equals the cell area
    exactly in integer grid units (the ValidateTopology analog)."""
    from resolve_overlap_and_gap_spark import grid as G
    from resolve_overlap_and_gap_spark.geom.arrangement import overlay_cells
    from resolve_overlap_and_gap_spark.operators.overlap_gap import (
        UNIVERSE, _cell_prep, with_cells,
    )

    feats = fixture_df.selectExpr("cast(fid as long) fid", "geom")
    cells = with_cells(feats, 8)
    pdfs = cells.toPandas()
    for cell_id, pdf in pdfs.groupby("cell_id"):
        g = CFG.snap_tolerance
        (cx0, cy0, cx1, cy1), polys = _cell_prep(int(cell_id), pdf, g)
        faces = overlay_cells([(0, polys)],
                              noding_max_iter=CFG.noding_max_iter)[0]
        # the box _cell_prep derived is the cell's own bounds
        xmin, ymin, xmax, ymax = G.cell_bounds_np(np.array([cell_id]))
        assert (cx0, cy0) == (int(np.floor(xmin[0] / g + 0.5)),
                              int(np.floor(ymin[0] / g + 0.5)))
        assert (cx1, cy1) == (int(np.floor(xmax[0] / g + 0.5)),
                              int(np.floor(ymax[0] / g + 0.5)))
        want2 = 2 * (cx1 - cx0) * (cy1 - cy0)
        got2 = sum(f.area2 for f in faces if UNIVERSE in f.winding and f.winding[UNIVERSE] > 0)
        assert got2 == want2, cell_id


@pytest.mark.spark
def test_determinism_across_shuffle_partitions(spark, fixture_df):
    """O1 determinism: identical detection rows regardless of parallelism."""
    a = detect_all(fixture_df.repartition(1), CFG, res=8)
    b = detect_all(fixture_df.repartition(16), CFG, res=8)
    ra = sorted(map(tuple, a.drop("geom").collect()))
    rb = sorted(map(tuple, b.drop("geom").collect()))
    assert ra == rb


@pytest.mark.spark
def test_no_overlap_layer_clean(spark):
    """A perfect tiling (zero jitter) has no overlaps and no interior gaps."""
    df = tiling_df(spark, k=5, cell=0.1, jitter=0.0, seed=1)
    res = detect_all(df, CFG, res=8).cache()
    assert res.where("kind = 'overlap'").count() == 0
    interior_gaps = res.where("kind = 'gap' and not touches_border")
    assert interior_gaps.count() == 0


@pytest.mark.parametrize("with_geom", [True, False])
def test_detect_bucket_concat_is_typed(with_geom):
    """A two-cell bucket: one cell holds a lone square (gap rows only, so
    id_a/id_b are all null), the other two overlapping squares (an overlap
    row with a null touches_border).  The per-cell frames concatenate
    without pandas' all-NA FutureWarning, whose dtype rule changes in
    pandas 3, and ids stay integers beside the nulls."""
    def sq(x0, y0, x1, y1):
        return wkb.dump_polygon(
            [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], float)])

    a = int(grid.cell_id_np(np.array([10.1]), np.array([50.1]), 6)[0])
    ax0, ay0, ax1, _ = (float(v[0]) for v in grid.cell_bounds_np(np.array([a])))
    b = int(grid.cell_id_np(np.array([ax1 + 0.01]), np.array([ay0 + 0.01]), 6)[0])
    bx0, by0, _, _ = (float(v[0]) for v in grid.cell_bounds_np(np.array([b])))
    w = (ax1 - ax0) / 10
    pdf = pd.DataFrame({
        "cell_id": [a, b, b],
        "fid": [1, 2, 3],
        "geom": [sq(ax0 + w, ay0 + w, ax0 + 3 * w, ay0 + 3 * w),
                 sq(bx0 + w, by0 + w, bx0 + 4 * w, by0 + 4 * w),
                 sq(bx0 + 2 * w, by0 + 2 * w, bx0 + 5 * w, by0 + 5 * w)],
    })
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        out = _detect_bucket(pdf, CFG, with_geom)
    assert sorted(out["kind"]) == ["gap", "gap", "overlap"]
    ovl = out[out["kind"] == "overlap"].iloc[0]
    assert (ovl["id_a"], ovl["id_b"]) == (2, 3)
    assert out["id_a"].dtype == "Int64" and out["id_b"].dtype == "Int64"
    assert out["geom"].isna().all() != with_geom
