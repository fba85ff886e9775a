"""Scenario-(b) analog (resolve with simplify + Chaikin,
src/test/sql/regress/resolve_overlap_and_gap.sql:61-79): shared borders are
simplified ONCE in the arrangement, so the output faces still partition the
plane exactly while total vertex count drops."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark.config import EngineConfig
from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.operators.overlap_gap import detect_all
from resolve_overlap_and_gap_spark.operators.resolve import resolve
from tests.fixtures import tiling_df


def _wiggly_pair(spark):
    """Two polygons sharing a noisy vertical border (many redundant
    vertices) — the canonical simplify test shape."""
    # offset so nothing sits on a res-4 cell border (borders freeze chains)
    ox, oy = 3.3, 2.2
    ys = np.linspace(oy, oy + 1.0, 60)
    xs = ox + 0.5 + 0.002 * np.sin((ys - oy) * 80)  # sub-tolerance wiggle
    border = np.stack([xs, ys], axis=1)
    left = np.vstack([[ox, oy], border, [ox, oy + 1]])
    right = np.vstack([[ox + 1, oy], [ox + 1, oy + 1], border[::-1]])
    rows = [(1, wkb.dump_polygon([left])), (2, wkb.dump_polygon([right]))]
    return spark.createDataFrame(rows, "fid long, geom binary")


def _nverts(geom: bytes) -> int:
    return sum(len(r) for p in wkb.load_polygons(geom) for r in p)


@pytest.mark.spark
def test_simplify_reduces_vertices_keeps_partition(spark):
    df = _wiggly_pair(spark)
    plain = resolve(df, EngineConfig(snap_tolerance=1e-5), res=4)
    simp = resolve(
        df, EngineConfig(snap_tolerance=1e-5, simplify_tolerance=0.01), res=4
    )
    vp = sum(_nverts(r.geom) for r in plain.collect())
    vs_rows = simp.collect()
    vs = sum(_nverts(r.geom) for r in vs_rows)
    assert vs < 0.5 * vp, (vs, vp)
    # faces still partition: areas sum to ~the same total (border moved by
    # <= tolerance; the two shares shift but the union is preserved)
    a_plain = sum(r.area for r in plain.collect())
    a_simp = sum(r.area for r in vs_rows)
    assert a_simp == pytest.approx(a_plain, rel=1e-3)
    # and the simplified layer is still overlap-free
    redet = detect_all(
        simp.select(F.monotonically_increasing_id().alias("fid"), "geom"),
        EngineConfig(snap_tolerance=1e-5), res=4,
    )
    assert redet.where("kind = 'overlap'").count() == 0


@pytest.mark.spark
def test_simplify_with_chaikin_on_fixture(spark):
    df = tiling_df(spark, k=4, cell=0.1, jitter=0.01, seed=5)
    cfg = EngineConfig(snap_tolerance=1e-5, min_area_to_keep=5e-4,
                       simplify_tolerance=2e-4, chaikins_iterations=1)
    out = resolve(df, cfg, res=8)
    rows = out.collect()
    assert len(rows) > 0
    redet = detect_all(
        out.select(F.monotonically_increasing_id().alias("fid"), "geom"), cfg, res=8
    )
    assert redet.where("kind = 'overlap'").count() == 0