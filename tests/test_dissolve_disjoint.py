"""Keys dissolve independently inside one bucket kernel: with_geom only
decides whether WKB is dumped (same key, area, n_parts either way), and
keys need not be disjoint — keys whose inputs overlap each other, hashed
into the same bucket, each get what they get dissolved alone."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.mark.spark
def test_disjoint_dissolve_equals_exact_on_heal(spark):
    """The heal's final owner dissolve: dissolve_geom=False rows equal the
    dissolve_geom=True rows in (owner, area, n_parts)."""
    from resolve_overlap_and_gap_spark.config import EngineConfig
    from resolve_overlap_and_gap_spark.operators.border import border_gap_merge
    from resolve_overlap_and_gap_spark.operators.resolve import resolve
    from resolve_overlap_and_gap_spark.plans.queries import (
        DETECT_CFG_SNAP,
        _density_res,
        derived_polygon_layer,
    )

    layer = derived_polygon_layer(spark, SF)
    res = _density_res(spark, SF)
    cfg = EngineConfig(snap_tolerance=DETECT_CFG_SNAP, min_area_to_keep=1e-4)
    resolved = resolve(layer, cfg, res=res, emit_border_gaps=True).select(
        "cell_id", "owner", "geom").localCheckpoint()

    def run(**kw):
        h = border_gap_merge(resolved, cfg, **kw)
        return {tuple(r) for r in h.select(
            "owner",
            F.expr("cast(floor(area * 1e9) as bigint)").alias("a"),
            "n_parts").collect()}

    exact = run()
    fast = run(dissolve_geom=False)
    assert exact == fast and len(exact) > 0


@pytest.mark.spark
def test_disjoint_dissolve_direct(spark):
    """dissolve(with_geom=False) == dissolve() on resolve pieces directly
    (exact area values, not just counts), and its geom column is null."""
    from resolve_overlap_and_gap_spark.config import EngineConfig
    from resolve_overlap_and_gap_spark.operators.dissolve import dissolve
    from resolve_overlap_and_gap_spark.operators.resolve import resolve
    from resolve_overlap_and_gap_spark.plans.queries import (
        DETECT_CFG_SNAP,
        _density_res,
        derived_polygon_layer,
    )

    layer = derived_polygon_layer(spark, SF)
    cfg = EngineConfig(snap_tolerance=DETECT_CFG_SNAP, min_area_to_keep=1e-4)
    pieces = resolve(layer, cfg, res=_density_res(spark, SF)).select(
        "owner", "geom").localCheckpoint()
    with_geom = dissolve(pieces, "owner", cfg.snap_tolerance).collect()
    no_geom = dissolve(pieces, "owner", cfg.snap_tolerance, with_geom=False).collect()
    assert len(with_geom) > 0 and all(r.geom is None for r in no_geom)
    assert ({(r.key, r.area, r.n_parts) for r in with_geom}
            == {(r.key, r.area, r.n_parts) for r in no_geom})


@pytest.mark.spark
def test_overlapping_keys_share_a_bucket(spark):
    """Keys whose inputs overlap each other (and share identical parts),
    forced into one bucket: each key's row equals that key dissolved
    alone, geometry bytes included."""
    from resolve_overlap_and_gap_spark.geom import wkb
    from resolve_overlap_and_gap_spark.operators.dissolve import dissolve

    def sq(x0, y0, x1, y1):
        return wkb.dump_polygon([np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1]], float)])

    rows = [
        (1, sq(0, 0, 2, 2)), (1, sq(1, 1, 3, 3)), (1, sq(6, 0, 7, 1)),
        (2, sq(1, 0, 4, 2)), (2, sq(0, 0, 2, 2)), (2, sq(3, 1, 5, 4)),
        (3, sq(0.5, 0.5, 6.5, 0.75)),      # crosses both keys' parts
        (3, sq(2, 2, 3, 3)),
    ]
    df = spark.createDataFrame(rows, "key long, geom binary")
    g = 1e-5
    together = {r.key: tuple(r) for r in dissolve(df, "key", g, n_buckets=1).collect()}
    assert set(together) == {1, 2, 3}
    for k in together:
        alone = dissolve(df.where(F.col("key") == k), "key", g, n_buckets=1).collect()
        assert [tuple(r) for r in alone] == [together[k]], k
    assert together[1][2] == 2 and together[1][1] == pytest.approx(8.0)
    assert together[2][2] == 1 and together[2][1] == pytest.approx(13.0)
