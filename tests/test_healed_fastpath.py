"""The heal's border gaps come from the resolve overlay itself
(emit_border_gaps=True).  An independent reference builds the same border
gap rows from a separate detection pass over the layer: the healed layer
must be the same either way — same overlay, same faces, one pass saved."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark import grid
from resolve_overlap_and_gap_spark.config import EngineConfig
from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.operators.border import (
    border_gap_merge,
    merge_intervals,
    pack_intervals,
    ring_border_intervals,
)
from resolve_overlap_and_gap_spark.operators.overlap_gap import detect_all
from resolve_overlap_and_gap_spark.operators.resolve import (
    GAP_OWNER,
    KILL_OWNER,
    resolve,
)


def _canon(df):
    return sorted(
        (r.owner, round(r.area, 12), r.n_parts)
        for r in df.select("owner", "area", "n_parts").collect()
    )


def _kill_geom(cell_id: int, geom: bytes, g: float) -> bytes | None:
    """Packed border contacts of a detected gap with its cell's border
    lines (None without positive-length contact)."""
    bounds = grid.cell_bounds_np(np.array([cell_id], dtype=np.int64))
    cx0, cy0, cx1, cy1 = (int(np.floor(v[0] / g + 0.5)) for v in bounds)
    iv: list = []
    for rings in wkb.load_polygons(geom):
        iv.extend(ring_border_intervals(
            [np.floor(np.asarray(r, np.float64) / g + 0.5).astype(np.int64)
             for r in rings], cx0, cy0, cx1, cy1))
    return pack_intervals(merge_intervals(np.asarray(iv, np.int64))) if iv else None


def _detected_border_gaps(spark, layer, cfg, res):
    """(cell_id, owner, geom) border gap rows from detect_all: GAP_OWNER
    pieces below min_area, KILL_OWNER interval rows at or above it."""
    rows = []
    for r in detect_all(layer, cfg, res=res).where(
            "kind = 'gap' and touches_border").collect():
        if r.area < cfg.min_area_to_keep:
            rows.append((r.cell_id, GAP_OWNER, bytes(r.geom)))
        else:
            kiv = _kill_geom(r.cell_id, bytes(r.geom), cfg.snap_tolerance)
            if kiv is not None:
                rows.append((r.cell_id, KILL_OWNER, kiv))
    return spark.createDataFrame(rows, "cell_id long, owner long, geom binary")


@pytest.mark.spark
def test_healed_fastpath_equals_classic(spark):
    from resolve_overlap_and_gap_spark.plans.queries import derived_polygon_layer

    layer = derived_polygon_layer(spark, "/root/testdata/sf0.001", scale=4.0).cache()
    cfg = EngineConfig(snap_tolerance=1e-5, min_area_to_keep=1e-4)

    gaps = _detected_border_gaps(spark, layer, cfg, res=5)
    assert gaps.where(F.col("owner") == GAP_OWNER).count() > 0
    pieces = resolve(layer, cfg, res=5).select("cell_id", "owner", "geom")
    detected = border_gap_merge(pieces.unionByName(gaps), cfg)

    fast = border_gap_merge(resolve(layer, cfg, res=5, emit_border_gaps=True), cfg)

    assert _canon(fast) == _canon(detected)
