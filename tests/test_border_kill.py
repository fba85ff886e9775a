"""Kill-interval propagation in the boundary-exchange pass (the round-2
advice fix): sub-min fragments of a gap whose TOTAL area is >= min_area
must never be merged into neighboring owners, even when the >= min_area
partial union forms inside one parent cell while its cross-border siblings
sit in another (reference semantics: union all border gaps globally, keep
only parts with 0 < area < min_area as slivers)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from resolve_overlap_and_gap_spark import grid
from resolve_overlap_and_gap_spark.config import EngineConfig
from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.operators.border import (
    border_gap_merge,
    reassemble_border_gaps,
)
from resolve_overlap_and_gap_spark.operators.resolve import (
    GAP_OWNER,
    KILL_OWNER,
    RESOLVE_SCHEMA,
    resolve,
)

G = 0.001  # snap grid


def _rect(x0, y0, x1, y1) -> bytes:
    ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], np.float64)
    return wkb.dump_multipolygon([[ring]])


def _cell(x, y, res=6) -> int:
    return int(grid.cell_id_np(np.array([x]), np.array([y]), res)[0])


GAP_SCHEMA = T.StructType([
    T.StructField("cell_id", T.LongType()),
    T.StructField("geom", T.BinaryType()),
])


@pytest.mark.spark
def test_cross_parent_big_gap_not_slivered(spark):
    """A strip gap crossing the x=0 res-3 parent boundary: the left-parent
    partial union reaches min_area, the right-parent fragment does not.
    The fragment must NOT come out as a sliver; an independent small
    cross-border gap elsewhere must."""
    cfg = EngineConfig(snap_tolerance=G, min_area_to_keep=0.1)
    # big gap: strip y in [1.0, 1.01], left part x in [-20, 0] split at the
    # res-6 cell borders (each piece < 0.1, left union 0.2 >= 0.1), right
    # fragment x in [0, 0.05] (area 5e-4)
    xs = [-20.0, -16.875, -11.25, -5.625, 0.0]
    rows = [
        (_cell((a + b) / 2, 1.005), _rect(a, 1.0, b, 1.01))
        for a, b in zip(xs, xs[1:])
    ]
    rows.append((_cell(0.025, 1.005), _rect(0.0, 1.0, 0.05, 1.01)))
    # control sliver: crosses the same x=0 boundary, total 1.6e-4 < 0.1
    rows.append((_cell(-0.025, 5.001), _rect(-0.05, 5.0, 0.0, 5.002)))
    rows.append((_cell(0.015, 5.001), _rect(0.0, 5.0, 0.03, 5.002)))
    gaps = spark.createDataFrame(rows, GAP_SCHEMA)

    slivers = reassemble_border_gaps(gaps, cfg).collect()
    assert len(slivers) == 1, [r.gap_area for r in slivers]
    assert slivers[0].gap_area == pytest.approx(0.08 * 0.002, rel=1e-9)


@pytest.mark.spark
def test_merge_with_empty_pieces(spark):
    """border_gap_merge over a resolved frame with zero owner pieces (e.g.
    every feature quarantined) and one sub-min border gap must return an
    empty healed layer, not crash in the mixed-res sliver keying."""
    cfg = EngineConfig(snap_tolerance=G, min_area_to_keep=0.1)
    resolved = spark.createDataFrame(
        [(_cell(-0.025, 5.001), GAP_OWNER, [], 1e-4,
          _rect(-0.05, 5.0, 0.0, 5.002))], RESOLVE_SCHEMA)
    healed = border_gap_merge(resolved, cfg)
    assert healed.count() == 0


@pytest.mark.spark
def test_reassembly_bucket_invariance(spark):
    """Sliver reassembly output is independent of the hashed bucket count
    (task layout): kernels are per-parent-cell deterministic, kill
    intervals merge in sorted order."""
    cfg = EngineConfig(snap_tolerance=G, min_area_to_keep=0.1)
    xs = [-20.0, -16.875, -11.25, -5.625, 0.0]
    rows = [
        (_cell((a + b) / 2, 1.005), _rect(a, 1.0, b, 1.01))
        for a, b in zip(xs, xs[1:])
    ]
    rows.append((_cell(0.025, 1.005), _rect(0.0, 1.0, 0.05, 1.01)))
    rows.append((_cell(-0.025, 5.001), _rect(-0.05, 5.0, 0.0, 5.002)))
    rows.append((_cell(0.015, 5.001), _rect(0.0, 5.0, 0.03, 5.002)))
    gaps = spark.createDataFrame(rows, GAP_SCHEMA)

    def run(nb):
        return sorted(
            (round(r.gap_area, 12), bytes(r.geom))
            for r in reassemble_border_gaps(gaps, cfg, n_buckets=nb).collect()
        )

    assert run(2) == run(64)


@pytest.mark.spark
def test_gap_open_to_empty_neighbor_stays_open(spark):
    """A sub-min gap trough flush against a cell border whose neighbor
    holds no feature GEOMETRY (only bbox contact): the neighbor cell still
    enters the kernel via the bbox cover, its clipped features vanish, and
    the whole-cell >= min_area gap face emits the kill interval that keeps
    the trough a gap (it opens into the void — reference semantics: faces
    adjacent to the universal face are never slivers)."""
    cfg = EngineConfig(snap_tolerance=G, min_area_to_keep=0.05)
    # res-6 vertical border at x=0; U opens east, flush against it:
    # walls y-thick 0.3, gap trough between them 0.02 tall, cap at west
    feats = spark.createDataFrame(
        [
            (1, _rect(-1.0, 1.00, 0.0, 1.30)),    # south wall
            (2, _rect(-1.0, 1.32, 0.0, 1.62)),    # north wall
            (3, _rect(-1.3, 1.00, -1.0, 1.62)),   # west cap
        ],
        T.StructType([
            T.StructField("fid", T.LongType()),
            T.StructField("geom", T.BinaryType()),
        ]),
    )
    in_areas = {1: 0.3, 2: 0.3, 3: 0.3 * 0.62}
    both = resolve(feats, cfg, res=6, emit_border_gaps=True).localCheckpoint()
    # the east neighbor cell (x in [0, 5.625]) was processed and emitted a
    # kill row even though no feature geometry survives clipping there
    kill_cells = {r.cell_id for r in
                  both.where(F.col("owner") == KILL_OWNER).collect()}
    east_cell = _cell(2.0, 1.31)
    assert east_cell in kill_cells
    healed = border_gap_merge(both, cfg)
    out = {r.owner: r.area for r in healed.collect()}
    assert set(out) == {1, 2, 3}
    for fid, a in in_areas.items():
        assert out[fid] == pytest.approx(a, rel=1e-6), (fid, out[fid], a)


@pytest.mark.spark
def test_healed_preserves_big_cross_border_gap(spark):
    """End to end: four features enclose a thin strip gap (total area 0.12
    >= min_area) crossing the y=0 res-3 boundary; per-cell pieces and even
    the below-y=0 partial union stay below min_area. Heal must keep the gap
    (owner areas unchanged), and the resolve overlay must emit KILL_OWNER
    interval rows for the >= min_area open-world gap faces."""
    cfg = EngineConfig(snap_tolerance=G, min_area_to_keep=0.05)
    feats = spark.createDataFrame(
        [
            (1, _rect(-21.0, -3.0, -20.0, 9.0)),      # left wall
            (2, _rect(-19.99, -3.0, -19.0, 9.0)),     # right wall
            (3, _rect(-21.0, 9.0, -19.0, 9.3)),       # top cap
            (4, _rect(-21.0, -3.3, -19.0, -3.0)),     # bottom cap
        ],
        T.StructType([
            T.StructField("fid", T.LongType()),
            T.StructField("geom", T.BinaryType()),
        ]),
    )
    in_areas = {1: 12.0, 2: 0.99 * 12.0, 3: 2.0 * 0.3, 4: 2.0 * 0.3}

    both = resolve(feats, cfg, res=6, emit_border_gaps=True).localCheckpoint()
    assert both.where(F.col("owner") == KILL_OWNER).count() > 0
    healed = border_gap_merge(both, cfg)
    out = {r.owner: r.area for r in healed.collect()}
    assert set(out) == {1, 2, 3, 4}
    for fid, a in in_areas.items():
        assert out[fid] == pytest.approx(a, rel=1e-6), (fid, out[fid], a)


@pytest.mark.spark
@pytest.mark.parametrize("res", [4, 8])
def test_heal_judges_gap_area_like_resolve(spark, res):
    """A 0.01-degree hole ringed by eight 0.01-degree squares has exactly
    min_area_to_keep area.  At res 4 the hole lies in one cell and resolve
    keeps it as a gap; at res 8 lon 1.40625 splits it, and the heal must
    judge the reassembled hole by resolve's area rule so it stays a gap
    too: the healed total is 0.0008 whatever the grid."""
    cfg = EngineConfig(snap_tolerance=1e-6, min_area_to_keep=1e-4)
    x0, y0, d = 1.40125, 10.0, 0.01
    rows = [(k, _rect(x0 + i * d, y0 + j * d, x0 + (i + 1) * d, y0 + (j + 1) * d))
            for k, (i, j) in enumerate(
                (i, j) for i in (-1, 0, 1) for j in (-1, 0, 1) if (i, j) != (0, 0))]
    feats = spark.createDataFrame(rows, "fid long, geom binary")
    healed = border_gap_merge(
        resolve(feats, cfg, res=res, emit_border_gaps=True), cfg).collect()
    assert len(healed) == 8
    assert sum(r.area for r in healed) == pytest.approx(8e-4, rel=1e-9)
