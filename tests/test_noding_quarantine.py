"""Noding-failure quarantine — the reference's _no_cut_line_failed path
(function_resolve_overlap_gap_init.sql:221-232): a feature whose snapped
noding does not converge within the budget is quarantined (owner =
QUARANTINE_OWNER rows carrying the feature id), the rest of the cell
resolves normally, and nothing is silently accepted half-noded.

The fixture is a genuine snap-cascade: P2's edges split P1's shallow top
edge in round 1; the ROUND-1 snapped sub-segment then passes exactly
through P3's apex, which is only discovered in round 2.  With
noding_max_iter=1 the fixpoint is out of budget -> quarantine; with the
default budget it converges.
"""

from __future__ import annotations

import numpy as np
import pytest

from resolve_overlap_and_gap_spark.config import EngineConfig
from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.geom.arrangement import (
    NodingError,
    node_segments,
    overlay_cells,
    rings_to_segments,
)
from resolve_overlap_and_gap_spark.operators.resolve import (
    GAP_OWNER,
    QUARANTINE_OWNER,
    resolve,
)

G = 1e-5  # snap tolerance; fixture coords below are integer grid units
DY = 200  # lift into the (lat>0, lon>0) quadrant: one cell, no clipping

P1 = [np.array([[0, 0], [100, 41], [100, -100], [0, -100], [0, 0]]) + [0, DY]]
P2 = [np.array([[40, -50], [40, 50], [140, -50], [40, -50]]) + [0, DY]]
P3 = [np.array([[50, 15], [54, 15], [52, 21], [50, 15]]) + [0, DY]]
POLYS = [(1, P1), (2, P2), (3, P3)]


def test_node_segments_raises_out_of_budget():
    S, pid, wt = rings_to_segments(POLYS)
    with pytest.raises(NodingError) as ei:
        node_segments(S, pid, wt, max_iter=1)
    assert ei.value.pids == [1]
    # and converges (with room to spare) at the default budget
    S2, _, _ = node_segments(S, pid, wt)
    assert len(S2) > len(S)


def test_overlay_quarantines_and_continues():
    q: dict = {}
    faces = overlay_cells([(0, POLYS)], noding_max_iter=1, quarantine_of=q)[0]
    assert q == {0: [1]}
    covers = {frozenset(f.cover) for f in faces}
    # P3 lies inside P2: its face is covered by both
    assert frozenset([2]) in covers and frozenset([2, 3]) in covers


@pytest.fixture(scope="module")
def layer(spark):
    rows = [(fid, wkb.dump_polygon([r.astype(np.float64) * G for r in rings]))
            for fid, rings in POLYS]
    return spark.createDataFrame(rows, "fid long, geom binary")


@pytest.mark.spark
def test_resolve_quarantine_row(spark, layer):
    cfg = EngineConfig(snap_tolerance=G, noding_max_iter=1)
    out = resolve(layer, cfg, res=4).collect()
    qrows = [r for r in out if r.owner == QUARANTINE_OWNER]
    assert len(qrows) == 1 and qrows[0].other_ids == [1]
    # the quarantine row carries the offending geometry, not nothing
    assert wkb.load_polygons(bytes(qrows[0].geom))
    # the REST of the cell is unaffected: 2 resolves normally and P3's
    # region (inside P2) surfaces as an overlap attribution on owner 2
    owners = {r.owner for r in out}
    assert 2 in owners and 1 not in owners
    assert any(r.owner == 2 and r.other_ids == [3] for r in out)


@pytest.mark.spark
def test_resolve_default_budget_converges(spark, layer):
    cfg = EngineConfig(snap_tolerance=G)
    out = resolve(layer, cfg, res=4).collect()
    owners = {r.owner for r in out}
    assert QUARANTINE_OWNER not in owners and GAP_OWNER not in owners
    assert {1, 2} <= owners  # 3 is wholly inside 2: overlap attribution only
    assert any(3 in (r.other_ids or []) for r in out)


@pytest.mark.spark
def test_resolve_with_lines_quarantine_row(spark, layer):
    """The line-scenario path (ar5) must quarantine too, not raise — the
    reference's _no_cut_line_failed table is exactly the LINE scenario's
    failure sink (api.py maps it to ResolveResult.quarantined)."""
    from resolve_overlap_and_gap_spark.operators.lines import resolve_with_lines

    lines = spark.createDataFrame(
        [(9, wkb.dump_linestring(
            np.array([[-10, 150], [150, 150]], np.float64) * G))],
        "lid long, geom binary",
    )
    cfg = EngineConfig(snap_tolerance=G, noding_max_iter=1)
    out = resolve_with_lines(layer, lines, cfg, res=4).collect()
    qrows = [r for r in out if r.owner == QUARANTINE_OWNER]
    assert len(qrows) == 1 and qrows[0].other_ids == [1]
    assert wkb.load_polygons(bytes(qrows[0].geom))
    owners = {r.owner for r in out}
    assert 2 in owners and 1 not in owners
    # default budget: converges, no quarantine rows
    out2 = resolve_with_lines(layer, lines, EngineConfig(snap_tolerance=G),
                              res=4).collect()
    assert not [r for r in out2 if r.owner == QUARANTINE_OWNER]


@pytest.mark.spark
def test_detect_quarantine_row(spark, layer):
    """detect_all reports non-convergent features as kind='quarantined'
    rows (clipped input carried) and analyses the rest of the cell."""
    from resolve_overlap_and_gap_spark.operators.overlap_gap import detect_all

    cfg = EngineConfig(snap_tolerance=G, noding_max_iter=1)
    out = detect_all(layer, cfg, res=4).collect()
    q = [r for r in out if r.kind == "quarantined"]
    assert len(q) == 1 and q[0].id_a == 1
    assert wkb.load_polygons(bytes(q[0].geom))
    # the rest of the cell still detects: P3 inside P2 is an overlap pair
    assert any(r.kind == "overlap" and (r.id_a, r.id_b) == (2, 3) for r in out)
    # default budget: converges, no quarantined rows
    out2 = detect_all(layer, EngineConfig(snap_tolerance=G), res=4).collect()
    assert not [r for r in out2 if r.kind == "quarantined"]


@pytest.mark.spark
def test_heal_ignores_quarantine_rows(spark, layer):
    """QUARANTINE_OWNER rows in the resolved frame take no part in the
    heal: no owner < 0 comes out, and the healed layer equals the heal of
    the same frame without them."""
    from pyspark.sql import functions as F

    from resolve_overlap_and_gap_spark.operators.border import border_gap_merge

    cfg = EngineConfig(snap_tolerance=G, noding_max_iter=1)
    resolved = resolve(layer, cfg, res=4, emit_border_gaps=True).localCheckpoint()
    assert resolved.where(F.col("owner") == QUARANTINE_OWNER).count() == 1

    def heal(frame):
        return sorted((r.owner, r.area, r.n_parts, bytes(r.geom))
                      for r in border_gap_merge(frame, cfg).collect())

    healed = heal(resolved)
    assert healed and all(owner >= 0 for owner, *_ in healed)
    assert healed == heal(resolved.where(F.col("owner") != QUARANTINE_OWNER))
