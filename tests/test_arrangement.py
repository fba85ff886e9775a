"""Exact tests for the planar arrangement (the PostGIS-Topology replacement).

Oracle for random axis-aligned boxes: coordinate compression — the plane is
cut into the grid induced by all box edges; every elementary rectangle's
coverage count is computed directly. This is exact integer arithmetic, so
the arrangement's per-coverage areas must match exactly.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from resolve_overlap_and_gap_spark.geom.arrangement import overlay_cells, union_cells


def sq(x0, y0, x1, y1):
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.int64)


def areas_by_cover(faces):
    out = {}
    for f in faces:
        out[f.cover] = out.get(f.cover, 0) + f.area2
    return {k: v / 2.0 for k, v in out.items() if v != 0}


def boxes_cover_oracle(boxes):
    """Exact per-coverage-set area via coordinate compression."""
    xs = sorted({b[0] for b in boxes} | {b[2] for b in boxes})
    ys = sorted({b[1] for b in boxes} | {b[3] for b in boxes})
    out = {}
    for i in range(len(xs) - 1):
        for j in range(len(ys) - 1):
            cx, cy = (xs[i] + xs[i + 1]) / 2, (ys[j] + ys[j + 1]) / 2
            cov = frozenset(
                k for k, b in enumerate(boxes)
                if b[0] < cx < b[2] and b[1] < cy < b[3]
            )
            if cov:
                a = (xs[i + 1] - xs[i]) * (ys[j + 1] - ys[j])
                out[cov] = out.get(cov, 0) + a
    return {k: float(v) for k, v in out.items()}


def test_single_square():
    faces = overlay_cells([(0, [(7, [sq(0, 0, 10, 10)])])])[0]
    assert len(faces) == 1
    f = faces[0]
    assert f.cover == frozenset([7])
    assert f.area2 == 200
    assert not f.holes


def test_two_overlapping_squares():
    faces = overlay_cells([(0, [(1, [sq(0, 0, 10, 10)]), (2, [sq(5, 5, 15, 15)])])])[0]
    got = areas_by_cover(faces)
    assert got == {
        frozenset([1]): 75.0,
        frozenset([2]): 75.0,
        frozenset([1, 2]): 25.0,
    }


def test_disjoint_squares():
    faces = overlay_cells([(0, [(1, [sq(0, 0, 2, 2)]), (2, [sq(10, 10, 12, 12)])])])[0]
    got = areas_by_cover(faces)
    assert got == {frozenset([1]): 4.0, frozenset([2]): 4.0}


def test_donut_hole():
    # polygon with hole: shell 0..10, hole 3..7
    faces = overlay_cells([(0, [(1, [sq(0, 0, 10, 10), sq(3, 3, 7, 7)])])])[0]
    got = areas_by_cover(faces)
    # hole interior has empty cover -> excluded from dict (area2 != 0 but cover empty)
    assert got[frozenset([1])] == 100.0 - 16.0
    annulus = [f for f in faces if f.cover == frozenset([1])]
    assert len(annulus) == 1 and len(annulus[0].holes) == 1
    empty = [f for f in faces if f.cover == frozenset()]
    assert sum(f.area2 for f in empty) == 32  # hole face


def test_nested_components():
    # small square strictly inside big square (separate polygons, no edges shared)
    faces = overlay_cells([(0, [(1, [sq(0, 0, 10, 10)]), (2, [sq(4, 4, 6, 6)])])])[0]
    got = areas_by_cover(faces)
    assert got == {frozenset([1]): 96.0, frozenset([1, 2]): 4.0}
    big = [f for f in faces if f.cover == frozenset([1])][0]
    assert len(big.holes) == 1  # inner square is a hole of the outer face


def test_shared_edge_neighbors():
    # two squares sharing an edge: no overlap, both faces present
    faces = overlay_cells([(0, [(1, [sq(0, 0, 5, 10)]), (2, [sq(5, 0, 10, 10)])])])[0]
    got = areas_by_cover(faces)
    assert got == {frozenset([1]): 50.0, frozenset([2]): 50.0}


def test_triangle_crossing_square():
    # right triangle whose hypotenuse meets the square at integer points
    # (5,15) and (15,5): the snapped arrangement is exact here
    tri = np.array([[0, 0], [20, 0], [0, 20]], dtype=np.int64)
    faces = overlay_cells([(0, [(1, [tri]), (2, [sq(5, 5, 15, 15)])])])[0]
    got = areas_by_cover(faces)
    total_tri = sum(v for k, v in got.items() if 1 in k)
    total_sq = sum(v for k, v in got.items() if 2 in k)
    assert total_tri == pytest.approx(200.0)
    assert total_sq == pytest.approx(100.0)
    assert got[frozenset([1, 2])] == pytest.approx(50.0)


def test_snapping_moves_offgrid_intersections():
    """With a coarse grid, off-grid crossings snap to integers and areas
    shift by O(perimeter x grid) — the documented ST_SnapToGrid semantics."""
    tri = np.array([[0, 0], [20, 0], [10, 18]], dtype=np.int64)
    faces = overlay_cells([(0, [(1, [tri]), (2, [sq(5, 5, 15, 15)])])])[0]
    got = areas_by_cover(faces)
    total_tri = sum(v for k, v in got.items() if 1 in k)
    assert total_tri == pytest.approx(180.0, abs=0.05 * 180.0)


@given(
    st.lists(
        st.tuples(
            st.integers(0, 40), st.integers(0, 40),
            st.integers(1, 20), st.integers(1, 20),
        ),
        min_size=1, max_size=8,
    )
)
@settings(max_examples=60, deadline=None)
def test_random_boxes_match_compression_oracle(raw):
    boxes = [(x, y, x + w, y + h) for x, y, w, h in raw]
    polys = [(k, [sq(*b)]) for k, b in enumerate(boxes)]
    got = areas_by_cover(overlay_cells([(0, polys)])[0])
    got = {k: v for k, v in got.items() if k}  # drop empty-cover faces
    want = boxes_cover_oracle(boxes)
    assert got == want


def test_overlap_and_gap_vs_universe():
    """The detection semantics: universe cell + two overlapping polys.
    gap = cover {U} area; overlap = cover containing both polys."""
    U = 99
    faces = overlay_cells([(0, [
        (U, [sq(0, 0, 20, 20)]),
        (1, [sq(2, 2, 10, 10)]),
        (2, [sq(8, 8, 16, 16)]),
    ])])[0]
    got = areas_by_cover(faces)
    overlap = sum(v for k, v in got.items() if 1 in k and 2 in k)
    gap = got.get(frozenset([U]), 0.0)
    assert overlap == 4.0  # [8,10]x[8,10]
    assert gap == 400.0 - 64.0 - 64.0 + 4.0


def test_union_faces_hole_semantics():
    """Regression: a union must not fill holes (the hole-interior walk
    has winding 0), must not attach island-surround walks as holes, and a
    cross-part hole (two C-shapes forming an annulus) must reassemble."""
    left = [np.array([[0, 0], [50, 0], [50, 40], [40, 40], [40, 60], [50, 60],
                      [50, 100], [0, 100]], dtype=np.int64)]
    right = [np.array([[50, 0], [100, 0], [100, 100], [50, 100], [50, 60],
                       [60, 60], [60, 40], [50, 40]], dtype=np.int64)]
    out = union_cells([(0, [(0, left), (0, right)])])[0]
    assert [(f.area2, len(f.holes)) for f in out] == [(19200, 1)]
    island = [np.array([[45, 45], [55, 45], [55, 55], [45, 55]], dtype=np.int64)]
    out2 = union_cells([(0, [(0, left), (0, right), (0, island)])])[0]
    assert sorted((f.area2, len(f.holes)) for f in out2) == [(200, 0), (19200, 1)]
