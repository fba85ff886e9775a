from __future__ import annotations

import struct

import numpy as np
import pytest

from resolve_overlap_and_gap_spark.geom import core, wkb


def test_wkb_roundtrip_point():
    b = struct.pack("<BI2d", 1, wkb.POINT, 1.5, -2.5)
    kind, xy = wkb.load(b)
    assert kind == "point" and tuple(xy) == (1.5, -2.5)


def test_wkb_roundtrip_polygon_with_hole():
    shell = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    hole = np.array([[3, 3], [7, 3], [7, 7], [3, 7]], dtype=float)
    b = wkb.dump_polygon([shell, hole])
    kind, rings = wkb.load(b)
    assert kind == "polygon" and len(rings) == 2
    assert np.allclose(rings[0][:-1], shell)  # closed on dump
    polys = wkb.load_polygons(b)
    assert len(polys) == 1


def test_wkb_multipolygon():
    p1 = [np.array([[0, 0], [1, 0], [1, 1]], dtype=float)]
    p2 = [np.array([[5, 5], [6, 5], [6, 6]], dtype=float)]
    b = wkb.dump_multipolygon([p1, p2])
    polys = wkb.load_polygons(b)
    assert len(polys) == 2


def test_area_and_length():
    sqr = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    assert core.ring_area2(sqr) == 200.0
    assert core.ring_area2(sqr[::-1]) == -200.0


def test_point_in_polygon():
    sqr = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6]], dtype=float)
    pts = np.array([[5, 5], [1, 1], [20, 20], [5, 1]], dtype=float)
    got = core.points_in_polygon(pts, [sqr, hole])
    assert got.tolist() == [False, True, False, True]


def test_clip_to_box():
    tri = np.array([[0, 0], [20, 0], [0, 20]], dtype=float)
    out = core.clip_ring_to_box(tri, 5, 5, 15, 15)
    # clipped region is triangle (5,5),(15,5)... -> area 50
    assert abs(core.ring_area2(out)) / 2 == pytest.approx(50.0)
    # fully outside
    out2 = core.clip_ring_to_box(tri, 100, 100, 110, 110)
    assert len(out2) == 0


def test_simplify_dp():
    line = np.array([[0, 0], [1, 0.001], [2, -0.001], [3, 0], [3, 5]], dtype=float)
    out = core.simplify_dp(line, 0.01)
    assert len(out) == 3
    assert np.allclose(out[[0, -1]], line[[0, -1]])


def test_chaikin_acute_cuts_sharp_corner():
    # 90-degree corner gets cut; endpoints frozen
    line = np.array([[0, 0], [10, 0], [10, 10]], dtype=float)
    out = core.chaikin_acute(line, 1, 40.0, 320.0)
    assert np.allclose(out[0], [0, 0]) and np.allclose(out[-1], [10, 10])
    # near-straight vertex is kept
    line2 = np.array([[0, 0], [10, 0.1], [20, 0]], dtype=float)
    out2 = core.chaikin_acute(line2, 1, 40.0, 320.0)
    assert len(out2) == 3


def test_snap_roundtrip():
    c = np.array([[1.23456789, -0.00001], [10.5, 20.49999]], dtype=float)
    snapped = core.snap_to_grid_int(c, 1e-5)
    back = core.grid_to_float(snapped, 1e-5)
    assert np.abs(back - c).max() <= 5e-6 + 1e-12
