"""union_cells (batched, cell-tagged dissolve) must give every item exactly
what union_cells gives it alone: same faces in the same order, same
shells and holes (vertex order, winding direction), same winding dicts and
exact areas — also when items overlap or share coordinates."""
from __future__ import annotations

import numpy as np
import pytest

from resolve_overlap_and_gap_spark.geom.arrangement import union_cells


def _rand_polys(rng, x0, y0, size, n_polys):
    """Random snapped polygons (some with a hole) inside one box; the coarse
    coordinate grid forces touches and collinear overlaps."""
    polys = []
    for _ in range(n_polys):
        k = int(rng.integers(3, 7))
        cx = rng.integers(x0 + 2, x0 + size - 2)
        cy = rng.integers(y0 + 2, y0 + size - 2)
        rad = int(rng.integers(1, size // 2))
        ang = np.sort(rng.uniform(0, 2 * np.pi, size=k))
        ring = np.stack([cx + (rad * np.cos(ang)).astype(np.int64),
                         cy + (rad * np.sin(ang)).astype(np.int64)],
                        axis=1).astype(np.int64)
        rings = [ring]
        if rad >= 6 and rng.random() < 0.3:
            h = max(1, rad // 4)
            rings.append(np.array([[cx - h, cy - h], [cx - h, cy + h],
                                   [cx + h, cy + h], [cx + h, cy - h]], np.int64))
        polys.append((0, rings))
    return polys


def _sq(x0, y0, x1, y1):
    return [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], np.int64)]


def _face_sig(f):
    return (f.shell.tolist(), [h.tolist() for h in f.holes],
            tuple(f.winding.items()), int(f.area2))


def _assert_each_alone(items):
    got = union_cells(items)
    assert list(got) == [key for key, _ in items]
    for key, polys in items:
        alone = union_cells([(key, polys)])[key]
        assert [_face_sig(f) for f in got[key]] == \
            [_face_sig(f) for f in alone], key
    return got


@pytest.mark.parametrize("seed", range(16))
def test_union_cells_equals_union_faces(seed):
    """Random items, most of them overlapping each other in space (every
    item draws from the same few boxes)."""
    rng = np.random.default_rng(seed)
    size = 24
    items = []
    for k in range(int(rng.integers(2, 8))):
        gx, gy = (int(v) * size // 2 for v in rng.integers(0, 3, size=2))
        items.append((k, _rand_polys(rng, gx, gy, size, int(rng.integers(1, 7)))))
    got = _assert_each_alone(items)
    assert any(got.values())


def test_union_cells_identical_items():
    """Items with identical coordinates stay independent: each is its own
    union, not a doubled one."""
    rng = np.random.default_rng(7)
    polys = _rand_polys(rng, 0, 0, 24, 5)
    got = _assert_each_alone([("a", polys), ("b", list(polys)), ("c", polys[:2])])
    assert [_face_sig(f) for f in got["a"]] == [_face_sig(f) for f in got["b"]]


def test_union_cells_point_touching_parts():
    """Parts meeting at one corner stay two faces; an edge-sharing
    neighbour in another item does not weld them."""
    corner = [(0, _sq(0, 0, 10, 10)), (0, _sq(10, 10, 20, 20))]
    bridge = [(0, _sq(10, 0, 20, 10))]
    got = _assert_each_alone([(1, corner), (2, bridge), (3, corner + bridge)])
    assert len(got[1]) == 2 and len(got[2]) == 1 and len(got[3]) == 1


def test_union_cells_hole_and_island():
    """The hole/island case of test_union_faces_hole_semantics, batched with
    a fill that covers the hole in another item."""
    left = [np.array([[0, 0], [50, 0], [50, 40], [40, 40], [40, 60], [50, 60],
                      [50, 100], [0, 100]], np.int64)]
    right = [np.array([[50, 0], [100, 0], [100, 100], [50, 100], [50, 60],
                       [60, 60], [60, 40], [50, 40]], np.int64)]
    island = _sq(45, 45, 55, 55)
    got = _assert_each_alone([
        ("annulus", [(0, left), (0, right)]),
        ("island", [(0, left), (0, right), (0, island)]),
        ("fill", [(0, _sq(40, 40, 60, 60))]),
    ])
    assert [(f.area2, len(f.holes)) for f in got["annulus"]] == [(19200, 1)]
    assert sorted((f.area2, len(f.holes)) for f in got["island"]) == \
        [(200, 0), (19200, 1)]


def test_union_cells_empty_items_get_fresh_lists():
    """Items with no input or only degenerate rings get [] each — their own
    list, never a shared one — and do not disturb their neighbours."""
    flat = [(0, [np.array([[0, 0], [5, 0], [9, 0]], np.int64)])]
    got = _assert_each_alone([("none", []), ("flat", flat),
                              ("sq", [(0, _sq(0, 0, 4, 4))]), ("none2", [])])
    assert got["none"] == [] and got["flat"] == [] and got["none2"] == []
    got["none"].append("mutated")
    assert got["none2"] == [] and got["flat"] == []
    assert union_cells([]) == {}
