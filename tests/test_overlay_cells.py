"""overlay_cells (batched multi-cell arrangement) must equal overlay_cells
over each cell alone exactly: same faces (shells, holes, windings, exact areas), same
adjacency dicts (float-sum equality included), same quarantine sets."""
from __future__ import annotations

import numpy as np
import pytest

from resolve_overlap_and_gap_spark.geom.arrangement import overlay_cells
from resolve_overlap_and_gap_spark.operators.overlap_gap import UNIVERSE


def _rand_cell_polys(rng, cx0, cy0, size, n_polys):
    """Random snapped polygons inside one cell box, degeneracy-heavy
    (coarse coordinate grid forces touches/collinear overlaps), plus the
    UNIVERSE cell box."""
    polys = []
    for pid in range(n_polys):
        k = int(rng.integers(3, 7))
        cx = rng.integers(cx0 + 2, cx0 + size - 2)
        cy = rng.integers(cy0 + 2, cy0 + size - 2)
        rad = int(rng.integers(1, size // 2))
        ang = np.sort(rng.uniform(0, 2 * np.pi, size=k))
        ring = np.stack([
            np.clip(cx + (rad * np.cos(ang)).astype(np.int64), cx0, cx0 + size),
            np.clip(cy + (rad * np.sin(ang)).astype(np.int64), cy0, cy0 + size),
        ], axis=1).astype(np.int64)
        polys.append((pid, [ring]))
    box = np.array([[cx0, cy0], [cx0 + size, cy0],
                    [cx0 + size, cy0 + size], [cx0, cy0 + size]], np.int64)
    polys.append((UNIVERSE, [box]))
    return polys


def _face_sig(f):
    return (
        f.shell.tolist(),
        sorted(h.tolist() for h in f.holes),
        tuple(sorted(f.winding.items())),
        int(f.area2),
        list(f.lines),
    )


SIMPLIFY = dict(simplify_tol_units=2.5, chaikin_iters=2)
CASES = ([(seed, "plain") for seed in range(12)]
         + [(seed, option) for option in ("simplify_chaikin_frozen", "cut_lines")
            for seed in range(6)])


@pytest.mark.parametrize(
    "seed, option", CASES,
    ids=[str(s) if o == "plain" else f"{o}-{s}" for s, o in CASES])
def test_overlay_cells_equals_per_cell(seed, option):
    """Every cell of a multi-cell batch gets exactly what it gets run
    alone — plain, with simplify + Chaikin frozen at the cell box, and
    with attribute cut lines (per-face line ids)."""
    rng = np.random.default_rng(seed)
    n_cells = int(rng.integers(2, 7))
    items = []
    for ci in range(n_cells):
        # adjacent cells included: boxes share borders when gx steps by size
        size = 24
        gx = int(rng.integers(0, 3)) * size
        gy = ci * size  # distinct y-band per cell is NOT required; vary x too
        polys = _rand_cell_polys(rng, gx, gy, size, int(rng.integers(2, 9)))
        if option == "cut_lines":
            cut = [(lid, rng.integers(0, size, size=(int(rng.integers(2, 5)), 2))
                    + [gx, gy]) for lid in range(int(rng.integers(1, 4)))]
            items.append((1000 + ci, polys, None, cut))
        elif option == "simplify_chaikin_frozen":
            items.append((1000 + ci, polys, (gx, gy, gx + size, gy + size)))
        else:
            items.append((1000 + ci, polys))
    kw = SIMPLIFY if option == "simplify_chaikin_frozen" else {}

    got = overlay_cells(items, with_adjacency=True, noding_max_iter=8, **kw)
    for item in items:
        key = item[0]
        exp_faces, exp_adj = overlay_cells([item], with_adjacency=True,
                                           **kw)[key]
        got_faces, got_adj = got[key]
        assert [_face_sig(f) for f in got_faces] == \
            [_face_sig(f) for f in exp_faces], key
        assert got_adj == exp_adj, key
    if option == "cut_lines":
        assert any(f.lines for faces, _ in got.values() for f in faces)


def test_overlay_cells_adjacent_cells_share_borders():
    """Two cells sharing a full border edge (the resolve case: clipped
    pieces meet at the cell line) stay independent in the batch."""
    size = 16
    items = []
    for ci, gx in enumerate((0, size)):  # side-by-side cells
        rng = np.random.default_rng(100 + ci)
        items.append((ci, _rand_cell_polys(rng, gx, 0, size, 5)))
    got = overlay_cells(items, with_adjacency=True)
    for key, polys in items:
        exp_faces, exp_adj = overlay_cells([(key, polys)],
                                           with_adjacency=True)[key]
        got_faces, got_adj = got[key]
        assert [_face_sig(f) for f in got_faces] == \
            [_face_sig(f) for f in exp_faces]
        assert got_adj == exp_adj


def test_overlay_cells_quarantine_matches():
    """A non-converging cell quarantines the same pids as run alone, and
    other cells are unaffected."""
    # craft a cell whose noding cannot converge in 0 rounds: any crossing
    # pair with max_iter=0 raises; a lone cell quarantines pid>=0
    box = np.array([[0, 0], [40, 0], [40, 40], [0, 40]], np.int64)
    tri1 = np.array([[1, 1], [21, 2], [3, 17]], np.int64)
    tri2 = np.array([[2, 9], [22, 10], [4, 30]], np.int64)
    bad_cell = [(0, [tri1]), (1, [tri2]), (UNIVERSE, [box])]
    ok_cell = [(0, [np.array([[2, 2], [12, 2], [7, 9]], np.int64)]),
               (UNIVERSE, [box])]

    q_ref: dict = {}
    ref = overlay_cells([(0, bad_cell)], with_adjacency=True,
                        noding_max_iter=0, quarantine_of=q_ref)[0]
    q_got: dict = {}
    got = overlay_cells([("bad", bad_cell), ("ok", ok_cell)],
                        with_adjacency=True, noding_max_iter=0,
                        quarantine_of=q_got)
    assert sorted(q_got.get("bad", [])) == sorted(q_ref.get(0, []))
    assert [_face_sig(f) for f in got["bad"][0]] == \
        [_face_sig(f) for f in ref[0]]
    assert got["bad"][1] == ref[1]
    ok_ref = overlay_cells([(0, ok_cell)], with_adjacency=True,
                           noding_max_iter=0)[0]
    assert [_face_sig(f) for f in got["ok"][0]] == \
        [_face_sig(f) for f in ok_ref[0]]


@pytest.mark.parametrize("with_adjacency", [False, True])
def test_overlay_cells_empty_cells_do_not_alias(with_adjacency):
    """Every empty cell gets its own result object: mutating one must not
    leak into another."""
    got = overlay_cells([("a", []), ("b", [])], with_adjacency=with_adjacency)
    if with_adjacency:
        faces, adj = got["a"]
        adj[(0, 1)] = 1.0
    else:
        faces = got["a"]
    faces.append("mutated")
    assert got["b"] == (([], {}) if with_adjacency else [])
