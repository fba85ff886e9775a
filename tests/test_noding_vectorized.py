"""Differential test: vectorized node_segments == the r5 scalar reference.

The reference below is the pre-vectorization implementation (scalar pair
loop + per-segment rebuild), kept verbatim as an executable spec.  Inputs
are randomized integer segment soups dense with degeneracies (shared
endpoints, collinear overlaps, endpoint touches, proper crossings on a
coarse grid so snapping creates new interactions).  The comparison is on
the canonical noded multiset — (segment, pid, wt) rows with canonical
endpoint order, sorted — because the vectorized rebuild emits rows in a
different (semantically irrelevant) order.
"""
from __future__ import annotations

from collections import defaultdict

import numpy as np
import pytest

from resolve_overlap_and_gap_spark.geom.arrangement import (
    Arrangement,
    NodingError,
    _label_walks_small,
    label_walks,
    node_segments,
    rings_to_segments,
)
from resolve_overlap_and_gap_spark.geom.core import bbox_pairs


def _cross(ox, oy, ax, ay, bx, by):
    return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)


def _on_segment(px, py, x1, y1, x2, y2):
    if _cross(x1, y1, x2, y2, px, py) != 0:
        return False
    return min(x1, x2) <= px <= max(x1, x2) and min(y1, y2) <= py <= max(y1, y2)


def _bbox_pairs_ref(S):
    m = len(S)
    x1 = np.minimum(S[:, 0], S[:, 2]); x2 = np.maximum(S[:, 0], S[:, 2])
    y1 = np.minimum(S[:, 1], S[:, 3]); y2 = np.maximum(S[:, 1], S[:, 3])
    ov = (
        (x1[:, None] <= x2[None, :]) & (x2[:, None] >= x1[None, :])
        & (y1[:, None] <= y2[None, :]) & (y2[:, None] >= y1[None, :])
    )
    ii, jj = np.nonzero(ov)
    k = ii < jj
    return ii[k], jj[k]


def node_segments_ref(S, pid, wt, max_iter=8):
    """The r5 scalar implementation (verbatim semantics)."""
    S = np.asarray(S, np.int64).reshape(-1, 4).copy()
    pid = np.asarray(pid, np.int64).copy()
    wt = np.asarray(wt, np.int64).copy()
    for it in range(max_iter + 1):
        m = len(S)
        if m == 0:
            break
        splits = defaultdict(set)
        I, J = _bbox_pairs_ref(S)
        for t in range(len(I)):
            a, b = int(I[t]), int(J[t])
            ax1, ay1, ax2, ay2 = (int(v) for v in S[a])
            bx1, by1, bx2, by2 = (int(v) for v in S[b])
            share = (ax1, ay1) in ((bx1, by1), (bx2, by2)) or \
                (ax2, ay2) in ((bx1, by1), (bx2, by2))
            d1 = _cross(ax1, ay1, ax2, ay2, bx1, by1)
            d2 = _cross(ax1, ay1, ax2, ay2, bx2, by2)
            d3 = _cross(bx1, by1, bx2, by2, ax1, ay1)
            d4 = _cross(bx1, by1, bx2, by2, ax2, ay2)
            collin = d1 == 0 and d2 == 0
            if share and not collin:
                continue
            if collin:
                for px, py in ((bx1, by1), (bx2, by2)):
                    if _on_segment(px, py, ax1, ay1, ax2, ay2) and \
                            (px, py) not in ((ax1, ay1), (ax2, ay2)):
                        splits[a].add((px, py))
                for px, py in ((ax1, ay1), (ax2, ay2)):
                    if _on_segment(px, py, bx1, by1, bx2, by2) and \
                            (px, py) not in ((bx1, by1), (bx2, by2)):
                        splits[b].add((px, py))
                continue
            if ((d1 > 0) != (d2 > 0) or d1 == 0 or d2 == 0) and (
                (d3 > 0) != (d4 > 0) or d3 == 0 or d4 == 0
            ):
                if d1 == 0 and _on_segment(bx1, by1, ax1, ay1, ax2, ay2):
                    px, py = bx1, by1
                elif d2 == 0 and _on_segment(bx2, by2, ax1, ay1, ax2, ay2):
                    px, py = bx2, by2
                elif d3 == 0 and _on_segment(ax1, ay1, bx1, by1, bx2, by2):
                    px, py = ax1, ay1
                elif d4 == 0 and _on_segment(ax2, ay2, bx1, by1, bx2, by2):
                    px, py = ax2, ay2
                else:
                    denom = float(d3 - d4)
                    if denom == 0:
                        continue
                    t2 = d3 / denom
                    px = int(np.floor(ax1 + t2 * (ax2 - ax1) + 0.5))
                    py = int(np.floor(ay1 + t2 * (ay2 - ay1) + 0.5))
                if (px, py) not in ((ax1, ay1), (ax2, ay2)):
                    splits[a].add((px, py))
                if (px, py) not in ((bx1, by1), (bx2, by2)):
                    splits[b].add((px, py))
        if not splits:
            break
        if it == max_iter:
            raise NodingError(sorted({int(pid[i]) for i in splits}))
        newS, newP, newW = [], [], []
        for i in range(m):
            x1, y1, x2, y2 = (int(v) for v in S[i])
            if i in splits:
                pts = [(x1, y1)] + sorted(
                    splits[i], key=lambda p: (abs(p[0] - x1) + abs(p[1] - y1))
                ) + [(x2, y2)]
                for (u1, v1), (u2, v2) in zip(pts[:-1], pts[1:]):
                    if (u1, v1) != (u2, v2):
                        newS.append((u1, v1, u2, v2))
                        newP.append(pid[i]); newW.append(wt[i])
            else:
                newS.append((x1, y1, x2, y2))
                newP.append(pid[i]); newW.append(wt[i])
        S = np.asarray(newS, np.int64)
        pid = np.asarray(newP, np.int64)
        wt = np.asarray(newW, np.int64)
    return S, pid, wt


def _canon(S, pid, wt):
    """Canonical sorted multiset of (x1,y1,x2,y2,pid,wt) with endpoint order
    normalized (direction is preserved by noding, so no flip needed — but
    rebuild order is not)."""
    rows = np.column_stack([S, pid, wt])
    order = np.lexsort(tuple(rows[:, c] for c in range(rows.shape[1] - 1, -1, -1)))
    return rows[order]


def _random_soup(rng, n, span=40):
    """Segment soup on a coarse grid: dense in collinear overlaps, shared
    endpoints, touches and crossings whose snapped points cascade."""
    pts = rng.integers(0, span, size=(n, 4)).astype(np.int64)
    ok = (pts[:, 0] != pts[:, 2]) | (pts[:, 1] != pts[:, 3])
    S = pts[ok]
    pid = rng.integers(0, 5, size=len(S)).astype(np.int64)
    wt = rng.choice(np.array([-1, 1], np.int64), size=len(S))
    return S, pid, wt


@pytest.mark.parametrize("seed", range(30))
def test_vectorized_matches_scalar_reference(seed):
    rng = np.random.default_rng(seed)
    S, pid, wt = _random_soup(rng, 60)
    try:
        expS, expP, expW = node_segments_ref(S, pid, wt)
        exc = None
    except NodingError as e:
        exc = e
    if exc is not None:
        with pytest.raises(NodingError) as got:
            node_segments(S, pid, wt)
        assert got.value.pids == exc.pids
        return
    gotS, gotP, gotW = node_segments(S, pid, wt)
    assert _canon(gotS, gotP, gotW).tolist() == _canon(expS, expP, expW).tolist()


@pytest.mark.parametrize("seed", range(10))
def test_vectorized_arrangement_faces_match(seed):
    """End-to-end: the Arrangement built from either noding has identical
    labeled walk areas (the face-level invariant the kernels consume)."""
    rng = np.random.default_rng(100 + seed)
    S, pid, wt = _random_soup(rng, 40, span=25)
    try:
        a = node_segments_ref(S, pid, wt)
    except NodingError:
        return
    b = node_segments(S, pid, wt)
    arr_a = Arrangement(*a)
    arr_b = Arrangement(*b)
    wa = label_walks(arr_a)
    wb = label_walks(arr_b)
    sig_a = sorted((int(x), tuple(sorted(w.items())))
                   for x, w in zip(arr_a.walk_area2, wa))
    sig_b = sorted((int(x), tuple(sorted(w.items())))
                   for x, w in zip(arr_b.walk_area2, wb))
    assert sig_a == sig_b


def test_bbox_pairs_equal_brute_force():
    """The sweep's pair set == the all-pairs broadcast, with and without a
    group key, for one chunk and for chunk=3 (candidates span many
    chunks).  More than 4,096 boxes on a coarse grid: zero-width and
    zero-height boxes, plus hand-placed boxes that touch only at an edge
    or a corner and one that misses by a unit."""
    rng = np.random.default_rng(5)
    n = 4200
    lo = rng.integers(0, 300, size=(n, 2))
    bb = np.hstack([lo, lo + rng.integers(0, 5, size=(n, 2))])
    touch = np.array([[1000, 1000, 1010, 1010], [1010, 1000, 1020, 1005],
                      [1020, 1005, 1030, 1015], [1031, 1000, 1040, 1010],
                      [1000, 1010, 1000, 1020], [990, 1020, 1000, 1020]])
    bb = np.vstack([bb, touch]).astype(np.int64)
    n = len(bb)
    assert ((bb[:, 0] == bb[:, 2]) & (bb[:, 1] != bb[:, 3])).any()
    assert ((bb[:, 1] == bb[:, 3]) & (bb[:, 0] != bb[:, 2])).any()
    group = rng.integers(0, 3, size=n)
    group[-len(touch):] = 0

    def key(i, j):
        assert (i < j).all()
        return np.sort(i * n + j).tolist()

    ri, rj = _bbox_pairs_ref(bb)
    same = group[ri] == group[rj]
    t0 = n - len(touch)
    # edge 0-1, corner 1-2, none 2-3, edge 0-4, corner 4-5
    want_touch = {(0, 1), (1, 2), (0, 4), (4, 5)}
    got_touch = {(int(a) - t0, int(b) - t0) for a, b in zip(ri, rj) if a >= t0}
    assert got_touch == want_touch
    for chunk in (1 << 16, 3):
        assert key(*bbox_pairs(bb, None, chunk)) == key(ri, rj)
        assert key(*bbox_pairs(bb, group, chunk)) == key(ri[same], rj[same])


def test_node_segments_memory_is_not_quadratic():
    """3,000 horizontal segments 100,000 wide at distinct y, plus 2,000
    short ones far away: every long segment's x-range overlaps every
    other's, yet no two boxes overlap.  All-pairs candidates would be
    4.5M pairs (the old median-extent binning put the whole column in one
    bin); the sweep's y check keeps the peak far below that."""
    import tracemalloc

    k = 3000
    y = np.arange(k, dtype=np.int64)
    z = np.zeros(k, np.int64)
    x = 10_000_000 + 10 * np.arange(2000, dtype=np.int64)
    S = np.vstack([np.stack([z, y, z + 100_000, y], axis=1),
                   np.stack([x, x, x + 3, x + 2], axis=1)])
    pid = np.arange(len(S), dtype=np.int64)
    wt = np.ones(len(S), np.int64)
    tracemalloc.start()
    try:
        got = node_segments(S, pid, wt)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert _canon(*got).tolist() == _canon(S, pid, wt).tolist()
    assert peak < 64 << 20, peak


def _rect_soup(rng, n, span):
    """Segments of n random axis boxes and right triangles (nested, disjoint
    and overlapping components), noded."""
    polys = []
    for p in range(n):
        x0, y0 = (int(v) for v in rng.integers(0, span, 2))
        w, h = (int(v) for v in rng.integers(1, span // 4, 2))
        ring = ([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]]
                if p % 3 else [[x0, y0], [x0 + w, y0], [x0, y0 + h]])
        polys.append((p, [np.array(ring, np.int64)]))
    return node_segments(*rings_to_segments(polys))


@pytest.mark.parametrize("n, span", [(8, 200), (60, 400), (150, 2000)])
def test_label_walks_equal_small_path(n, span):
    """label_walks == the scalar _label_walks_small on the same untagged
    arrangement, below the 192-edge switch (label_walks hands over to the
    scalar path) and above it (its own components labels and batched
    anchor ray-casts)."""
    arr = Arrangement(*_rect_soup(np.random.default_rng(n), n, span))
    assert (len(arr.edges) > 192) == (n > 8)
    assert label_walks(arr) == _label_walks_small(arr)
