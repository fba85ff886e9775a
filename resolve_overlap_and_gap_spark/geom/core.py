"""Scalar geometry kernels (pure numpy) — the ST_* surface of SURVEY.md §2.8
re-implemented from scratch (no shapely in this environment).

Everything operates on coordinate arrays; WKB (de)serialization lives in
wkb.py; boolean ops / polygonize live in arrangement.py.
"""

from __future__ import annotations

import numpy as np


# ------------------------------------------------------------ measures
def ring_area2(c: np.ndarray) -> float:
    """2x signed shoelace area of a closed or open ring (CCW positive).
    (ST_Area analog, planar.)  The rotated copies are built by slicing
    instead of np.roll (identical contents -> identical np.dot result;
    roll was ~10% of the dissolve kernel's profile)."""
    x, y = c[:, 0], c[:, 1]
    yr = np.concatenate((y[1:], y[:1]))
    xr = np.concatenate((x[1:], x[:1]))
    return float(np.dot(x, yr) - np.dot(y, xr))


def axis_edges(rings) -> np.ndarray:
    """(n,4) int64 (axis, coord, lo, hi) per positive-length axis-parallel
    edge of closed integer rings (the last vertex joins the first): axis 0
    = vertical edge on the line x=coord spanning y in [lo, hi]; axis 1 =
    horizontal edge on y=coord spanning x.  The one scan behind every
    cell-border interval (kill intervals, the kill test, polygonize
    portals); rows come in ring-edge order."""
    rs = [np.asarray(r, np.int64) for r in rings if len(r) >= 2]
    if not rs:
        return np.empty((0, 4), np.int64)
    a = np.vstack(rs)
    b = np.vstack([np.roll(r, -1, axis=0) for r in rs])
    vert = (a[:, 0] == b[:, 0]) & (a[:, 1] != b[:, 1])
    horiz = (a[:, 1] == b[:, 1]) & (a[:, 0] != b[:, 0])
    keep = vert | horiz
    a, b = a[keep], b[keep]
    axis = horiz[keep].astype(np.int64)
    i = np.arange(len(a))
    along = 1 - axis
    return np.column_stack([axis, a[i, axis],
                            np.minimum(a[i, along], b[i, along]),
                            np.maximum(a[i, along], b[i, along])])


def _drop_closing(c: np.ndarray) -> np.ndarray:
    if len(c) > 1 and np.array_equal(c[0], c[-1]):
        return c[:-1]
    return c


# ------------------------------------------------------------ candidate pairs
def bbox_pairs(bb: np.ndarray, group: np.ndarray | None = None,
               chunk: int = 1 << 16) -> tuple[np.ndarray, np.ndarray]:
    """Index pairs (i < j) of boxes that overlap as closed boxes, within
    equal ``group`` values when given — the engine's one bbox prefilter
    (the reference's ``t.geom && g.geom``,
    function_resolve_overlap_gap_init.sql:195-199).  bb: (n, 4) int
    (xmin, ymin, xmax, ymax).  Sort sweep over (group, xmin): a box's
    x-overlapping successors are one contiguous run of that order, so
    candidates are generated in chunks of about ``chunk`` and y-checked
    chunk by chunk — memory follows the overlapping pairs, never the
    x-only candidates."""
    n = len(bb)
    if n < 2:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    # (group, x) packed into one int64 via dense ranks of group and x
    xs, xr = np.unique(np.concatenate([bb[:, 0], bb[:, 2]]), return_inverse=True)
    g = 0 if group is None else np.unique(group, return_inverse=True)[1] * len(xs)
    lo, hi = g + xr[:n], g + xr[n:]
    order = np.argsort(lo, kind="stable")
    cnt = np.searchsorted(lo[order], hi[order], "right") - np.arange(n) - 1
    cum = np.concatenate(([0], np.cumsum(cnt)))
    out_i, out_j = [], []
    p0 = 0
    while p0 < n:
        p1 = max(p0 + 1, int(np.searchsorted(cum, cum[p0] + chunk, "right")) - 1)
        c = cnt[p0:p1]
        tot = int(cum[p1] - cum[p0])
        a = np.repeat(np.arange(p0, p1), c)
        i = order[a]
        j = order[a + 1 + np.arange(tot) - np.repeat(cum[p0:p1] - cum[p0], c)]
        ov = (bb[i, 1] <= bb[j, 3]) & (bb[j, 1] <= bb[i, 3])
        i, j = i[ov], j[ov]
        out_i.append(np.minimum(i, j))
        out_j.append(np.maximum(i, j))
        p0 = p1
    return np.concatenate(out_i), np.concatenate(out_j)


def components(n: int, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Connected components of the graph on vertices 0..n-1 with edges
    (i[k], j[k]): a label per vertex, the min vertex of its component.
    Vectorized union-find: every round hooks the larger root of each
    still-split edge under the smaller (so a root is always its tree's
    min vertex), and pointer jumping flattens the forest in O(log depth)
    whole-array steps."""
    parent = np.arange(n, dtype=np.int64)

    def roots(x):
        while True:
            pp = parent[parent]
            if np.array_equal(pp, parent):
                return parent[x]
            parent[:] = pp

    ri, rj = roots(i), roots(j)
    while len(ri):
        np.minimum.at(parent, np.maximum(ri, rj), np.minimum(ri, rj))
        ri, rj = roots(ri), roots(rj)
        d = ri != rj
        ri, rj = ri[d], rj[d]
    return roots(slice(None))


# ------------------------------------------------------------ predicates
def points_in_ring(pts: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast: pts (m,2) vs one ring (n,2).
    Boundary points are NOT guaranteed either way (use exact variants in
    arrangement.py for snapped integer coords)."""
    ring = _drop_closing(np.asarray(ring, dtype=np.float64))
    x, y = pts[:, 0][:, None], pts[:, 1][:, None]
    x1, y1 = ring[:, 0][None, :], ring[:, 1][None, :]
    x2, y2 = np.roll(ring[:, 0], -1)[None, :], np.roll(ring[:, 1], -1)[None, :]
    cond = (y1 > y) != (y2 > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xin = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
    crossings = (cond & (x < xin)).sum(axis=1)
    return (crossings % 2).astype(bool)


def points_in_polygon(pts: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd over shell+holes."""
    inside = points_in_ring(pts, rings[0])
    for h in rings[1:]:
        inside &= ~points_in_ring(pts, h)
    return inside


# ------------------------------------------------------------ clipping
def _clip_small(pts: list, xmin, ymin, xmax, ymax) -> list:
    """Plain-python Sutherland–Hodgman for small rings (numpy per-op
    overhead dominates below ~32 vertices)."""
    for fixed, ci, keep_ge in ((xmin, 0, True), (xmax, 0, False),
                               (ymin, 1, True), (ymax, 1, False)):
        if not pts:
            return pts
        out = []
        n = len(pts)
        for i in range(n):
            cx, cy = pts[i]
            nx, ny = pts[(i + 1) % n]
            c_in = (pts[i][ci] >= fixed) if keep_ge else (pts[i][ci] <= fixed)
            n_in = (pts[(i + 1) % n][ci] >= fixed) if keep_ge else (pts[(i + 1) % n][ci] <= fixed)
            if c_in:
                out.append((cx, cy))
            if c_in != n_in:
                if ci == 0:
                    t = (fixed - cx) / (nx - cx)
                    out.append((fixed, cy + t * (ny - cy)))
                else:
                    t = (fixed - cy) / (ny - cy)
                    out.append((cx + t * (nx - cx), fixed))
        pts = out
    return pts


def clip_ring_to_box(ring: np.ndarray, xmin, ymin, xmax, ymax) -> np.ndarray:
    """Sutherland–Hodgman clip of a ring against an axis box (exact for any
    subject polygon vs convex clip). Returns open ring (possibly empty).
    This is the per-cell ST_Intersection(data, cell) clip of the detection
    engine (find_overlap_and_gap-pre.sql:556-585)."""
    out = _drop_closing(np.asarray(ring, dtype=np.float64))
    if len(out) <= 32:
        pts = _clip_small([(float(x), float(y)) for x, y in out],
                          float(xmin), float(ymin), float(xmax), float(ymax))
        return np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    for fixed, coord_idx, keep_ge in (
        (xmin, 0, True), (xmax, 0, False), (ymin, 1, True), (ymax, 1, False),
    ):
        if len(out) == 0:
            break
        cur = out
        nxt = np.concatenate([cur[1:], cur[:1]], axis=0)
        ins_cur = (cur[:, coord_idx] >= fixed) if keep_ge else (cur[:, coord_idx] <= fixed)
        ins_nxt = (nxt[:, coord_idx] >= fixed) if keep_ge else (nxt[:, coord_idx] <= fixed)
        denom = nxt[:, coord_idx] - cur[:, coord_idx]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(denom != 0, (fixed - cur[:, coord_idx]) / denom, 0.0)
        inter = cur + t[:, None] * (nxt - cur)
        inter[:, coord_idx] = fixed
        # vectorized assembly: per vertex emit [cur if inside, inter if edge
        # crosses the clip line] in order
        crossing = ins_cur != ins_nxt
        cand = np.stack([cur, inter], axis=1).reshape(-1, 2)   # (2n, 2)
        mask = np.stack([ins_cur, crossing], axis=1).reshape(-1)
        out = cand[mask]
    return out


# ------------------------------------------------------------ simplify / smooth
def simplify_dp(c: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker (ST_SimplifyPreserveTopology analog for open lines;
    topology preservation across features is handled by simplifying shared
    border lines once, before polygonize — SURVEY.md §2.9)."""
    c = np.asarray(c, dtype=np.float64)
    if len(c) < 3 or tol <= 0:
        return c.copy()
    keep = np.zeros(len(c), dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, len(c) - 1)]
    while stack:
        i, j = stack.pop()
        if j <= i + 1:
            continue
        seg = c[j] - c[i]
        L = np.hypot(*seg)
        pts = c[i + 1 : j]
        if L == 0:
            d = np.hypot(pts[:, 0] - c[i, 0], pts[:, 1] - c[i, 1])
        else:
            d = np.abs(np.cross(seg, pts - c[i])) / L
        kmax = int(np.argmax(d))
        if d[kmax] > tol:
            k = i + 1 + kmax
            keep[k] = True
            stack.append((i, k))
            stack.append((k, j))
    return c[keep]


def chaikin_acute(c: np.ndarray, n_iterations: int = 1,
                  min_angle_deg: float = 40.0, max_angle_deg: float = 320.0,
                  fixed_ends: bool = True) -> np.ndarray:
    """Chaikin corner cutting applied only at sufficiently acute vertices —
    the semantics of the reference's chaikinsAcuteAngle
    (…utils/function_02_chaikinsAcuteAngle.sql:27-218): vertices whose turn
    angle is outside [min_angle, max_angle] (degrees) are replaced by the
    0.25/0.75 interpolation points of their incident segments; endpoints are
    frozen (the reference freezes border-strip endpoints)."""
    c = np.asarray(c, dtype=np.float64)
    for _ in range(max(0, n_iterations)):
        if len(c) < 3:
            break
        prev, cur, nxt = c[:-2], c[1:-1], c[2:]
        v1, v2 = prev - cur, nxt - cur
        ang = np.degrees(
            np.arctan2(np.cross(v1, v2), (v1 * v2).sum(axis=1))
        ) % 360.0
        cut = (ang < min_angle_deg) | (ang > max_angle_deg)
        out = [c[0]] if fixed_ends else [c[0]]
        for i in range(len(cur)):
            if cut[i]:
                out.append(cur[i] + 0.25 * v1[i])
                out.append(cur[i] + 0.25 * v2[i])
            else:
                out.append(cur[i])
        out.append(c[-1])
        c = np.array(out)
    return c


# ------------------------------------------------------------ snapping
# The engine's one snap-grid codec: every float <-> int64 grid conversion
# (WKB load/dump in wkb.py, cell boxes in grid.py) goes through these two.
def snap_to_grid_int(c: np.ndarray, grid: float) -> np.ndarray:
    """Snap float coords to the integer grid (units of ``grid``) — the
    ST_SnapToGrid / set_precision analog and the entry into exact integer
    arithmetic (int64). Round-half-up (floor(x/grid + 0.5)) for
    determinism."""
    c = np.asarray(c, dtype=np.float64) / grid
    return np.floor(c + 0.5).astype(np.int64)


def grid_to_float(c: np.ndarray, grid: float) -> np.ndarray:
    """Integer grid coords back to layer units (the inverse of
    snap_to_grid_int on the grid's points)."""
    return np.asarray(c, dtype=np.float64) * grid
