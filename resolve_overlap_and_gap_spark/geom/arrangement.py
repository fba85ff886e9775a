"""Planar arrangement on a snapped integer grid — the engine's from-scratch
replacement for PostGIS Topology (SURVEY.md §2.9).

The reference materializes a mutable planar graph (node/edge_data/face
tables) and inserts lines one at a time with snapping
(topology.TopoGeo_addLinestring, …utils/function_03_add_border_lines.sql).
Here the same semantics are computed as a *batch* per cell:

  1. snap all ring coordinates to the tolerance grid (int64) —
     ST_SnapToGrid analog (view_get_simplified_border_lines…:45-49),
  2. node all segments (split at crossings/touches, iterated to fixpoint) —
     TopoGeo_addLinestring's noding,
  3. build a half-edge structure and walk faces — GetFaceGeometry/polygonize,
  4. label every face with the *winding vector* of each input polygon by
     propagating crossing deltas over the face adjacency (plus an exact
     integer ray-cast to anchor nested components) — topology `relation`
     layer semantics without any mutable state.

All predicates are exact int64 arithmetic (coords are grid units; with a
world-wide 1e-5-degree grid, cross products stay < 2^63). Per-cell inputs
are content-balanced (bounded rows), so the O(n log n)-ish python/numpy here
runs inside `applyInPandas` on bounded batches.

Coverage rule: a polygon covers a face iff its winding > 0 (exterior rings
CCW-normalized, holes CW-normalized).
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

from resolve_overlap_and_gap_spark.geom.core import (
    bbox_pairs,
    components,
    ring_area2,
)

CUT_LINE_BASE = -1000  # pids at or below this are attribute cut-lines


# ------------------------------------------------------------ segments
def rings_to_segments(polys: list[tuple[int, list[np.ndarray]]]):
    """polys: [(poly_id, [ring int64 (n,2), ...])] with ring 0 = shell.
    Returns segment array (m,4) int64 and per-segment (poly_id, weight)
    where weight=+1 means the stored direction has the polygon's winding
    orientation (exterior CCW / hole CW)."""
    segs, pids, wts = [], [], []
    for pid, rings in polys:
        for ri, ring in enumerate(rings):
            r = np.asarray(ring, dtype=np.int64)
            if len(r) > 1 and (r[0] == r[-1]).all():
                r = r[:-1]
            if len(r) < 3:
                continue
            a2 = ring_area2(r.astype(np.float64))
            if a2 == 0:
                continue
            want_ccw = ri == 0
            is_ccw = a2 > 0
            if want_ccw != is_ccw:
                r = r[::-1]
            nxt = np.concatenate((r[1:], r[:1]), axis=0)  # roll(-1) via slicing
            keep = (r != nxt).any(axis=1)
            s = np.hstack([r[keep], nxt[keep]])
            segs.append(s)
            pids.extend([pid] * len(s))
            wts.extend([1] * len(s))
    if not segs:
        return np.empty((0, 4), np.int64), np.empty(0, np.int64), np.empty(0, np.int64)
    return (
        np.vstack(segs),
        np.asarray(pids, dtype=np.int64),
        np.asarray(wts, dtype=np.int64),
    )


def _unique_rows(pts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """np.unique(pts, axis=0, return_inverse=True) with an order-preserving
    int64 packing fast path — the void-view axis-0 unique is ~6x slower on
    the DCEL's node table.  2-col rows pack when |x|,|y| < 2^30; 3-col
    (cell, x, y) rows when cell < 512 and |x|,|y| < 2^26 (grid coordinates
    are ~3.6e7 < 2^26 world-wide); anything else falls back.  Packing is
    monotone in the lexicographic row order, so the sorted-unique output
    and inverse indices are identical to the generic path."""
    nc = pts.shape[1]
    if nc == 2:
        x, y = pts[:, 0], pts[:, 1]
        if (np.abs(x) < (1 << 30)).all() and (np.abs(y) < (1 << 30)).all():
            key = ((x + (1 << 30)) << 31) | (y + (1 << 30))
            _, idx, inv = np.unique(key, return_index=True, return_inverse=True)
            return pts[idx], inv
    elif nc == 3:
        c, x, y = pts[:, 0], pts[:, 1], pts[:, 2]
        if ((len(c) == 0 or int(c.max()) < 512)
                and (np.abs(x) < (1 << 26)).all()
                and (np.abs(y) < (1 << 26)).all()):
            key = (c << 54) | ((x + (1 << 26)) << 27) | (y + (1 << 26))
            _, idx, inv = np.unique(key, return_index=True, return_inverse=True)
            return pts[idx], inv
    return np.unique(pts, axis=0, return_inverse=True)


def _cross(ox, oy, ax, ay, bx, by) -> int:
    return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)


def _on_segment(px, py, x1, y1, x2, y2) -> bool:
    """p collinear-with and within bbox of segment (exact)."""
    if _cross(x1, y1, x2, y2, px, py) != 0:
        return False
    return min(x1, x2) <= px <= max(x1, x2) and min(y1, y2) <= py <= max(y1, y2)


class NodingError(RuntimeError):
    """Snap-noding fixpoint did not converge within the iteration budget.
    Carries the pids of the still-interacting segments so callers can
    quarantine the offending features — the reference's _no_cut_line_failed
    path (function_resolve_overlap_gap_init.sql:221-232; long-line deferral
    view_get_simplified_border_lines_function_v.sql:206-213).  A cell-tagged
    noding also carries their (cell_index, pid) pairs."""

    def __init__(self, pids: list[int],
                 pairs: list[tuple[int, int]] | None = None):
        super().__init__(f"noding did not converge; offending pids: {pids}")
        self.pids = pids
        self.pairs = pairs


def node_segments(S: np.ndarray, pid: np.ndarray, wt: np.ndarray, max_iter: int = 8):
    """Split segments at crossings/touches until fixpoint (snapped noding).
    Intersection points are rounded to the integer grid (the snap), so a
    round can create new crossings — hence the fixpoint loop.  Raises
    NodingError (with the offending pids) if splits remain after max_iter
    rounds — never silently returns a partially-noded arrangement.

    Fully vectorized: split events are assembled as (segment, x, y) arrays
    for proper crossings, endpoint touches and collinear overlaps alike,
    and the segment rebuild is a grouped scatter — no per-pair or per-
    segment python loops (guide §4.2)."""
    S, pid, wt, _ = _node_segments_impl(S, pid, wt, None, max_iter)
    return S, pid, wt


def _node_segments_impl(S: np.ndarray, pid: np.ndarray, wt: np.ndarray,
                        cell: np.ndarray | None, max_iter: int = 8):
    """node_segments with an optional per-segment CELL tag, the group key of
    the bbox_pairs sweep: segments of different cells are never candidates,
    so independent cells node in ONE batched pass with results identical to
    per-cell runs (coordinates untouched — no translation, no float
    differences)."""
    S = np.asarray(S, dtype=np.int64).reshape(-1, 4)
    pid = np.asarray(pid, dtype=np.int64)
    wt = np.asarray(wt, dtype=np.int64)
    if cell is not None:
        cell = np.asarray(cell, dtype=np.int64)
    for it in range(max_iter + 1):
        m = len(S)
        if m == 0:
            break
        I, J = bbox_pairs(np.hstack([np.minimum(S[:, :2], S[:, 2:]),
                                     np.maximum(S[:, :2], S[:, 2:])]), cell)
        # event arrays: split segment index + split point
        ev_s: list[np.ndarray] = []
        ev_x: list[np.ndarray] = []
        ev_y: list[np.ndarray] = []

        def _emit(seg: np.ndarray, px: np.ndarray, py: np.ndarray):
            """Queue split events, dropping points equal to the segment's
            own endpoints (they split nothing)."""
            sx1 = S[seg, 0]; sy1 = S[seg, 1]; sx2 = S[seg, 2]; sy2 = S[seg, 3]
            keep = ((px != sx1) | (py != sy1)) & ((px != sx2) | (py != sy2))
            if keep.any():
                ev_s.append(seg[keep]); ev_x.append(px[keep]); ev_y.append(py[keep])

        if len(I):
            # vectorized orientation predicates over all candidate pairs
            A, B = S[I], S[J]
            ax1, ay1, ax2, ay2 = A[:, 0], A[:, 1], A[:, 2], A[:, 3]
            bx1, by1, bx2, by2 = B[:, 0], B[:, 1], B[:, 2], B[:, 3]
            d1v = (ax2 - ax1) * (by1 - ay1) - (ay2 - ay1) * (bx1 - ax1)
            d2v = (ax2 - ax1) * (by2 - ay1) - (ay2 - ay1) * (bx2 - ax1)
            d3v = (bx2 - bx1) * (ay1 - by1) - (by2 - by1) * (ax1 - bx1)
            d4v = (bx2 - bx1) * (ay2 - by1) - (by2 - by1) * (ax2 - bx1)
            strad_b = ((d1v > 0) != (d2v > 0)) | (d1v == 0) | (d2v == 0)
            strad_a = ((d3v > 0) != (d4v > 0)) | (d3v == 0) | (d4v == 0)
            # pairs that merely share an endpoint (ring-consecutive segments
            # are the bulk of candidates) can only intersect AT that shared
            # vertex unless collinear — no split needed, skip them
            share = (
                ((ax1 == bx1) & (ay1 == by1)) | ((ax1 == bx2) & (ay1 == by2))
                | ((ax2 == bx1) & (ay2 == by1)) | ((ax2 == bx2) & (ay2 == by2))
            )
            collin = (d1v == 0) & (d2v == 0)
            interact = strad_a & strad_b & (~share | collin)
            # PROPER crossings (all orientations nonzero): unique interior
            # intersection point, snapped to the grid
            proper = interact & (d1v != 0) & (d2v != 0) & (d3v != 0) & (d4v != 0)
            pk = np.nonzero(proper)[0]
            if len(pk):
                tt = d3v[pk].astype(np.float64) / (d3v[pk] - d4v[pk]).astype(np.float64)
                pxv = np.floor(ax1[pk] + tt * (ax2[pk] - ax1[pk]) + 0.5).astype(np.int64)
                pyv = np.floor(ay1[pk] + tt * (ay2[pk] - ay1[pk]) + 0.5).astype(np.int64)
                _emit(I[pk], pxv, pyv)
                _emit(J[pk], pxv, pyv)
            # COLLINEAR overlaps: split at the other segment's endpoints
            # (both segments lie on one line, so the on-segment test is a
            # pure bbox containment)
            ck = np.nonzero(interact & collin)[0]
            if len(ck):
                alx = np.minimum(ax1[ck], ax2[ck]); ahx = np.maximum(ax1[ck], ax2[ck])
                aly = np.minimum(ay1[ck], ay2[ck]); ahy = np.maximum(ay1[ck], ay2[ck])
                blx = np.minimum(bx1[ck], bx2[ck]); bhx = np.maximum(bx1[ck], bx2[ck])
                bly = np.minimum(by1[ck], by2[ck]); bhy = np.maximum(by1[ck], by2[ck])
                for px, py in ((bx1[ck], by1[ck]), (bx2[ck], by2[ck])):
                    on_a = (alx <= px) & (px <= ahx) & (aly <= py) & (py <= ahy)
                    if on_a.any():
                        _emit(I[ck[on_a]], px[on_a], py[on_a])
                for px, py in ((ax1[ck], ay1[ck]), (ax2[ck], ay2[ck])):
                    on_b = (blx <= px) & (px <= bhx) & (bly <= py) & (py <= bhy)
                    if on_b.any():
                        _emit(J[ck[on_b]], px[on_b], py[on_b])
            # DEGENERATE touches (some orientation zero, not collinear): the
            # segments meet at a single point — an endpoint of one lying on
            # the other (d==0 + bbox containment), or the snapped crossing
            # as fallback.  All true endpoint candidates name that same
            # point, so candidate order does not matter.
            tk = np.nonzero(interact & ~proper & ~collin)[0]
            if len(tk):
                alx = np.minimum(ax1[tk], ax2[tk]); ahx = np.maximum(ax1[tk], ax2[tk])
                aly = np.minimum(ay1[tk], ay2[tk]); ahy = np.maximum(ay1[tk], ay2[tk])
                blx = np.minimum(bx1[tk], bx2[tk]); bhx = np.maximum(bx1[tk], bx2[tk])
                bly = np.minimum(by1[tk], by2[tk]); bhy = np.maximum(by1[tk], by2[tk])
                c1 = (d1v[tk] == 0) & (alx <= bx1[tk]) & (bx1[tk] <= ahx) \
                    & (aly <= by1[tk]) & (by1[tk] <= ahy)
                c2 = (d2v[tk] == 0) & (alx <= bx2[tk]) & (bx2[tk] <= ahx) \
                    & (aly <= by2[tk]) & (by2[tk] <= ahy)
                c3 = (d3v[tk] == 0) & (blx <= ax1[tk]) & (ax1[tk] <= bhx) \
                    & (bly <= ay1[tk]) & (ay1[tk] <= bhy)
                c4 = (d4v[tk] == 0) & (blx <= ax2[tk]) & (ax2[tk] <= bhx) \
                    & (bly <= ay2[tk]) & (ay2[tk] <= bhy)
                denom = d3v[tk] - d4v[tk]
                fb = ~(c1 | c2 | c3 | c4) & (denom != 0)
                with np.errstate(divide="ignore", invalid="ignore"):
                    tt = d3v[tk].astype(np.float64) / denom.astype(np.float64)
                fx = np.floor(ax1[tk] + tt * (ax2[tk] - ax1[tk]) + 0.5)
                fy = np.floor(ay1[tk] + tt * (ay2[tk] - ay1[tk]) + 0.5)
                have = c1 | c2 | c3 | c4 | fb
                px = np.select(
                    [c1, c2, c3, c4, fb],
                    [bx1[tk], bx2[tk], ax1[tk], ax2[tk],
                     np.where(fb, fx, 0.0).astype(np.int64)], 0)
                py = np.select(
                    [c1, c2, c3, c4, fb],
                    [by1[tk], by2[tk], ay1[tk], ay2[tk],
                     np.where(fb, fy, 0.0).astype(np.int64)], 0)
                hk = np.nonzero(have)[0]
                if len(hk):
                    _emit(I[tk[hk]], px[hk], py[hk])
                    _emit(J[tk[hk]], px[hk], py[hk])
        if not ev_s:
            break
        seg = np.concatenate(ev_s)
        ex = np.concatenate(ev_x)
        ey = np.concatenate(ev_y)
        if it == max_iter:
            bad = np.unique(seg)
            raise NodingError(
                sorted({int(p) for p in pid[bad]}),
                None if cell is None else sorted(
                    {(int(c), int(p)) for c, p in zip(cell[bad], pid[bad])}))
        # dedup events and order within each segment by L1 distance from
        # the segment start (ties by coordinate — deterministic)
        dist = np.abs(ex - S[seg, 0]) + np.abs(ey - S[seg, 1])
        order = np.lexsort((ey, ex, dist, seg))
        seg, ex, ey, dist = seg[order], ex[order], ey[order], dist[order]
        dup = np.zeros(len(seg), dtype=bool)
        dup[1:] = (seg[1:] == seg[:-1]) & (ex[1:] == ex[:-1]) & (ey[1:] == ey[:-1])
        seg, ex, ey = seg[~dup], ex[~dup], ey[~dup]
        # grouped rebuild: each split segment i with k events becomes k+1
        # chained sub-segments [start, e1..ek, end]
        split_ids, k = np.unique(seg, return_counts=True)
        rows = k + 1
        off = np.concatenate(([0], np.cumsum(rows)))
        total = int(off[-1])
        fx_ = np.empty(total, np.int64); fy_ = np.empty(total, np.int64)
        tx_ = np.empty(total, np.int64); ty_ = np.empty(total, np.int64)
        g = np.repeat(np.arange(len(split_ids)), k)
        ev_gstart = np.concatenate(([0], np.cumsum(k)))[:-1]
        pos = np.arange(len(seg)) - ev_gstart[g]
        to_row = off[g] + pos
        fx_[off[:-1]] = S[split_ids, 0]; fy_[off[:-1]] = S[split_ids, 1]
        fx_[to_row + 1] = ex; fy_[to_row + 1] = ey
        tx_[to_row] = ex; ty_[to_row] = ey
        tx_[off[1:] - 1] = S[split_ids, 2]; ty_[off[1:] - 1] = S[split_ids, 3]
        built = np.stack([fx_, fy_, tx_, ty_], axis=1)
        keep_row = (fx_ != tx_) | (fy_ != ty_)
        built = built[keep_row]
        bp = np.repeat(pid[split_ids], rows)[keep_row]
        bw = np.repeat(wt[split_ids], rows)[keep_row]
        unsplit = np.ones(m, dtype=bool)
        unsplit[split_ids] = False
        if cell is not None:
            bc = np.repeat(cell[split_ids], rows)[keep_row]
            cell = np.concatenate([cell[unsplit], bc])
        S = np.concatenate([S[unsplit], built])
        pid = np.concatenate([pid[unsplit], bp])
        wt = np.concatenate([wt[unsplit], bw])
    return S, pid, wt, cell


# ------------------------------------------------------------ half-edge DCEL
@dataclass
class Face:
    shell: np.ndarray                     # (n,2) int64, CCW
    holes: list[np.ndarray] = field(default_factory=list)  # CW rings
    winding: dict[int, int] = field(default_factory=dict)  # poly_id -> w
    area2: int = 0                        # 2x signed area incl. holes
    lines: list[int] = field(default_factory=list)  # incident cut-line ids

    @property
    def cover(self) -> frozenset:
        return frozenset(p for p, w in self.winding.items() if w > 0)

    @property
    def rings(self) -> list[np.ndarray]:
        """[shell, *holes] — the polygon layout of wkb.dump_grid_multipolygon."""
        return [self.shell, *self.holes]


class Arrangement:
    def __init__(self, S, pid, wt, cell=None):
        """Array-based DCEL: dedup, angular sort, next-pointers, walks and
        areas are all numpy; only walk chasing and the per-(edge,poly) net
        dict remain python loops (O(E)).

        cell: optional per-segment tag for BATCHED independent cells (one
        arrangement pass over many cells): edge identity, node identity and
        therefore walks/components are keyed by (cell, ...) so cells never
        interact; results per cell equal a per-cell Arrangement."""
        S = np.asarray(S, dtype=np.int64).reshape(-1, 4)
        pid = np.asarray(pid, dtype=np.int64)
        wt = np.asarray(wt, dtype=np.int64)
        if cell is not None:
            cell = np.asarray(cell, dtype=np.int64)

        # --- canonicalize direction (lexicographic endpoint order)
        flip = (S[:, 0] > S[:, 2]) | ((S[:, 0] == S[:, 2]) & (S[:, 1] > S[:, 3]))
        C = S.copy()
        C[flip] = S[flip][:, [2, 3, 0, 1]]
        sgn = np.where(flip, -wt, wt)

        # --- aggregate winding deltas per (edge, poly) via lexsort+reduce
        if len(C):
            keys = [pid, C[:, 3], C[:, 2], C[:, 1], C[:, 0]]
            if cell is not None:
                keys.append(cell)        # cell outermost
            order = np.lexsort(tuple(keys))
            Cs, Ps, Gs = C[order], pid[order], sgn[order]
            CellS = cell[order] if cell is not None else None
            newkey = np.ones(len(Cs), dtype=bool)
            if len(Cs) > 1:
                same = (Cs[1:] == Cs[:-1]).all(axis=1) & (Ps[1:] == Ps[:-1])
                if CellS is not None:
                    same &= CellS[1:] == CellS[:-1]
                newkey[1:] = ~same
            grp = np.cumsum(newkey) - 1
            sums = np.zeros(int(grp[-1]) + 1, dtype=np.int64)
            np.add.at(sums, grp, Gs)
            starts = np.nonzero(newkey)[0]
            # pids <= CUT_LINE_BASE are "cut lines": kept even with zero
            # winding delta — they split faces without changing coverage
            # (PostGIS-Topology semantics of an attribute LINE layer,
            # types_resolve_overlap.sql:1-7, ar5 scenario)
            keep = (sums != 0) | (Ps[starts] <= CUT_LINE_BASE)
            Ek, Pk, Wk = Cs[starts][keep], Ps[starts][keep], sums[keep]
            CellK = CellS[starts][keep] if CellS is not None else None
        else:
            Ek = np.empty((0, 4), np.int64)
            Pk = Wk = np.empty(0, np.int64)
            CellK = np.empty(0, np.int64) if cell is not None else None

        # --- collapse to unique edges; net dicts per edge
        echange = np.ones(len(Ek), dtype=bool)
        if len(Ek) > 1:
            echange[1:] = ~(Ek[1:] == Ek[:-1]).all(axis=1)
            if CellK is not None:
                echange[1:] |= CellK[1:] != CellK[:-1]
        eidx = np.cumsum(echange) - 1 if len(Ek) else np.empty(0, np.int64)
        E = Ek[echange] if len(Ek) else Ek
        self.edges = E  # (n_e, 4) int64, canonical direction
        self.edge_cell = (CellK[echange] if CellK is not None and len(Ek)
                          else (CellK if CellK is not None else None))
        # flat per-edge net entries, sorted by edge id (eidx nondecreasing):
        # net_p/net_n[net_start[e]:net_start[e+1]] are edge e's
        # (poly -> winding delta) pairs.  A list-of-dicts view is built
        # lazily (property .net) for the low-volume consumers.
        self.net_p = Pk
        self.net_n = Wk
        cnt = np.bincount(eidx, minlength=len(E)) if len(Ek) else np.zeros(
            len(E), np.int64)
        self.net_start = np.concatenate(([0], np.cumsum(cnt))).astype(np.int64)
        self._net_dicts: list[dict[int, int]] | None = None

        n_e = len(E)
        # --- half-edge coordinate arrays: even h = canonical, odd = reverse
        fx = np.empty(2 * n_e, np.int64); fy = np.empty(2 * n_e, np.int64)
        tx = np.empty(2 * n_e, np.int64); ty = np.empty(2 * n_e, np.int64)
        if n_e:
            fx[0::2], fy[0::2], tx[0::2], ty[0::2] = E[:, 0], E[:, 1], E[:, 2], E[:, 3]
            fx[1::2], fy[1::2], tx[1::2], ty[1::2] = E[:, 2], E[:, 3], E[:, 0], E[:, 1]
        self._fx, self._fy, self._tx, self._ty = fx, fy, tx, ty

        # --- node ids (cell-tagged: identity is (cell, x, y), and node ids
        # stay lexicographic per cell — the anchor property label_walks
        # relies on holds within each cell)
        if self.edge_cell is not None:
            hc = np.empty(2 * n_e, np.int64)
            if n_e:
                hc[0::2] = self.edge_cell
                hc[1::2] = self.edge_cell
            pts = np.stack([np.concatenate([hc, hc]),
                            np.concatenate([fx, tx]),
                            np.concatenate([fy, ty])], axis=1)
        else:
            pts = np.stack([np.concatenate([fx, tx]),
                            np.concatenate([fy, ty])], axis=1)
        if len(pts):
            uniq, inv = _unique_rows(pts)
        else:
            uniq = np.empty((0, pts.shape[1]), np.int64)
            inv = np.empty(0, np.int64)
        if self.edge_cell is not None:
            self.node_cell = uniq[:, 0]
            self.nodes = uniq[:, 1:3]
        else:
            self.node_cell = None
            self.nodes = uniq
        from_node = inv[: 2 * n_e]
        to_node = inv[2 * n_e:]
        self.from_node, self.to_node = from_node, to_node

        # --- angular sort of outgoing half-edges per node
        ang = np.arctan2((ty - fy).astype(np.float64), (tx - fx).astype(np.float64))
        order = np.lexsort((ang, from_node))
        pos_in = np.empty(2 * n_e, np.int64)
        pos_in[order] = np.arange(2 * n_e)
        fn_sorted = from_node[order] if n_e else from_node
        node_start = np.searchsorted(fn_sorted, np.arange(len(uniq)), side="left")
        node_deg = (
            np.searchsorted(fn_sorted, np.arange(len(uniq)), side="right") - node_start
        )
        # next(h) = outgoing at head(h) immediately CW of twin(h)
        if n_e:
            twin = np.arange(2 * n_e) ^ 1
            v = to_node
            k = pos_in[twin] - node_start[v]
            km = (k - 1) % node_deg[v]
            self.next_he = order[node_start[v] + km]
        else:
            self.next_he = np.empty(0, np.int64)

        # --- walks (face boundary cycles): python chase over int arrays
        walk_of = np.full(2 * n_e, -1, dtype=np.int64)
        walks: list[np.ndarray] = []
        nh = self.next_he
        for h0 in range(2 * n_e):
            if walk_of[h0] >= 0:
                continue
            wid = len(walks)
            cyc = []
            h = h0
            while walk_of[h] < 0:
                walk_of[h] = wid
                cyc.append(h)
                h = int(nh[h])
            walks.append(np.asarray(cyc, dtype=np.int64))
        self.walk_of = walk_of
        self.walks = walks

        # --- walk signed areas (2x, exact int): vectorized accumulate
        cross = fx * ty - tx * fy
        area2 = np.zeros(len(walks), dtype=np.int64)
        if n_e:
            np.add.at(area2, walk_of, cross)
        self.walk_area2 = area2

    @property
    def net(self) -> list[dict[int, int]]:
        """Per-edge {poly -> winding delta} dicts, built lazily from the
        flat arrays (only the chain-extraction / ray-cast / cut-line paths
        still consume dicts)."""
        if self._net_dicts is None:
            st = self.net_start
            self._net_dicts = [
                {int(p): int(n) for p, n in zip(
                    self.net_p[st[e]:st[e + 1]], self.net_n[st[e]:st[e + 1]])}
                for e in range(len(self.edges))
            ]
        return self._net_dicts

    def walk_coords(self, wid: int) -> np.ndarray:
        hs = self.walks[wid]
        out = np.empty((len(hs), 2), np.int64)
        out[:, 0] = self._fx[hs]
        out[:, 1] = self._fy[hs]
        return out


def _ray_winding(px: int, py: int, arr: Arrangement,
                 component_of=None, skip_comp=None) -> dict[int, int]:
    """Exact winding vector at point p via leftward horizontal ray: sum net
    deltas of edges crossing the ray (half-open rule min(y) <= py < max(y)).
    Crossing predicate is vectorized exact int64 (cross-multiplied)."""
    E = arr.edges
    if len(E) == 0:
        return {}
    x1, y1, x2, y2 = E[:, 0], E[:, 1], E[:, 2], E[:, 3]
    lo = np.minimum(y1, y2)
    hi = np.maximum(y1, y2)
    m = (lo <= py) & (py < hi)
    if skip_comp is not None:
        m &= component_of != skip_comp
    num = (py - y1) * (x2 - x1)
    den = y2 - y1
    rhs = (px - x1) * den
    crosses = m & np.where(den > 0, num < rhs, num > rhs)
    up = y1 < y2
    w: dict[int, int] = defaultdict(int)
    for i in np.nonzero(crosses)[0]:
        for p, n in arr.net[int(i)].items():
            # p is on the RIGHT of an upward edge crossed to its left:
            # w(right) = w(left) - net
            w[p] += -n if up[i] else n
    return dict(w)


def label_walks(arr: Arrangement) -> list[dict[int, int]]:
    """Winding vector per walk via BFS over edge crossings, anchored per
    connected component by an exact ray-cast at its min node."""
    n_edges = len(arr.edges)
    if n_edges == 0:
        return []
    if n_edges <= 192 and getattr(arr, "node_cell", None) is None:
        # tiny arrangements (lone unions and overlays run thousands of
        # them): the whole-array machinery's fixed cost exceeds the scalar
        # loop here — identical results
        return _label_walks_small(arr)
    # connected components over node ids: each node is labeled with its
    # component's MIN node id, which (node ids being in lexicographic
    # coordinate order) is exactly the anchor the ray-cast wants
    fe = arr.from_node[0::2]
    comp_of_edge = components(len(arr.nodes), fe, arr.to_node[0::2])[fe]

    # edge lists per component via one argsort (components keyed by their
    # min node id, so ascending key order IS ascending anchor order)
    eorder = np.argsort(comp_of_edge, kind="stable")
    sorted_comp = comp_of_edge[eorder]
    comp_breaks = np.nonzero(np.r_[True, sorted_comp[1:] != sorted_comp[:-1]])[0]
    comp_ends = np.r_[comp_breaks[1:], n_edges]
    comps_sorted = [int(sorted_comp[s]) for s in comp_breaks]
    comp_edges = {
        int(sorted_comp[s]): eorder[s:e]
        for s, e in zip(comp_breaks, comp_ends)
    }
    comp_anchor = {c: c for c in comps_sorted}

    winding: list[dict[int, int] | None] = [None] * len(arr.walks)
    # --- batched anchor ray-casts: ONE chunked vectorized crossing pass for
    # all components instead of a full-edge scan per component (the per-call
    # _ray_winding scan made arrangements with thousands of components
    # O(components x edges))
    E = arr.edges
    ex1, ey1, ex2, ey2 = E[:, 0], E[:, 1], E[:, 2], E[:, 3]
    elo = np.minimum(ey1, ey2)
    ehi = np.maximum(ey1, ey2)
    eden = ey2 - ey1
    eup = ey1 < ey2
    anchor_nodes = np.asarray([comp_anchor[c] for c in comps_sorted], np.int64)
    axy = arr.nodes[anchor_nodes] if len(anchor_nodes) else np.empty((0, 2), np.int64)
    cids = np.asarray(comps_sorted, dtype=comp_of_edge.dtype)
    base_of: dict[int, dict[int, int]] = {}
    # flat per-edge net entries (maintained by Arrangement, edge-sorted)
    net_p, net_n = arr.net_p, arr.net_n
    net_st = arr.net_start
    net_len = np.diff(net_st)
    acc_c: list[np.ndarray] = []; acc_p: list[np.ndarray] = []
    acc_v: list[np.ndarray] = []
    # cell-tagged arrangements: an anchor's ray may only cross edges of its
    # OWN cell (cells are independent; a per-cell run would see no others).
    # Anchors are processed per CELL against that cell's contiguous edge
    # slice (edges are (cell, coords)-sorted), so the mask work is
    # sum-over-cells of C_cell x E_cell — never components x ALL edges,
    # which would grow quadratically with cells per bucket.
    acell = (arr.node_cell[anchor_nodes]
             if getattr(arr, "node_cell", None) is not None and len(anchor_nodes)
             else None)
    if acell is not None:
        # anchors are in ascending node id = (cell, x, y) order, so acell
        # is nondecreasing: cell groups are contiguous slices
        abrk = np.nonzero(np.r_[True, acell[1:] != acell[:-1]])[0]
        aend = np.r_[abrk[1:], len(acell)]
        spans = [(int(s), int(e),
                  int(np.searchsorted(arr.edge_cell, acell[s])),
                  int(np.searchsorted(arr.edge_cell, acell[s], "right")))
                 for s, e in zip(abrk, aend)]
    else:
        spans = [(0, len(cids), 0, len(E))]
    CH = 256
    for a0, a1, e0, e1 in spans:
        for i0 in range(a0, a1, CH):
            i1 = min(i0 + CH, a1)
            py = axy[i0:i1, 1][:, None]
            # cheap boolean y-interval + own-component mask first; the int64
            # cross-multiplied predicate is evaluated only on survivors
            m = (elo[None, e0:e1] <= py) & (py < ehi[None, e0:e1])
            m &= comp_of_edge[None, e0:e1] != cids[i0:i1][:, None]
            ai, ei = np.nonzero(m)
            ei = ei + e0
            if len(ai):
                pxs = axy[i0 + ai, 0]; pys = axy[i0 + ai, 1]
                num = (pys - ey1[ei]) * (ex2[ei] - ex1[ei])
                rhs = (pxs - ex1[ei]) * eden[ei]
                ok = np.where(eden[ei] > 0, num < rhs, num > rhs)
                ai, ei = ai[ok], ei[ok]
            if len(ai):
                # expand each crossing to its edge's net entries:
                # p is on the RIGHT of an upward edge crossed to its left:
                # w(right) = w(left) - net
                st = net_st[ei]
                cnt = net_len[ei]
                tot = int(cnt.sum())
                if tot:
                    src = np.repeat(st, cnt) + (
                        np.arange(tot) - np.repeat(
                            np.concatenate(([0], np.cumsum(cnt)))[:-1], cnt))
                    e_rep = np.repeat(ei, cnt)
                    acc_c.append(np.repeat(i0 + ai, cnt))
                    acc_p.append(net_p[src])
                    acc_v.append(np.where(eup[e_rep], -net_n[src], net_n[src]))
            del m
    if acc_c:
        cc = np.concatenate(acc_c); pp = np.concatenate(acc_p)
        vv = np.concatenate(acc_v)
        order = np.lexsort((pp, cc))
        cc, pp, vv = cc[order], pp[order], vv[order]
        newk = np.ones(len(cc), dtype=bool)
        newk[1:] = (cc[1:] != cc[:-1]) | (pp[1:] != pp[:-1])
        gidx = np.cumsum(newk) - 1
        sums = np.zeros(int(gidx[-1]) + 1, np.int64)
        np.add.at(sums, gidx, vv)
        ks = np.nonzero(newk)[0]
        for r, s in zip(ks, sums):
            base_of.setdefault(comps_sorted[int(cc[r])], {})[int(pp[r])] = int(s)

    # process components in ascending anchor-node order (deterministic)
    for c in comps_sorted:
        base = base_of.get(c, {})
        eids = comp_edges[c]
        walk_ids = np.unique(np.concatenate(
            [arr.walk_of[2 * eids], arr.walk_of[2 * eids + 1]]))
        # unbounded walk of this component = the one with min signed area
        root = int(walk_ids[np.lexsort(
            (walk_ids, arr.walk_area2[walk_ids]))[0]])
        winding[root] = dict(base)
        stack = [root]
        seen = {root}
        while stack:
            wcur = stack.pop()
            for h in arr.walks[wcur]:
                h = int(h)
                eid = h // 2
                other = int(arr.walk_of[h ^ 1])
                if other in seen:
                    continue
                seen.add(other)
                wv = dict(winding[wcur])
                # face(h-along-canonical) is LEFT of canonical dir:
                # w(left) = w(right) + net. h even => face(h)=left side.
                if h % 2 == 0:  # cur face is left; other is right
                    for t in range(net_st[eid], net_st[eid + 1]):
                        p = int(net_p[t])
                        wv[p] = wv.get(p, 0) - int(net_n[t])
                else:           # cur face is right; other is left
                    for t in range(net_st[eid], net_st[eid + 1]):
                        p = int(net_p[t])
                        wv[p] = wv.get(p, 0) + int(net_n[t])
                winding[other] = wv
                stack.append(other)
    return [w if w is not None else {} for w in winding]


def _label_walks_small(arr: Arrangement) -> list[dict[int, int]]:
    """Scalar label_walks for tiny arrangements (the r5 implementation:
    python union-find + per-component _ray_winding + BFS)."""
    n_edges = len(arr.edges)
    n_nodes = len(arr.nodes)
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    fe = arr.from_node[0::2]
    te = arr.to_node[0::2]
    for i in range(n_edges):
        a, b = find(int(fe[i])), find(int(te[i]))
        if a != b:
            parent[a] = b
    comp_of_edge = np.fromiter((find(int(v)) for v in fe), np.int64, n_edges)
    comp_anchor: dict[int, int] = {}
    for v in range(n_nodes):
        r = find(v)
        if r not in comp_anchor:
            comp_anchor[r] = v
    comp_edges: dict[int, list[int]] = defaultdict(list)
    for i in range(n_edges):
        comp_edges[int(comp_of_edge[i])].append(i)

    winding: list[dict[int, int] | None] = [None] * len(arr.walks)
    net_p, net_n = arr.net_p, arr.net_n
    net_st = arr.net_start
    for c in sorted(comp_edges, key=lambda cc: comp_anchor[cc]):
        px, py = (int(t) for t in arr.nodes[comp_anchor[c]])
        base = _ray_winding(px, py, arr, component_of=comp_of_edge, skip_comp=c)
        walk_ids = sorted(
            {int(arr.walk_of[2 * i]) for i in comp_edges[c]}
            | {int(arr.walk_of[2 * i + 1]) for i in comp_edges[c]}
        )
        root = min(walk_ids, key=lambda wgt: (int(arr.walk_area2[wgt]), wgt))
        winding[root] = dict(base)
        stack = [root]
        seen = {root}
        while stack:
            wcur = stack.pop()
            for h in arr.walks[wcur]:
                h = int(h)
                eid = h // 2
                other = int(arr.walk_of[h ^ 1])
                if other in seen:
                    continue
                seen.add(other)
                wv = dict(winding[wcur])
                # w(left) = w(right) + net; h even => face(h) = left side
                if h % 2 == 0:
                    for t in range(net_st[eid], net_st[eid + 1]):
                        p = int(net_p[t])
                        wv[p] = wv.get(p, 0) - int(net_n[t])
                else:
                    for t in range(net_st[eid], net_st[eid + 1]):
                        p = int(net_p[t])
                        wv[p] = wv.get(p, 0) + int(net_n[t])
                winding[other] = wv
                stack.append(other)
    return [w if w is not None else {} for w in winding]


def _point_in_walk(px: int, py: int, coords: np.ndarray) -> bool:
    """Exact even-odd test; boundary counts as inside (for hole->shell
    assignment of touching rings)."""
    n = len(coords)
    inside = False
    for i in range(n):
        x1, y1 = int(coords[i][0]), int(coords[i][1])
        x2, y2 = int(coords[(i + 1) % n][0]), int(coords[(i + 1) % n][1])
        if _on_segment(px, py, x1, y1, x2, y2):
            return True
        if (y1 > py) != (y2 > py):
            lhs = (py - y1) * (x2 - x1)
            rhs = (px - x1) * (y2 - y1)
            if (lhs < rhs) if (y2 - y1) > 0 else (lhs > rhs):
                inside = not inside
    return inside


def _extract_chains(arr: Arrangement):
    """Maximal chains of edges between nodes of degree != 2 (plus isolated
    cycles), where every edge along a chain carries the SAME winding-delta
    dict — these are the topology's shared border lines (the edges of
    PostGIS Topology edge_data)."""
    n_e = len(arr.edges)
    n_nodes = len(arr.nodes)
    deg = np.zeros(n_nodes, dtype=np.int64)
    adj: dict[int, list[tuple[int, int, int]]] = defaultdict(list)
    for i in range(n_e):
        u = int(arr.from_node[2 * i]); v = int(arr.to_node[2 * i])
        deg[u] += 1; deg[v] += 1
        adj[u].append((i, v, 1))
        adj[v].append((i, u, -1))

    def net_along(e: int, d: int) -> tuple:
        return tuple(sorted((p, n * d) for p, n in arr.net[e].items()))

    visited = np.zeros(n_e, dtype=bool)
    chains = []  # (coords list of node ids, net_along_first)

    def walk(e0: int, u0: int, d0: int):
        coords = [u0]
        e, u, d = e0, u0, d0
        key = net_along(e0, d0)
        while True:
            visited[e] = True
            v = int(arr.to_node[2 * e]) if d == 1 else int(arr.from_node[2 * e])
            coords.append(v)
            if deg[v] != 2 or v == coords[0]:
                break
            nxt = [t for t in adj[v] if t[0] != e]
            if len(nxt) != 1:
                break
            e2, w, d2 = nxt[0]
            if visited[e2] or net_along(e2, d2) != key:
                break
            e, u, d = e2, v, d2
        return coords, key

    for u in range(n_nodes):
        if deg[u] == 2:
            continue
        for (e, v, d) in adj[u]:
            if not visited[e]:
                chains.append(walk(e, u, d))
    for i in range(n_e):  # leftover pure cycles
        if not visited[i]:
            chains.append(walk(i, int(arr.from_node[2 * i]), 1))
    return chains


def simplify_segments(S, pid, wt, tol_units: float, chaikin_iters: int = 0,
                      frozen_box: tuple | None = None):
    """Simplify the arrangement's shared border chains (ST_ChangeEdgeGeom /
    ST_SimplifyPreserveTopology semantics, …try_ST_ChangeEdgeGeom.sql:33-35):
    node first, extract chains, Douglas-Peucker (+ optional Chaikin
    acute-angle smoothing) each chain with its ENDPOINTS FROZEN; chains
    touching the frozen box border are left untouched (the reference
    freezes lines near cell borders, …single_cell.sql:232-254). Returns new
    (S, pid, wt) to feed a fresh Arrangement — faces still partition."""
    from resolve_overlap_and_gap_spark.geom.core import chaikin_acute, simplify_dp

    S, pid, wt = node_segments(S, pid, wt)
    arr = Arrangement(S, pid, wt)
    chains = _extract_chains(arr)
    segs, pids, wts = [], [], []
    for node_ids, key in chains:
        coords = arr.nodes[np.asarray(node_ids, dtype=np.int64)].astype(np.float64)
        frozen = False
        if frozen_box is not None:
            bx0, by0, bx1, by1 = frozen_box
            frozen = bool(
                (coords[:, 0] == bx0).any() or (coords[:, 0] == bx1).any()
                or (coords[:, 1] == by0).any() or (coords[:, 1] == by1).any()
            )
        if not frozen and len(coords) > 2:
            coords = simplify_dp(coords, tol_units)
            if chaikin_iters > 0:
                coords = chaikin_acute(coords, chaikin_iters)
            coords = np.floor(coords + 0.5)
        c = coords.astype(np.int64)
        keep = (np.diff(c, axis=0) != 0).any(axis=1)
        ss = np.hstack([c[:-1][keep], c[1:][keep]])
        for p, n in key:
            segs.append(ss)
            pids.extend([p] * len(ss))
            wts.extend([n] * len(ss))
    if not segs:
        return S, pid, wt
    return (
        np.vstack(segs),
        np.asarray(pids, dtype=np.int64),
        np.asarray(wts, dtype=np.int64),
    )


def union_cells(items: list[tuple]) -> dict:
    """Batched dissolve of INDEPENDENT items: {key: [Face]}, the union of
    each item's polys (any winding > 0), computed in ONE noding/DCEL/
    labeling pass over all items.  The only union entry point: a lone
    union is union_cells([(0, polys)])[0].

    Per item: keep only the edges where coverage changes (the union
    boundary) and re-polygonize them.  Interior edges — shared borders and
    overlap boundaries — disappear, which is the ST_Union dissolve semantic
    (SURVEY §2.4 A2) and the heal of ST_ModEdgeHeal across grid borders
    (§2.9).

    items: (key, polys) per item.  Items are cell-tagged exactly like
    overlay_cells' cells, so they may overlap each other spatially and
    each still gets what it would get alone (pinned by
    tests/test_union_cells.py); an item with no union gets a fresh []."""
    out = {key: [] for key, _ in items}
    Ss, Ps, Ws, Cs = [], [], [], []
    for ci, (_, polys) in enumerate(items):
        S, P, W = rings_to_segments(polys)
        if len(S):
            Ss.append(S); Ps.append(P); Ws.append(W)
            Cs.append(np.full(len(S), ci, np.int64))
    if not Ss:
        return out
    # a lone item needs no tag (and keeps label_walks' small-input path)
    S, P, W, C = _node_segments_impl(
        np.vstack(Ss), np.concatenate(Ps), np.concatenate(Ws),
        np.concatenate(Cs) if len(items) > 1 else None)
    arr = Arrangement(S, P, W, cell=C)
    cov = np.fromiter((any(v > 0 for v in w.values()) for w in label_walks(arr)),
                      dtype=bool, count=len(arr.walks))
    inl = cov[arr.walk_of[0::2]]
    keep = inl != cov[arr.walk_of[1::2]]
    if not keep.any():
        return out
    # orient with interior on the left
    E = arr.edges[keep]
    S2 = np.where(inl[keep][:, None], E, E[:, [2, 3, 0, 1]])
    arr2 = Arrangement(S2, np.zeros(len(S2), np.int64), np.ones(len(S2), np.int64),
                       cell=None if C is None else arr.edge_cell[keep])
    w2 = label_walks(arr2)
    # only covered walks: positive ones are union faces; a hole's INTERIOR
    # walk is also positive-area but has winding 0 (emitting it would fill
    # every hole), and the CW walk around an island nested inside an
    # uncovered hole bounds the hole region and must not attach as a hole
    for ci, wids, eids in _cell_groups(arr2):
        out[items[ci][0]] = _assemble_faces(
            arr2, w2, [i for i in wids if w2[i].get(0, 0) > 0], eids, False)[0]
    return out


def ring_is_valid(ring: np.ndarray) -> bool:
    """Simple-ring validity (bowtie detection): a valid ring's segments node
    to themselves without splits and enclose nonzero area — the engine's
    ST_IsValid analog (function_resolve_overlap_gap_post.sql:48-59)."""
    r = np.asarray(ring, dtype=np.int64)
    if len(r) > 1 and (r[0] == r[-1]).all():
        r = r[:-1]
    if len(r) < 3:
        return False
    if ring_area2(r.astype(np.float64)) == 0:
        return False
    nxt = np.concatenate((r[1:], r[:1]), axis=0)  # roll(-1) via slicing
    keep = (r != nxt).any(axis=1)
    S = np.hstack([r[keep], nxt[keep]])
    n0 = len(S)
    try:
        S2, _, _ = node_segments(S, np.zeros(n0, np.int64), np.ones(n0, np.int64))
    except NodingError:
        return False
    return len(S2) == n0


def lines_to_segments(cut_lines: list[tuple[int, np.ndarray]]):
    """Attribute cut-lines -> zero-winding segments (pid encodes line id
    below CUT_LINE_BASE); they split faces without affecting coverage."""
    segs, pids, wts = [], [], []
    for lid, coords in cut_lines:
        c = np.asarray(coords, dtype=np.int64)
        if len(c) < 2:
            continue
        keep = (np.diff(c, axis=0) != 0).any(axis=1)
        ss = np.hstack([c[:-1][keep], c[1:][keep]])
        segs.append(ss)
        pids.extend([CUT_LINE_BASE - int(lid)] * len(ss))
        wts.extend([0] * len(ss))
    if not segs:
        return np.empty((0, 4), np.int64), np.empty(0, np.int64), np.empty(0, np.int64)
    return np.vstack(segs), np.asarray(pids, np.int64), np.asarray(wts, np.int64)


def _assemble_faces(arr: Arrangement, winding, walk_ids, eids,
                    with_adjacency: bool):
    """Face assembly over a subset of walks/edges — the whole arrangement
    (a lone cell) or one cell of a cell-tagged one (overlay_cells; the
    covered walks of one item for union_cells).  Walk
    and edge ids must come in ascending order, so every float accumulation
    and tie-break below is the same whichever way a cell was run."""
    pos = [i for i in walk_ids if arr.walk_area2[i] > 0]
    neg = [i for i in walk_ids if arr.walk_area2[i] < 0]
    faces = {i: Face(shell=arr.walk_coords(i), winding=winding[i],
                     area2=arr.walk_area2[i]) for i in pos}

    # assign negative walks as holes of the smallest containing positive walk
    pos_sorted = sorted(pos, key=lambda i: arr.walk_area2[i])
    pos_coords = {i: arr.walk_coords(i) for i in pos}
    pos_bbox = {
        i: (c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max())
        for i, c in pos_coords.items()
    }
    hole_owner: dict[int, int] = {}
    for h in neg:
        hc = arr.walk_coords(h)
        # a vertex of the hole that is NOT on the candidate shell would be
        # ideal; min node is fine with boundary-counts-as-inside
        px, py = int(hc[:, 0].min()), 0
        row = hc[hc[:, 0] == px]
        py = int(row[:, 1].min())
        hb = (hc[:, 0].min(), hc[:, 1].min(), hc[:, 0].max(), hc[:, 1].max())
        for i in pos_sorted:
            # strict: a ring's own outside walk has |area| == the shell's
            # and must never become its hole
            if -arr.walk_area2[h] >= arr.walk_area2[i]:
                continue
            bb = pos_bbox[i]
            if not (bb[0] <= hb[0] and bb[1] <= hb[1] and bb[2] >= hb[2] and bb[3] >= hb[3]):
                continue
            if _point_in_walk(px, py, pos_coords[i]):
                faces[i].holes.append(hc)
                faces[i].area2 += arr.walk_area2[h]
                hole_owner[h] = i
                break
    face_list = list(faces.values())

    # face index per walk: positive walks map to themselves; hole walks to
    # their assigned shell's face; unassigned (outer) walks to -1
    order = {wid: k for k, wid in enumerate(faces.keys())}
    walk_face = {}
    for wid in pos:
        walk_face[wid] = order[wid]
    for h, i in hole_owner.items():
        walk_face[h] = order[i]
    if not with_adjacency:
        return face_list, walk_face, None
    adj: dict[tuple[int, int], float] = {}
    E = arr.edges
    for eid in eids:
        fa = walk_face.get(arr.walk_of[2 * eid], -1)
        fb = walk_face.get(arr.walk_of[2 * eid + 1], -1)
        if fa == fb:
            continue
        key = (fa, fb) if fa < fb else (fb, fa)
        x1, y1, x2, y2 = E[eid]
        L = float(np.hypot(x2 - x1, y2 - y1))
        adj[key] = adj.get(key, 0.0) + L
    return face_list, walk_face, adj


def overlay_cells(items: list[tuple], with_adjacency: bool = False,
                  noding_max_iter: int = 8,
                  quarantine_of: dict | None = None,
                  simplify_tol_units: float = 0.0,
                  chaikin_iters: int = 0) -> dict:
    """Batched overlay of INDEPENDENT cells: {key: faces} (or
    {key: (faces, adj)}) computed in ONE noding/DCEL/labeling pass over all
    cells of a kernel bucket instead of one full machinery invocation per
    cell.  The only overlay entry point: a lone cell is
    overlay_cells([(0, polys)])[0] (union_cells is its dissolve
    counterpart).

    items: (key, polys[, frozen_box[, cut_lines]]) per cell.
      cut_lines: [(line_id, int coords)] attribute lines that split faces
        without changing coverage; each face lists the ids of the lines on
        its border in Face.lines (J7, lineage-carried).
      frozen_box: border chains touching this box are never simplified.

    simplify_tol_units > 0 simplifies each item's shared border chains
    (frozen endpoints, frozen near frozen_box, chaikin_iters rounds of
    acute-angle smoothing) BEFORE face extraction, so output faces still
    partition exactly (scenario-(b) simplify+Chaikin path).

    with_adjacency=True maps each key to (faces, adj): adj is
    (face_idx_a, face_idx_b) -> shared boundary length (grid units, a<b;
    -1 stands for the outside/unassigned region) — the input to sliver
    merging (ST_RemEdgeNewFace semantics).

    EXACTNESS: coordinates are untouched (no translation); every phase is
    keyed by the cell tag (candidate pairs, edge and node identity, face
    walks, component ray-casts), so per-cell results are identical to
    running each cell alone — including float accumulation orders (pinned
    by tests/test_overlay_cells.py).

    quarantine_of: pass a dict to enable the reference's failed-feature
    path (_no_cut_line_failed, function_resolve_overlap_gap_init.sql:
    221-232): when noding does not converge within noding_max_iter rounds
    the offending feature pids are appended to quarantine_of[key], their
    segments removed, and the noding retried on the rest — the cell
    completes, the caller records the quarantined features.  Without it
    NodingError propagates."""
    out = {it[0]: ([], {}) if with_adjacency else [] for it in items}
    Ss, Ps, Ws, Cs = [], [], [], []
    has_lines = False
    for ci, (key, polys, *opt) in enumerate(items):
        frozen_box = opt[0] if opt else None
        cut_lines = opt[1] if len(opt) > 1 else None
        S, P, W = rings_to_segments(polys)
        if cut_lines:
            has_lines = True
            Sl, Pl, Wl = lines_to_segments(cut_lines)
            S = np.vstack([S, Sl]) if len(S) else Sl
            P = np.concatenate([P, Pl])
            W = np.concatenate([W, Wl])
        if len(S) and simplify_tol_units > 0:
            S, P, W = simplify_segments(S, P, W, simplify_tol_units,
                                        chaikin_iters, frozen_box)
        if len(S):
            Ss.append(S); Ps.append(P); Ws.append(W)
            Cs.append(np.full(len(S), ci, np.int64))
    if not Ss:
        return out
    S = np.vstack(Ss)
    P = np.concatenate(Ps)
    W = np.concatenate(Ws)
    C = np.concatenate(Cs)
    while True:
        try:
            S2, P2, W2, C2 = _node_segments_impl(S, P, W, C, noding_max_iter)
            break
        except NodingError as e:
            # UNIVERSE (-1) and cut-line pseudo-ids are never quarantined
            bad = [(c, p) for c, p in e.pairs if p >= 0]
            if quarantine_of is None or not bad:
                raise
            for c, p in bad:
                lst = quarantine_of.setdefault(items[c][0], [])
                if p not in lst:
                    lst.append(p)
            drop = np.zeros(len(S), dtype=bool)
            for c, p in bad:
                drop |= (C == c) & (P == p)
            S, P, W, C = S[~drop], P[~drop], W[~drop], C[~drop]
            if not len(S):
                return out
    # a lone cell needs no tag (and keeps label_walks' small-input path)
    arr = Arrangement(S2, P2, W2, cell=C2 if len(items) > 1 else None)
    winding = label_walks(arr)
    for ci, wids, eids in _cell_groups(arr):
        faces, walk_face, adj = _assemble_faces(arr, winding, wids, eids,
                                                with_adjacency)
        if has_lines:
            _attach_lines(arr, faces, walk_face, eids)
        out[items[ci][0]] = (faces, adj) if with_adjacency else faces
    return out


def _cell_groups(arr: Arrangement):
    """(cell index, ascending walk ids, ascending edge ids) per cell of a
    cell-tagged arrangement; a single group 0 for an untagged one."""
    edge_cell = arr.edge_cell
    if edge_cell is None:
        return [(0, range(len(arr.walks)), range(len(arr.edges)))]
    walk_cell = np.asarray(
        [int(edge_cell[int(w[0]) // 2]) for w in arr.walks], np.int64)
    worder = np.argsort(walk_cell, kind="stable")
    wsorted = walk_cell[worder]
    wbrk = np.nonzero(np.r_[True, wsorted[1:] != wsorted[:-1]])[0]
    wend = np.r_[wbrk[1:], len(wsorted)]
    eorder = np.argsort(edge_cell, kind="stable") if len(edge_cell) else edge_cell
    esorted = edge_cell[eorder] if len(edge_cell) else edge_cell
    groups = []
    for s, e in zip(wbrk, wend):
        ci = int(wsorted[s])
        el, eh = np.searchsorted(esorted, ci), np.searchsorted(esorted, ci, "right")
        groups.append((ci, np.sort(worder[s:e]).tolist(),
                       np.sort(eorder[el:eh]).tolist()))
    return groups


def _attach_lines(arr: Arrangement, faces: list[Face], walk_face: dict, eids):
    """Face.lines = sorted ids of the cut lines on each face's border."""
    per_face_lines: dict[int, set[int]] = defaultdict(set)
    for eid in eids:
        lids = [CUT_LINE_BASE - p for p in arr.net[eid] if p <= CUT_LINE_BASE]
        if not lids:
            continue
        for h in (2 * eid, 2 * eid + 1):
            fidx = walk_face.get(arr.walk_of[h], -1)
            if fidx >= 0:
                per_face_lines[fidx].update(lids)
    for fidx, lids in per_face_lines.items():
        faces[fidx].lines = sorted(lids)
