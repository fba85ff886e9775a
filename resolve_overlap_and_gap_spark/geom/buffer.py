"""ST_Buffer and ST_PointOnSurface kernels on the snapped integer grid.

The reference uses ST_Buffer for metagrid shrink and lock pads
(function_resolve_overlap_gap_init.sql:145-146) and ST_PointOnSurface for
guaranteed-interior label points; the engine's own pipeline replaced both
by exact border-touch tests, but users porting reference workloads reach
for them — so they exist as first-class kernels.

Buffer is the classic Minkowski construction on the arrangement:

  dilate(G, d)  = union(G, per-segment rectangles, per-vertex k-gons)
                  (round joins approximated by a 4*quad_segs-gon, the
                  PostGIS quad_segs knob)
  erode(P, d)   = P minus dilate(boundary(P), d)
                  (morphological erosion: a point survives iff it is
                  farther than d from the boundary)

Both reuse union_faces / overlay (winding arithmetic), so holes, multiple
parts, and self-touching unions come out exact; the only approximation is
the k-gon arc, as in every planar buffer.

point_on_surface picks the midpoint of the widest interior interval of a
half-integer scanline (vertices are integers, so the scanline y* = m+1/2
never passes through a vertex and crossings are simple) — guaranteed
strictly interior for any valid polygon, holes respected.
"""

from __future__ import annotations

import numpy as np

from resolve_overlap_and_gap_spark.geom.arrangement import overlay, union_faces
from resolve_overlap_and_gap_spark.geom.core import ring_area2


def _disk(cx: float, cy: float, d: float, k: int) -> np.ndarray:
    ang = 2.0 * np.pi * np.arange(k) / k
    pts = np.stack([cx + d * np.cos(ang), cy + d * np.sin(ang)], axis=1)
    return np.floor(pts + 0.5).astype(np.int64)


def _segment_rect(a: np.ndarray, b: np.ndarray, d: float) -> np.ndarray | None:
    v = b - a
    L = float(np.hypot(v[0], v[1]))
    if L == 0.0:
        return None
    n = np.array([-v[1], v[0]], dtype=np.float64) / L * d
    quad = np.stack([a + n, b + n, b - n, a - n])
    return np.floor(quad + 0.5).astype(np.int64)


def _band_parts(rings: list[np.ndarray], d: float, quad_segs: int,
                closed: bool = True) -> list[tuple[int, list[np.ndarray]]]:
    """Dilation band of a ring set / polyline: one rectangle per segment +
    one k-gon per vertex, each its own union part."""
    k = max(4 * quad_segs, 8)
    parts: list[tuple[int, list[np.ndarray]]] = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        if len(r) > 1 and (r[0] == r[-1]).all():
            r = r[:-1]
        m = len(r)
        if m == 0:
            continue
        n_seg = m if closed else m - 1
        for j in range(n_seg):
            q = _segment_rect(r[j], r[(j + 1) % m], d)
            if q is not None:
                parts.append((len(parts), [q]))
        for j in range(m):
            parts.append((len(parts), [_disk(r[j, 0], r[j, 1], d, k)]))
    return parts


def buffer_polygon(rings: list[np.ndarray], d_units: float,
                   quad_segs: int = 8) -> list[list[np.ndarray]]:
    """Buffer one polygon (rings[0] shell, rest holes; int64 grid units) by
    d_units (positive = dilate, negative = erode).  Returns a list of
    output polygons, each [shell, *holes] int64 — empty when erosion
    swallows everything."""
    rr = [np.asarray(r, dtype=np.int64) for r in rings]
    if d_units == 0:
        return [rr]
    band = _band_parts(rr, abs(float(d_units)), quad_segs, closed=True)
    if d_units > 0:
        faces = union_faces([(len(band), rr)] + band)
        return [f.rings for f in faces if f.area2 > 0]
    band_faces = union_faces(band)
    polys = [(1, rr)] + [(2, f.rings) for f in band_faces]
    out = []
    for f in overlay(polys):
        if 1 in f.cover and 2 not in f.cover and f.area2 > 0:
            out.append(f.rings)
    return out


def buffer_line(coords: np.ndarray, d_units: float,
                quad_segs: int = 8) -> list[list[np.ndarray]]:
    """Buffer a polyline (int64 grid units) by d_units > 0."""
    assert d_units > 0, "line buffer needs a positive distance"
    band = _band_parts([np.asarray(coords, dtype=np.int64)],
                       float(d_units), quad_segs, closed=False)
    faces = union_faces(band)
    return [f.rings for f in faces if f.area2 > 0]


def point_on_surface(rings: list[np.ndarray]) -> tuple[float, float]:
    """A point STRICTLY inside the polygon (shell + holes, int64 grid
    units): crossings of the half-integer scanline through the shell's
    vertical middle are computed with exact integer arithmetic (doubled
    coordinates), then the midpoint of the widest inside interval wins."""
    shell = np.asarray(rings[0], dtype=np.int64)
    ys = shell[:, 1]
    y2 = int(ys.min()) + int(ys.max())  # 2*y*, odd offset below
    if y2 % 2 == 0:
        y2 += 1  # y* = (ymin+ymax)/2 rounded to the nearest half-integer
    xs2: list[float] = []
    for ring in rings:
        r = np.asarray(ring, dtype=np.int64)
        if len(r) > 1 and (r[0] == r[-1]).all():
            r = r[:-1]
        m = len(r)
        for j in range(m):
            x0, y0 = int(r[j, 0]), int(r[j, 1])
            x1, y1 = int(r[(j + 1) % m, 0]), int(r[(j + 1) % m, 1])
            if y0 == y1:
                continue
            lo, hi = (2 * y0, 2 * y1) if y0 < y1 else (2 * y1, 2 * y0)
            if not (lo < y2 < hi):
                continue  # strict: y* is a half-integer, never a vertex
            # x = x0 + (x1-x0) * (y*-y0)/(y1-y0), exact in doubled coords
            xs2.append((2 * x0 * (y1 - y0) + (x1 - x0) * (y2 - 2 * y0))
                       / (2.0 * (y1 - y0)))
    xs2.sort()
    assert len(xs2) >= 2 and len(xs2) % 2 == 0, "invalid polygon for scanline"
    best, bx = -1.0, 0.0
    for i in range(0, len(xs2), 2):
        w = xs2[i + 1] - xs2[i]
        if w > best:
            best, bx = w, (xs2[i] + xs2[i + 1]) / 2.0
    return bx, y2 / 2.0


def _poly_area2(polys: list[list[np.ndarray]]) -> float:
    a2 = 0.0
    for rings in polys:
        a2 += abs(ring_area2(rings[0].astype(np.float64)))
        for h in rings[1:]:
            a2 -= abs(ring_area2(h.astype(np.float64)))
    return a2
