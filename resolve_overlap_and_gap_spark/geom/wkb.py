"""Minimal WKB codec (numpy, little-endian) — geometry columns are
BinaryType WKB throughout the engine (SURVEY.md §1.2).

Supported: Point, LineString, Polygon, MultiPolygon (2D). Shapely is not
available in this environment; this codec plus geom/core.py and
geom/arrangement.py form the engine's from-scratch geometry kernel.

Representations used engine-side:
  point      -> (2,) float64
  linestring -> (n, 2) float64
  polygon    -> list[(n, 2) float64]      (ring 0 = shell, rest = holes)
  multipolygon -> list[polygon]

Kernels work on the int64 snap grid: load_grid_polygons and
dump_grid_multipolygon are the WKB ends of the snap-grid codec
(core.snap_to_grid_int / core.grid_to_float), and one_ring_batches is the
one batched fast path over a column of blobs.
"""

from __future__ import annotations

import struct

import numpy as np

from resolve_overlap_and_gap_spark.geom.core import grid_to_float, snap_to_grid_int

POINT, LINESTRING, POLYGON, MULTIPOLYGON = 1, 2, 3, 6
_HDR = struct.Struct("<BI")
_U32 = struct.Struct("<I")
# (coordinate offset, header bytes before the vertex count) of the two
# one-ring layouts: a 1-ring Polygon, a 1-part/1-ring MultiPolygon
_ONE_RING = (
    (13, _HDR.pack(1, POLYGON) + _U32.pack(1)),
    (22, _HDR.pack(1, MULTIPOLYGON) + _U32.pack(1)
     + _HDR.pack(1, POLYGON) + _U32.pack(1)),
)


def dump_linestring(coords: np.ndarray) -> bytes:
    c = np.ascontiguousarray(coords, dtype="<f8")
    return _HDR.pack(1, LINESTRING) + _U32.pack(len(c)) + c.tobytes()


def dump_polygon(rings: list[np.ndarray]) -> bytes:
    out = [_HDR.pack(1, POLYGON), _U32.pack(len(rings))]
    for r in rings:
        r = np.ascontiguousarray(r, dtype="<f8")
        n = len(r)
        if n == 0:
            out.append(_U32.pack(0))
            continue
        if r[0, 0] == r[-1, 0] and r[0, 1] == r[-1, 1]:  # already closed
            out.append(_U32.pack(n))
            out.append(r.tobytes())
        else:  # close the ring: same bytes as appending the first vertex
            out.append(_U32.pack(n + 1))
            out.append(r.tobytes())
            out.append(r[:1].tobytes())
    return b"".join(out)


def dump_multipolygon(polys: list[list[np.ndarray]]) -> bytes:
    out = [_HDR.pack(1, MULTIPOLYGON), _U32.pack(len(polys))]
    for p in polys:
        out.append(dump_polygon(p))
    return b"".join(out)


def _rd_u32(buf: memoryview, off: int) -> tuple[int, int]:
    return _U32.unpack_from(buf, off)[0], off + 4


def _parse(buf: memoryview, off: int):
    byte_order, gtype = _HDR.unpack_from(buf, off)
    off += _HDR.size
    if byte_order != 1:
        raise ValueError("big-endian WKB not supported")
    gtype &= 0xFF  # strip SRID/Z flags if any slipped in
    if gtype == POINT:
        xy = np.frombuffer(buf, dtype="<f8", count=2, offset=off)
        return ("point", xy.copy()), off + 16
    if gtype == LINESTRING:
        n, off = _rd_u32(buf, off)
        c = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
        return ("linestring", c.copy()), off + 16 * n
    if gtype == POLYGON:
        nr, off = _rd_u32(buf, off)
        rings = []
        for _ in range(nr):
            n, off = _rd_u32(buf, off)
            c = np.frombuffer(buf, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
            rings.append(c.copy())
            off += 16 * n
        return ("polygon", rings), off
    if gtype == MULTIPOLYGON:
        np_, off = _rd_u32(buf, off)
        polys = []
        for _ in range(np_):
            (kind, rings), off = _parse(buf, off)
            assert kind == "polygon"
            polys.append(rings)
        return ("multipolygon", polys), off
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def load(b: bytes):
    """-> (kind, payload); kinds: point/linestring/polygon/multipolygon."""
    (kind, payload), _ = _parse(memoryview(b), 0)
    return kind, payload


def load_coords(b: bytes) -> np.ndarray:
    """All coordinates of any supported WKB geometry, stacked (n, 2)."""
    kind, payload = load(b)
    if kind == "point":
        return payload.reshape(1, 2)
    if kind == "linestring":
        return payload
    if kind == "polygon":
        return np.vstack(payload)
    return np.vstack([r for p in payload for r in p])


def load_polygons(b: bytes) -> list[list[np.ndarray]]:
    """Any polygonal WKB -> list of polygons (each list of rings)."""
    kind, payload = load(b)
    if kind == "polygon":
        return [payload]
    if kind == "multipolygon":
        return payload
    raise ValueError(f"expected polygonal WKB, got {kind}")


# ------------------------------------------------------------ snap grid
def load_grid_polygons(b: bytes, grid: float) -> list[list[np.ndarray]]:
    """Any polygonal WKB -> polygons of int64 rings snapped to ``grid``."""
    return [[snap_to_grid_int(r, grid) for r in rings]
            for rings in load_polygons(bytes(b))]


def dump_grid_multipolygon(polys: list[list[np.ndarray]], grid: float) -> bytes:
    """Polygons of int64 grid rings -> float WKB multipolygon."""
    return dump_multipolygon([[grid_to_float(r, grid) for r in rings]
                              for rings in polys])


def one_ring_batches(blobs):
    """Batched parse of a column of WKB blobs: yields (rows, coords) per
    group of equal-length blobs that are a 1-ring Polygon or a
    1-part/1-ring MultiPolygon of >= 3 vertices — rows indexes ``blobs``,
    coords is the (len(rows), n, 2) float64 ring, closing vertex included.
    Such blobs of one length share one byte layout, so a group is one
    header compare and one float64 view, no per-row parsing.  Rows never
    yielded need the per-row parser; values are identical either way."""
    lens = np.fromiter((len(b) for b in blobs), np.int64, len(blobs))
    for L in np.unique(lens).tolist():
        for off, prefix in _ONE_RING:
            nv, rem = divmod(L - off, 16)
            if nv < 3 or rem:
                continue
            rows = np.flatnonzero(lens == L)
            a = np.frombuffer(b"".join(blobs[i] for i in rows),
                              np.uint8).reshape(len(rows), L)
            hdr = np.frombuffer(prefix + _U32.pack(nv), np.uint8)
            ok = (a[:, :off] == hdr).all(axis=1)
            if ok.any():
                yield rows[ok], a[ok, off:].view("<f8").reshape(-1, nv, 2)
