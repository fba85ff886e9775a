"""Hierarchical Z-order (Morton) cell grid over lon/lat — the engine's spatial
index, playing the role of S2/H3 cells and of the reference's content-balanced
quadtree grid (cbg_content_based_balanced_grid,
/root/reference/src/test/sql/regress/find_overlap_and_gap-pre.sql:121-249).

A cell at resolution ``r`` is one square of the 2^r x 2^r grid over
lon in [-180,180), lat in [-90,90). Its id packs the resolution in the top
bits and the Morton interleave of (ix, iy) below, so parent/child is a 2-bit
shift — exactly a quadtree, which is what the reference's recursive
content-balanced grid is.

Three synchronized implementations (kept in lockstep by tests):
  * numpy kernels (used inside Arrow UDFs of the geometry engine),
  * Spark Column expressions built from JVM built-ins (the hot path — whole
    stage codegen, zero Python),
  * dialect-shared SQL text (Spark SQL == DuckDB SQL) for the flat,
    fixed-resolution id used by oracle-checked queries.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark.geom.core import snap_to_grid_int

MAX_RES = 28          # 2*28 = 56 morton bits
RES_SHIFT = 58        # resolution stored in bits 58..62
_ZMASK = (1 << RES_SHIFT) - 1   # the Morton bits below the resolution

# Morton bit-spread magic constants (64-bit, spread 32 -> 64 even bits).
_SPREAD = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


# ---------------------------------------------------------------- numpy side
def _spread_np(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int64)
    for shift, mask in _SPREAD:
        x = (x | (x << shift)) & mask
    return x


def _unspread_np(x: np.ndarray) -> np.ndarray:
    x = x & 0x5555555555555555
    x = (x | (x >> 1)) & 0x3333333333333333
    x = (x | (x >> 2)) & 0x0F0F0F0F0F0F0F0F
    x = (x | (x >> 4)) & 0x00FF00FF00FF00FF
    x = (x | (x >> 8)) & 0x0000FFFF0000FFFF
    x = (x | (x >> 16)) & 0x00000000FFFFFFFF
    return x


def xy_np(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << res
    ix = np.clip(np.floor((np.asarray(lon) + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((np.asarray(lat) + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return ix, iy


def cell_id_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    ix, iy = xy_np(lon, lat, res)
    return cell_from_xy_np(ix, iy, res)


def cell_from_xy_np(ix: np.ndarray, iy: np.ndarray, res: int) -> np.ndarray:
    return (np.int64(res) << RES_SHIFT) | (_spread_np(ix) | (_spread_np(iy) << 1))


def cell_res_np(cell: np.ndarray) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) >> RES_SHIFT) & 0x1F


def cell_to_xy_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    z = np.asarray(cell, dtype=np.int64) & _ZMASK
    return _unspread_np(z), _unspread_np(z >> 1)


def parent_np(cell: np.ndarray, steps: int = 1) -> np.ndarray:
    """Ancestor ``steps`` levels up (numpy twin of ancestor_col)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell_res_np(cell)
    return ((res - steps) << RES_SHIFT) | ((cell & _ZMASK) >> (2 * steps))


def cell_bounds_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lon_min, lat_min, lon_max, lat_max) of each cell."""
    res = cell_res_np(cell)
    ix, iy = cell_to_xy_np(cell)
    w = 360.0 / (2.0 ** res)
    h = 180.0 / (2.0 ** res)
    xmin = -180.0 + ix * w
    ymin = -90.0 + iy * h
    return xmin, ymin, xmin + w, ymin + h


def cell_box_units(cell: int, g: float) -> tuple[int, int, int, int]:
    """(xmin, ymin, xmax, ymax) of one cell snapped to the grid of step
    ``g`` (core.snap_to_grid_int): the int box every kernel clips to and
    tests border contact against."""
    b = snap_to_grid_int(np.concatenate(cell_bounds_np(np.array([cell], np.int64))), g)
    return tuple(b.tolist())


def box_ring(box: tuple[int, int, int, int]) -> np.ndarray:
    """The box as a CCW int ring (4 vertices, not closed)."""
    x0, y0, x1, y1 = box
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], np.int64)


def touches_box(ring: np.ndarray, box: tuple[int, int, int, int]) -> bool:
    """True iff a vertex of the int ring lies on one of the box's lines.
    For a face inside its box the shell decides: a hole vertex on a box
    line forces a shell vertex onto that line."""
    x0, y0, x1, y1 = box
    return bool((ring[:, 0] == x0).any() or (ring[:, 0] == x1).any()
                or (ring[:, 1] == y0).any() or (ring[:, 1] == y1).any())


def on_box_lines(iv: np.ndarray, box: tuple[int, int, int, int]) -> np.ndarray:
    """Mask of the (axis, coord, lo, hi) rows (core.axis_edges) lying on
    one of the box's 4 lines."""
    x0, y0, x1, y1 = box
    c = iv[:, 1]
    return np.where(iv[:, 0] == 0, (c == x0) | (c == x1), (c == y0) | (c == y1))


def covering_cells_np(xmin, ymin, xmax, ymax, res: int) -> list[np.ndarray]:
    """Per input bbox, all cells at ``res`` intersecting it (bbox polyfill).
    This is the reference's grid<->feature `&&` join key generation
    (function_resolve_overlap_gap_init.sql:195-199) turned into data."""
    n = 1 << res
    ix0, iy0 = xy_np(np.asarray(xmin), np.asarray(ymin), res)
    ix1, iy1 = xy_np(np.asarray(xmax), np.asarray(ymax), res)
    out = []
    for a, b, c, d in zip(ix0, ix1, iy0, iy1):
        gx, gy = np.meshgrid(np.arange(a, b + 1), np.arange(c, d + 1))
        out.append(cell_from_xy_np(gx.ravel(), gy.ravel(), res))
    return out


# ---------------------------------------------------------------- Spark side
def _spread_col(c: Column) -> Column:
    for shift, mask in _SPREAD:
        c = (c.bitwiseOR(F.shiftleft(c, shift))).bitwiseAND(F.lit(mask))
    return c


def xy_col(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    n = 1 << res
    ix = F.least(F.greatest(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))), F.lit(0)), F.lit(n - 1)).cast("long")
    iy = F.least(F.greatest(F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n))), F.lit(0)), F.lit(n - 1)).cast("long")
    return ix, iy


def cell_from_xy_col(ix: Column, iy: Column, res: int) -> Column:
    """Morton id from integer cell coords — pure JVM built-ins, codegen'd."""
    z = _spread_col(ix).bitwiseOR(F.shiftleft(_spread_col(iy), 1))
    return F.lit(res << RES_SHIFT).cast("long").bitwiseOR(z)


def res_col(cell: Column) -> Column:
    """Resolution of each cell id (cell_res_np's twin)."""
    return F.shiftrightunsigned(cell, RES_SHIFT).bitwiseAND(F.lit(0x1F))


def ancestor_col(cell: Column, target: int | Column) -> Column:
    """Ancestor of each cell at resolution ``target`` (an int, or a column
    of them; a cell already at ``target`` maps to itself) — parent_np's
    twin, one expression whose shift amount is itself a column, so cells
    of mixed resolutions re-key without a per-resolution filter."""
    t = F.lit(target) if isinstance(target, int) else target
    z = F.call_function("shiftright", cell.bitwiseAND(F.lit(_ZMASK)),
                        (res_col(cell) - t) * 2)
    return F.shiftleft(t.cast("long"), RES_SHIFT).bitwiseOR(z)


def cell_id_col(lon: Column, lat: Column, res: int) -> Column:
    ix, iy = xy_col(lon, lat, res)
    return cell_from_xy_col(ix, iy, res)


def covering_cells_col(xmin: Column, ymin: Column, xmax: Column, ymax: Column, res: int) -> Column:
    """Array of Morton cells covering a bbox — built with sequence() so the
    explode stays JVM-side (no Python polyfill in the hot path)."""
    ix0, iy0 = xy_col(xmin, ymin, res)
    ix1, iy1 = xy_col(xmax, ymax, res)
    xs = F.sequence(ix0, ix1)
    ys = F.sequence(iy0, iy1)
    pairs = F.flatten(F.transform(xs, lambda x: F.transform(ys, lambda y: F.struct(x.alias("x"), y.alias("y")))))
    return F.transform(pairs, lambda p: cell_from_xy_col(p["x"], p["y"], res))


# ------------------------------------------------------- dialect-shared SQL
def flat_cell_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """Flat (non-hierarchical) cell id ``ix * 2^res + iy`` at a fixed
    resolution, as SQL text valid in BOTH Spark SQL and DuckDB — the single
    source of truth for oracle-checked queries. Arithmetic only (floor,
    least/greatest, +,*) so both engines produce identical bigints."""
    n = 1 << res
    ix = f"least(greatest(cast(floor((({lon_expr}) + 180.0) / 360.0 * {n}.0) as bigint), 0), {n - 1})"
    iy = f"least(greatest(cast(floor((({lat_expr}) + 90.0) / 180.0 * {n}.0) as bigint), 0), {n - 1})"
    return f"({ix} * {n} + {iy})"
