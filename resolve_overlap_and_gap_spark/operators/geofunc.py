"""Per-geometry scalar functions as Arrow-batched Spark columns:
ST_Buffer and ST_PointOnSurface (SURVEY.md §2.8 rows previously absent;
reference uses: …init.sql:145-146 metagrid shrink/lock pads, label
points). Kernels live in geom/buffer.py; these wrappers only do the
WKB <-> grid-unit plumbing, batched per Arrow page (no per-row Python)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.geom.core import grid_to_float, snap_to_grid_int


def st_buffer(geom: Column, dist: float, grid_size: float = 1e-5,
              quad_segs: int = 8) -> Column:
    """WKB polygon/multipolygon/linestring -> buffered WKB multipolygon.
    dist in layer units (degrees here); negative erodes polygons."""
    from resolve_overlap_and_gap_spark.geom.buffer import buffer_line, buffer_polygon

    d_units = dist / grid_size

    @F.pandas_udf(T.BinaryType())
    def _buf(geoms: pd.Series) -> pd.Series:
        out = []
        for b in geoms:
            kind, coords = wkb.load(bytes(b))
            polys_out: list[list[np.ndarray]] = []
            if kind == "linestring":
                polys_out = buffer_line(snap_to_grid_int(coords, grid_size),
                                        d_units, quad_segs)
            else:
                for ir in wkb.load_grid_polygons(b, grid_size):
                    polys_out.extend(buffer_polygon(ir, d_units, quad_segs))
            out.append(wkb.dump_grid_multipolygon(polys_out, grid_size))
        return pd.Series(out)

    return _buf(geom)


POS_SCHEMA = T.StructType([
    T.StructField("x", T.DoubleType()),
    T.StructField("y", T.DoubleType()),
])


def st_point_on_surface(geom: Column, grid_size: float = 1e-5) -> Column:
    """WKB polygon/multipolygon -> struct(x, y) strictly inside (largest
    part for multipolygons, by absolute shell area)."""
    from resolve_overlap_and_gap_spark.geom.buffer import point_on_surface
    from resolve_overlap_and_gap_spark.geom.core import ring_area2

    @F.pandas_udf(POS_SCHEMA)
    def _pos(geoms: pd.Series) -> pd.DataFrame:
        xs = np.empty(len(geoms)); ys = np.empty(len(geoms))
        for i, b in enumerate(geoms):
            best_rings, best_a2 = None, -1.0
            for ir in wkb.load_grid_polygons(b, grid_size):
                a2 = abs(ring_area2(ir[0].astype(np.float64)))
                if a2 > best_a2:
                    best_a2, best_rings = a2, ir
            px, py = point_on_surface(best_rings)
            xs[i], ys[i] = grid_to_float((px, py), grid_size)
        return pd.DataFrame({"x": xs, "y": ys})

    return _pos(geom)


def st_translate(geom: Column, dx: float, dy: float) -> Column:
    """ST_Translate: shift every coordinate of a WKB geometry by (dx, dy)
    — the reference's topo_update.extend_line building block
    (…utils/function_03_extend_line.sql:9-14)."""

    @F.pandas_udf(T.BinaryType())
    def _tr(geoms: pd.Series) -> pd.Series:
        out = []
        for b in geoms:
            kind, coords = wkb.load(bytes(b))
            if kind == "point":
                out.append(wkb.dump_point((float(coords[0]) + dx,
                                           float(coords[1]) + dy)))
            elif kind == "linestring":
                c = np.asarray(coords, np.float64) + [dx, dy]
                out.append(wkb.dump_linestring(c))
            elif kind in ("polygon", "multipolygon"):
                polys = [
                    [np.asarray(r, np.float64) + [dx, dy] for r in rings]
                    for rings in wkb.load_polygons(bytes(b))
                ]
                out.append(wkb.dump_multipolygon(polys))
            else:
                raise ValueError(f"st_translate: unsupported WKB kind {kind!r}")
        return pd.Series(out)

    return _tr(geom)


def extend_line(geom: Column, extend_len: float) -> Column:
    """topo_update.extend_line (…utils/function_03_extend_line.sql:1-20):
    straight line between the input's endpoints, extended extend_len past
    EACH end.  Mirrors the reference formula exactly — each endpoint is
    translated along the azimuth toward the other end by
    dist(a,b) + extend_len, so the output runs (past-b, past-a), i.e.
    reversed orientation, like ST_MakeLine(ST_Translate(a,...),
    ST_Translate(b,...)) there."""

    @F.pandas_udf(T.BinaryType())
    def _ext(geoms: pd.Series) -> pd.Series:
        out = []
        for b in geoms:
            kind, coords = wkb.load(bytes(b))
            if kind != "linestring" or len(coords) < 2:
                out.append(bytes(b))
                continue
            a = np.asarray(coords[0], np.float64)
            z = np.asarray(coords[-1], np.float64)
            d = float(np.hypot(*(z - a)))
            if d == 0.0:
                out.append(bytes(b))
                continue
            u = (z - a) / d
            ln = d + extend_len
            out.append(wkb.dump_linestring(np.vstack([a + u * ln, z - u * ln])))
        return pd.Series(out)

    return _ext(geom)


def with_buffer(df: DataFrame, dist: float, grid_size: float = 1e-5,
                quad_segs: int = 8, geom_col: str = "geom",
                out_col: str = "geom_buf") -> DataFrame:
    return df.withColumn(out_col, st_buffer(F.col(geom_col), dist, grid_size, quad_segs))


def with_point_on_surface(df: DataFrame, grid_size: float = 1e-5,
                          geom_col: str = "geom") -> DataFrame:
    p = st_point_on_surface(F.col(geom_col), grid_size)
    return df.withColumn("_p", p).select("*", "_p.x", "_p.y").drop("_p")
