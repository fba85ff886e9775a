"""Sources: geometry derived from a pages table (url, warc_ts, html, text,
lang, doc_id) — the Common-Crawl-style input BASELINE.json's input_hint
names.

Geometry is NOT stored: points and boxes derive from the row key by the
derive.py formulas (shared with the DuckDB oracles), and the WKB footprints
below are built around those derived columns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from resolve_overlap_and_gap_spark import derive
from resolve_overlap_and_gap_spark.geom import wkb as _wkb


def _ngon_footprint_kernel(pid: pd.Series, px: pd.Series, py: pd.Series,
                           scale: float) -> pd.Series:
    """Vectorized irregular-ngon WKB builder — grouped by vertex count
    (4 groups): the ring math runs as (rows x verts) matrices and the WKB
    bytes are a constant per-group header + each row's coord bytes.
    Elementwise-identical doubles, byte-identical WKB to the r5 per-row
    dump (pinned by tests/test_ngon_vectorized.py)."""
    ids = pid.to_numpy(dtype=np.int64)
    xs = px.to_numpy(dtype=np.float64)
    ys = py.to_numpy(dtype=np.float64)
    h = (ids * np.int64(2654435761)) & np.int64(0xFFFFFFFF)
    nv = 5 + (h % 4)                       # 5..8 vertices
    rad = (0.05 + (h % 5000) / 10000.0) * scale
    out = np.empty(len(ids), dtype=object)
    for n in (5, 6, 7, 8):
        idx = np.nonzero(nv == n)[0]
        if not len(idx):
            continue
        k = np.arange(n, dtype=np.int64)[None, :]
        mix = ((ids[idx][:, None] * np.int64(40503)
                + k * np.int64(2654435761))
               & np.int64(0xFFFFFFFF)).astype(np.float64) / 4294967296.0
        ang = 2.0 * np.pi * (k + mix * 0.5) / np.int64(n)
        rr = rad[idx][:, None] * (0.7 + 0.6 * mix)
        X = xs[idx][:, None] + rr * np.cos(ang)
        Y = ys[idx][:, None] + rr * np.sin(ang)
        coords = np.empty((len(idx), n + 1, 2), dtype="<f8")
        coords[:, :n, 0] = X
        coords[:, :n, 1] = Y
        coords[:, n, 0] = X[:, 0]          # close the ring
        coords[:, n, 1] = Y[:, 0]
        hdr = (_wkb._HDR.pack(1, _wkb.POLYGON) + _wkb._U32.pack(1)
               + _wkb._U32.pack(n + 1))
        for q, i in enumerate(idx):
            out[i] = hdr + coords[q].tobytes()
    return pd.Series(list(out))


def with_ngon_footprint(df: DataFrame, scale: float = 1.0,
                        id_col: str = "pid") -> DataFrame:
    """Derive an irregular convex n-gon footprint (WKB Polygon) around each
    page point — the geo-parse stage for real-polygon operators. Built in an
    Arrow-batched pandas UDF with integer hash mixing (deterministic, no RNG
    state, no per-row Spark Python)."""
    @F.pandas_udf(T.BinaryType())
    def ngon(pid: pd.Series, px: pd.Series, py: pd.Series) -> pd.Series:
        return _ngon_footprint_kernel(pid, px, py, scale)

    return df.withColumn("geom", ngon(F.col(id_col), F.col("px"), F.col("py")))


def with_regular_ngon(df: DataFrame, k: int = 8, scale: float = 1.0,
                      id_col: str = "pid") -> DataFrame:
    """Regular convex k-gon WKB footprint from the derive.regular_ngon
    formula — numpy mirror of the SQL so oracle vertices match exactly.
    Needs derived px/py columns (derive.point_select)."""
    @F.pandas_udf(T.BinaryType())
    def ngon(px: pd.Series, py: pd.Series, hw: pd.Series,
             hrot: pd.Series) -> pd.Series:
        return _regular_ngon_kernel(px, py, hw, hrot, k, scale)

    hw_sql = derive.h32(f"cast({id_col} as string)", ":w", derive.SPARK)
    hr_sql = derive.h32(f"cast({id_col} as string)", ":rot", derive.SPARK)
    return df.withColumn(
        "geom", ngon(F.col("px"), F.col("py"),
                     F.expr(hw_sql), F.expr(hr_sql)))


def _regular_ngon_kernel(px: pd.Series, py: pd.Series, hw: pd.Series,
                         hrot: pd.Series, k: int, scale: float) -> pd.Series:
    """Vectorized regular-kgon WKB builder.  h32 arrives precomputed as
    JVM md5 columns (identical ints to the former per-row hashlib loop);
    the ring math is one (rows x k) matrix pass and the WKB bytes are a
    constant header + each row's coord bytes — byte-identical to the
    per-row dump (pinned by tests/test_ngon_vectorized.py)."""
    xs = px.to_numpy(dtype=np.float64)
    ys = py.to_numpy(dtype=np.float64)
    r = (0.05 + (hw.to_numpy(np.int64) % 5000) / 10000.0) * scale
    ph = (hrot.to_numpy(np.int64) % 6283) / 1000.0
    ang0 = 2.0 * np.pi * np.arange(k) / k
    a = ph[:, None] + ang0[None, :]
    X = xs[:, None] + r[:, None] * np.cos(a)
    Y = ys[:, None] + r[:, None] * np.sin(a)
    coords = np.empty((len(xs), k + 1, 2), dtype="<f8")
    coords[:, :k, 0] = X
    coords[:, :k, 1] = Y
    coords[:, k, 0] = X[:, 0]              # close the ring
    coords[:, k, 1] = Y[:, 0]
    hdr = (_wkb._HDR.pack(1, _wkb.POLYGON) + _wkb._U32.pack(1)
           + _wkb._U32.pack(k + 1))
    return pd.Series([hdr + coords[q].tobytes() for q in range(len(xs))])


def with_box_wkb(df: DataFrame) -> DataFrame:
    """WKB Polygon rectangle from footprint box columns (xmin/ymin/xmax/
    ymax, e.g. derive.box_select). Axis-aligned boxes make the full overlay
    engine ORACLE-CHECKABLE: pairwise box intersection areas are plain SQL
    (greatest/least), so detect-over-boxes can be hash-compared against
    DuckDB while still exercising the real cell-partitioned arrangement."""
    @F.pandas_udf(T.BinaryType())
    def boxwkb(xmin: pd.Series, ymin: pd.Series, xmax: pd.Series,
               ymax: pd.Series) -> pd.Series:
        x0 = xmin.to_numpy(dtype=np.float64)
        y0 = ymin.to_numpy(dtype=np.float64)
        x1 = xmax.to_numpy(dtype=np.float64)
        y1 = ymax.to_numpy(dtype=np.float64)
        out = []
        for j in range(len(x0)):
            ring = np.array([[x0[j], y0[j]], [x1[j], y0[j]],
                             [x1[j], y1[j]], [x0[j], y1[j]]])
            out.append(_wkb.dump_polygon([ring]))
        return pd.Series(out)

    return df.withColumn(
        "geom", boxwkb(F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"))
    )
