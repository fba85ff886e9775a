"""Overlap / gap detection engine — the Spark-native re-creation of
find-overlap-and-gap (reference inlined at
src/test/sql/regress/find_overlap_and_gap-pre.sql:297-757; per-cell kernel
:525-757).

Reference per-cell semantics:
  clip features to the cell (ST_Intersection, drop zero area :556-585) ->
  overlaps: self-join `&& AND ST_Overlaps AND NOT ST_Equals`, emit
  ST_Intersection with area > 0 (:618-646) ->
  gaps: ST_Difference(cell_geo, ST_Union(data)) dumped to parts (:650-688).

Spark realization: one covering-cell explode (JVM), one shuffle
(repartition by cell), one `applyInPandas` running the snapped integer
arrangement per cell. The arrangement gives overlaps AND gaps AND counts in
a single pass (faces labeled with their winding cover set), instead of the
reference's three scans.

Cross-cell exactness: cell borders are snapped-grid-aligned, every feature
is clipped to each cell it touches with exact integer Sutherland–Hodgman,
so per-cell faces tile exactly and pair overlaps are not double-counted
(each pair face is counted in the cell that contains it; a pair spanning
cells contributes per-cell pieces, like the reference's per-cell results).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from resolve_overlap_and_gap_spark import grid
from resolve_overlap_and_gap_spark.config import EngineConfig
from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.geom.arrangement import Face, overlay_cells
from resolve_overlap_and_gap_spark.geom.core import (
    clip_ring_to_box,
    ring_area2,
    snap_to_grid_int,
)

UNIVERSE = -1  # poly id of the cell box in the overlay


def default_cell_buckets(df) -> int:
    """Bucket count for every applyInPandas kernel stage — the detect and
    resolve overlays, the owner dissolve (both salt levels) and the border
    gap reassembly: ~8 hash groups per core, so each Arrow round trip
    batches many cells or keys and the batched kernels (overlay_cells,
    union_parts) amortize their fixed numpy phases, while 8 waves/core
    still give AQE straggler smoothing.  Scales with the cluster, never a
    constant.  History: r6 measured 256 -> 4096 as a win for the PER-CELL
    kernels (more AQE units); with the batched kernels the direction
    reverses (resolve noop at sf0.1/32 cores: 4096 buckets 7.8 s -> 256
    buckets 5.4 s; the heal dissolve of 1,500 owners on 4 cores: 4096
    buckets 2.8-4.2 s -> 64 buckets 0.7-0.9 s)."""
    return max(64, 8 * df.sparkSession.sparkContext.defaultParallelism)


# ------------------------------------------------------------ bounds stage
BOUNDS_SCHEMA = T.StructType(
    [
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)


@F.pandas_udf(BOUNDS_SCHEMA)
def wkb_bounds(geoms: pd.Series) -> pd.DataFrame:
    """Arrow-batched bounds of WKB geometries: one-ring polygons come from
    wkb.one_ring_batches (one vectorized min/max per blob length, no
    per-row parsing); anything else from the per-row parser — results
    are bit-identical either way."""
    vals = geoms.to_numpy(dtype=object)
    out = np.empty((len(vals), 4), dtype=np.float64)
    done = np.zeros(len(vals), dtype=bool)
    for rows, c in wkb.one_ring_batches(vals):
        out[rows, :2] = c.min(axis=1)
        out[rows, 2:] = c.max(axis=1)
        done[rows] = True
    for i in np.flatnonzero(~done):
        allc = wkb.load_coords(bytes(vals[i]))
        out[i] = (allc[:, 0].min(), allc[:, 1].min(),
                  allc[:, 0].max(), allc[:, 1].max())
    return pd.DataFrame(out, columns=["xmin", "ymin", "xmax", "ymax"])


def _with_bounds(features: DataFrame, geom_col: str = "geom") -> DataFrame:
    """+ (xmin, ymin, xmax, ymax) of each geometry."""
    b = features.withColumn("_b", wkb_bounds(F.col(geom_col)))
    return b.select("*", "_b.xmin", "_b.ymin", "_b.xmax", "_b.ymax").drop("_b")


def _cover_at(bounded: DataFrame, res: int) -> DataFrame:
    """Bounded rows -> one row per covering cell at `res` (cell_id)."""
    return bounded.withColumn(
        "cell_id",
        F.explode(
            grid.covering_cells_col(
                F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), res
            )
        ),
    )


def with_cells(features: DataFrame, res: int, geom_col: str = "geom") -> DataFrame:
    """Feature -> covering cells (J1 key generation for real geometries)."""
    return _cover_at(_with_bounds(features, geom_col), res)


# ------------------------------------------------------------ per-cell kernel
def _clip_to_cell(rings: list[np.ndarray], cxmin, cymin, cxmax, cymax) -> list[np.ndarray]:
    out = []
    for r in rings:
        # fast path: ring entirely inside the (closed) cell box — the
        # Sutherland-Hodgman clip keeps every vertex and adds none, so its
        # output is exactly the open ring; skip the float round-trip
        # (most features touch one cell at the density-derived res)
        rr = r
        if len(rr) > 1 and rr[0, 0] == rr[-1, 0] and rr[0, 1] == rr[-1, 1]:
            rr = rr[:-1]
        x = rr[:, 0]; y = rr[:, 1]
        if (x.min() >= cxmin and x.max() <= cxmax
                and y.min() >= cymin and y.max() <= cymax):
            if len(rr) >= 3 and ring_area2(rr.astype(np.float64)) != 0:
                out.append(rr)
            continue
        c = clip_ring_to_box(r.astype(np.float64), cxmin, cymin, cxmax, cymax)
        if len(c) >= 3 and ring_area2(c) != 0:
            out.append(snap_to_grid_int(c, 1.0))
    return out


def _cell_prep(cell: int, pdf: pd.DataFrame, g: float):
    """Snap + clip pdf's (fid, geom) features to `cell` and add the
    UNIVERSE cell box — the front half of every per-cell overlay kernel.
    -> (cell box in grid units, polys)"""
    box = grid.cell_box_units(cell, g)
    polys = []
    for fid, geom in zip(pdf["fid"], pdf["geom"]):
        for rings in wkb.load_grid_polygons(geom, g):
            clipped = _clip_to_cell(rings, *box)
            if clipped:
                polys.append((int(fid), clipped))
    polys.append((UNIVERSE, [grid.box_ring(box)]))
    return box, polys


DETECT_SCHEMA = T.StructType([
    T.StructField("cell_id", T.LongType()),
    T.StructField("kind", T.StringType()),           # 'overlap' | 'gap'
    T.StructField("id_a", T.LongType()),              # null for gaps
    T.StructField("id_b", T.LongType()),
    T.StructField("area", T.DoubleType()),
    T.StructField("touches_border", T.BooleanType()),  # null for overlaps
    T.StructField("geom", T.BinaryType()),
])
# the kernel frame's pandas dtypes, one per DETECT_SCHEMA column
_DETECT_DTYPES = {"cell_id": "int64", "kind": object, "id_a": "Int64",
                 "id_b": "Int64", "area": "float64",
                 "touches_border": "boolean", "geom": object}


def detect_cells(cells: DataFrame, cfg: EngineConfig, with_geom: bool = True,
                 n_buckets: int | None = None) -> DataFrame:
    """The detect kernel stage over an ASSIGNED cell frame (cell_id, fid,
    geom) — fixed-res (with_cells) or content-balanced
    (assign_balanced_cells): the kernel is resolution-agnostic (cell
    bounds derive from the Morton id).

    Cells are processed in hashed BUCKETS of n_buckets groups: one Arrow
    round-trip covers many cells (per-cell groups would pay the
    applyInPandas overhead thousands of times).  AQE never splits a
    groupBy group (its skew handling splits join partitions only); what
    bounds a bucket is the cell assignment — the content-balanced grid
    caps the rows per cell — and default_cell_buckets spreading cells
    over ~8 buckets per core."""
    if n_buckets is None:
        n_buckets = default_cell_buckets(cells)
    bucketed = cells.select("cell_id", "fid", "geom").withColumn(
        "bucket", F.pmod(F.hash("cell_id"), F.lit(n_buckets)))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _detect_bucket(pdf, cfg, with_geom)

    return bucketed.groupBy("bucket").applyInPandas(kernel, DETECT_SCHEMA)


def detect_all(features: DataFrame, cfg: EngineConfig, res: int = 6,
               geom_col: str = "geom", id_col: str = "fid",
               n_buckets: int | None = None,
               with_geom: bool = True) -> DataFrame:
    """One-pass detection: per cell, ONE overlay yields both overlap rows
    (per feature pair, J2 semantics) and gap rows (uncovered faces,
    ST_Difference(cell, union) semantics). The reference needs three scans
    per cell for the same outputs (clip, self-join, difference)."""
    feats = features.select(
        F.col(id_col).cast("long").alias("fid"), F.col(geom_col).alias("geom")
    )
    return detect_cells(with_cells(feats, res), cfg, with_geom, n_buckets)


def _detect_bucket(pdf: pd.DataFrame, cfg: EngineConfig,
                   with_geom: bool = True) -> pd.DataFrame:
    """The detect kernel: ONE noding/DCEL/labeling pass over every cell of
    the bucket (overlay_cells) — exactly equal to per-cell overlays."""
    g = cfg.snap_tolerance
    subs = [(int(cell), sub, *_cell_prep(int(cell), sub, g))
            for cell, sub in pdf.groupby("cell_id", sort=True)]
    q_of: dict = {}
    faces_of = overlay_cells([(cell, polys) for cell, _, _, polys in subs],
                             noding_max_iter=cfg.noding_max_iter,
                             quarantine_of=q_of)
    parts = [
        _detect_rows(cell, box, faces_of[cell],
                     sorted(q_of.get(cell, [])), sub, g, with_geom)
        for cell, sub, box, _ in subs
    ]
    return pd.concat(parts, ignore_index=True)


def _detect_rows(cell: int, box: tuple, faces, quarantined, pdf: pd.DataFrame,
                 g: float, with_geom: bool = True) -> pd.DataFrame:
    rows = []
    # non-convergent features are reported, not silently dropped (kind =
    # 'quarantined', id_a = feature id, geometry = the clipped input)
    if quarantined:
        by_fid: dict[int, list] = {}
        for fid, geom in zip(pdf["fid"], pdf["geom"]):
            if int(fid) in quarantined:
                by_fid[int(fid)] = bytes(geom)
        for fid in sorted(by_fid):
            rows.append((cell, "quarantined", fid, None, 0.0, None, by_fid[fid]))
    pairs: dict[tuple[int, int], list[Face]] = {}
    for f in faces:
        if f.cover == frozenset([UNIVERSE]):
            gg = wkb.dump_grid_multipolygon([f.rings], g) if with_geom else None
            rows.append((cell, "gap", None, None, f.area2 / 2.0 * g * g,
                         grid.touches_box(f.shell, box), gg))
            continue
        ids = sorted(p for p in f.cover if p != UNIVERSE)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.setdefault((ids[i], ids[j]), []).append(f)
    for (a, b), fs in sorted(pairs.items()):
        area = sum(f.area2 for f in fs) / 2.0 * g * g
        if area <= 0:
            continue
        gg = (wkb.dump_grid_multipolygon([f.rings for f in fs], g)
              if with_geom else None)
        rows.append((cell, "overlap", a, b, area, None, gg))
    # fixed (nullable) dtypes: a cell's all-null id_a/id_b (gaps only),
    # touches_border (overlaps only) or geom (with_geom=False) must not
    # decide the bucket's concat dtypes, and ids never round-trip through
    # float64 beside a null
    cols = list(zip(*rows)) if rows else [()] * len(_DETECT_DTYPES)
    return pd.DataFrame({c: pd.Series(list(v), dtype=d)
                         for (c, d), v in zip(_DETECT_DTYPES.items(), cols)})


def assign_balanced_cells(features: DataFrame, cfg: EngineConfig,
                          geom_col: str = "geom", id_col: str = "fid") -> DataFrame:
    """Assign features to the content-balanced (mixed-resolution) cell
    frontier: refine hot cells (by feature-center count) to children until
    each holds <= max_rows_in_each_cell — cbg_content_based_balanced_grid
    semantics (find_overlap_and_gap-pre.sql:208-236).

    The frontier PARTITIONS the whole plane: a cell is a frontier cell iff
    it is not hot and its parent chain from base resolution is all hot.
    Cold cells — including cells holding zero feature centers — stay at the
    coarsest resolution, so feature BODIES extending beyond any center are
    still covered (quadtree descend below, not a semi-join against counted
    cells, which would drop center-less area). Returns (fid, geom, ...,
    cell_id) rows; shared by balanced detect and balanced resolve.

    Hot sets are per-level DataFrame dims (log-of-skew levels): the covers
    anti-/semi-join them, so a 100 TB frontier never rides the driver as
    an isin literal — AQE broadcasts each dim while small and shuffles
    when it isn't.
    """
    from resolve_overlap_and_gap_spark.operators.celljoin import (
        content_balanced_cells,
    )

    feats = features.select(
        F.col(id_col).cast("long").alias("fid"), F.col(geom_col).alias("geom")
    )
    b = _with_bounds(feats)
    b = b.withColumn("cx", (F.col("xmin") + F.col("xmax")) / 2).withColumn(
        "cy", (F.col("ymin") + F.col("ymax")) / 2
    )
    b.cache()
    _, hot_by_res = content_balanced_cells(
        b, cfg.grid.base_resolution, cfg.grid.max_resolution,
        cfg.grid.max_rows_in_each_cell, lon="cx", lat="cy", with_hot=True,
    )

    parts: list[DataFrame] = []
    r = cfg.grid.base_resolution
    cover = _cover_at(b, r)
    while True:
        hot = hot_by_res.get(r)
        if hot is None:
            parts.append(cover)
            break
        parts.append(cover.join(hot, "cell_id", "left_anti"))
        desc = (cover.join(hot, "cell_id", "left_semi")
                .dropDuplicates(["fid"]).drop("cell_id"))
        child_cover = _cover_at(desc, r + 1)
        cover = (
            child_cover.withColumn("_parent", grid.ancestor_col(F.col("cell_id"), r))
            .join(hot.withColumnRenamed("cell_id", "_parent"),
                  "_parent", "left_semi")
            .drop("_parent")
        )
        r += 1
    assigned = parts[0]
    for p in parts[1:]:
        assigned = assigned.unionByName(p)
    return assigned


def detect_all_balanced(features: DataFrame, cfg: EngineConfig,
                        geom_col: str = "geom", id_col: str = "fid",
                        n_buckets: int | None = None,
                        assigned: DataFrame | None = None,
                        with_geom: bool = True) -> DataFrame:
    """Detection over the CONTENT-BALANCED grid (the reference's
    cbg_content_based_balanced_grid semantics,
    find_overlap_and_gap-pre.sql:121-249): hot cells refine to children
    until each holds <= max_rows_in_each_cell features, then the same
    per-cell kernel runs on the mixed-resolution frontier.

    The kernel is resolution-agnostic (cell bounds derive from the Morton
    id), so only the assignment changes: features explode to covering cells
    at every frontier resolution and semi-join the frontier (a broadcast of
    the small cell dim per resolution).

    ``assigned`` (optional): a precomputed assign_balanced_cells result to
    reuse — the reference builds its grid ONCE in resolve_overlap_gap_init
    before any cell job, so a pipeline running detect + resolve on the
    same layer should pass the same (ideally checkpointed) assignment to
    both instead of re-deriving the frontier twice."""
    if assigned is None:
        assigned = assign_balanced_cells(features, cfg, geom_col, id_col)
    return detect_cells(assigned, cfg, with_geom, n_buckets)
