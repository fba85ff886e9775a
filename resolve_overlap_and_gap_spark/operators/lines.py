"""Line-layer operators — the reference's attribute-bearing border lines
path (line_table_name in types_resolve_overlap.sql:1-7; ar5 scenario,
src/test/sql/regress/resolve_overlap_and_gap.sql:202-222).

polygonize_lines: node a LineString network per cell and extract the faces
it encloses (TopoGeo_addLinestring + GetFaceGeometry semantics,
SURVEY.md §2.9) — the engine path for layers whose geometry arrives as
borders rather than polygons.

edge_attributes: J7 — after polygonize, recover which input line each face
border came from (lineage-carried, not re-joined: each noded sub-segment
remembers its source line id, replacing the reference's ST_DWithin re-join
…single_cell.sql:390-414).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from resolve_overlap_and_gap_spark import grid as G
from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.geom.arrangement import Face, overlay_cells
from resolve_overlap_and_gap_spark.geom.core import axis_edges, snap_to_grid_int

POLYGONIZE_SCHEMA = T.StructType([
    T.StructField("face_id", T.LongType()),
    T.StructField("area", T.DoubleType()),
    T.StructField("geom", T.BinaryType()),
    T.StructField("border_line_ids", T.ArrayType(T.LongType())),
])


# ------------------------------------------------------------ polygonize
#
# Cell-partitioned polygonize (the reference's job-type 2/4/5 pattern
# applied to the line phase): each cell arranges (its lines ∪ the cell
# box) into candidate face PIECES; pieces of the same global face meet
# across cell borders along border stretches NOT covered by an input line
# ("free intervals").  Connected components over the piece↔free-interval
# graph reassemble global faces; any component touching the outer rim of
# the gridded region is the unbounded face and is dropped; the rest
# dissolve per component.  Exactness: cell borders are snap-grid-aligned
# and line↔border crossings are rounded with exact integer arithmetic, so
# the two cells sharing a border derive bit-identical crossing points and
# the per-cell pieces tile the global arrangement's faces exactly.

PIECES_SCHEMA = T.StructType([
    T.StructField("cell_id", T.LongType()),
    T.StructField("piece", T.LongType()),      # stable global piece id
    T.StructField("area2", T.LongType()),      # 2*area in grid units^2
    T.StructField("rim", T.BooleanType()),     # touches gridded-region rim
    T.StructField("lids", T.ArrayType(T.LongType())),
    T.StructField("geom", T.BinaryType()),
    # free border intervals: [axis(0=x-border,1=y-border), coord, lo, hi]
    T.StructField("ivals", T.ArrayType(T.ArrayType(T.LongType()))),
])


def _clip_seg_box(x0: int, y0: int, x1: int, y1: int,
                  bx0: int, by0: int, bx1: int, by1: int):
    """Exact integer Liang–Barsky: clip segment to box, rounding crossing
    points half-up with pure-integer arithmetic.  The SAME fraction is
    evaluated in both cells sharing a border, so rounded crossings agree
    bit-for-bit across cells (the cross-cell exactness invariant)."""
    dx, dy = x1 - x0, y1 - y0
    n0, d0 = 0, 1   # t0 = n0/d0
    n1, d1 = 1, 1   # t1 = n1/d1
    for p, q in ((-dx, x0 - bx0), (dx, bx1 - x0), (-dy, y0 - by0), (dy, by1 - y0)):
        if p == 0:
            if q < 0:
                return None
            continue
        # r = q/p with positive denominator
        rn, rd = (q, p) if p > 0 else (-q, -p)
        if p < 0:
            if rn * d0 > n0 * rd:       # r > t0
                n0, d0 = rn, rd
        else:
            if rn * d1 < n1 * rd:       # r < t1
                n1, d1 = rn, rd
    if n0 * d1 > n1 * d0:               # t0 > t1: outside
        return None

    def pt(n: int, d: int) -> tuple[int, int]:
        # round(v + 1/2) down == half-up rounding, exact for any sign
        px = (2 * (x0 * d + dx * n) + d) // (2 * d)
        py = (2 * (y0 * d + dy * n) + d) // (2 * d)
        return px, py

    a = (x0, y0) if (n0, d0) == (0, 1) else pt(n0, d0)
    b = (x1, y1) if (n1, d1) == (1, 1) else pt(n1, d1)
    if a == b:
        return None
    return a, b


def _pid64(cell: int, k: int) -> int:
    import hashlib

    h = hashlib.md5(f"{cell}:{k}".encode()).digest()
    return int.from_bytes(h[:8], "big") & 0x7FFFFFFFFFFFFFFF


def _cell_cut(box: tuple[int, int, int, int], sub: pd.DataFrame, g: float):
    """Step 1 of a cell's pieces: clip its lines to the cell box ->
    (cut lines, covered border intervals keyed by (axis, coord))."""
    cx0, cy0, cx1, cy1 = box
    cut: list[tuple[int, np.ndarray]] = []
    cover: dict[tuple[int, int], list[tuple[int, int]]] = {}
    order = np.argsort(sub["lid"].to_numpy(), kind="stable")
    for i in order:
        lid = int(sub["lid"].iloc[i])
        kind, coords = wkb.load(bytes(sub["geom"].iloc[i]))
        if kind != "linestring":
            continue
        c = snap_to_grid_int(coords, g)
        for j in range(len(c) - 1):
            s = _clip_seg_box(int(c[j, 0]), int(c[j, 1]),
                              int(c[j + 1, 0]), int(c[j + 1, 1]),
                              cx0, cy0, cx1, cy1)
            if s is None:
                continue
            (ax, ay), (bx, by) = s
            cut.append((lid, np.array([[ax, ay], [bx, by]], dtype=np.int64)))
            # on-border segments become covered (wall) intervals
            if ax == bx and ax in (cx0, cx1):
                cover.setdefault((0, ax), []).append((min(ay, by), max(ay, by)))
            elif ay == by and ay in (cy0, cy1):
                cover.setdefault((1, ay), []).append((min(ax, bx), max(ax, bx)))
    return cut, cover


def _piece_rows(cell: int, box: tuple[int, int, int, int], faces: list,
                cover: dict, g: float,
                region: tuple[int, int, int, int]) -> list[tuple]:
    """Step 2: piece rows of one cell's faces (face k is piece
    _pid64(cell, k)) with their free border intervals and rim flags."""

    def covered(axis: int, coord: int, lo: int, hi: int) -> bool:
        # overlay nodes walks at cover endpoints: each boundary pair is
        # fully covered or disjoint — test the (doubled) midpoint
        m2 = lo + hi
        return any(2 * a <= m2 <= 2 * b for a, b in cover.get((axis, coord), ()))

    rows = []
    for k, f in enumerate(faces):
        e = axis_edges(f.rings)
        e = e[G.on_box_lines(e, box)]
        rim = G.on_box_lines(e, region)   # the region rim is never a portal
        ivals = [iv for iv in e[~rim].tolist() if not covered(*iv)]
        rows.append((cell, _pid64(cell, k), int(f.area2), bool(rim.any()),
                     sorted(f.lines), wkb.dump_grid_multipolygon([f.rings], g),
                     ivals))
    return rows


def polygonize_lines(lines: DataFrame, grid_size: float, res: int = 8,
                     geom_col: str = "geom", id_col: str = "lid",
                     n_buckets: int | None = None) -> DataFrame:
    """Polygonize a LineString network into the faces it encloses ->
    (face_id, area, geom, border_line_ids), cell-partitioned at quadtree
    resolution `res` (see the comment above).  Faces carry holes: a line
    island's interior is its own face and is excluded from the face
    around it.  face_id orders faces by (area, wkb) — the one global
    window, over output faces only.  Plan shape: one covering-cell
    shuffle + one cell-tagged overlay per bucket for pieces, ceil(res/4)
    hierarchical union-find rounds over free border intervals for
    components, one dissolve shuffle for final faces.  The only
    driver-side data are the layer's 4 bbox doubles.  n_buckets: hash
    buckets per kernel stage; None is default_cell_buckets, the rule of
    every kernel stage."""
    from resolve_overlap_and_gap_spark.operators.overlap_gap import (
        UNIVERSE,
        default_cell_buckets,
        wkb_bounds,
        with_cells,
    )

    g = grid_size
    if n_buckets is None:
        n_buckets = default_cell_buckets(lines)
    spark = lines.sparkSession
    slim = lines.select(F.col(id_col).cast("long").alias("fid"),
                        F.col(geom_col).alias("geom"))

    # ---- region: covering cells of the layer bbox + one-cell margin (so
    # a line lying exactly on a cell boundary can never sit on the rim)
    bb = slim.withColumn("_b", wkb_bounds(F.col("geom"))).agg(
        F.min("_b.xmin").alias("x0"), F.min("_b.ymin").alias("y0"),
        F.max("_b.xmax").alias("x1"), F.max("_b.ymax").alias("y1"),
    ).collect()[0]
    if bb["x0"] is None:
        return spark.createDataFrame([], POLYGONIZE_SCHEMA)
    n = 1 << res
    ix0, iy0 = G.xy_np(np.array([bb["x0"]]), np.array([bb["y0"]]), res)
    ix1, iy1 = G.xy_np(np.array([bb["x1"]]), np.array([bb["y1"]]), res)
    ix0 = max(int(ix0[0]) - 1, 0); iy0 = max(int(iy0[0]) - 1, 0)
    ix1 = min(int(ix1[0]) + 1, n - 1); iy1 = min(int(iy1[0]) + 1, n - 1)
    region_cells = (
        spark.range(ix0, ix1 + 1).withColumnRenamed("id", "ix")
        .crossJoin(spark.range(iy0, iy1 + 1).withColumnRenamed("id", "iy"))
        .select(G.cell_from_xy_col(F.col("ix"), F.col("iy"), res).alias("cell_id"))
        .repartition(max(n_buckets // 4, 1))
    )
    # region rim in grid units (for the unbounded-face test)
    c00 = G.cell_from_xy_np(np.array([ix0]), np.array([iy0]), res)[0]
    c11 = G.cell_from_xy_np(np.array([ix1]), np.array([iy1]), res)[0]
    region = G.cell_box_units(c00, g)[:2] + G.cell_box_units(c11, g)[2:]

    # ---- pieces: overlay cells holding lines; whole-box pieces elsewhere
    lcells = with_cells(slim, res).select("cell_id", F.col("fid").alias("lid"), "geom")

    def line_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        cells = []
        for cid, sub in pdf.groupby("cell_id", sort=True):
            box = G.cell_box_units(int(cid), g)
            cells.append((int(cid), box, *_cell_cut(box, sub, g)))
        # one cell-tagged overlay of (cell box, clipped lines) per bucket
        faces_of = overlay_cells([(cell, [(UNIVERSE, [G.box_ring(box)])], None, cut)
                                  for cell, box, cut, _ in cells])
        rows: list[tuple] = []
        for cell, box, _, cover in cells:
            rows.extend(_piece_rows(cell, box, faces_of[cell], cover, g, region))
        return pd.DataFrame(rows, columns=[f.name for f in PIECES_SCHEMA])

    line_pieces = (
        lcells.withColumn("bucket", F.pmod(F.hash("cell_id"), F.lit(n_buckets)))
        .groupBy("bucket").applyInPandas(line_kernel, PIECES_SCHEMA)
    )

    def empty_kernel(it):
        for pdf in it:
            rows = []
            for cid in pdf["cell_id"]:
                cell = int(cid)
                x0, y0, x1, y1 = box = G.cell_box_units(cell, g)
                whole = Face(shell=G.box_ring(box), area2=2 * (x1 - x0) * (y1 - y0))
                rows.extend(_piece_rows(cell, box, [whole], {}, g, region))
            yield pd.DataFrame(rows, columns=[f.name for f in PIECES_SCHEMA])

    empty_cells = region_cells.join(
        lcells.select("cell_id").distinct(), "cell_id", "left_anti"
    )
    pieces = line_pieces.unionByName(
        empty_cells.mapInPandas(empty_kernel, PIECES_SCHEMA)
    ).localCheckpoint()

    # ---- connected components by HIERARCHICAL UNION-FIND (the
    # reassemble_border_gaps pattern applied to the portal graph): group
    # nodes by ancestor cell, union-find per group over free-interval
    # overlaps (an in-kernel sweep — two intervals on the same border line
    # with positive-length overlap are the same face), escalate only the
    # representatives that still hold intervals on the GROUP boundary.
    # ceil(res/level_jump) shuffles total, data-independent — a min-label
    # propagation loop would instead need O(component diameter) rounds.
    level_jump = 4
    targets: list[int] = []
    t = res
    while t > 0:
        t = max(t - level_jump, 0)
        targets.append(t)

    def cc_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rows: list[tuple] = []
        for gcell, sub in pdf.groupby("gcell", sort=True):
            gx0, gy0, gx1, gy1 = G.cell_box_units(int(gcell), g)
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            def union(x: int, y: int) -> None:
                rx, ry = find(x), find(y)
                if rx != ry:
                    if ry < rx:
                        rx, ry = ry, rx
                    parent[ry] = rx

            by_line: dict[tuple[int, int], list[tuple[int, int, int]]] = {}
            ext: dict[int, list[list[int]]] = {}
            for node, ivals in zip(sub["node"], sub["ivals"]):
                nd = int(node)
                parent.setdefault(nd, nd)
                for v in ivals if ivals is not None else ():
                    axis, coord, lo, hi = int(v[0]), int(v[1]), int(v[2]), int(v[3])
                    on_boundary = (axis == 0 and coord in (gx0, gx1)) or \
                                  (axis == 1 and coord in (gy0, gy1))
                    if on_boundary:
                        ext.setdefault(nd, []).append([axis, coord, lo, hi])
                    else:
                        by_line.setdefault((axis, coord), []).append((lo, hi, nd))
            for ivs in by_line.values():
                ivs.sort()
                cur_root: int | None = None
                cur_max = 0
                for lo, hi, nd in ivs:
                    if cur_root is not None and lo < cur_max:
                        # strict <: corner touches don't merge
                        union(cur_root, nd)
                        cur_root = find(nd)
                        cur_max = max(cur_max, hi)
                    else:
                        cur_root, cur_max = nd, hi
            comp_ext: dict[int, list[list[int]]] = {}
            for nd in parent:
                r = find(nd)
                rows.append(("m", nd, int(r), None))
                if nd in ext:
                    comp_ext.setdefault(r, []).extend(ext[nd])
            for r, ivs in comp_ext.items():
                rows.append(("r", int(r), int(gcell), ivs))
        return pd.DataFrame(rows, columns=["kind", "a", "b", "ivals"])

    CC_SCHEMA = T.StructType([
        T.StructField("kind", T.StringType()),
        T.StructField("a", T.LongType()),
        T.StructField("b", T.LongType()),
        T.StructField("ivals", T.ArrayType(T.ArrayType(T.LongType()))),
    ])
    cur = pieces.select(F.col("piece").alias("node"), "cell_id", "ivals")
    level_maps: list[DataFrame] = []
    for target in targets:
        out_cc = (
            cur.withColumn("gcell", G.ancestor_col(F.col("cell_id"), target))
            .withColumn("bucket", F.pmod(F.hash("gcell"), F.lit(n_buckets)))
            .groupBy("bucket").applyInPandas(
                lambda pdf: cc_kernel(pdf), CC_SCHEMA)
        ).localCheckpoint()
        level_maps.append(out_cc.where(F.col("kind") == "m")
                          .select(F.col("a").alias("member"), F.col("b").alias("rep")))
        cur = out_cc.where(F.col("kind") == "r").select(
            F.col("a").alias("node"), F.col("b").alias("cell_id"), "ivals"
        )

    # compose the per-level maps: piece -> final component label
    labels = level_maps[0].select(F.col("member").alias("piece"),
                                  F.col("rep").alias("label"))
    for m in level_maps[1:]:
        m2 = m.select(F.col("member").alias("label"), F.col("rep").alias("nl"))
        labels = labels.join(m2, "label", "left").select(
            "piece", F.coalesce("nl", "label").alias("label")
        )

    # ---- drop the unbounded component(s); dissolve the rest per label
    lp = pieces.join(labels, "piece")
    comp_rim = lp.groupBy("label").agg(F.max("rim").alias("has_rim"))
    kept = lp.join(comp_rim.where(~F.col("has_rim")).select("label"), "label")

    from resolve_overlap_and_gap_spark.operators.dissolve import dissolve

    faces = dissolve(kept.select("label", "geom"), "label", g).select(
        F.col("key").alias("label"), "area", "geom"
    )
    lids = kept.select("label", F.explode_outer("lids").alias("lid")).groupBy("label").agg(
        F.sort_array(F.array_compact(F.collect_set("lid"))).alias("border_line_ids")
    )
    out = faces.join(lids, "label")
    # deterministic ids: global (area, wkb) order — a single narrow window
    # over FINAL faces only (output-sized, not input-sized)
    from pyspark.sql import Window

    w = Window.orderBy("area", "geom")
    return out.select(
        (F.row_number().over(w) - 1).alias("face_id"), "area", "geom",
        "border_line_ids",
    )


RESOLVE_LINES_SCHEMA = T.StructType([
    T.StructField("cell_id", T.LongType()),
    T.StructField("owner", T.LongType()),
    T.StructField("other_ids", T.ArrayType(T.LongType())),
    T.StructField("border_line_ids", T.ArrayType(T.LongType())),
    T.StructField("area", T.DoubleType()),
    T.StructField("geom", T.BinaryType()),
])


def resolve_with_lines(polygons: DataFrame, lines: DataFrame, cfg, res: int = 8,
                       n_buckets: int | None = None) -> DataFrame:
    """The ar5 scenario (polygon layer + attribute-bearing border lines,
    resolve_overlap_and_gap.sql:202-222): lines participate in the per-cell
    arrangement as CUT LINES — they split faces without affecting coverage —
    and every output face reports the line ids on its border (J7,
    lineage-carried). One extra covering-cell join for the line layer."""
    from resolve_overlap_and_gap_spark.operators.overlap_gap import (
        UNIVERSE, _cell_prep, default_cell_buckets, with_cells,
    )
    from resolve_overlap_and_gap_spark.operators.resolve import (
        QUARANTINE_OWNER, _quarantine_geoms,
    )

    g = cfg.snap_tolerance
    if n_buckets is None:
        n_buckets = default_cell_buckets(polygons)
    feats = polygons.select(F.col("fid").cast("long").alias("fid"), "geom")
    pcells = with_cells(feats, res).select(
        "cell_id", F.col("fid"), F.col("geom"), F.lit("poly").alias("kind")
    )
    lfeats = lines.select(F.col("lid").cast("long").alias("fid"), "geom")
    lcells = with_cells(lfeats, res).select(
        "cell_id", F.col("fid"), F.col("geom"), F.lit("line").alias("kind")
    )
    cells = pcells.unionByName(lcells).withColumn(
        "bucket", F.pmod(F.hash("cell_id"), F.lit(n_buckets))
    )

    def cut_lines(sub: pd.DataFrame, box: tuple) -> list[tuple[int, np.ndarray]]:
        cx0, cy0, cx1, cy1 = box
        cut = []
        for fid, geom in zip(sub["fid"], sub["geom"]):
            k2, coords = wkb.load(bytes(geom))
            if k2 != "linestring":
                continue
            # clamp into the cell box (cut lines need no exact clip —
            # out-of-cell parts are re-cut in their own cells)
            cut.append((int(fid), np.clip(snap_to_grid_int(coords, g),
                                          [cx0, cy0], [cx1, cy1])))
        return cut

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        items = []
        for cell, sub in pdf.groupby("cell_id", sort=True):
            is_poly = sub["kind"] == "poly"
            box, polys = _cell_prep(int(cell), sub[is_poly], g)
            items.append((int(cell), polys, None, cut_lines(sub[~is_poly], box)))
        # quarantine non-convergent features instead of failing the job —
        # the reference's line-scenario failure table (_no_cut_line_failed,
        # function_resolve_overlap_gap_init.sql:221-232) maps to
        # ResolveResult.quarantined via the QUARANTINE_OWNER rows below
        q_of: dict = {}
        faces_of = overlay_cells(items, noding_max_iter=cfg.noding_max_iter,
                                 quarantine_of=q_of)
        rows = []
        for cell, polys, _, _ in items:
            for fid, gq in _quarantine_geoms(polys, q_of.get(cell, []), g):
                rows.append((cell, QUARANTINE_OWNER, [fid], [], 0.0, gq))
            for f in faces_of[cell]:
                cover = sorted(p for p in f.cover if p != UNIVERSE)
                if not cover:
                    continue
                rows.append((cell, cover[0], cover[1:], f.lines,
                             f.area2 / 2.0 * g * g,
                             wkb.dump_grid_multipolygon([f.rings], g)))
        return pd.DataFrame(rows, columns=[f.name for f in RESOLVE_LINES_SCHEMA])

    return cells.groupBy("bucket").applyInPandas(kernel, RESOLVE_LINES_SCHEMA)


VALIDATE_SCHEMA = T.StructType([
    T.StructField("n_features", T.LongType()),
    T.StructField("n_overlap_pairs", T.LongType()),
    T.StructField("overlap_area", T.DoubleType()),
    T.StructField("n_interior_gaps", T.LongType()),
    T.StructField("interior_gap_area", T.DoubleType()),
    T.StructField("is_valid_coverage", T.BooleanType()),
])


