"""Boundary-exchange pass — the cross-cell reconciliation that makes the
parallel per-cell resolve match a single-cell run (the reference's border
job phases: heal + border small-face removal, job types 4/5/6,
function_resolve_overlap_gap_single_cell.sql:597-787).

Per-cell resolve defers any face touching its cell border (they stay
unmerged there). This pass:

  1. takes gap faces that touch cell borders (from the resolve overlay:
     GAP_OWNER rows below min_area, KILL_OWNER interval rows at or above
     it),
  2. reassembles them ACROSS cells with an ITERATED PARENT-CELL DISSOLVE —
     group pieces by their parent cell, union per group (union_parts heals
     the grid-border edges), finalize faces that no longer touch the parent
     border, escalate the rest one level coarser, repeat.  Fully
     distributed: each level is one shuffle on the parent key + an
     Arrow-batched union kernel; no driver-side geometry, ever.  Levels are
     bounded by the grid resolution (<= res iterations) and escalation mass
     shrinks geometrically (only faces sitting exactly on the coarser grid
     lines survive a level),
  3. for each reassembled gap below min_area, finds the adjacent resolved
     piece with the LONGEST shared border (an overlay adjacency — exactly
     the ST_RemEdgeNewFace rule) and merges the gap into it,
  4. emits updated pieces (geometry re-dissolved per owner).

Correctness of early finalize: gap pieces connect only through shared
boundary on cell borders, so a merged face strictly interior to its parent
cell cannot gain further mass — everything still pending lies in other
parent cells and could only attach through the parent border.

Faces at or above min_area can never become slivers (union only grows), but
they cannot simply be dropped while they still touch the parent border: a
cross-border sibling that later unions WITHOUT that mass could fall below
min_area and be wrongly finalized as a sliver even though the true gap is
>= min_area.  Such faces convert to KILL INTERVALS — the positive-length
segments where their boundary lies on the parent border lines (pure
interval data, so the open-world exterior never ships geometry).  Kill
intervals escalate alongside live pieces; a live union face whose boundary
overlaps a kill interval with positive length is itself killed (its true
gap is connected to >= min_area mass).  This reproduces the global
union-then-filter semantics exactly: killed mass never enters the live
union, so its contact edges stay on the live faces' boundary and the kill
test fires transitively.  Kill intervals interior to the current parent are
dropped after the level's test (everything that could touch them has been
tested; union never adds new boundary), so kill mass shrinks geometrically
just like live mass.

Adjacency comes from one cell-tagged overlay_cells pass per hash bucket of
gaps (assign_slivers) over candidate neighbors found by a covering-cell
equi-join — one shuffle, no driver-side geometry.
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
from resolve_overlap_and_gap_spark.geom.core import axis_edges
from resolve_overlap_and_gap_spark.operators.dissolve import union_parts
from resolve_overlap_and_gap_spark.operators.overlap_gap import (
    default_cell_buckets,
    with_cells,
)

ASSIGN_SCHEMA = T.StructType([
    T.StructField("owner", T.LongType()),
    T.StructField("gap_area", T.DoubleType()),
    T.StructField("geom", T.BinaryType()),
])

MERGE_SCHEMA = T.StructType([
    T.StructField("cell_id", T.LongType()),      # the PARENT cell
    # 'sliver' (final), 'live' (escalating geometry), 'kill' (escalating
    # border intervals of >= min_area gap mass)
    T.StructField("kind", T.StringType()),
    T.StructField("gap_area", T.DoubleType()),
    T.StructField("geom", T.BinaryType()),       # WKB, or packed intervals
])

# border-gap inputs at or under this many rows reassemble at the root in a
# single round (the multi-level pre-merge only pays off when the per-round
# shuffles carry real mass); larger inputs keep the level-jump cascade
ROOT_JUMP_MAX_ROWS = 200_000

# quadtree levels one reassembly round coarsens (ceil(res/LEVEL_JUMP)
# shuffles in total instead of res): grouping by a deeper ancestor is still
# exact — a face interior to ANY ancestor cell can never gain more mass —
# it just unions slightly larger neighborhoods per group, which the bbox
# component decomposition absorbs
LEVEL_JUMP = 3


# ---------------------------------------------------------- kill intervals
def pack_intervals(iv) -> bytes:
    """(n,4) int64 (axis, coord, lo, hi) rows -> bytes. axis 0 = vertical
    line x=coord (interval in y); axis 1 = horizontal line y=coord
    (interval in x). Coordinates are snap-grid units."""
    return np.ascontiguousarray(np.asarray(iv, np.int64)).tobytes()


def unpack_intervals(b: bytes) -> np.ndarray:
    return np.frombuffer(bytes(b), dtype=np.int64).reshape(-1, 4)


def ring_border_intervals(rings, cx0: int, cy0: int, cx1: int, cy1: int):
    """Positive-length contacts of closed integer rings with the 4 border
    lines of the box -> list of [axis, coord, lo, hi]."""
    e = axis_edges(rings)
    return e[grid.on_box_lines(e, (cx0, cy0, cx1, cy1))].tolist()


def merge_intervals(iv: np.ndarray) -> np.ndarray:
    """Coalesce overlapping/touching intervals per (axis, coord) line —
    keeps escalated kill rows from accumulating duplicates level over
    level. Safe for the strict-overlap kill test: merging [a,b],[b,c]
    cannot create a positive overlap that neither part had."""
    iv = np.asarray(iv, np.int64).reshape(-1, 4)
    if len(iv) == 0:
        return iv
    order = np.lexsort((iv[:, 2], iv[:, 1], iv[:, 0]))
    iv = iv[order]
    out = []
    cur = None
    for ax, co, lo, hi in iv:
        if cur is not None and cur[0] == ax and cur[1] == co and lo <= cur[3]:
            cur[3] = max(cur[3], hi)
        else:
            if cur is not None:
                out.append(cur)
            cur = [int(ax), int(co), int(lo), int(hi)]
    out.append(cur)
    return np.asarray(out, np.int64)


def _face_touches_kill(f: Face, kiv: np.ndarray) -> bool:
    """True iff any boundary edge of f overlaps a kill interval with
    POSITIVE length (point contact does not connect: the arrangement and
    GEOS both keep point-touching parts separate)."""
    if not len(kiv):
        return False
    e = axis_edges(f.rings)
    e = e[np.isin(e[:, 1], kiv[:, 1])][:, None, :]
    k = kiv[None, :, :]
    return bool(((e[..., 0] == k[..., 0]) & (e[..., 1] == k[..., 1])
                 & (np.maximum(e[..., 2], k[..., 2])
                    < np.minimum(e[..., 3], k[..., 3]))).any())


def _merge_to_parent_kernel(pdf: pd.DataFrame, cfg: EngineConfig,
                            is_root: bool) -> pd.DataFrame:
    """One level of the iterated dissolve: pdf holds live gap pieces and
    kill-interval rows keyed by PARENT cell (possibly many parents per
    hashed bucket). Union live pieces per parent (one union_parts call for
    the whole bucket), then per out-face:

      - killed (touches a kill interval, or area >= min_area): its true gap
        is >= min_area — never a sliver; if it still touches the parent
        border, its border contact escalates as kill intervals so later
        siblings die too; otherwise it drops (stays a gap).
      - live, interior to parent (or at root): FINAL sliver.
      - live, border-touching: escalates as geometry.

    Input kill intervals still lying on the parent border escalate;
    interior ones have done their job this level and drop.  Areas are
    judged by resolve's rule (face_measure_areas); gap_area is planar
    units^2, or m^2 in geodesic mode."""
    from resolve_overlap_and_gap_spark.operators.resolve import (
        face_measure_areas,
        measures_geodesic,
    )

    g = cfg.snap_tolerance
    geodesic = measures_geodesic(cfg)
    rows = []
    cells: list[tuple[int, np.ndarray]] = []      # (parent cell, kill intervals)
    parts: list[list[np.ndarray]] = []
    part_cell: list[int] = []
    for ci, (cell, sub) in enumerate(pdf.groupby("cell_id", sort=True)):
        kiv_parts: list[np.ndarray] = []
        for kind, b in zip(sub["kind"], sub["geom"]):
            if kind == "kill":
                kiv_parts.append(unpack_intervals(b))
            else:
                for rings in wkb.load_grid_polygons(b, g):
                    parts.append(rings)
                    part_cell.append(ci)
        cells.append((cell, np.vstack(kiv_parts) if kiv_parts
                      else np.empty((0, 4), dtype=np.int64)))
    faces_of = union_parts(parts, np.asarray(part_cell, np.int64))
    for ci, (cell, kiv) in enumerate(cells):
        box = grid.cell_box_units(cell, g)
        out_kill: list = []
        faces = [f for f in faces_of.get(ci, []) if f.area2 > 0]
        measure, min_measure = face_measure_areas(faces, g, cfg)
        for f, m in zip(faces, measure):
            touches = grid.touches_box(f.shell, box)
            if m >= min_measure or _face_touches_kill(f, kiv):
                if touches and not is_root:
                    out_kill.extend(ring_border_intervals(f.rings, *box))
                continue
            area = m if geodesic else f.area2 / 2.0 * g * g
            kind = "live" if (touches and not is_root) else "sliver"
            rows.append((int(cell), kind, area,
                         wkb.dump_grid_multipolygon([f.rings], g)))
        if not is_root:
            out_kill.extend(kiv[grid.on_box_lines(kiv, box)].tolist())
            if out_kill:
                rows.append((int(cell), "kill", 0.0,
                             pack_intervals(merge_intervals(
                                 np.asarray(out_kill, np.int64)))))
    return pd.DataFrame(rows, columns=["cell_id", "kind", "gap_area", "geom"])


def reassemble_border_gaps(border_gaps: DataFrame, cfg: EngineConfig,
                           n_buckets: int | None = None) -> DataFrame:
    """Distributed cross-cell sliver reassembly: iterated ancestor-cell
    dissolve of (cell_id[, kind], geom) border gap rows.  kind 'live' rows
    (the default when the column is absent) carry WKB gap pieces below
    min_area; kind 'kill' rows carry packed border intervals of >= min_area
    gap mass (see pack_intervals).  Returns the final sliver layer
    (gap_area, geom) — every reassembled gap face with
    0 < area < cfg.min_area_to_keep not connected to killed mass.

    Each iteration coarsens LEVEL_JUMP quadtree levels.  Mixed-resolution
    inputs (balanced grid) re-key every piece to its ancestor at the
    iteration's target level, so pieces meet at their common ancestor.
    n_buckets: hash buckets of ancestor cells per round; None is
    default_cell_buckets, the rule of every kernel stage."""
    if n_buckets is None:
        n_buckets = default_cell_buckets(border_gaps)
    res_col = grid.res_col(F.col("cell_id"))
    empty = border_gaps.sparkSession.createDataFrame([], T.StructType([
        T.StructField("gap_area", T.DoubleType()),
        T.StructField("geom", T.BinaryType()),
    ]))

    if "kind" not in border_gaps.columns:
        border_gaps = border_gaps.withColumn("kind", F.lit("live"))
    pending = border_gaps.select("cell_id", "kind", "geom").localCheckpoint()
    b = pending.agg(F.max(res_col).alias("hi"), F.min(res_col).alias("lo"),
                    F.count("*").alias("n")).collect()[0]
    if b["hi"] is None:
        return empty
    lmax, lmin = int(b["hi"]), int(b["lo"])
    # bounded gap mass: group everything at the root in ONE round instead
    # of ceil(res/LEVEL_JUMP) rounds — each round is a fixed-latency
    # shuffle + kernel + checkpoint, and at this size the root kernel sees
    # the same rows the last round would anyway.  The SAME count that
    # derived the level bounds gates it, so big inputs (100 TB border
    # mass) keep the multi-round pre-merge untouched.
    level_jump = (max(LEVEL_JUMP, lmax) if int(b["n"]) <= ROOT_JUMP_MAX_ROWS
                  else LEVEL_JUMP)
    sliver_parts: list[DataFrame] = []

    while True:
        target = max(0, min(lmax - level_jump, lmin))
        is_root = target == 0
        # re-key each piece to its ancestor at `target`
        cur = pending.withColumn("cell_id", grid.ancestor_col(F.col("cell_id"), target))

        def _make_kernel(root: bool):
            def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
                return _merge_to_parent_kernel(pdf, cfg, root)
            return kernel

        kernel = _make_kernel(is_root)
        merged = (
            cur.withColumn("bucket", F.pmod(F.hash("cell_id"), F.lit(n_buckets)))
            .groupBy("bucket").applyInPandas(kernel, MERGE_SCHEMA)
        ).localCheckpoint()
        sliver_parts.append(merged.where(F.col("kind") == "sliver")
                            .select("gap_area", "geom"))
        if is_root:
            break
        pending = merged.where(F.col("kind") != "sliver")  # checkpointed via merged
        # kill intervals alone can never produce slivers
        if pending.where(F.col("kind") == "live").isEmpty():
            break
        lmax = lmin = target

    out = sliver_parts[0]
    for p in sliver_parts[1:]:
        out = out.unionByName(p)
    return out


def assign_slivers(pdf: pd.DataFrame, g: float) -> pd.DataFrame:
    """Sliver-assignment kernel over one hash bucket of candidate rows
    (gap_id, gap_area, gap_geom, owner, piece_geom): each gap merges into
    the owner with the LONGEST shared border (the ST_RemEdgeNewFace rule;
    ties go to the smaller owner id) -> (owner, gap_area, geom).  Every gap
    of the bucket is one cell-tagged item of a single overlay_cells pass;
    a gap with no positive-length contact gets no row."""
    items, gaps = [], []
    for gap_id, sub in pdf.groupby("gap_id", sort=True):
        gap_geom = sub["gap_geom"].iloc[0]
        polys = [(-2, rings) for rings in wkb.load_grid_polygons(gap_geom, g)]
        # bbox prefilter (expanded by 1 grid unit): a piece can share
        # border with the sliver only if their boxes touch — cuts the
        # overlay from all cell-mates (~hundreds) to actual neighbors
        gx0 = min(r[:, 0].min() for _, rings in polys for r in rings) - 1
        gy0 = min(r[:, 1].min() for _, rings in polys for r in rings) - 1
        gx1 = max(r[:, 0].max() for _, rings in polys for r in rings) + 1
        gy1 = max(r[:, 1].max() for _, rings in polys for r in rings) + 1
        owners = {}
        for owner, pg in zip(sub["owner"], sub["piece_geom"]):
            for rings in wkb.load_grid_polygons(pg, g):
                s = rings[0]
                if (s[:, 0].min() > gx1 or s[:, 0].max() < gx0
                        or s[:, 1].min() > gy1 or s[:, 1].max() < gy0):
                    continue
                pid = 1000 + len(owners)
                owners[pid] = int(owner)
                polys.append((pid, rings))
        items.append((int(gap_id), polys))
        gaps.append((int(gap_id), owners, float(sub["gap_area"].iloc[0]),
                     bytes(gap_geom)))
    faces_of = overlay_cells(items, with_adjacency=True)
    out = []
    for gap_id, owners, gap_area, gap_geom in gaps:
        faces, adj = faces_of[gap_id]
        # face indices covered by the gap vs by pieces
        gap_faces = {i for i, f in enumerate(faces) if -2 in f.cover}
        shared: dict[int, float] = {}
        for (a, b), L in adj.items():
            if a < 0 or b < 0:
                continue
            fa_gap, fb_gap = a in gap_faces, b in gap_faces
            if fa_gap == fb_gap:
                continue
            for p in faces[b if fa_gap else a].cover:
                if p >= 1000:
                    shared[owners[p]] = shared.get(owners[p], 0.0) + L
        if shared:
            best_owner = min(shared, key=lambda o: (-shared[o], o))
            out.append((best_owner, gap_area, gap_geom))
    return pd.DataFrame(out, columns=["owner", "gap_area", "geom"])


def border_gap_merge(resolved: DataFrame, cfg: EngineConfig,
                     dissolve_geom: bool = True) -> DataFrame:
    """-> (owner, area, n_parts, geom) — the final healed layer.

    resolved: the output of resolve, resolve_balanced or resolve_cells
    called with emit_border_gaps=True.  Rows with owner >= 0 are the
    pieces; GAP_OWNER rows are the sub-min border gap pieces and
    KILL_OWNER rows the packed border intervals of >= min_area border gaps
    (without them, sub-min fragments of a big cross-border gap would be
    wrongly merged into owners); QUARANTINE_OWNER rows take no part.
    dissolve_geom: forwarded to the final owner dissolve as with_geom —
    callers that do not re-emit the healed geometry (resolve_healed emits
    owner/area/n_parts only) pass False to skip the WKB dumps (geom null).
    """
    from resolve_overlap_and_gap_spark.operators.dissolve import dissolve
    from resolve_overlap_and_gap_spark.operators.resolve import GAP_OWNER, KILL_OWNER

    g = cfg.snap_tolerance
    # the resolve output feeds the gap reassembly, the sliver-candidate
    # join AND the final owner dissolve — materialize once or the whole
    # resolve pipeline recomputes per consumer (measured 2x wall on the
    # healed pipeline).  Only the columns the heal reads: area/other_ids
    # would materialize ~30% more bytes for nothing
    resolved = resolved.select("cell_id", "owner", "geom").localCheckpoint()
    pieces = resolved.where(F.col("owner") >= 0)

    def dissolve_owners(parts: DataFrame) -> DataFrame:
        # n_salts='auto': one count agg decides whether any owner is hot
        # enough to need the two-level salted union (a single giant owner
        # must never serialize the heal's final dissolve); every input is
        # materialized, so the count re-reads cached partitions
        return dissolve(parts, "owner", g, n_salts="auto",
                        with_geom=dissolve_geom).withColumnRenamed("key", "owner")

    # 1. border-touching gap faces from the resolve overlay, split by the
    #    min_area threshold: sub-min pieces reassemble as live geometry;
    #    >= min_area gap mass rides along as kill intervals (its border
    #    contact only) so any live fragment connected to it is recognized
    #    as part of a >= min_area gap and stays a gap instead of merging
    #    into an owner.
    border_gaps = resolved.where(F.col("owner").isin(GAP_OWNER, KILL_OWNER)).select(
        "cell_id",
        F.when(F.col("owner") == GAP_OWNER, F.lit("live"))
        .otherwise(F.lit("kill")).alias("kind"),
        "geom",
    )

    # 2. reassemble across cells: distributed iterated parent-cell dissolve.
    #    (already materialized: built from the loop's checkpointed outputs)
    slivers = reassemble_border_gaps(border_gaps, cfg)
    if slivers.isEmpty():
        return dissolve_owners(pieces.select("owner", "geom"))
    # pieces may sit at MIXED resolutions (balanced-grid resolve): key the
    # sliver at every resolution present so the equi-join below matches
    # every piece (the res dim is a handful of values)
    resolutions = sorted(int(r.r) for r in pieces.select(
        grid.res_col(F.col("cell_id")).alias("r")).distinct().collect())
    if not resolutions:
        # no piece a sliver could join: only the dissolve left
        return dissolve_owners(pieces.select("owner", "geom"))

    # 3. slivers join candidate pieces sharing a covering cell with the
    #    sliver bbox (J1); one assign_slivers kernel per hash bucket of gaps
    #    picks each gap's longest-shared-border owner.
    sl_in = slivers.select(
        F.monotonically_increasing_id().alias("fid"), "gap_area", "geom",
    ).localCheckpoint()
    sl_cells = None
    for r in resolutions:
        part = with_cells(sl_in, r).select(
            F.col("fid").alias("gap_id"), F.col("gap_area"),
            F.col("geom").alias("gap_geom"), F.col("cell_id"))
        sl_cells = part if sl_cells is None else sl_cells.unionByName(part)
    cand = sl_cells.join(
        pieces.select("cell_id", "owner", F.col("geom").alias("piece_geom")), "cell_id"
    )
    n_buckets = default_cell_buckets(cand)
    assigned = (
        cand.withColumn("bucket", F.pmod(F.hash("gap_id"), F.lit(n_buckets)))
        .groupBy("bucket").applyInPandas(lambda pdf: assign_slivers(pdf, g),
                                         ASSIGN_SCHEMA)
    )

    # 4. final healed layer: dissolve pieces + absorbed slivers per owner
    #    (the union removes internal cell-border edges AND welds the
    #    absorbed gap slivers into their new owner's geometry).
    #    assigned is tiny (one row per sliver) — materialize it so the
    #    auto-salt count agg doesn't recompute the sliver kernel.
    return dissolve_owners(pieces.select("owner", "geom").unionByName(
        assigned.select("owner", "geom").localCheckpoint()))
