"""The resolve pipeline — Spark-native re-creation of
resolve_overlap_gap_run (src/main/sql/function_resolve_overlap_gap_run.sql),
phase-structured instead of lock-negotiated (SURVEY.md §3.1):

  1. validity marking  — _input_geo_is_valid
     (function_resolve_overlap_gap_post.sql:48-59)
  2. per-cell overlay  — replaces the scratch-topology build + snap-insert
     (function_resolve_overlap_gap_single_cell.sql:257-386)
  3. sliver merge      — faces below min_area_to_keep merge into the
     neighbor with the longest shared border (ST_RemEdgeNewFace loop,
     …utils/function_01_do_remove_small_areas_no_block.sql:52-93); ties
     break by neighbor id (deterministic, unlike the reference)
  4. attribute assignment — owner = input polygon covering the face; an
     overlap face is covered 100% by several inputs (all pass the >0.5
     rule), ranked list with pk first (…single_cell.sql:833-863); the
     reference's tie order is engine-dependent, ours is min-id
  5. output            — one row per (cell, owner): multipolygon, area,
     _other_intersect_id_list

Per-cell pieces tile exactly (cell borders are snap-grid aligned); the
cross-cell heal that merges them across grid borders (job types 4/5) is
border.border_gap_merge.
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
from resolve_overlap_and_gap_spark.geom.arrangement import (
    overlay_cells,
    ring_is_valid,
)
from resolve_overlap_and_gap_spark.geom.core import grid_to_float, snap_to_grid_int
from resolve_overlap_and_gap_spark.operators.border import (
    merge_intervals,
    pack_intervals,
    ring_border_intervals,
)
from resolve_overlap_and_gap_spark.operators.overlap_gap import (
    UNIVERSE,
    _cell_prep,
    default_cell_buckets,
    with_cells,
)


@F.pandas_udf(T.BooleanType())
def wkb_is_valid(geoms: pd.Series) -> pd.Series:
    """Arrow-batched validity check (simple-ring noding test)."""
    out = np.empty(len(geoms), dtype=bool)
    for i, b in enumerate(geoms):
        ok = True
        try:
            for rings in wkb.load_polygons(bytes(b)):
                for r in rings:
                    r = np.asarray(r, dtype=np.float64)
                    # scale-relative grid keeps int64 predicates overflow-free
                    ext = float(max(np.ptp(r[:, 0]), np.ptp(r[:, 1]), 1e-30))
                    if not ring_is_valid(snap_to_grid_int(r, ext / 1e7)):
                        ok = False
        except Exception:
            ok = False
        out[i] = ok
    return pd.Series(out)


def mark_valid(features: DataFrame, geom_col: str = "geom") -> DataFrame:
    return features.withColumn("_input_geo_is_valid", wkb_is_valid(F.col(geom_col)))


RESOLVE_SCHEMA = T.StructType([
    T.StructField("cell_id", T.LongType()),
    T.StructField("owner", T.LongType()),
    T.StructField("other_ids", T.ArrayType(T.LongType())),
    T.StructField("area", T.DoubleType()),
    T.StructField("geom", T.BinaryType()),
])


def _merge_slivers(faces, adj, min_area2: float, border_faces: set[int] = frozenset(),
                   areas: list[float] | None = None):
    """Union-find sliver merge: repeatedly merge the smallest face below
    min_area2 into its longest-shared-border neighbor.  Areas default to the
    planar 2x-grid-units measure (faces[i].area2); pass `areas` to decide in
    a different measure (geodesic m^2 — the reference's ST_Area(geo, true)
    path, …utils/function_01_get_face_area.sql:24-28) with min_area2 in the
    same units.  Gap faces (cover == {UNIVERSE}) below threshold merge too —
    that's the 'slivers/gaps below min area merged into neighbors' contract
    (README.md:36-42).

    All tie-breaks use geometric keys (min shell vertex), never internal
    walk ids, so the result is independent of input row order — the
    determinism the reference gets from ordered processing (SURVEY §2.6 O1).
    Returns (root group id per face, group areas)."""
    n = len(faces)
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    area = list(areas) if areas is not None else [f.area2 for f in faces]
    gkey = [tuple(min(map(tuple, f.shell.tolist()))) for f in faces]
    nbrs: dict[int, dict[int, float]] = {i: {} for i in range(n)}
    for (a, b), L in adj.items():
        if a < 0 or b < 0:
            continue
        nbrs[a][b] = nbrs[a].get(b, 0.0) + L
        nbrs[b][a] = nbrs[b].get(a, 0.0) + L

    def norm(i: int) -> dict[int, float]:
        """Re-key i's adjacency onto current roots, dropping self."""
        out: dict[int, float] = {}
        for j, L in nbrs[i].items():
            r = find(j)
            if r != i:
                out[r] = out.get(r, 0.0) + L
        nbrs[i] = out
        return out

    blocked: set[int] = set()
    while True:
        # faces touching the cell border never merge here: the reference
        # handles border-adjacent small faces in its border job phases
        # (job types 5/6, …single_cell.sql:737-787) after heal; merging them
        # per-cell would make border strips partition-dependent
        cands = [
            (area[i], gkey[i], i) for i in range(n)
            if find(i) == i and i not in blocked and i not in border_faces
            and area[i] < min_area2 and nbrs[i]
        ]
        if not cands:
            break
        _, _, s = min(cands)
        nb = norm(s)
        if not nb:
            blocked.add(s)
            continue
        t = min(nb, key=lambda j: (-nb[j], gkey[j]))
        parent[s] = t
        area[t] += area[s]
        blocked.discard(t)
        for j, L in nb.items():
            if j != t:
                nbrs[t][j] = nbrs[t].get(j, 0.0) + L
                nbrs[j][t] = nbrs[j].get(t, 0.0) + L
        nbrs[s] = {}
    return [find(i) for i in range(n)], area


GAP_OWNER = -1         # owner sentinel for emitted border-gap rows (emit_border_gaps)
QUARANTINE_OWNER = -2  # owner sentinel for noding-quarantined features: the
                       # rows land in the output (area=0, geom=the clipped
                       # input) instead of silently vanishing — reference
                       # _no_cut_line_failed semantics
KILL_OWNER = -3        # owner sentinel for >= min_area border-gap KILL
                       # INTERVALS (emit_border_gaps): geom holds packed
                       # (axis, coord, lo, hi) border contacts, not WKB —
                       # see border.pack_intervals. They tell the
                       # boundary-exchange pass which border segments are
                       # connected to big-gap mass, so sub-min fragments of
                       # a >= min_area cross-border gap stay gaps.


def measures_geodesic(cfg: EngineConfig) -> bool:
    """True when face areas are decided in spherical m^2 (the reference's
    ST_Area(geo, true)), False for planar snap-grid units."""
    return cfg.geodesic_measure and not cfg.utm


def face_measure_areas(faces, g: float, cfg: EngineConfig) -> tuple[list[float], float]:
    """(decision areas per face, min threshold) in the engine's configured
    measure: planar 2x-grid-units by default; spherical m^2 when
    measures_geodesic(cfg) — the reference threads utm through every area
    call (…utils/function_01_get_face_area.sql:24-28,
    types_resolve_overlap.sql:19), so min_area_to_keep is m^2 there.
    The one sub-min rule: a face is a sliver iff its area < the threshold
    (resolve's sliver merge and the heal's reassembled gaps alike)."""
    if measures_geodesic(cfg):
        from resolve_overlap_and_gap_spark.geom.geodesic import polygon_area_m2

        areas = [
            polygon_area_m2([grid_to_float(r, g) for r in f.rings],
                            spheroid=cfg.geodesic_spheroid)
            for f in faces
        ]
        return areas, cfg.min_area_to_keep
    return [float(f.area2) for f in faces], 2.0 * cfg.min_area_to_keep / (g * g)


def _cell_rows(cell: int, box: tuple, polys: list, faces, adj,
               quarantined: list[int], pdf: pd.DataFrame, cfg: EngineConfig,
               emit_border_gaps: bool, with_geom: bool) -> pd.DataFrame:
    """Post-overlay half of the resolve kernel for one cell: sliver merge,
    owner assignment, row emission."""
    g = cfg.snap_tolerance
    # payload pass-through (reference column_data_as_json,
    # function_resolve_overlap_gap_init.sql:249): the OWNER's record rides
    # through the kernel, no post-resolve attribute re-join needed
    payload_of: dict[int, object] | None = None
    if "payload" in pdf.columns:
        payload_of = {}
        for fid, p in zip(pdf["fid"], pdf["payload"]):
            payload_of.setdefault(int(fid), p)

    def _row(cell_, owner_, others_, area_, geom_):
        base = (cell_, owner_, others_, area_, geom_)
        if payload_of is None:
            return base
        return base + (payload_of.get(owner_),)

    cols = ["cell_id", "owner", "other_ids", "area", "geom"] + (
        ["payload"] if payload_of is not None else [])

    def _frame(rows_):
        out = pd.DataFrame(rows_, columns=cols)
        if payload_of is not None:
            # an object column, so Arrow converts the Python values exactly:
            # inferred, an int payload beside GAP/KILL rows' None is float64
            out["payload"] = pd.Series([r[-1] for r in rows_], dtype=object)
        return out

    qrows = []
    for fid, gq in _quarantine_geoms(polys, quarantined, g):
        q = (cell, QUARANTINE_OWNER, [fid], 0.0, gq)
        if payload_of is not None:  # the quarantined feature's record
            q += (payload_of.get(fid),)
        qrows.append(q)
    if not faces:
        return _frame(qrows)
    border_faces = {k for k, f in enumerate(faces) if grid.touches_box(f.shell, box)}
    measure, min_measure = face_measure_areas(faces, g, cfg)
    group_of, _ = _merge_slivers(faces, adj, min_measure, border_faces, areas=measure)
    # owner of a group = owner of its root face (attribute inheritance)
    groups: dict[int, list[int]] = {}
    for i, r in enumerate(group_of):
        groups.setdefault(r, []).append(i)
    rows = []
    for r, members in sorted(groups.items()):
        root_cover = sorted(p for p in faces[r].cover if p != UNIVERSE)
        if not root_cover:
            if emit_border_gaps and r in border_faces:
                m = sum(measure[i] for i in members)
                if 0 < m < min_measure:
                    area2 = sum(faces[i].area2 for i in members)
                    mp = [faces[i].rings for i in members]
                    # gap rows feed the heal geometrically — always dumped
                    rows.append(_row(cell, GAP_OWNER, [], area2 / 2.0 * g * g,
                                     wkb.dump_grid_multipolygon(mp, g)))
                elif m >= min_measure:
                    # >= min_area border gap: emit its border contact as
                    # kill intervals so the heal pass knows any sub-min
                    # fragment connected through these segments belongs to
                    # a big gap (border.py kill propagation)
                    iv: list = []
                    for i in members:
                        iv.extend(ring_border_intervals(faces[i].rings, *box))
                    if iv:
                        rows.append(_row(
                            cell, KILL_OWNER, [], 0.0,
                            pack_intervals(merge_intervals(
                                np.asarray(iv, np.int64)))))
            continue  # unclaimed gap above min_area stays a gap
        owner = root_cover[0]
        others = root_cover[1:]
        area2 = sum(faces[i].area2 for i in members)
        gg = (wkb.dump_grid_multipolygon([faces[i].rings for i in members], g)
              if with_geom else None)
        rows.append(_row(cell, owner, others, area2 / 2.0 * g * g, gg))
    return _frame(rows + qrows)


def _quarantine_geoms(polys: list, quarantined, g: float) -> list[tuple[int, bytes]]:
    """(fid, clipped input as WKB) per noding-quarantined feature of a
    cell, fid-sorted — the geometry of every QUARANTINE_OWNER row."""
    by_fid: dict[int, list] = {}
    for pid, rings in polys:
        if pid in quarantined:
            by_fid.setdefault(pid, []).append(rings)
    return [(fid, wkb.dump_grid_multipolygon(by_fid[fid], g))
            for fid in sorted(by_fid)]


def _bucket_kernel(pdf: pd.DataFrame, cfg: EngineConfig,
                   emit_border_gaps: bool = False,
                   with_geom: bool = True) -> pd.DataFrame:
    """The resolve kernel: ONE noding/DCEL/labeling pass over every cell
    of the bucket (overlay_cells, exactly equal to per-cell overlays — the
    fixed numpy cost per phase amortizes over the batch), then per-cell
    sliver merge and owner rows.

    emit_border_gaps additionally emits rows (owner=GAP_OWNER) for
    border-touching sub-min-area gap groups — the exact inputs of the
    boundary-exchange pass (border_gap_merge), produced from the SAME
    overlay instead of a second full detection pass."""
    g = cfg.snap_tolerance
    subs = [(int(cell), sub, *_cell_prep(int(cell), sub, g))
            for cell, sub in pdf.groupby("cell_id", sort=True)]
    q_of: dict = {}
    faces_of = overlay_cells([(cell, polys, box) for cell, _, box, polys in subs],
                             with_adjacency=True,
                             noding_max_iter=cfg.noding_max_iter,
                             quarantine_of=q_of,
                             simplify_tol_units=cfg.simplify_tolerance / g,
                             chaikin_iters=cfg.chaikins_iterations)
    parts = [
        _cell_rows(cell, box, polys, *faces_of[cell],
                   sorted(q_of.get(cell, [])), sub, cfg,
                   emit_border_gaps, with_geom)
        for cell, sub, box, polys in subs
    ]
    # empty frames out of concat: all-NA columns poison dtypes under
    # pandas >= 2.1 (FutureWarning, dtype change in 3.x)
    parts = [p for p in parts if len(p)]
    if not parts:
        cols = ["cell_id", "owner", "other_ids", "area", "geom"]
        if "payload" in pdf.columns:
            cols.append("payload")
        return pd.DataFrame(columns=cols)
    return pd.concat(parts, ignore_index=True)


def resolve_cells(cells: DataFrame, cfg: EngineConfig,
                  emit_border_gaps: bool = False, with_geom: bool = True,
                  n_buckets: int | None = None) -> DataFrame:
    """The resolve kernel stage over an ASSIGNED cell frame (cell_id, fid,
    geom[, payload]) — fixed-res (with_cells), content-balanced
    (assign_balanced_cells) or a resumed subset of either: the kernel is
    resolution-agnostic (cell bounds derive from the Morton id).
    -> (cell_id, owner, other_ids, area, geom[, payload]) — clean coverage
    pieces; with emit_border_gaps, extra GAP_OWNER/KILL_OWNER rows carry
    the border gaps for the boundary-exchange pass.

    Cells are processed in hashed buckets (one Arrow round-trip covers many
    cells; per-cell groups would pay applyInPandas overhead per cell)."""
    if n_buckets is None:
        n_buckets = default_cell_buckets(cells)
    cols = ["cell_id", "fid", "geom"]
    schema = RESOLVE_SCHEMA
    if "payload" in cells.columns:
        cols.append("payload")
        schema = T.StructType(
            RESOLVE_SCHEMA.fields
            + [T.StructField("payload", cells.schema["payload"].dataType)]
        )
    bucketed = cells.select(*cols).withColumn(
        "bucket", F.pmod(F.hash("cell_id"), F.lit(n_buckets)))

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        return _bucket_kernel(pdf, cfg, emit_border_gaps, with_geom)

    return bucketed.groupBy("bucket").applyInPandas(kernel, schema)


def resolve(features: DataFrame, cfg: EngineConfig, res: int = 8,
            geom_col: str = "geom", id_col: str = "fid",
            n_buckets: int | None = None, emit_border_gaps: bool = False,
            payload_col: str | None = None,
            with_geom: bool = True) -> DataFrame:
    """resolve_cells over the fixed-resolution grid at `res`.

    payload_col: carry the named column THROUGH the kernel and attach the
    owner's value to every output piece (quarantine rows carry the
    quarantined feature's) — the reference's column_data_as_json pattern
    (function_resolve_overlap_gap_init.sql:249).  Trade-off vs a
    post-resolve re-join (api.resolve_overlap_gap_run's per-owner layer):
    the payload bytes ship through the covering-cell shuffle once per
    covering cell, but the input is scanned exactly once — prefer it when
    the payload is small relative to the geometry or the input scan is the
    expensive part."""
    sel = [F.col(id_col).cast("long").alias("fid"), F.col(geom_col).alias("geom")]
    if payload_col is not None:
        sel.append(F.col(payload_col).alias("payload"))
    cells = with_cells(features.select(*sel), res)
    return resolve_cells(cells, cfg, emit_border_gaps, with_geom, n_buckets)


def resolve_balanced(features: DataFrame, cfg: EngineConfig,
                     geom_col: str = "geom", id_col: str = "fid",
                     n_buckets: int | None = None,
                     emit_border_gaps: bool = False,
                     assigned: DataFrame | None = None,
                     with_geom: bool = True) -> DataFrame:
    """Resolve over the CONTENT-BALANCED grid — the reference's main
    pipeline runs on exactly this grid (resolve_overlap_gap_init builds it
    before any cell job, function_resolve_overlap_gap_init.sql:76-90). Hot
    cells refine to children until <= max_rows_in_each_cell, so kernel work
    per task is bounded regardless of data skew — the property that keeps
    the 100TB run's stragglers bounded."""
    from resolve_overlap_and_gap_spark.operators.overlap_gap import (
        assign_balanced_cells,
    )

    if assigned is None:
        # like the reference, a combined detect+resolve pipeline should
        # build the grid once (resolve_overlap_gap_init) and pass it in
        assigned = assign_balanced_cells(features, cfg, geom_col, id_col)
    return resolve_cells(assigned, cfg, emit_border_gaps, with_geom, n_buckets)

