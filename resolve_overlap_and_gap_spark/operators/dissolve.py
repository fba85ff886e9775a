"""Dissolve (geometric union by key) — A2 in SURVEY.md §2.4:
`ST_Union(geo) GROUP BY key` (find_overlap_and_gap-pre.sql:597-615, line
merge pipelines …single_cell.sql:360-369).

Spark-native: groupBy(hashed key bucket) -> one Arrow-batched kernel per
bucket: batch WKB parse, bbox components per key (core.bbox_pairs swept
with the key as group, labeled by core.components — only parts whose
boxes touch can interact), lone parts emitted as they are, and ONE
cell-tagged union_cells call over every multi-part component of the
bucket — tags keep keys and components independent, so keys may overlap
each other freely.
Because resolve() pieces tile exactly on snap-grid-aligned cell borders,
dissolving an owner's per-cell pieces drops the internal border edges —
this IS the cross-cell heal for owner geometry (reference job type 4,
ST_ModEdgeHeal semantics): two pieces meeting at a grid border merge into
one face with the border edge gone.

Scale note: one shuffle on the dissolve key; a single group holds one key's
geometry (bounded for real layers — a municipality's pieces, not the world;
n_salts spreads a hot key).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.geom.arrangement import Face, union_cells
from resolve_overlap_and_gap_spark.geom.core import (
    bbox_pairs,
    components,
    ring_area2,
    snap_to_grid_int,
)
from resolve_overlap_and_gap_spark.operators.overlap_gap import default_cell_buckets

DISSOLVE_SCHEMA = T.StructType([
    T.StructField("key", T.LongType()),
    T.StructField("area", T.DoubleType()),
    T.StructField("n_parts", T.IntegerType()),
    T.StructField("geom", T.BinaryType()),
])


def _bbox(rings: list[np.ndarray]) -> np.ndarray:
    """(xmin, ymin, xmax, ymax) of one polygon's int rings."""
    c = np.vstack(rings) if len(rings) > 1 else rings[0]
    return np.concatenate([c.min(axis=0), c.max(axis=0)])


def union_parts(parts: list[list[np.ndarray]], group: np.ndarray,
                bb: np.ndarray | None = None) -> dict[int, list[Face]]:
    """Dissolve of snapped int polygons (ring 0 = shell) per group:
    {group: [Face]}.  Each group splits into the components of its
    closed-bbox overlap graph (core.bbox_pairs with the group as sweep key,
    core.components labeling each part with its component's first member);
    a lone part is its own union (no arrangement), and every multi-part
    component of every group goes into ONE union_cells call, one tag per
    component.  Faces come per group in component order (by first member,
    members in input order), so a group's result does not depend on what
    else shares the call.  bb: per-part (xmin, ymin, xmax, ymax), derived
    when None."""
    if bb is None:
        bb = np.array([_bbox(rs) for rs in parts], np.int64).reshape(-1, 4)
    members: dict[int, list[int]] = {}
    label = components(len(parts), *bbox_pairs(bb, group))
    for i, c in enumerate(label.tolist()):
        members.setdefault(c, []).append(i)
    faces_of = union_cells([(c, [(0, parts[i]) for i in m])
                            for c, m in members.items() if len(m) > 1])
    out: dict[int, list[Face]] = {}
    for c, m in members.items():
        faces = out.setdefault(int(group[c]), [])
        if len(m) > 1:
            faces.extend(faces_of[c])
            continue
        rings = parts[c]
        a2 = abs(ring_area2(rings[0].astype(np.float64)))
        for h in rings[1:]:
            a2 -= abs(ring_area2(h.astype(np.float64)))
        faces.append(Face(shell=rings[0], holes=list(rings[1:]),
                          winding={0: 1}, area2=int(a2)))
    return out


AUTO_SALT_TARGET = 2000   # pieces per partial-union task on the hot key
AUTO_SALT_MAX = 64


def _parse_pieces_batch(geoms: np.ndarray, grid_size: float):
    """Batch WKB parse+snap for dissolve inputs: one-ring rows (the
    overwhelming majority of resolve pieces) through wkb.one_ring_batches
    with one vectorized snap per blob length, the rest through the per-row
    loader.  Returns per row a list of (snapped_rings, bbox_int64) — one
    entry per polygon part, in WKB order (the same either way)."""
    out: list = [None] * len(geoms)
    for rows, c in wkb.one_ring_batches(geoms):
        ci = snap_to_grid_int(c, grid_size)
        bb = np.concatenate([ci.min(axis=1), ci.max(axis=1)], axis=1)
        for q, r in enumerate(rows.tolist()):
            out[r] = [([ci[q]], bb[q])]
    for i, entry in enumerate(out):
        if entry is None:
            out[i] = [(rings, _bbox(rings))
                      for rings in wkb.load_grid_polygons(geoms[i], grid_size)]
    return out


def _dissolve_bucket(pdf: pd.DataFrame, by: list[str], grid_size: float,
                     with_geom: bool) -> pd.DataFrame:
    """One bucket: a (key, area, n_parts, geom) row per distinct `by` group
    (key, or key + salt).  Sorted numpy slicing instead of pandas groupby:
    ~1 ms/group groupby overhead dominates when groups are tiny (most
    owners have 1-5 pieces)."""
    cols = [pdf[c].to_numpy() for c in by]
    order = np.lexsort(cols[::-1])
    cols = [c[order] for c in cols]
    new = np.zeros(len(order), dtype=bool)
    new[0] = True
    for c in cols:
        new[1:] |= c[1:] != c[:-1]
    grp = np.cumsum(new) - 1
    parsed = _parse_pieces_batch(pdf["geom"].to_numpy(dtype=object)[order], grid_size)
    parts, part_grp, part_bb = [], [], []
    for r, entry in enumerate(parsed):
        for rings, bb in entry:
            parts.append(rings)
            part_grp.append(grp[r])
            part_bb.append(bb)
    faces = union_parts(parts, np.asarray(part_grp, np.int64),
                        np.asarray(part_bb, np.int64).reshape(-1, 4))
    out = []
    for gi, s in enumerate(np.flatnonzero(new)):
        fs = faces.get(gi, [])
        geom = (wkb.dump_grid_multipolygon([f.rings for f in fs], grid_size)
                if with_geom else None)
        out.append((int(cols[0][s]), sum((f.area2 for f in fs), 0.0) / 2.0
                    * grid_size * grid_size, len(fs), geom))
    return pd.DataFrame(out, columns=["key", "area", "n_parts", "geom"])


def dissolve(df: DataFrame, key_col: str, grid_size: float,
             geom_col: str = "geom", n_salts: int | str = 1,
             n_buckets: int | None = None, with_geom: bool = True) -> DataFrame:
    """-> (key, area, n_parts, geom WKB multipolygon): union of all
    geometries per key on the snap grid (winding >= 1 rule, so overlapping
    inputs union correctly).  Keys are independent whatever their
    geometry: the bucket kernel tags every component (union_parts).
    with_geom=False skips the WKB dumps (geom is null) — for callers that
    keep only key/area/n_parts.

    n_salts > 1 enables the SKEW path: a hot key (one owner with millions
    of pieces) otherwise serializes in a single kernel call.  Two-level
    dissolve — partial union per (key, random salt), then final union of
    the partials per key — is exact because geometric union is associative
    and the winding>=1 rule is idempotent; the salt spreads the heavy
    per-piece work across n_salts tasks and the final level unions only
    n_salts pre-merged multipolygons per key.  Both levels run the same
    bucket kernel, the partial one keyed by (key, salt).

    n_salts='auto' sizes the salt count from the data with ONE cheap count
    aggregation (max pieces on any key): 1 when no key exceeds
    AUTO_SALT_TARGET (plain single-level path), else ceil(max/TARGET)
    capped at AUTO_SALT_MAX — so a single giant owner can never serialize
    the heal's final dissolve.  The count is an extra action over the
    input: materialize an expensive input first (the heal passes
    checkpointed pieces).

    n_buckets: hash buckets of keys, one applyInPandas group each (both
    levels of the salted path); None is the kernel-bucket rule every
    Arrow kernel stage uses (default_cell_buckets, ~8 per core).  A bucket
    only batches keys — they are tag-sliced in the kernel — so the count
    changes the Arrow round trips, never the rows.  AQE never splits a
    bucket; a hot key is spread by n_salts."""
    if n_buckets is None:
        n_buckets = default_cell_buckets(df)
    slim = df.select(
        F.col(key_col).cast("long").alias("key"), F.col(geom_col).alias("geom")
    )
    if n_salts == "auto":
        maxc = (slim.groupBy("key").count()
                .agg(F.max("count").alias("m")).collect()[0]["m"]) or 0
        n_salts = 1 if maxc <= AUTO_SALT_TARGET else min(
            AUTO_SALT_MAX, -(-int(maxc) // AUTO_SALT_TARGET))
    if n_salts > 1:
        # (key, _salt) stay SEPARATE grouping columns: arithmetic packing
        # (key * n_salts + salt, floor-divide back) would round-trip
        # through double in Spark's long division and silently regroup
        # keys above ~2^53/n_salts — polygonize's _pid64 labels use 63 bits
        partial = slim.withColumn(
            "_salt", F.pmod(F.hash("geom"), F.lit(n_salts))
        ).withColumn(
            "bucket", F.pmod(F.hash("key", "_salt"), F.lit(n_buckets))
        ).groupBy("bucket").applyInPandas(
            lambda pdf: _dissolve_bucket(pdf, ["key", "_salt"], grid_size, True),
            DISSOLVE_SCHEMA)
        return dissolve(partial.select("key", "geom"), "key", grid_size,
                        n_buckets=n_buckets, with_geom=with_geom)

    # hashed buckets: many keys per Arrow round-trip
    bucketed = slim.withColumn("bucket", F.pmod(F.hash("key"), F.lit(n_buckets)))
    return bucketed.groupBy("bucket").applyInPandas(
        lambda pdf: _dissolve_bucket(pdf, ["key"], grid_size, with_geom),
        DISSOLVE_SCHEMA)
