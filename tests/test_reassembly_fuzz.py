"""Property test for the boundary-exchange reassembly: for random snapped
rectangle soups, the DISTRIBUTED iterated ancestor-cell dissolve with
kill-interval propagation must reproduce the reference's global semantics —
union everything, keep exactly the connected parts with 0 < area < min_area
(parts >= min_area stay gaps, and their sub-min per-cell fragments must
never leak through as slivers).

The per-cell inputs are built exactly like the engine builds them: clip to
cell, union per cell into faces, border-touching faces below min_area enter
as live WKB pieces, at/above min_area as packed kill intervals; faces
strictly interior to a cell are excluded (the per-cell sliver merge owns
those, so the expected set excludes single-cell-interior parts too)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import types as T

from resolve_overlap_and_gap_spark import grid
from resolve_overlap_and_gap_spark.config import EngineConfig
from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.geom.arrangement import union_cells
from resolve_overlap_and_gap_spark.operators.border import (
    pack_intervals,
    reassemble_border_gaps,
    ring_border_intervals,
)
from resolve_overlap_and_gap_spark.operators.overlap_gap import _clip_to_cell

G = 1e-3  # snap grid (coarse: keeps integers small and cells crossable)
RES = 8   # cells 1.40625 x 0.703125 deg


def _cell_box_units(cell: int) -> tuple[int, int, int, int]:
    xmin, ymin, xmax, ymax = grid.cell_bounds_np(np.array([cell], np.int64))
    return (int(np.floor(xmin[0] / G + 0.5)), int(np.floor(ymin[0] / G + 0.5)),
            int(np.floor(xmax[0] / G + 0.5)), int(np.floor(ymax[0] / G + 0.5)))


def _rand_rects(rng: np.random.Generator, n: int) -> list[np.ndarray]:
    rects = []
    for _ in range(n):
        x0 = rng.uniform(0.2, 3.6)
        y0 = rng.uniform(0.2, 3.6)
        w = rng.uniform(0.05, 1.2)
        h = rng.uniform(0.05, 1.2)
        r = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h]])
        rects.append(np.floor(r / G + 0.5).astype(np.int64))
    return rects


def _global_parts(rects) -> list[tuple[float, tuple[int, int, int, int]]]:
    """(area_units2, bbox) per connected part of the union."""
    faces = union_cells([(0, [(i, [r]) for i, r in enumerate(rects)])])[0]
    out = []
    for f in faces:
        if f.area2 <= 0:
            continue
        coords = np.vstack([f.shell] + f.holes) if f.holes else f.shell
        out.append((f.area2 / 2.0,
                    (int(coords[:, 0].min()), int(coords[:, 1].min()),
                     int(coords[:, 0].max()), int(coords[:, 1].max()))))
    return out


def _strictly_inside_one_cell(bb) -> bool:
    cx = (bb[0] + bb[2]) / 2.0 * G
    cy = (bb[1] + bb[3]) / 2.0 * G
    cell = int(grid.cell_id_np(np.array([cx]), np.array([cy]), RES)[0])
    cx0, cy0, cx1, cy1 = _cell_box_units(cell)
    return bb[0] > cx0 and bb[1] > cy0 and bb[2] < cx1 and bb[3] < cy1


def _per_cell_rows(rects, min_area_units2: float):
    """Engine-faithful reassembly input rows (cell_id, kind, geom)."""
    rows = []
    # covering cells of all rects
    cells = set()
    for r in rects:
        x0, y0 = r[:, 0].min() * G, r[:, 1].min() * G
        x1, y1 = r[:, 0].max() * G, r[:, 1].max() * G
        for c in grid.covering_cells_np(
                np.array([x0]), np.array([y0]), np.array([x1]), np.array([y1]), RES)[0]:
            cells.add(int(c))
    for cell in sorted(cells):
        cx0, cy0, cx1, cy1 = _cell_box_units(cell)
        polys = []
        for i, r in enumerate(rects):
            clipped = _clip_to_cell([r], cx0, cy0, cx1, cy1)
            if clipped:
                polys.append((i, clipped))
        if not polys:
            continue
        for f in union_cells([(0, polys)])[0]:
            if f.area2 <= 0:
                continue
            coords = np.vstack([f.shell] + f.holes) if f.holes else f.shell
            touches = bool(
                (coords[:, 0] == cx0).any() or (coords[:, 0] == cx1).any()
                or (coords[:, 1] == cy0).any() or (coords[:, 1] == cy1).any())
            if not touches:
                continue  # per-cell sliver merge owns interior faces
            if f.area2 / 2.0 < min_area_units2:
                mp = [[f.shell.astype(np.float64) * G]
                      + [h.astype(np.float64) * G for h in f.holes]]
                rows.append((cell, "live", wkb.dump_multipolygon(mp)))
            else:
                iv = ring_border_intervals([f.shell] + f.holes,
                                           cx0, cy0, cx1, cy1)
                if iv:
                    rows.append((cell, "kill", pack_intervals(iv)))
    return rows


SCHEMA = T.StructType([
    T.StructField("cell_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("geom", T.BinaryType()),
])


@pytest.mark.spark
@pytest.mark.parametrize("seed", [1, 2, 5, 11, 23])
def test_reassembly_matches_global_union(spark, seed):
    rng = np.random.default_rng(seed)
    rects = _rand_rects(rng, int(rng.integers(12, 36)))
    parts = _global_parts(rects)
    # threshold at the median part size: both slivers and big gaps exist
    min_units2 = float(np.median([a for a, _ in parts])) + 0.5
    min_area = min_units2 * G * G

    expected = sorted(
        round(a * G * G, 9) for a, bb in parts
        if 0 < a < min_units2 and not _strictly_inside_one_cell(bb)
    )

    rows = _per_cell_rows(rects, min_units2)
    df = spark.createDataFrame(rows, SCHEMA)
    cfg = EngineConfig(snap_tolerance=G, min_area_to_keep=min_area)
    got = sorted(round(r.gap_area, 9)
                 for r in reassemble_border_gaps(df, cfg).collect())
    assert got == expected, (seed, got, expected)
