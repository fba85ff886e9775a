"""The heal's sliver-assignment kernel (border.assign_slivers): every gap of
a bucket runs in one cell-tagged overlay_cells pass, and each gap goes to
the owner with the longest shared border, ties to the smaller owner id —
the same answer as a reference running one overlay_cells call per gap."""

from __future__ import annotations

import numpy as np
import pandas as pd

from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.geom.arrangement import overlay_cells
from resolve_overlap_and_gap_spark.operators.border import assign_slivers

G = 1.0


def _box(x0, y0, x1, y1) -> bytes:
    return wkb.dump_polygon([np.array(
        [[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=float)])


# gap_id -> (gap box, [(cell_id, owner, piece box)])
GAPS = {
    # owners 7 and 5 each share a 10-unit side, owner 3 only 5 units of
    # the top: the tie goes to the smaller owner id, 5
    0: ((20, 0, 30, 10), [(1, 7, (0, 0, 20, 10)), (1, 3, (25, 10, 40, 20)),
                          (1, 5, (30, 0, 50, 10))]),
    # the only candidate touches one corner: no positive-length contact
    1: ((100, 0, 110, 10), [(1, 4, (110, 10, 120, 20))]),
    # spans cells 1 and 2: owner 8 (cell 1) shares 10 units, owner 6 two
    # pieces in cell 2 sharing 10 each; owner 1 is out of bbox reach
    2: ((200, 0, 220, 10), [(1, 8, (180, 0, 200, 10)), (1, 1, (500, 0, 510, 10)),
                            (2, 6, (220, 0, 225, 10)), (2, 6, (210, 10, 220, 20))]),
}


def _frame() -> pd.DataFrame:
    rows = []
    for gap_id, (gbox, pieces) in GAPS.items():
        for cell, owner, pbox in pieces:
            rows.append((gap_id, float(gap_id) + 0.5, _box(*gbox), cell, owner,
                         _box(*pbox)))
    return pd.DataFrame(rows, columns=["gap_id", "gap_area", "gap_geom",
                                       "cell_id", "owner", "piece_geom"])


def _reference(pdf: pd.DataFrame) -> list[tuple]:
    """One overlay per gap over the gap and all its candidate pieces."""
    out = []
    for _, sub in pdf.groupby("gap_id", sort=True):
        gap_geom = sub["gap_geom"].iloc[0]
        polys = [(-2, rings) for rings in wkb.load_grid_polygons(gap_geom, G)]
        owner_of = {}
        for owner, pg in zip(sub["owner"], sub["piece_geom"]):
            for rings in wkb.load_grid_polygons(pg, G):
                pid = 1000 + len(owner_of)
                owner_of[pid] = int(owner)
                polys.append((pid, rings))
        faces, adj = overlay_cells([(0, polys)], with_adjacency=True)[0]
        shared: dict[int, float] = {}
        for (a, b), length in adj.items():
            if a < 0 or b < 0 or ((-2 in faces[a].cover) == (-2 in faces[b].cover)):
                continue
            piece = b if -2 in faces[a].cover else a
            for p in faces[piece].cover:
                shared[owner_of[p]] = shared.get(owner_of[p], 0.0) + length
        if shared:
            best = min(shared, key=lambda o: (-shared[o], o))
            out.append((best, float(sub["gap_area"].iloc[0]), bytes(gap_geom)))
    return out


def test_assign_slivers_matches_per_gap_overlay():
    pdf = _frame()
    got = assign_slivers(pdf, G)
    rows = list(got.itertuples(index=False, name=None))
    assert rows == _reference(pdf)
    assert [(owner, area) for owner, area, _ in rows] == [(5, 0.5), (6, 2.5)]
