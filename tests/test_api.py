"""Public API facade: the reference's resolve_overlap_gap_run surface on
DataFrames — result-table contract (attributes + other_ids + is_valid),
heal, quarantine table, metrics, and the ar5 line path."""

from __future__ import annotations

import numpy as np
import pytest

from resolve_overlap_and_gap_spark.api import (
    CleanInfo,
    find_overlap_and_gap,
    resolve_overlap_gap_run,
)
from resolve_overlap_and_gap_spark.geom import wkb

G = 1e-5


def _sq(x0, y0, w):
    r = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + w], [x0, y0 + w]],
                 dtype=float)
    return wkb.dump_polygon([r])


@pytest.fixture(scope="module")
def layer(spark):
    rows = [(1, _sq(0.0, 0.0, 1.0), "farm"),
            (2, _sq(0.6, 0.0, 1.0), "forest"),
            (3, _sq(5.0, 5.0, 1.0), "lake")]
    return spark.createDataFrame(rows, "gid long, geo binary, kind string")


@pytest.mark.spark
def test_run_result_contract(spark, layer):
    out = resolve_overlap_gap_run(
        spark, layer, pk_col="gid", geo_col="geo",
        snap_tolerance=G, clean=CleanInfo(min_area_to_keep=1e-4),
        res=6, compute_metrics=True,
    )
    rows = {r.owner: r for r in out.layer.collect()}
    assert set(rows) == {1, 2, 3}
    # result-table contract: input attributes cloned + extras
    assert rows[1].kind == "farm" and rows[3].kind == "lake"
    assert rows[1]._input_geo_is_valid and rows[2]._input_geo_is_valid
    assert list(rows[1].other_ids) == [2]     # _other_intersect_id_list
    assert list(rows[3].other_ids) == []
    # overlap resolved min-id: owner 1 keeps 1.0 deg^2, owner 2 loses 0.4
    assert rows[1].area == pytest.approx(1.0, rel=1e-6)
    assert rows[2].area == pytest.approx(0.6, rel=1e-6)
    assert out.quarantined.count() == 0
    m = {r.phase: r for r in out.metrics.collect()}
    assert m["after"].n_overlaps == 0
    assert out.healed is not None and out.healed.count() == 3


@pytest.mark.spark
def test_find_overlap_and_gap(spark, layer):
    det = find_overlap_and_gap(layer, pk_col="gid", geo_col="geo",
                               snap_tolerance=G, res=6)
    ov = [r for r in det.collect() if r.kind == "overlap"]
    assert [(r.id_a, r.id_b) for r in ov] == [(1, 2)]
    assert sum(r.area for r in ov) == pytest.approx(0.4, rel=1e-6)


@pytest.mark.spark
def test_run_with_lines(spark, layer):
    lines = spark.createDataFrame(
        [(9, wkb.dump_linestring(np.array([[0.3, -0.1], [0.3, 1.1]])))],
        "lid long, geom binary",
    )
    out = resolve_overlap_gap_run(
        spark, layer, pk_col="gid", geo_col="geo", line_df=lines,
        snap_tolerance=G, res=6, heal=False,
    )
    pieces = out.pieces.collect()
    # the cut line splits owner 1's square: its region yields >= 2 faces,
    # and faces adjacent to the line carry its id
    assert sum(1 for r in pieces if r.owner == 1) >= 2
    assert any(9 in (r.border_line_ids or []) for r in pieces)


@pytest.mark.spark
def test_run_max_rows_in_each_cell_takes_effect(spark):
    """max_rows_in_each_cell drives the resolve grid: a base cell holding
    more features than the limit refines, so pieces span several
    resolutions, while the healed owners match a run that never refines
    (areas within the snap wobble of different cell cuts)."""
    from resolve_overlap_and_gap_spark import grid

    # 16 overlapping squares inside ONE res-6 cell, plus a far feature
    rows = [(10 * i + j, _sq(0.1 + 0.25 * i, 0.1 + 0.25 * j, 0.3))
            for i in range(4) for j in range(4)]
    rows.append((999, _sq(20.0, 20.0, 1.0)))
    df = spark.createDataFrame(rows, "fid long, geom binary")
    kw = dict(snap_tolerance=G, clean=CleanInfo(min_area_to_keep=1e-4), res=6)
    fine = resolve_overlap_gap_run(spark, df, max_rows_in_each_cell=3, **kw)
    whole = resolve_overlap_gap_run(spark, df, max_rows_in_each_cell=5000, **kw)

    def cell_res(out):
        cells = [r.cell_id for r in out.pieces.select("cell_id").distinct().collect()]
        return set(grid.cell_res_np(np.array(cells, dtype=np.int64)).tolist())

    assert len(cell_res(fine)) >= 2
    assert cell_res(whole) == {6}
    a_fine = {r.owner: r.area for r in fine.healed.collect()}
    a_whole = {r.owner: r.area for r in whole.healed.collect()}
    assert set(a_fine) == set(a_whole) == {r[0] for r in rows}
    tol = 5e-4  # the tests/test_resolve_balanced.py bound
    mism = {o: (a_fine[o], a_whole[o]) for o in a_fine
            if abs(a_fine[o] - a_whole[o]) > tol}
    assert not mism, mism
