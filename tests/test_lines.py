from __future__ import annotations

import numpy as np
import pytest

from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.operators.lines import polygonize_lines

G = 1e-5


def _ls(*pts):
    return wkb.dump_linestring(np.asarray(pts, dtype=float))


@pytest.mark.spark
def test_polygonize_grid_of_lines(spark):
    """A 2x1 grid drawn as 7 border lines -> 2 faces, each knowing its
    border line ids (J7 lineage-carried attribute recovery)."""
    rows = [
        (1, _ls((0, 0), (1, 0))),
        (2, _ls((1, 0), (2, 0))),
        (3, _ls((0, 1), (1, 1))),
        (4, _ls((1, 1), (2, 1))),
        (5, _ls((0, 0), (0, 1))),
        (6, _ls((1, 0), (1, 1))),   # shared middle border
        (7, _ls((2, 0), (2, 1))),
    ]
    df = spark.createDataFrame(rows, "lid long, geom binary")
    faces = polygonize_lines(df, G).collect()
    assert len(faces) == 2
    for f in faces:
        assert f.area == pytest.approx(1.0, rel=1e-9)
    borders = [set(f.border_line_ids) for f in faces]
    assert {1, 3, 5, 6} in borders and {2, 4, 6, 7} in borders


@pytest.mark.spark
def test_polygonize_crossing_lines(spark):
    """Two crossing 'X' diagonals plus a frame: noding splits at the cross,
    4 triangular faces appear."""
    rows = [
        (1, _ls((0, 0), (2, 0), (2, 2), (0, 2), (0, 0))),  # frame
        (2, _ls((0, 0), (2, 2))),
        (3, _ls((2, 0), (0, 2))),
    ]
    df = spark.createDataFrame(rows, "lid long, geom binary")
    faces = polygonize_lines(df, G).collect()
    assert len(faces) == 4
    assert sum(f.area for f in faces) == pytest.approx(4.0, rel=1e-9)


@pytest.mark.spark
def test_polygonize_distributed_matches_single(spark):
    """Cell-partitioned polygonize of a 4x3 lattice of unit squares
    spanning many res=10 cells == the analytic lattice: KX*KY faces of
    area 1, each bordered by exactly its four lattice lines."""
    rows, lid = [], 0
    KX, KY = 4, 3
    vert, horiz = {}, {}
    for i in range(KX + 1):
        for j in range(KY):
            lid += 1
            vert[i, j] = lid
            rows.append((lid, _ls((i, j), (i, j + 1))))
    for j in range(KY + 1):
        for i in range(KX):
            lid += 1
            horiz[i, j] = lid
            rows.append((lid, _ls((i, j), (i + 1, j))))
    df = spark.createDataFrame(rows, "lid long, geom binary")
    faces = polygonize_lines(df, G, res=10).collect()
    assert len(faces) == KX * KY
    for f in faces:
        assert f.area == pytest.approx(1.0, rel=1e-12)
    expected = sorted(
        tuple(sorted((vert[i, j], vert[i + 1, j], horiz[i, j], horiz[i, j + 1])))
        for i in range(KX) for j in range(KY))
    assert sorted(tuple(f.border_line_ids) for f in faces) == expected


@pytest.mark.spark
def test_polygonize_enclosed_empty_cells(spark):
    """A single ring spanning many cells whose interior contains FULLY
    EMPTY cells: the empty-cell pseudo-pieces must carry connectivity so
    the interior reassembles as one bounded face (and the outside, which
    reaches the region rim through the margin cells, is dropped)."""
    rows = [(1, _ls((0.1, 0.1), (3.1, 0.1), (3.1, 3.1), (0.1, 3.1), (0.1, 0.1)))]
    df = spark.createDataFrame(rows, "lid long, geom binary")
    faces = polygonize_lines(df, G, res=10).collect()
    assert len(faces) == 1
    assert faces[0].area == pytest.approx(9.0, rel=1e-9)
    assert list(faces[0].border_line_ids) == [1]
