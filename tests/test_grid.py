from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from resolve_overlap_and_gap_spark import grid


@given(
    st.lists(st.floats(min_value=-180, max_value=179.999), min_size=1, max_size=50),
    st.lists(st.floats(min_value=-90, max_value=89.999), min_size=1, max_size=50),
    st.integers(min_value=0, max_value=grid.MAX_RES),
)
@settings(max_examples=50, deadline=None)
def test_roundtrip_xy(lons, lats, res):
    n = min(len(lons), len(lats))
    lon = np.array(lons[:n])
    lat = np.array(lats[:n])
    cells = grid.cell_id_np(lon, lat, res)
    assert (grid.cell_res_np(cells) == res).all()
    ix, iy = grid.xy_np(lon, lat, res)
    jx, jy = grid.cell_to_xy_np(cells)
    assert (ix == jx).all() and (iy == jy).all()
    xmin, ymin, xmax, ymax = grid.cell_bounds_np(cells)
    # containment up to float rounding at cell boundaries (1 ulp of the
    # scaled coordinate can flip the floor at exact boundaries)
    eps = 1e-9 * (1 + np.maximum(np.abs(lon), np.abs(lat)))
    assert (xmin - eps <= lon).all() and (lon <= xmax + eps).all()
    assert (ymin - eps <= lat).all() and (lat <= ymax + eps).all()


def test_parent_child():
    c = grid.cell_id_np(np.array([10.5]), np.array([59.9]), 10)[0]
    # the point's res-11 cell is a child of its res-10 cell
    c11 = grid.cell_id_np(np.array([10.5]), np.array([59.9]), 11)[0]
    assert grid.cell_res_np(c11) == 11
    assert grid.parent_np(c11) == c


def test_covering_cells():
    cells = grid.covering_cells_np(
        np.array([0.1]), np.array([0.1]), np.array([2.0]), np.array([2.0]), 8
    )[0]
    # cells at res 8 are 1.40625 x 0.703125 deg -> bbox spans 2x3
    assert len(cells) == 6
    ctr = grid.cell_id_np(np.array([1.0]), np.array([1.0]), 8)[0]
    assert ctr in set(cells.tolist())


@pytest.mark.spark
def test_spark_matches_numpy(spark):
    import pyspark.sql.functions as F

    rng = np.random.default_rng(42)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-85, 85, 500)
    import pandas as pd

    pdf = pd.DataFrame({"lon": lon, "lat": lat})
    df = spark.createDataFrame(pdf)
    for res in (0, 4, 9, 16):
        got = (
            df.select(grid.cell_id_col(F.col("lon"), F.col("lat"), res).alias("c"))
            .toPandas()["c"]
            .to_numpy()
        )
        want = grid.cell_id_np(lon, lat, res)
        assert (got == want).all()


@pytest.mark.spark
def test_spark_covering_matches_numpy(spark):
    import pandas as pd
    import pyspark.sql.functions as F

    rng = np.random.default_rng(7)
    xmin = rng.uniform(-170, 160, 100)
    ymin = rng.uniform(-80, 70, 100)
    w = rng.uniform(0.01, 5.0, 100)
    pdf = pd.DataFrame({"xmin": xmin, "ymin": ymin, "xmax": xmin + w, "ymax": ymin + w})
    df = spark.createDataFrame(pdf)
    res = 7
    got = (
        df.select(
            grid.covering_cells_col(
                F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), res
            ).alias("cells")
        )
        .toPandas()["cells"]
        .tolist()
    )
    want = grid.covering_cells_np(xmin, ymin, xmin + w, ymin + w, res)
    for g, w_ in zip(got, want):
        assert sorted(g) == sorted(w_.tolist())


@pytest.mark.spark
def test_ancestor_col_matches_parent_np(spark):
    """ancestor_col re-keys mixed resolutions in one expression, to an int
    or a column target; parent_np is its numpy twin."""
    import pandas as pd
    import pyspark.sql.functions as F

    rng = np.random.default_rng(3)
    lon = rng.uniform(-180, 180, 200)
    lat = rng.uniform(-85, 85, 200)
    res = rng.integers(0, grid.MAX_RES + 1, 200)
    cells = np.array([grid.cell_id_np(lon[i:i + 1], lat[i:i + 1], int(r))[0]
                      for i, r in enumerate(res)], np.int64)
    target = (res * rng.uniform(0, 1, 200)).astype(np.int64)
    df = spark.createDataFrame(pd.DataFrame({"c": cells, "t": target}))
    got = df.select(
        grid.res_col(F.col("c")).alias("r"),
        grid.ancestor_col(F.col("c"), F.col("t")).alias("a"),
        grid.ancestor_col(F.col("c"), 0).alias("a0"),
    ).toPandas()
    assert (got["r"].to_numpy() == res).all()
    assert (got["a"].to_numpy() == grid.parent_np(cells, res - target)).all()
    assert (got["a0"].to_numpy() == grid.parent_np(cells, res)).all()
