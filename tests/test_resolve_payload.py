"""payload_col: the owner's record rides THROUGH the resolve kernel
(reference column_data_as_json, function_resolve_overlap_gap_init.sql:249)
— no post-resolve attribute re-join, input scanned once."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark.config import EngineConfig
from resolve_overlap_and_gap_spark.geom import wkb
from resolve_overlap_and_gap_spark.operators.resolve import resolve

G = 1e-5


def _sq(x0, y0, w):
    r = np.array([[x0, y0], [x0 + w, y0], [x0 + w, y0 + w], [x0, y0 + w]],
                 dtype=float)
    return wkb.dump_polygon([r])


@pytest.mark.spark
def test_payload_rides_through_kernel(spark):
    rows = [(1, _sq(0.0, 0.0, 1.0), '{"name":"a"}'),
            (2, _sq(0.5, 0.0, 1.0), '{"name":"b"}'),
            (3, _sq(5.0, 5.0, 1.0), '{"name":"c"}')]
    layer = spark.createDataFrame(rows, "fid long, geom binary, attrs string")
    cfg = EngineConfig(snap_tolerance=G)
    out = resolve(layer, cfg, res=6, payload_col="attrs")
    assert "payload" in out.columns
    got = {(r.owner): r.payload for r in out.collect() if r.owner > 0}
    assert got[1] == '{"name":"a"}' and got[2] == '{"name":"b"}'
    assert got[3] == '{"name":"c"}'
    # payload equals the re-join result for every piece
    rejoin = (resolve(layer, cfg, res=6)
              .join(layer.select(F.col("fid").alias("owner"), "attrs"), "owner"))
    a = sorted((r.owner, r.cell_id, r.payload) for r in out.collect() if r.owner > 0)
    b = sorted((r.owner, r.cell_id, r.attrs) for r in rejoin.collect())
    assert a == b


@pytest.mark.spark
def test_int64_payload_exact_beside_border_gap_rows(spark):
    """GAP_OWNER/KILL_OWNER rows carry a null payload; an int64 payload
    above 2^53 must still come back exact on every piece row."""
    from tests.fixtures import tiling_df

    big = 2 ** 53 + 1
    layer = tiling_df(spark, k=6, cell=0.12, origin=(5, 55), jitter=0.018,
                      seed=11).withColumn("p", F.col("fid") + F.lit(big))
    cfg = EngineConfig(snap_tolerance=G)
    for emit in (False, True):
        out = resolve(layer, cfg, res=9, payload_col="p", emit_border_gaps=emit)
        pieces = [r for r in out.collect() if r.owner >= 0]
        assert pieces
        assert all(r.payload == r.owner + big for r in pieces), emit
