#!/usr/bin/env python
"""cProfile the per-cell resolve overlay kernel on real sf0.1 inputs.

Collects a sample of kernel bucket inputs to the driver (profiling tool,
not a query path), then runs _bucket_kernel single-threaded under cProfile
so the numpy/python split inside the overlay is visible.

Usage: python tools/profile_kernel.py [n_bucket_sample] [sf_dir]
"""
from __future__ import annotations

import cProfile
import os
import pstats
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    n_sample = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from resolve_overlap_and_gap_spark.config import EngineConfig
    from resolve_overlap_and_gap_spark.operators.overlap_gap import (
        default_cell_buckets,
        with_cells,
    )
    from resolve_overlap_and_gap_spark.operators.resolve import _bucket_kernel
    from resolve_overlap_and_gap_spark.plans.queries import (
        DETECT_CFG_SNAP,
        _density_res,
        derived_polygon_layer,
    )
    from resolve_overlap_and_gap_spark.session import get_spark

    spark = get_spark(app_name="rog-profile", parallelism=8)
    spark.sparkContext.setLogLevel("ERROR")

    layer = derived_polygon_layer(spark, sf_dir)
    res = _density_res(spark, sf_dir)
    cfg = EngineConfig(snap_tolerance=DETECT_CFG_SNAP, min_area_to_keep=1e-4)
    n_buckets = default_cell_buckets(layer)
    feats = layer.select(F.col("fid").cast("long").alias("fid"), "geom")
    cells = with_cells(feats, res).withColumn(
        "bucket", F.pmod(F.hash("cell_id"), F.lit(n_buckets)))
    sample = cells.where(F.col("bucket") < n_sample).toPandas()
    print(f"sampled {len(sample)} rows across {n_sample}/{n_buckets} buckets, res={res}")

    t0 = time.time()
    prof = cProfile.Profile()
    prof.enable()
    out = _bucket_kernel(sample, cfg, emit_border_gaps=True, with_geom=True)
    prof.disable()
    print(f"kernel wall: {time.time()-t0:.2f}s, out rows: {len(out)}")
    st = pstats.Stats(prof)
    st.sort_stats("cumulative").print_stats(35)
    st.sort_stats("tottime").print_stats(35)


if __name__ == "__main__":
    main()
