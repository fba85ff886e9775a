"""Deterministic test fixtures: a polygon layer (FIXTURES.md F1-F3 analogs)
and a synthetic pages table (F0).

The reference's regression fixture is 356 Norwegian municipality polygons
with real overlaps and gaps (overlap_gap_input_t1.sql:28-40). Here: a K x K
jittered tiling of convex quads over a lon/lat window — adjacent quads both
overlap and leave slivers, reproducing the same detection structure. Seeded
numpy; no external data.

The pages table is generated JVM-side (spark.range + built-ins); points
derive from it by the same derive.py formulas the registry uses.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark import derive
from resolve_overlap_and_gap_spark.geom import wkb


def jittered_tiling(
    k: int = 20,
    cell: float = 0.1,
    origin: tuple[float, float] = (5.0, 55.0),
    jitter: float = 0.02,
    seed: int = 42,
    include_invalid: bool = False,
) -> pd.DataFrame:
    """K*K convex quads; corner (i,j) of the lattice is shared by up to 4
    quads but each quad jitters its own copy -> overlaps and gaps along
    every border. Returns pandas (fid, c2, geom WKB)."""
    rng = np.random.default_rng(seed)
    ox, oy = origin
    # per-quad per-corner jitter
    rows = []
    fid = 0
    for i in range(k):
        for j in range(k):
            x0, y0 = ox + i * cell, oy + j * cell
            base = np.array(
                [[x0, y0], [x0 + cell, y0], [x0 + cell, y0 + cell], [x0, y0 + cell]]
            )
            quad = base + rng.uniform(-jitter, jitter, size=(4, 2))
            rows.append((fid, f"m{fid:05d}", wkb.dump_polygon([quad])))
            fid += 1
    if include_invalid:
        # bowtie (self-intersecting) — exercises _input_geo_is_valid marking
        bt = np.array([[ox - 1, oy - 1], [ox - 0.9, oy - 0.9],
                       [ox - 1, oy - 0.9], [ox - 0.9, oy - 1]])
        rows.append((fid, "bowtie", wkb.dump_polygon([bt])))
        fid += 1
    return pd.DataFrame(rows, columns=["fid", "c2", "geom"])


def tiling_df(spark: SparkSession, **kw) -> DataFrame:
    pdf = jittered_tiling(**kw)
    return spark.createDataFrame(pdf)


def synthesize_pages(spark: SparkSession, n: int, partitions: int = 32) -> DataFrame:
    """Seeded deterministic pages table of ``n`` rows, generated JVM-side
    (spark.range + built-ins; no Python, no external data)."""
    df = spark.range(0, n, 1, partitions)
    return df.select(
        F.concat(F.lit("http://site-"), (F.col("id") % 1000).cast("string"),
                 F.lit(".example/page/"), F.col("id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>doc "), F.col("id").cast("string"),
                          F.lit("</body></html>")), "UTF-8").alias("html"),
        F.concat(F.lit("synthetic document body number "), F.col("id").cast("string"),
                 F.lit(" with deterministic text payload")).alias("text"),
        F.when(F.col("id") % 5 == 0, "no").otherwise("en").alias("lang"),
        F.col("id").alias("doc_id"),
    )


def with_point(df: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """Derive the page's lon/lat point (geo-parse stage) — JVM expressions."""
    return df.withColumn("px", F.expr(derive.lon_sql(key_col, derive.SPARK))).withColumn(
        "py", F.expr(derive.lat_sql(key_col, derive.SPARK))
    )

