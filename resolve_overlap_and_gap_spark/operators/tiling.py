"""Raster<->vector tiling operators (north-rule addition; reuses the
reference's grid + canonical-owner rules so tile assignments are
deterministic — J8, function_resolve_overlap_gap_single_cell.sql:820-831).

A "tile" is just a grid cell at a chosen raster resolution. Vector->raster =
explode footprint to covering tiles; tile ownership = min feature id per tile
(deterministic under ties). Raster->vector (each feature's tile extent)
is the registry's tiles_to_vector query. All JVM built-ins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark.operators.celljoin import boxes_with_cells


def tile_assign(boxes: DataFrame, res: int, id_col: str = "id") -> DataFrame:
    """All (feature, tile) pairs at raster resolution ``res``."""
    return boxes_with_cells(boxes, res).select(
        F.col(id_col), F.col("cell_id").alias("tile_id")
    )


def tile_owner(boxes: DataFrame, res: int, id_col: str = "id") -> DataFrame:
    """One owner feature per tile: the min feature id covering it (the
    reference's min-id canonical-owner rule made a rasterization rule)."""
    return (
        tile_assign(boxes, res, id_col)
        .groupBy("tile_id")
        .agg(F.min(F.col(id_col)).alias("owner_id"), F.count("*").alias("n_features"))
    )

