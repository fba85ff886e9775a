"""Public API facade — the reference's procedure surface, Spark-native.

Mirrors `resolve_overlap_gap_run(_input_data, _topology_info, _clean_info,
_max_parallel_jobs, _max_rows_in_each_cell, _debug_options)`
(src/main/sql/function_resolve_overlap_gap_run.sql:1-26) and the detection
engine `find_overlap_and_gap` (src/test/sql/regress/
find_overlap_and_gap-pre.sql:297-757), so a reference user maps their call
one-to-one:

| reference                                   | here                         |
|---|---|
| polygon_table_name / _pk / _geo_collumn     | polygon_df + pk/geo col args |
| line_table_name / _pk / _geo_collumn        | line_df + col args (ar5 path)|
| table_srid + utm                            | utm flag (planar measure) vs geodesic_measure (spherical m^2, ST_Area(g,true)) |
| topology_snap_tolerance                     | snap_tolerance               |
| simplify_tolerance / do_chaikins            | same (chaikins -> iterations)|
| min_area_to_keep                            | same                         |
| _max_rows_in_each_cell                      | same: the polygon resolve runs on the content-balanced grid from base `res`, hot cells refined until they hold at most this many features |
| _max_parallel_jobs                          | cluster-managed: Spark schedules cells across executors; n_buckets caps kernel group size |
| result table + _other_intersect_id_list + _input_geo_is_valid | ResolveResult.layer (other_ids + is_valid columns) |
| _no_cut_line_failed                         | ResolveResult.quarantined    |

Everything returns DataFrames; nothing is written — persist via
lineage.Lineage (parquet or Iceberg) or any writer.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark.config import EngineConfig, GridConfig


@dataclass
class CleanInfo:
    """resolve_overlap_data_clean_type (types_resolve_overlap.sql)."""

    simplify_tolerance: float = 0.0
    do_chaikins: bool = False
    min_area_to_keep: float = 0.0


@dataclass
class ResolveResult:
    layer: DataFrame          # one row per surviving owner: attributes +
                              # other_ids (the _other_intersect_id_list) +
                              # is_valid (_input_geo_is_valid) + area
    pieces: DataFrame         # per-cell clean coverage pieces (cell_id,
                              # owner, other_ids, area, geom)
    healed: DataFrame | None  # cross-cell healed geometry per owner
    quarantined: DataFrame    # noding failures (_no_cut_line_failed)
    metrics: DataFrame | None  # before/after detection metrics


def _cfg(snap_tolerance: float, clean: CleanInfo, utm: bool,
         geodesic_measure: bool, max_rows_in_each_cell: int,
         res: int) -> EngineConfig:
    return EngineConfig(
        snap_tolerance=snap_tolerance,
        min_area_to_keep=clean.min_area_to_keep,
        simplify_tolerance=clean.simplify_tolerance,
        chaikins_iterations=2 if clean.do_chaikins else 0,
        utm=utm,
        geodesic_measure=geodesic_measure,
        grid=GridConfig(base_resolution=res,
                        max_rows_in_each_cell=max_rows_in_each_cell),
    )


def find_overlap_and_gap(polygon_df: DataFrame, pk_col: str = "fid",
                         geo_col: str = "geom", snap_tolerance: float = 1e-5,
                         res: int = 8) -> DataFrame:
    """The detection engine: overlap pairs + gap faces (+ quarantined rows
    for non-convergent inputs) — find_overlap_and_gap semantics."""
    from resolve_overlap_and_gap_spark.operators.overlap_gap import detect_all

    cfg = EngineConfig(snap_tolerance=snap_tolerance)
    return detect_all(polygon_df, cfg, res=res, geom_col=geo_col, id_col=pk_col)


def resolve_overlap_gap_run(
    spark: SparkSession,
    polygon_df: DataFrame,
    pk_col: str = "fid",
    geo_col: str = "geom",
    line_df: DataFrame | None = None,
    line_pk_col: str = "lid",
    line_geo_col: str = "geom",
    snap_tolerance: float = 1e-5,
    clean: CleanInfo | None = None,
    utm: bool = False,
    geodesic_measure: bool = False,
    max_rows_in_each_cell: int = 5000,
    res: int = 8,
    heal: bool = True,
    compute_metrics: bool = False,
) -> ResolveResult:
    """The reference's main procedure, end to end: per-cell resolve (owner
    rule, sliver merge, optional simplify+Chaikin) over the content-balanced
    grid (base resolution `res`, cells refined until they hold at most
    max_rows_in_each_cell features), optional cross-cell border heal,
    attribute layer with other_ids/is_valid, quarantine table, optional
    before/after metrics.  With line_df, border lines join the fixed-res
    arrangement at `res` as cut lines and faces report border_line_ids
    (ar5)."""
    clean = clean if clean is not None else CleanInfo()
    from resolve_overlap_and_gap_spark.operators.border import border_gap_merge
    from resolve_overlap_and_gap_spark.operators.lines import resolve_with_lines
    from resolve_overlap_and_gap_spark.operators.resolve import (
        QUARANTINE_OWNER,
        mark_valid,
        resolve_balanced,
    )

    cfg = _cfg(snap_tolerance, clean, utm, geodesic_measure,
               max_rows_in_each_cell, res)
    feats = polygon_df.select(F.col(pk_col).cast("long").alias("fid"),
                              F.col(geo_col).alias("geom"))

    if line_df is not None:
        lines = line_df.select(F.col(line_pk_col).cast("long").alias("lid"),
                               F.col(line_geo_col).alias("geom"))
        pieces_all = resolve_with_lines(feats, lines, cfg, res=res).localCheckpoint()
        pieces = pieces_all.where(F.col("owner") >= 0)
        quarantined = pieces_all.where(F.col("owner") == QUARANTINE_OWNER)
        healed = None
    else:
        both = resolve_balanced(feats, cfg,
                                emit_border_gaps=heal).localCheckpoint()
        pieces = both.where(F.col("owner") >= 0)
        quarantined = both.where(F.col("owner") == QUARANTINE_OWNER)
        healed = None
        if heal:
            healed = border_gap_merge(both, cfg)

    per_owner = pieces.groupBy("owner").agg(
        F.sum("area").alias("area"),
        F.array_distinct(F.array_sort(
            F.flatten(F.collect_list("other_ids")))).alias("other_ids"),
        F.count("*").alias("n_pieces"),
    )
    attrs = mark_valid(polygon_df, geo_col).drop(geo_col).withColumnRenamed(
        pk_col, "owner"
    )
    layer = per_owner.join(attrs, "owner", "left")

    metrics = None
    if compute_metrics:
        from resolve_overlap_and_gap_spark.operators.compare import (
            compare_before_after,
        )

        metrics = compare_before_after(feats, cfg, res=res)
    return ResolveResult(layer=layer, pieces=pieces, healed=healed,
                         quarantined=quarantined, metrics=metrics)
