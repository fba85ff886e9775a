"""Before/after metric-diff harness — the Spark face of the reference's
compare oracle (src/test/sql/regress/resolve_overlap_gap_compare_result.sql:
23-305): run the DETECTION engine on a layer before and after resolution and
compare polygon counts, overlap count/area (must go to ~0 after), and gap
count/area below min_area (absorbed by sliver merge).

This is how the reference proves its own pipeline correct, so the engine
ships it as an operator: one row per (phase, metric).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark.config import EngineConfig
from resolve_overlap_and_gap_spark.operators.overlap_gap import detect_all


def _metrics(det: DataFrame, phase: str, min_area: float) -> DataFrame:
    # coalesce: a zero-row detection (perfectly clean layer) must yield 0s,
    # not NULLs — downstream == 0 assertions rely on it
    return det.agg(
        F.lit(phase).alias("phase"),
        F.coalesce(F.sum(F.when(F.col("kind") == "overlap", 1).otherwise(0)),
                   F.lit(0)).alias("n_overlaps"),
        F.coalesce(F.sum(F.when(F.col("kind") == "overlap", F.col("area")).otherwise(0.0)),
                   F.lit(0.0)).alias("overlap_area"),
        F.coalesce(F.sum(F.when(F.col("kind") == "gap", 1).otherwise(0)),
                   F.lit(0)).alias("n_gaps"),
        F.coalesce(F.sum(
            F.when((F.col("kind") == "gap") & (F.col("area") < min_area)
                   & ~F.col("touches_border"), 1).otherwise(0)
        ), F.lit(0)).alias("n_small_interior_gaps"),
        F.coalesce(F.sum(
            F.when((F.col("kind") == "gap") & (F.col("area") < min_area)
                   & ~F.col("touches_border"), F.col("area")).otherwise(0.0)
        ), F.lit(0.0)).alias("small_interior_gap_mass"),
    )


def compare_before_after(layer: DataFrame, cfg: EngineConfig, res: int) -> DataFrame:
    """-> two rows (phase='before'|'after') of detection metrics. After
    resolve + heal, overlap area must be ~0 (snap-scale residue at most) and
    small interior gaps absorbed."""
    from resolve_overlap_and_gap_spark.operators.border import border_gap_merge
    from resolve_overlap_and_gap_spark.operators.resolve import resolve

    layer = layer.localCheckpoint()  # feeds detect twice + resolve
    before = _metrics(detect_all(layer, cfg, res=res), "before", cfg.min_area_to_keep)
    healed = border_gap_merge(resolve(layer, cfg, res=res, emit_border_gaps=True), cfg)
    clean = healed.select(F.col("owner").alias("fid"), "geom")
    after = _metrics(detect_all(clean, cfg, res=res), "after", cfg.min_area_to_keep)
    return before.unionByName(after)
