"""Checkpoint / lineage / resume (north rule: every stage checkpoints
per-partition lineage + metrics so runs resume mid-tiling).

The reference's resume primitive is the job/done list: a cell job is skipped
if present in `_donejobs` (J5 anti-join,
function_resolve_overlap_gap_single_cell.sql:126-132,975-981). Here:

  * results are written partitioned by cell_id with DYNAMIC partition
    overwrite — re-running a cell replaces exactly its partition, so a crash
    between data-write and lineage-write is safe (the cell just recomputes);
  * the lineage table (stage, cell_id, n_rows, wall_ms, ts) is appended
    AFTER the data commit; resume = anti-join cells against it.

Storage defaults to parquet directories; pass table_format="iceberg" (plus
a configured Spark catalog) to run the SAME API against Iceberg tables:
append -> writeTo(t).append(), dynamic partition overwrite ->
writeTo(t).overwritePartitions(), read -> spark.read.table(t).  The north
rule names Iceberg; the sandbox ships no iceberg-spark-runtime jar, so the
iceberg path is exercised by tests/test_lineage_iceberg.py whenever the jar
is present (it skips with the missing-jar reason otherwise) — see
README "Iceberg mode" for the exact spark-submit config diff.
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Lineage:
    def __init__(self, spark: SparkSession, root: str,
                 table_format: str = "parquet"):
        """root: a directory path (parquet mode) or a catalog.namespace
        prefix like `local.rog` (iceberg mode)."""
        assert table_format in ("parquet", "iceberg")
        self.spark = spark
        self.root = str(root)
        self.fmt = table_format
        self._lineage_dir = f"{self.root}/_lineage"
        self._lineage_tbl = f"{self.root}.lineage"

    # ------------------------------------------------------------ lineage
    def _lineage_exists(self) -> bool:
        if self.fmt == "iceberg":
            return self.spark.catalog.tableExists(self._lineage_tbl)
        return Path(self._lineage_dir).exists()

    def has_stage(self, stage: str) -> bool:
        return self._lineage_exists() and self._read_lineage().where(
            F.col("stage") == stage
        ).limit(1).count() > 0

    def _read_lineage(self) -> DataFrame:
        if self.fmt == "iceberg":
            return self.spark.read.table(self._lineage_tbl)
        return self.spark.read.parquet(self._lineage_dir)

    def done_cells(self, stage: str) -> DataFrame:
        """(cell_id) already completed for a stage."""
        if not self._lineage_exists():
            return self.spark.createDataFrame([], "cell_id long")
        return (
            self._read_lineage().where(F.col("stage") == stage)
            .select("cell_id").distinct()
        )

    def remaining(self, cells: DataFrame, stage: str) -> DataFrame:
        """J5 anti-join: drop cells already done."""
        return cells.join(F.broadcast(self.done_cells(stage)), "cell_id", "left_anti")

    def log(self, stage: str, metrics: DataFrame, wall_ms: float) -> None:
        """Append per-cell metrics (cell_id, n_rows[, extra numeric cols])
        with the stage's wall time: compute plus data commit, in ms."""
        out = metrics.withColumn("stage", F.lit(stage)).withColumn(
            "wall_ms", F.lit(float(wall_ms))
        ).withColumn("ts", F.lit(time.time()))
        if self.fmt == "iceberg":
            if not self._lineage_exists():
                out.writeTo(self._lineage_tbl).create()
            else:
                out.writeTo(self._lineage_tbl).append()
        else:
            out.write.mode("append").parquet(self._lineage_dir)

    # ------------------------------------------------------------ results
    def write_cells(self, table: str, df: DataFrame) -> None:
        """Idempotent per-cell write: dynamic partition overwrite replaces
        exactly the recomputed cell partitions (Iceberg: the same commit
        semantics via overwritePartitions, which is also ATOMIC — a crash
        mid-write leaves the previous snapshot visible)."""
        if self.fmt == "iceberg":
            tbl = f"{self.root}.{table}"
            if not self.spark.catalog.tableExists(tbl):
                df.writeTo(tbl).partitionedBy(F.col("cell_id")).create()
            else:
                df.writeTo(tbl).overwritePartitions()
            return
        (
            df.write.partitionBy("cell_id")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(f"{self.root}/{table}")
        )

    def read(self, table: str) -> DataFrame:
        if self.fmt == "iceberg":
            return self.spark.read.table(f"{self.root}.{table}")
        return self.spark.read.parquet(f"{self.root}/{table}")


def run_healed_checkpointed(lin: Lineage, features: DataFrame,
                            cfg, res: int) -> DataFrame:
    """Resumable FULL healed pipeline (north rule: runs resume
    mid-tiling), two stages:

      1. 'resolve' — per-cell, resumed cell-by-cell via the J5 anti-join
         (emit_border_gaps=True, so the per-cell table already carries the
         GAP/KILL border rows the heal needs — a resumed run never re-scans
         completed cells);
      2. 'healed' — the cross-cell boundary exchange + owner dissolve.  Its
         natural recompute unit IS the stage (it exists to couple cells),
         so it commits as one idempotent overwrite of the healed table,
         with per-owner-bucket metrics logged AFTER the data commit: a
         crash between the two re-runs only the heal, over the completed
         stage-1 table.
    """
    from resolve_overlap_and_gap_spark.operators import resolve as R
    from resolve_overlap_and_gap_spark.operators.border import border_gap_merge
    from resolve_overlap_and_gap_spark.operators.overlap_gap import with_cells

    feats = features.selectExpr("cast(fid as long) as fid", "geom")
    cells = with_cells(feats, res)

    def compute(todo_rows: DataFrame) -> DataFrame:
        return R.resolve_cells(todo_rows, cfg, emit_border_gaps=True)

    both = run_stage_checkpointed(lin, "resolve", cells, compute, "resolved")
    if not lin.has_stage("healed"):
        t0 = time.perf_counter()
        healed = border_gap_merge(both, cfg)
        if lin.fmt == "iceberg":
            healed.writeTo(f"{lin.root}.healed").createOrReplace()
        else:
            healed.write.mode("overwrite").parquet(f"{lin.root}/healed")
        wall_ms = (time.perf_counter() - t0) * 1000.0
        # metrics aggregate the JUST-WRITTEN table, not the lazy `healed`
        # plan — re-evaluating that plan would run the heal's final owner
        # dissolve a second time.  cell_id must be BIGINT like stage-1
        # rows: F.hash returns int32, and a lineage dir mixing INT32/INT64
        # physical types breaks the vectorized parquet reader
        metrics = lin.read("healed").groupBy(
            F.pmod(F.hash("owner"), F.lit(256)).cast("long").alias("cell_id")
        ).agg(F.count("*").alias("n_rows"))
        lin.log("healed", metrics, wall_ms)
    return lin.read("healed")


def run_stage_checkpointed(
    lin: Lineage,
    stage: str,
    cells: DataFrame,
    compute: "callable[[DataFrame], DataFrame]",
    table: str,
) -> DataFrame:
    """Run `compute` only for cells not yet done; commit data, then lineage.

    cells: DataFrame with a cell_id column (+ payload); compute maps the
    remaining cells' rows to a result DataFrame with cell_id.
    Returns the full result table (previous + new)."""
    todo = lin.remaining(cells.select("cell_id").distinct(), stage)
    todo_rows = cells.join(F.broadcast(todo), "cell_id")
    if not todo_rows.isEmpty():
        t0 = time.perf_counter()
        result = compute(todo_rows)
        result = result.cache()
        lin.write_cells(table, result)
        wall_ms = (time.perf_counter() - t0) * 1000.0
        metrics = result.groupBy("cell_id").agg(F.count("*").alias("n_rows"))
        # ensure every attempted cell is marked done even if it emitted 0 rows
        metrics = todo.join(metrics, "cell_id", "left").fillna(0, ["n_rows"])
        lin.log(stage, metrics, wall_ms)
        result.unpersist()
    return lin.read(table)
