#!/usr/bin/env python
"""spark-submit entry point (north rule: deployed via
``spark-submit --py-files`` on multi-executor clusters).

Usage:
  spark-submit --py-files rog_spark.zip main.py detect  <sf_dir> <out_dir>
  spark-submit --py-files rog_spark.zip main.py resolve <sf_dir> <out_dir>
  spark-submit --py-files rog_spark.zip main.py healed  <sf_dir> <out_dir>
  spark-submit --py-files rog_spark.zip main.py query   <sf_dir> <out_dir> <name>
  spark-submit --py-files rog_spark.zip main.py resolve-ckpt <sf_dir> <ckpt_dir>
  spark-submit --py-files rog_spark.zip main.py healed-ckpt  <sf_dir> <ckpt_dir>
      (resumable: reruns skip cells already in <ckpt_dir>/_lineage; the
       heal stage re-runs only if its commit marker is absent)
      (<name> = any entry of the driver-contract registry, e.g. pip_polygon,
       asof_join, minhash_sig — `main.py list` prints them)

Build the zip with:
  cd <repo> && zip -qr rog_spark.zip resolve_overlap_and_gap_spark

Writes the result parquet to <out_dir> and prints a one-line JSON summary.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> None:
    cmd = sys.argv[1]
    if cmd == "list":
        from resolve_overlap_and_gap_spark.plans import queries as Q

        print("\n".join(sorted(Q.queries())))
        return
    sf_dir, out_dir = sys.argv[2], sys.argv[3]
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName(f"rog-{cmd}").getOrCreate()
    # ship the package to executors (the --py-files mode, self-served):
    # makes `python main.py ...` work from any cwd, not just the repo root
    import __spark_entry__ as _entry

    _entry._ensure_py_files(spark)
    from resolve_overlap_and_gap_spark.config import EngineConfig
    from resolve_overlap_and_gap_spark.plans import queries as Q

    cfg = EngineConfig(snap_tolerance=1e-5, min_area_to_keep=1e-4)
    layer = Q.derived_polygon_layer(spark, sf_dir)
    res = Q._density_res(spark, sf_dir)
    t0 = time.monotonic()
    if cmd == "detect":
        from resolve_overlap_and_gap_spark.operators.overlap_gap import detect_all

        out = detect_all(layer, cfg, res=res)
    elif cmd == "resolve":
        from resolve_overlap_and_gap_spark.operators.resolve import resolve

        out = resolve(layer, cfg, res=res)
    elif cmd == "healed":
        from pyspark.sql import functions as F

        from resolve_overlap_and_gap_spark.operators.border import border_gap_merge
        from resolve_overlap_and_gap_spark.operators.resolve import (
            QUARANTINE_OWNER,
            resolve,
        )

        both = resolve(layer, cfg, res=res, emit_border_gaps=True).localCheckpoint()
        # noding-quarantined features land in their own table, never
        # silently dropped (reference _no_cut_line_failed,
        # function_resolve_overlap_gap_init.sql:221-232)
        quarantined = both.where(F.col("owner") == QUARANTINE_OWNER)
        n_quarantined = quarantined.count()
        if n_quarantined:
            quarantined.select(
                F.col("cell_id"),
                F.element_at("other_ids", 1).alias("fid"),
                "geom",
            ).write.mode("overwrite").parquet(f"{out_dir}_quarantine")
        out = border_gap_merge(both, cfg)
    elif cmd == "query":
        name = sys.argv[4]
        out = Q.queries()[name](spark, sf_dir)
    elif cmd == "resolve-ckpt":
        # resumable resolve (north rule): per-cell lineage rows in
        # <out_dir>/_lineage; rerunning after a kill recomputes only the
        # cells missing from the done-list (J5 anti-join) — the reference's
        # restart scenario (resolve_overlap_and_gap.sql:98-168)
        from resolve_overlap_and_gap_spark.lineage import (
            Lineage,
            run_stage_checkpointed,
        )
        from resolve_overlap_and_gap_spark.operators import resolve as R
        from resolve_overlap_and_gap_spark.operators.overlap_gap import with_cells

        cells = with_cells(layer.selectExpr("cast(fid as long) fid", "geom"), res)
        lin = Lineage(spark, out_dir)

        out = run_stage_checkpointed(lin, "resolve", cells,
                                     lambda todo: R.resolve_cells(todo, cfg),
                                     "resolved")
        n = out.count()
        done = lin.done_cells("resolve").count()
        print(json.dumps({"cmd": cmd, "rows": n, "cells_done": done,
                          "sec": round(time.monotonic() - t0, 2), "out": out_dir}))
        spark.stop()
        return
    elif cmd == "healed-ckpt":
        # resumable FULL healed pipeline: per-cell resolve resumes via the
        # done-list anti-join; the cross-cell heal commits as one
        # idempotent stage over the completed per-cell table
        from resolve_overlap_and_gap_spark.lineage import (
            Lineage,
            run_healed_checkpointed,
        )

        lin = Lineage(spark, out_dir)
        out = run_healed_checkpointed(lin, layer, cfg, res)
        n = out.count()
        done = lin.done_cells("resolve").count()
        print(json.dumps({"cmd": cmd, "rows": n, "cells_done": done,
                          "sec": round(time.monotonic() - t0, 2), "out": out_dir}))
        spark.stop()
        return
    else:
        raise SystemExit(f"unknown command {cmd}")
    out.write.mode("overwrite").parquet(out_dir)
    n = spark.read.parquet(out_dir).count()
    summary = {"cmd": cmd, "rows": n, "sec": round(time.monotonic() - t0, 2),
               "out": out_dir}
    if cmd == "healed":
        summary["n_quarantined"] = n_quarantined
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
