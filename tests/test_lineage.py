"""Resume-equivalence test (mirrors the reference's restart scenario,
src/test/sql/regress/resolve_overlap_and_gap.sql:98-168): kill after a
partial run, resume, final table identical to a single-shot run."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark.config import EngineConfig
from resolve_overlap_and_gap_spark.lineage import Lineage, run_stage_checkpointed
from resolve_overlap_and_gap_spark.operators.overlap_gap import with_cells
from resolve_overlap_and_gap_spark.operators.resolve import resolve, resolve_cells
from tests.fixtures import tiling_df

CFG = EngineConfig(snap_tolerance=1e-5, min_area_to_keep=5e-4)
RES = 8


def _compute(cfg, emit_border_gaps=False):
    """The resolve kernel stage as a cells->result mapper."""
    return lambda todo_rows: resolve_cells(todo_rows, cfg, emit_border_gaps)


@pytest.mark.spark
def test_resume_equivalence(spark, tmp_path):
    df = tiling_df(spark, k=6, cell=0.1, jitter=0.015, seed=3)
    df.cache().count()
    feats = df.selectExpr("cast(fid as long) fid", "geom")
    cells = with_cells(feats, RES)

    # ---- single-shot oracle
    oracle = sorted(
        (r.cell_id, r.owner, tuple(r.other_ids), round(r.area, 15))
        for r in resolve(df, CFG, res=RES).collect()
    )

    # ---- partial run: only half the cells (simulated kill), then resume
    lin = Lineage(spark, str(tmp_path / "ckpt"))
    all_cells = [r.cell_id for r in cells.select("cell_id").distinct().collect()]
    half = set(sorted(all_cells)[: len(all_cells) // 2])
    partial_cells = cells.where(F.col("cell_id").isin(list(half)))
    run_stage_checkpointed(lin, "resolve", partial_cells, _compute(CFG), "resolved")
    done_after_partial = lin.done_cells("resolve").count()
    assert done_after_partial == len(half)

    # ---- resume with the FULL cell set: only remaining cells recompute
    result = run_stage_checkpointed(lin, "resolve", cells, _compute(CFG), "resolved")
    got = sorted(
        (r.cell_id, r.owner, tuple(r.other_ids), round(r.area, 15))
        for r in result.collect()
    )
    assert got == oracle
    assert lin.done_cells("resolve").count() == len(all_cells)

    # ---- idempotence: a third run recomputes nothing and changes nothing
    before = lin._read_lineage().count()
    result2 = run_stage_checkpointed(lin, "resolve", cells, _compute(CFG), "resolved")
    assert lin._read_lineage().count() == before
    got2 = sorted(
        (r.cell_id, r.owner, tuple(r.other_ids), round(r.area, 15))
        for r in result2.collect()
    )
    assert got2 == oracle
    _assert_wall_ms(lin)


def _assert_wall_ms(lin):
    """Every lineage row carries the stage's wall time."""
    rows = lin._read_lineage().select("wall_ms").collect()
    assert rows and all(r.wall_ms is not None and r.wall_ms >= 0 for r in rows)


@pytest.mark.spark
def test_resume_healed_equivalence(spark, tmp_path):
    """Full healed pipeline resumes mid-run: kill after half the resolve
    cells, resume, heal — final healed layer identical to a single-shot
    run; a third invocation recomputes nothing."""
    from resolve_overlap_and_gap_spark.lineage import run_healed_checkpointed
    from resolve_overlap_and_gap_spark.operators.border import border_gap_merge

    df = tiling_df(spark, k=6, cell=0.1, jitter=0.015, seed=3)
    df.cache().count()
    feats = df.selectExpr("cast(fid as long) fid", "geom")
    cells = with_cells(feats, RES)

    # single-shot oracle through the same fast path
    oracle_healed = sorted(
        (r.owner, round(r.area, 12), r.n_parts)
        for r in border_gap_merge(
            resolve(df, CFG, res=RES, emit_border_gaps=True), CFG).collect()
    )

    lin = Lineage(spark, str(tmp_path / "hckpt"))
    all_cells = [r.cell_id for r in cells.select("cell_id").distinct().collect()]
    half = set(sorted(all_cells)[: len(all_cells) // 2])
    # simulated kill: stage 1 runs on half the cells only, heal never runs
    partial = cells.where(F.col("cell_id").isin(list(half)))
    run_stage_checkpointed(lin, "resolve", partial,
                           _compute(CFG, emit_border_gaps=True),
                           "resolved")
    assert not lin.has_stage("healed")

    # resume end to end
    healed = run_healed_checkpointed(lin, df, CFG, RES)
    got = sorted((r.owner, round(r.area, 12), r.n_parts) for r in healed.collect())
    assert got == oracle_healed
    assert lin.done_cells("resolve").count() == len(all_cells)
    assert lin.has_stage("healed")

    # idempotent: nothing recomputes, output unchanged
    before = lin._read_lineage().count()
    healed2 = run_healed_checkpointed(lin, df, CFG, RES)
    assert lin._read_lineage().count() == before
    got2 = sorted((r.owner, round(r.area, 12), r.n_parts) for r in healed2.collect())
    assert got2 == oracle_healed
    _assert_wall_ms(lin)
