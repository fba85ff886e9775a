"""Boundary-exchange pass tests — the cross-cell reconciliation contract
(SURVEY.md hard part #1): after resolve + border merge, the layer satisfies
the full coverage contract EVERYWHERE (not just cell interiors), and the
parallel multi-cell result matches the single-cell oracle run."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark.config import EngineConfig
from resolve_overlap_and_gap_spark.operators.border import border_gap_merge
from resolve_overlap_and_gap_spark.operators.overlap_gap import detect_all
from resolve_overlap_and_gap_spark.operators.resolve import resolve
from tests.fixtures import tiling_df

CFG = EngineConfig(snap_tolerance=1e-5, min_area_to_keep=5e-4)
RES = 9  # fine cells so many quads straddle borders


@pytest.fixture(scope="module")
def fixture_df(spark):
    df = tiling_df(spark, k=6, cell=0.12, origin=(5.0, 55.0), jitter=0.018, seed=11)
    df.cache().count()
    return df


@pytest.mark.spark
def test_healed_layer_full_contract(spark, fixture_df):
    resolved = resolve(fixture_df, CFG, res=RES, emit_border_gaps=True)
    healed = border_gap_merge(resolved, CFG).cache()
    assert healed.count() == fixture_df.count()
    # the healed layer must satisfy the contract EVERYWHERE: re-detect at a
    # DIFFERENT resolution (different borders) finds no overlaps and no
    # sub-min-area interior gaps
    redet = detect_all(
        healed.select(F.col("owner").alias("fid"), "geom"), CFG, res=7
    ).cache()
    assert redet.where("kind = 'overlap'").count() == 0
    small = redet.where(
        f"kind = 'gap' and not touches_border and area < {CFG.min_area_to_keep}"
    )
    assert small.count() == 0


@pytest.mark.spark
def test_matches_single_cell_oracle(spark, fixture_df):
    """Multi-cell resolve + border pass vs coarse single-cell run: per-owner
    areas agree up to the snapped-clip bound; total mass conserved."""
    healed = border_gap_merge(
        resolve(fixture_df, CFG, res=RES, emit_border_gaps=True), CFG)
    multi = {r.owner: r.area for r in healed.collect()}

    # whole fixture in one cell
    healed1 = border_gap_merge(
        resolve(fixture_df, CFG, res=4, emit_border_gaps=True), CFG)
    single = {r.owner: r.area for r in healed1.collect()}

    assert set(multi) == set(single)
    total_m, total_s = sum(multi.values()), sum(single.values())
    assert total_m == pytest.approx(total_s, rel=2e-3)
    close = sum(
        1 for k in multi if multi[k] == pytest.approx(single[k], rel=0.03, abs=2e-4)
    )
    # sliver-assignment tie cascades may differ on a few owners; the bulk
    # must match
    assert close >= 0.9 * len(multi), (close, len(multi))