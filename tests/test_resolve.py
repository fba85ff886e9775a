"""Resolve-pipeline tests mirroring the reference's regression strategy
(SURVEY.md §5): the before/after metric oracle
(resolve_overlap_gap_compare_result.sql:23-305) — after resolution the
overlap area must be 0 and sub-min-area interior gaps must be gone — plus
coverage validity, attribute rules, determinism, and validity marking."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark.config import EngineConfig
from resolve_overlap_and_gap_spark.operators.overlap_gap import detect_all
from resolve_overlap_and_gap_spark.operators.resolve import (
    mark_valid,
    resolve,
)
from tests.fixtures import tiling_df

# min_area = 1e-4 deg^2 >> sliver sizes (jitter 0.02 * edge 0.1 ~ 2e-3...)
CFG = EngineConfig(snap_tolerance=1e-5, min_area_to_keep=5e-4)
RES = 8


@pytest.fixture(scope="module")
def fixture_df(spark):
    df = tiling_df(spark, k=8, cell=0.1, jitter=0.015, seed=7)
    df.cache().count()
    return df


@pytest.mark.spark
def test_after_resolve_no_overlaps(spark, fixture_df):
    """Metric-diff oracle: re-detecting on the resolved layer finds zero
    overlaps (overlap area -> 0) and no interior gaps below min_area."""
    resolved = resolve(fixture_df, CFG, res=RES).cache()
    assert resolved.count() > 0
    redetect = detect_all(
        resolved.select(
            F.monotonically_increasing_id().alias("fid"), "geom"
        ),
        CFG, res=RES,
    ).cache()
    n_overlap = redetect.where("kind = 'overlap'").count()
    assert n_overlap == 0
    small_gaps = redetect.where(
        f"kind = 'gap' and not touches_border and area < {CFG.min_area_to_keep}"
    ).count()
    assert small_gaps == 0


@pytest.mark.spark
def test_area_conservation(spark, fixture_df):
    """Resolved area == covered area + absorbed slivers: total resolved area
    must equal the union area of inputs plus merged small gaps, i.e. lie
    between union-area and union-area + total small-gap area."""
    det = detect_all(fixture_df, CFG, res=RES).cache()
    resolved = resolve(fixture_df, CFG, res=RES).cache()
    total_resolved = resolved.agg(F.sum("area")).collect()[0][0]
    gaps_small = (
        det.where(f"kind = 'gap' and not touches_border and area < {CFG.min_area_to_keep}")
        .agg(F.coalesce(F.sum("area"), F.lit(0.0))).collect()[0][0]
    )
    # union area from the detection run: per-cell covered area =
    # cell_area - gap area; instead compute via faces: use resolve with
    # min_area=0 (no merging) as the exact union
    resolved_nomerge = resolve(fixture_df, EngineConfig(snap_tolerance=1e-5), res=RES)
    union_area = resolved_nomerge.agg(F.sum("area")).collect()[0][0]
    # two-sided bound: every absorbed sliver was a small gap, and a small
    # gap may legitimately end up in a larger/border gap instead of a face
    assert union_area - 1e-9 <= total_resolved <= union_area + gaps_small + 1e-9
    # and most of the small-gap mass must actually be absorbed
    assert total_resolved - union_area >= 0.8 * gaps_small


@pytest.mark.spark
def test_owner_attribute_rule(spark, fixture_df):
    """J3: owner must be the min id of the cover set; other_ids sorted and
    owner not among them."""
    resolved = resolve(fixture_df, CFG, res=RES)
    for r in resolved.collect():
        assert r.owner is not None
        for o in r.other_ids:
            assert o > r.owner


@pytest.mark.spark
def test_determinism_resolve(spark, fixture_df):
    a = resolve(fixture_df.repartition(1), CFG, res=RES)
    b = resolve(fixture_df.repartition(16), CFG, res=RES)
    ra = sorted((r.cell_id, r.owner, tuple(r.other_ids), round(r.area, 15)) for r in a.collect())
    rb = sorted((r.cell_id, r.owner, tuple(r.other_ids), round(r.area, 15)) for r in b.collect())
    assert ra == rb


@pytest.mark.spark
def test_validity_marking(spark):
    df = tiling_df(spark, k=2, cell=0.1, jitter=0.0, seed=1, include_invalid=True)
    marked = mark_valid(df)
    rows = {r.c2: r._input_geo_is_valid for r in marked.collect()}
    assert rows["bowtie"] is False
    assert all(v for k, v in rows.items() if k != "bowtie")


@pytest.mark.spark
def test_resolve_layer_attributes(spark, fixture_df):
    from resolve_overlap_and_gap_spark.api import (
        CleanInfo,
        resolve_overlap_gap_run,
    )

    layer = resolve_overlap_gap_run(
        spark, fixture_df, snap_tolerance=CFG.snap_tolerance,
        clean=CleanInfo(min_area_to_keep=CFG.min_area_to_keep),
        res=RES, heal=False).layer
    rows = layer.collect()
    assert all(r.c2 is not None for r in rows)
    assert all(r._input_geo_is_valid for r in rows)
    # every input polygon that survives owns at least its own interior
    assert len(rows) > 0.9 * fixture_df.count()