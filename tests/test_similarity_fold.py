"""r6 optimization equivalence pins: the numpy fold kernels that replaced
the Catalyst aggregate(zip_with(...)) lambda folds must be BIT-identical
(floor(sim * 1e6) oracles observe the last ulp), and the canonical
first-shared-band simhash pair dedup must emit exactly the distinct pair
set the former .distinct() produced."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark.operators import similarity
from resolve_overlap_and_gap_spark.operators.similarity import (
    _fold_gram,
    _fold_sqnorm,
    brute_cosine_pairs_x1e6,
    cosine_topk_bruteforce,
)

SF = "/root/testdata/sf0.001"


def _seq_fold_dot(a, b):
    """The Catalyst fold, written out scalar-by-scalar."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def test_fold_gram_bit_identical():
    rng = np.random.default_rng(3)
    A = rng.standard_normal((7, 33))
    B = rng.standard_normal((5, 33))
    g = _fold_gram(A, B)
    for i in range(7):
        for j in range(5):
            assert g[i, j] == _seq_fold_dot(A[i], B[j])  # exact, not approx


def test_fold_sqnorm_bit_identical():
    rng = np.random.default_rng(4)
    A = rng.standard_normal((9, 17))
    n = _fold_sqnorm(A)
    for i in range(9):
        assert n[i] == _seq_fold_dot(A[i], A[i])


@pytest.mark.spark
def test_brute_pairs_match_expression_form(spark):
    """The mapInPandas kernel == the former crossJoin + expression form,
    row for row (including the floored x1e6 scores)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").selectExpr(
        "vec_id as pid", "transform(embedding, x -> cast(x as double)) as vec"
    )
    new = {tuple(r) for r in brute_cosine_pairs_x1e6(emb, 0.2).collect()}
    a = emb.selectExpr("pid as id_a", "vec as va")
    b = emb.selectExpr("pid as id_b", "vec as vb")
    sim = F.expr(
        "aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)"
        " / (sqrt(aggregate(transform(va, x -> x * x), cast(0.0 as double), (acc, v) -> acc + v))"
        " * sqrt(aggregate(transform(vb, x -> x * x), cast(0.0 as double), (acc, v) -> acc + v)))"
    )
    old = {
        tuple(r)
        for r in (
            a.crossJoin(F.broadcast(b))
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("sim", sim)
            .where(F.col("sim") >= 0.2)
            .selectExpr("id_a", "id_b",
                        "cast(floor(sim * 1000000.0) as bigint) as sim_x1e6")
            .collect()
        )
    }
    assert new == old and len(new) > 0


@pytest.mark.spark
def test_simhash_canonical_band_equals_distinct(spark):
    """First-shared-band emission == the former any-band + distinct()."""
    from resolve_overlap_and_gap_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sh = dedup.simhash(docs, bits=16).localCheckpoint()
    new = {tuple(r) for r in
           dedup.simhash_neardup_pairs(sh, bits=16, bands=4, max_hamming=3).collect()}
    # former formulation: every shared band emits, then distinct
    rows, mask = 4, 15
    banded = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_idx"),
                     F.shiftright(F.col("simhash"), b * rows)
                     .bitwiseAND(F.lit(mask)).alias("band_val"))
            for b in range(4)
        ])).alias("bk"),
    ).select("doc_id", "simhash", "bk.band_idx", "bk.band_val")
    old = {tuple(r) for r in (
        banded.alias("a").join(banded.alias("b"), ["band_idx", "band_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"),
                F.expr("bit_count(a.simhash ^ b.simhash)").cast("long").alias("hamming"))
        .where(F.col("hamming") <= 3)
        .distinct().collect())}
    assert new == old and len(new) > 0


@pytest.mark.spark
def test_brute_driver_collects_are_bounded(spark, monkeypatch):
    """Both brute baselines collect one side to the driver: above
    DRIVER_COLLECT_MAX_ROWS they refuse and name the scale path; at the
    bound they still run."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").selectExpr(
        "vec_id as pid", "transform(embedding, x -> cast(x as double)) as vec"
    )
    qs = emb.where("pid % 50 = 0").selectExpr("pid as qid", "vec as qvec")
    n_emb, n_qs = emb.count(), qs.count()
    monkeypatch.setattr(similarity, "DRIVER_COLLECT_MAX_ROWS", n_qs - 1)
    with pytest.raises(ValueError, match="ann_lsh / ann_ivf"):
        cosine_topk_bruteforce(emb, qs, 3)
    monkeypatch.setattr(similarity, "DRIVER_COLLECT_MAX_ROWS", n_emb - 1)
    with pytest.raises(ValueError, match="ann_lsh / ann_ivf"):
        brute_cosine_pairs_x1e6(emb, 0.2)
    monkeypatch.setattr(similarity, "DRIVER_COLLECT_MAX_ROWS", n_qs)
    assert cosine_topk_bruteforce(emb, qs, 3).count() == 3 * n_qs
