"""Similarity search over an embedding column (array<float>).

* ``cosine_topk_bruteforce`` — exact baseline: JVM-side dot products via
  zip_with/aggregate (no Python), window top-k.
* ``lsh_ann_topk`` — scale path: random-hyperplane LSH bucketing computed in
  a vectorized pandas UDF (one numpy matmul per Arrow batch — never per-row
  Python), candidates = same-bucket pairs, exact re-rank inside buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

# the brute-force baselines collect one side to the driver; above this many
# rows that side is no longer small, and the caller belongs on the scale
# paths (lsh_ann_topk / ivf_ann_topk, the ann_lsh / ann_ivf queries)
DRIVER_COLLECT_MAX_ROWS = 200_000


def _collect_bounded(df: DataFrame, what: str) -> list:
    """df.collect() with at most DRIVER_COLLECT_MAX_ROWS + 1 rows reaching
    the driver (no separate count job); more than the bound raises."""
    rows = df.limit(DRIVER_COLLECT_MAX_ROWS + 1).collect()
    if len(rows) > DRIVER_COLLECT_MAX_ROWS:
        raise ValueError(
            f"{what}: more than {DRIVER_COLLECT_MAX_ROWS} rows to collect to "
            "the driver; use the scale path (lsh_ann_topk / ivf_ann_topk, "
            "queries ann_lsh / ann_ivf)")
    return rows


def _fold_gram(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(|A|, |B|) dot-product matrix accumulated dimension by dimension —
    the SAME left-fold order (and therefore bit-identical IEEE doubles) as
    the Catalyst expression ``aggregate(zip_with(a, b, (x, y) -> x * y),
    0.0D, (acc, v) -> acc + v)`` that the JVM path evaluates per pair.
    np.dot/BLAS would use pairwise/FMA summation and drift in the last ulp,
    which floor(sim * 1e6) oracles can observe."""
    acc = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):
        acc += A[:, d, None] * B[None, :, d]
    return acc


def _fold_sqnorm(A: np.ndarray) -> np.ndarray:
    """Per-row left-fold of x*x (bit-identical to the Catalyst expression
    ``aggregate(v, 0.0D, (s, x) -> s + x * x)`` before its sqrt)."""
    acc = np.zeros(A.shape[0])
    for d in range(A.shape[1]):
        acc += A[:, d] * A[:, d]
    return acc


def cosine_topk_bruteforce(emb: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """emb: (pid, vec array<double>); queries: (qid, qvec array<double>).
    Returns (qid, pid, rank, sim). Ties by pid; self-match excluded.

    The pair scoring runs as one numpy fold per Arrow batch against the
    collected query matrix (brute baseline: the query side is small and
    was already broadcast in the join formulation) instead of a
    crossJoin evaluating interpreted Catalyst lambda folds per pair —
    sims are bit-identical (_fold_gram), the final top-k window is
    unchanged."""
    sc = emb.sparkSession.sparkContext
    q_rows = sorted(_collect_bounded(queries.select("qid", "qvec"),
                                     "cosine_topk_bruteforce queries"),
                    key=lambda r: r.qid)
    qids = np.array([r.qid for r in q_rows], dtype=np.int64)
    Q = np.array([r.qvec for r in q_rows], dtype=np.float64)
    q_b = sc.broadcast((qids, Q))
    emb = emb.select("pid", "vec").repartition(sc.defaultParallelism * 2)

    def score(batches):
        qi, qm = q_b.value
        qn = np.sqrt(_fold_sqnorm(qm))
        for pdf in batches:
            if not len(pdf):
                continue
            pids = pdf["pid"].to_numpy(dtype=np.int64)
            A = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            sims = _fold_gram(A, qm) / (np.sqrt(_fold_sqnorm(A))[:, None] * qn[None, :])
            keep = pids[:, None] != qi[None, :]
            ii, jj = np.nonzero(keep)
            yield pd.DataFrame({
                "qid": qi[jj], "pid": pids[ii], "sim": sims[ii, jj]})

    scored = emb.mapInPandas(score, "qid long, pid long, sim double")
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("pid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "pid", "rank", "sim")
    )


def brute_cosine_pairs_x1e6(emb: DataFrame, threshold: float,
                            chunk_cap: int = 4_000_000) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold, sim floored x1e6 —
    the brute near-dup baseline.  One numpy fold per Arrow batch against
    the collected embedding matrix (same O(n) driver/executor transfer the
    previous crossJoin(broadcast) formulation paid, ~n*d*8 bytes) instead
    of materializing n^2/2 join rows through interpreted Catalyst lambda
    folds.  Sims are bit-identical to the expression form (_fold_gram
    docstring); output: (id_a, id_b, sim_x1e6)."""
    sc = emb.sparkSession.sparkContext
    rows = sorted(_collect_bounded(emb.select("pid", "vec"),
                                   "brute_cosine_pairs_x1e6 embeddings"),
                  key=lambda r: r.pid)
    ids = np.array([r.pid for r in rows], dtype=np.int64)
    B = np.array([r.vec for r in rows], dtype=np.float64)
    b_b = sc.broadcast((ids, B))
    emb = emb.select("pid", "vec").repartition(sc.defaultParallelism * 2)

    def score(batches):
        bi, bm = b_b.value
        bn = np.sqrt(_fold_sqnorm(bm))
        # sub-chunk so the (m, n) fold matrix stays bounded regardless of
        # Arrow batch size (chunk_cap doubles ~ 32 MB at the default)
        step = max(1, chunk_cap // max(len(bi), 1))
        for pdf in batches:
            for lo in range(0, len(pdf), step):
                sub = pdf.iloc[lo:lo + step]
                if not len(sub):
                    continue
                pids = sub["pid"].to_numpy(dtype=np.int64)
                A = np.stack(sub["vec"].to_numpy()).astype(np.float64)
                sims = _fold_gram(A, bm) / (
                    np.sqrt(_fold_sqnorm(A))[:, None] * bn[None, :])
                keep = (pids[:, None] < bi[None, :]) & (sims >= threshold)
                ii, jj = np.nonzero(keep)
                yield pd.DataFrame({
                    "id_a": pids[ii], "id_b": bi[jj],
                    "sim_x1e6": np.floor(sims[ii, jj] * 1000000.0).astype(np.int64),
                })

    return emb.mapInPandas(score, "id_a long, id_b long, sim_x1e6 long")


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def auto_planes(n_rows: int, target_bucket: int = 64,
                min_planes: int = 4, max_planes: int = 28) -> int:
    """Plane count scaled to the corpus (the knn.auto_res analog): the
    within-bucket join is quadratic per bucket, so the plane count must
    grow with log2(n) — p = ceil(log2(n / target_bucket)) puts the
    EXPECTED bucket occupancy n/2^p near target_bucket at any corpus
    size (a fixed 8 planes would leave ~n/256 vectors per bucket at
    100 TB).  Clamped: too many planes fragments true neighbors.
    Deterministic — no data-dependent randomness."""
    import math

    if n_rows <= target_bucket:
        return min_planes
    p = math.ceil(math.log2(n_rows / target_bucket))
    return max(min_planes, min(max_planes, p))


def with_lsh_bucket(emb: DataFrame, dim: int, n_planes: int | None = 12,
                    seed: int = 42, vec_col: str = "vec") -> DataFrame:
    """Sign-random-projection bucket id per vector — one numpy matmul per
    Arrow batch (vectorized pandas UDF; the mandated no-per-row-Python
    path).

    BEHAVIOR NOTE (since round 3): n_planes=None derives the plane count
    from the corpus size via auto_planes — that takes one count() action,
    so the input is localCheckpoint()ed first to avoid silently evaluating
    an expensive upstream plan twice; callers passing an explicit n_planes
    pay no extra action and keep round-2 bucket ids."""
    if n_planes is None:
        emb = emb.localCheckpoint()
        n_planes = auto_planes(emb.count())
    planes = _hyperplanes(dim, n_planes, seed)
    emb = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism * 2)

    @F.pandas_udf(T.LongType())
    def bucket(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy())  # (batch, dim)
        signs = (m @ planes.T) > 0  # (batch, n_planes)
        weights = (1 << np.arange(n_planes, dtype=np.int64))
        return pd.Series(signs.astype(np.int64) @ weights)

    return emb.withColumn("bucket", bucket(F.col(vec_col)))


def auto_centroids(n_rows: int, min_c: int = 8, max_c: int = 65536) -> int:
    """sqrt-n inverted-list count (the standard IVF sizing rule): with
    ~sqrt(n) lists, expected list occupancy AND the probed-candidate count
    both grow as sqrt(n) instead of n — a fixed 16 would leave n/16
    vectors per list at 100 TB (i.e. brute force).  Clamped: 65536 lists
    x dim doubles is the centroid table the driver must broadcast to the
    assign kernel (~64 MB at dim=128 — the flat-centroid ceiling; beyond
    it you shard the coarse quantizer itself)."""
    import math

    return max(min_c, min(max_c, int(math.ceil(math.sqrt(max(n_rows, 1))))))


def _lloyd_stats(emb: DataFrame, cents: np.ndarray, vec_col: str) -> list:
    """One distributed Lloyd statistics pass with a BOUNDED driver
    transfer: each task assigns its Arrow batches to the nearest centroid
    and accumulates per-centroid (raw-vector sum, count) locally, so only
    the non-empty per-task partials (<= n_centroids rows per task) enter
    the shuffle; a higher-order zip_with fold then reduces them to ONE
    array row per centroid.  The driver collects O(n_centroids) rows —
    never n rows, never n_centroids x dim scalar rows.  Assignment
    normalizes vectors (cosine); sums are of the raw vectors, matching
    the mean/renormalize centroid update."""
    from typing import Iterator

    c, d = cents.shape

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sums = np.zeros((c, d))
        cnt = np.zeros(c, np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
            a = np.argmax(mn @ cents.T, axis=1)
            np.add.at(sums, a, m)
            cnt += np.bincount(a, minlength=c)
            seen = True
        if seen:
            nz = np.nonzero(cnt)[0]
            yield pd.DataFrame({
                "centroid_id": nz.astype(np.int32),
                "ps": [sums[i].tolist() for i in nz],
                "n": cnt[nz]})

    part = emb.select(vec_col).mapInPandas(
        partials, "centroid_id int, ps array<double>, n long")
    agg = (part.groupBy("centroid_id")
           .agg(F.aggregate(
                    F.collect_list("ps"),
                    F.array_repeat(F.lit(0.0), d),
                    lambda acc, x: F.zip_with(acc, x, lambda p, q: p + q)
                ).alias("s"),
                F.sum("n").alias("n")))
    return agg.collect()


def ivf_build(emb: DataFrame, dim: int, n_centroids: int | None = None,
              lloyd_iters: int = 2, seed: int = 7,
              vec_col: str = "vec") -> tuple[DataFrame, np.ndarray]:
    """IVF coarse index: deterministic hash-seeded centroids refined by a
    fixed number of Lloyd iterations, then every vector assigned to its
    nearest centroid — the inverted-file partitioning used for
    billion-scale ANN. Returns (assigned_df with `centroid_id`, centroids).

    n_centroids=None auto-sizes to ~sqrt(n) lists (one count() action —
    the input is localCheckpoint()ed first so the count and the Lloyd
    passes don't re-evaluate an expensive upstream plan).  Each Lloyd
    iteration is one `_lloyd_stats` pass: assignment + per-centroid
    partial sums fused in a single mapInPandas task pass, reduced to one
    array row per centroid, so the shuffle carries <= tasks x n_centroids
    rows and the driver collects O(n_centroids) rows; the driver-side
    update is a single vectorized numpy scatter — no per-centroid Python
    loop, so 10^4-10^5 lists update in milliseconds."""
    if n_centroids is None:
        emb = emb.localCheckpoint()
        n_centroids = auto_centroids(emb.count())
    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((n_centroids, dim)).astype(np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    # spread before the assign UDF: a small parquet is one input split and
    # every Lloyd iteration would otherwise run single-task
    emb = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism * 2)

    def assign_udf(cents_arr: np.ndarray):
        @F.pandas_udf(T.IntegerType())
        def assign(v: pd.Series) -> pd.Series:
            m = np.stack(v.to_numpy()).astype(np.float64)
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
            return pd.Series(np.argmax(m @ cents_arr.T, axis=1).astype(np.int32))
        return assign

    for _ in range(lloyd_iters):
        rows = _lloyd_stats(emb, cents, vec_col)
        cid = np.fromiter((r.centroid_id for r in rows), np.int64, len(rows))
        sums = np.zeros((n_centroids, dim))
        cnt = np.zeros(n_centroids)
        if rows:
            sums[cid] = np.stack([np.asarray(r.s, np.float64) for r in rows])
            cnt[cid] = np.fromiter((r.n for r in rows), np.float64, len(rows))
        mean = sums / np.maximum(cnt, 1.0)[:, None]
        norm = np.linalg.norm(mean, axis=1)
        good = (cnt > 0) & (norm > 0)
        new = cents.copy()
        new[good] = mean[good] / norm[good][:, None]
        cents = new
    assigned = emb.withColumn("centroid_id", assign_udf(cents)(F.col(vec_col)))
    return assigned, cents


def ivf_ann_topk(emb: DataFrame, queries: DataFrame, k: int, dim: int,
                 n_centroids: int | None = None, nprobe: int | None = None,
                 seed: int = 7) -> DataFrame:
    """IVF search: queries probe their nprobe nearest centroid lists; the
    candidate join is an equi-join on centroid_id (one shuffle), exact
    cosine re-rank inside. Approximate: recall governed by nprobe.

    Defaults: n_centroids=None -> ~sqrt(n) lists (auto_centroids);
    nprobe=None -> max(4, n_centroids/4) — a recall-first setting sized
    for the ISOTROPIC worst case, where recall ~ the probed-list share
    (ann_invariants pins recall >= 40% on random embeddings).  Clustered
    real corpora concentrate neighbors in few lists; pass an explicit
    nprobe (~sqrt(n_centroids)) there for sqrt-n probe cost."""
    assigned, cents = ivf_build(emb, dim, n_centroids, seed=seed)
    n_centroids = cents.shape[0]
    if nprobe is None:
        nprobe = max(4, -(-n_centroids // 4))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy()).astype(np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
        order = np.argsort(-(m @ cents.T), axis=1)[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    q = queries.withColumn("centroid_id", F.explode(probes(F.col("qvec"))))
    # Per-LIST numpy kernel (cogroup on centroid_id): score the list's
    # vectors against the queries probing it with the bit-identical fold
    # and keep each query's per-list exact top-k — a candidate outside a
    # list's top-k for a query can never enter its global top-k, so the
    # final window over <= nprobe*k candidate rows per query returns
    # exactly what the former join-every-pair + global window did, with
    # each vector shipped once per list instead of once per (query, pair)
    # row (guide §2.3/§4.2).
    def kernel(key, vecs: pd.DataFrame, qs: pd.DataFrame) -> pd.DataFrame:
        if not len(vecs) or not len(qs):
            return pd.DataFrame(columns=["qid", "pid", "sim"])
        pids = vecs["pid"].to_numpy(dtype=np.int64)
        order = np.argsort(pids, kind="stable")
        pids = pids[order]
        M = np.stack(vecs["vec"].to_numpy()[order]).astype(np.float64)
        qids = qs["qid"].to_numpy(dtype=np.int64)
        Q = np.stack(qs["qvec"].to_numpy()).astype(np.float64)
        sims = _fold_gram(M, Q) / (
            np.sqrt(_fold_sqnorm(M))[:, None] * np.sqrt(_fold_sqnorm(Q))[None, :])
        top = np.argsort(-sims, axis=0, kind="stable")[: k + 1, :]
        qid_out, pid_out, sim_out = [], [], []
        for j in range(len(qids)):
            cand = top[:, j]
            cand = cand[pids[cand] != qids[j]][:k]
            if not len(cand):
                continue
            qid_out.append(np.full(len(cand), qids[j]))
            pid_out.append(pids[cand])
            sim_out.append(sims[cand, j])
        if not qid_out:
            return pd.DataFrame(columns=["qid", "pid", "sim"])
        return pd.DataFrame({"qid": np.concatenate(qid_out),
                             "pid": np.concatenate(pid_out),
                             "sim": np.concatenate(sim_out)})

    scored = (assigned.select("centroid_id", "pid", "vec").groupBy("centroid_id")
              .cogroup(q.select("centroid_id", "qid", "qvec").groupBy("centroid_id"))
              .applyInPandas(kernel, "qid long, pid long, sim double"))
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("pid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "pid", "rank", "sim")
    )


def _bucket_topk_rows(ids: np.ndarray, M: np.ndarray, k: int):
    """Within-bucket exact top-k per member: sims via the bit-identical
    fold (_fold_gram), ordering (sim desc, pid asc) realized as a STABLE
    argsort over rows pre-sorted by pid — exactly row_number() semantics.
    Yields (qid, pid, rank, sim) numpy columns."""
    order = np.argsort(ids, kind="stable")
    ids, M = ids[order], M[order]
    n = np.sqrt(_fold_sqnorm(M))
    sims = _fold_gram(M, M) / (n[:, None] * n[None, :])
    qid_out, pid_out, rank_out, sim_out = [], [], [], []
    # stable sort on -sim keeps the pid-ascending tie order
    top = np.argsort(-sims, axis=0, kind="stable")[: k + 1, :]
    for j in range(len(ids)):
        cand = top[:, j]
        cand = cand[cand != j][:k]
        if not len(cand):
            continue
        qid_out.append(np.full(len(cand), ids[j]))
        pid_out.append(ids[cand])
        rank_out.append(np.arange(1, len(cand) + 1, dtype=np.int32))
        sim_out.append(sims[cand, j])
    if not qid_out:
        return None
    return (np.concatenate(qid_out), np.concatenate(pid_out),
            np.concatenate(rank_out), np.concatenate(sim_out))


def lsh_ann_topk(emb: DataFrame, k: int, dim: int, n_planes: int | None = None,
                 seed: int = 42) -> DataFrame:
    """ANN all-pairs: candidates share an LSH bucket; exact cosine re-rank in
    the bucket. ONE groupBy(bucket) shuffle of (pid, vec) feeds a numpy
    kernel that computes the within-bucket sim matrix and each member's
    top-k in one shot — the former bucket self-join shipped every vector
    once per candidate PAIR and scored it with interpreted Catalyst lambda
    folds; this ships each vector once per bucket (guide §2.3/§4.2).  A
    vector belongs to exactly one bucket, so per-bucket top-k IS the global
    top-k; sims are bit-identical (_fold_gram) and the (sim desc, pid asc)
    order matches the former row_number window.  n_planes defaults to
    auto_planes(corpus size) so the per-bucket quadratic stays bounded as
    the corpus grows."""
    b = with_lsh_bucket(emb, dim, n_planes, seed)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["pid"].to_numpy(dtype=np.int64)
        M = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        out = _bucket_topk_rows(ids, M, k)
        if out is None:
            return pd.DataFrame(columns=["qid", "pid", "rank", "sim"])
        qid, pid, rank, sim = out
        return pd.DataFrame({"qid": qid, "pid": pid, "rank": rank, "sim": sim})

    return (b.select("bucket", "pid", "vec").groupBy("bucket")
            .applyInPandas(kernel, "qid long, pid long, rank int, sim double"))


def quantize_embeddings(emb: DataFrame, vec_col: str = "vec",
                        id_col: str = "pid") -> DataFrame:
    """Symmetric per-dimension int8 scalar quantization — the embedding
    STORAGE step of a 100 TB ANN pipeline (4x smaller vectors before the
    IVF/LSH index): scale_d = max|x_d| over the corpus, q = floor(x *
    127 / scale_d + 0.5) clamped to [-127, 127].

    All JVM: one posexplode + groupBy(dim) aggregation for the scales
    (map-side combine -> the shuffle is O(partitions x dims), never
    O(rows x dims)), the d-row scale dim broadcast back, and the
    quantization itself a zip_with over the re-collected array.  The
    floor(+0.5) rounding spelling is used instead of round() because
    Spark and DuckDB disagree on round-half ties; floor(+0.5) is
    identical in both engines, so the quantized ints are oracle-exact.

    Returns (id, qvec array<int>, scales array<double>)."""
    spark = emb.sparkSession
    x = emb.select(
        F.col(id_col).alias("pid"),
        F.posexplode(vec_col).alias("i", "x"))
    # sort_array(collect_list(struct)) — NOT orderBy-then-collect_list,
    # whose order an aggregation does not contractually preserve
    scales = (x.groupBy("i").agg(F.max(F.abs(F.col("x"))).alias("mx"))
              .agg(F.expr("transform(sort_array(collect_list(struct(i, mx))),"
                          " s -> s.mx)").alias("scales")))
    return (emb.select(F.col(id_col).alias("pid"), F.col(vec_col).alias("v"))
            .crossJoin(F.broadcast(scales))
            .select(
                "pid",
                F.expr(
                    "zip_with(v, scales, (x, s) -> cast(case when s = 0.0 "
                    "then 0 else greatest(-127, least(127, "
                    "floor(x * 127.0 / s + 0.5))) end as int))"
                ).alias("qvec"),
                "scales",
            ))
