"""Distributed connected components over an edge list — the dedup-cluster
primitive: near-duplicate PAIRS (MinHash-LSH / SimHash / Jaccard output)
become CLUSTERS, each document labeled with its cluster's min doc id, so
keep-one-per-cluster is a groupBy away.

Two shapes, picked by graph structure:

* ``connected_components`` (here): min-label propagation with pointer
  jumping.  Near-dup graphs are near-cliques (every member pairs with
  most others), so the diameter is tiny and this converges in 2-4 rounds
  of two shuffles each.  NOT for long-chain graphs — a chain of k nodes
  needs ~log k rounds only thanks to pointer jumping, and the constant
  matters; for spatial piece graphs use the hierarchical union-find in
  operators/lines.polygonize_lines, which exploits geometry to do
  ceil(res/4) data-independent rounds.

* the quadtree hierarchical union-find (lines.py) for geometric graphs.

Reference analog: the reference has no clustering (pairs only); this is a
graft addition for the training-data pipeline (SURVEY.md dedup section).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark.geom.core import components

# contracted graphs at or under this many (symmetrized) edges finish on the
# driver (core.components) — a bounded collect (~16 bytes/row) replacing
# several fixed-latency join rounds; larger graphs use the distributed loop
DRIVER_CC_MAX_EDGES = 200_000

# node->rep maps at or under this many rows join as broadcasts (~16 B/row,
# <= ~32 MB built), keeping the heavy edge table un-shuffled through the
# contraction; larger maps fall back to shuffle joins
BROADCAST_REP_MAX_NODES = 2_000_000


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 20,
                         rebalance: bool = True) -> DataFrame:
    """edges: two long columns (undirected; either orientation). Returns
    (id, label) for every node appearing in edges, label = min node id of
    its component.  Driver sees only per-round changed-counts.

    A CONTRACTION pass runs first: rep(u) = min(u, min neighbor) — one
    aggregation — then the iterative propagation runs on the contracted
    edge set (rep(u), rep(v)).  On near-clique dedup graphs every clique
    collapses to its min member immediately, so the heavy edge table is
    touched by exactly one aggregation + one projection join instead of
    once per round (measured ~2.5M simhash pairs at sf0.1: the contracted
    graph is ~10^2 edges).  Exact: u—rep(u) are adjacent (or equal), an
    edge (u,v) induces rep(u)~rep(v), and a component's global min node
    is always its own rep, so lifted labels equal the uncontracted fixed
    point."""
    # checkpoint the EDGE table, not the symmetrized union: the union's two
    # branches would each evaluate the upstream pair pipeline (band joins /
    # cosine kernels) once — 2x the heavy work — and the checkpoint would
    # hold 2x the rows; symmetrizing from the checkpointed edges is a
    # re-read of materialized partitions.  REBALANCE first: the skinny
    # (u, v) rows otherwise keep the upstream operator's partition count
    # (e.g. 64 kernel partitions for a few MB of edges), and every
    # downstream union/join stage here pays that task count again — the
    # AQE rebalance sizes the checkpoint to the data, locally ~1-2
    # partitions, at scale bytes/advisory partitions
    # rebalance=False skips the extra shuffle when the edge plan already
    # ends in an AQE-sized exchange (e.g. a band join) — the checkpoint
    # then inherits sensible partitioning for free
    e = edges.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v"))
    if rebalance:
        e = e.hint("rebalance")
    e = e.localCheckpoint()
    # NO distinct here: duplicate edges are harmless to the min-aggregation
    # and the contracted-graph distinct below runs on the tiny edge set —
    # skipping it saves a full shuffle of the heavy pair table
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    rep0 = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
        F.col("u").alias("id"), F.least(F.col("u"), F.col("mn")).alias("rep")
    ).localCheckpoint()
    # the node map is one row per node — when it fits a broadcast (gated
    # by an explicit row bound; one cheap count on the checkpoint), the
    # pointer-jump self-join and BOTH contraction projection joins run as
    # broadcast-hash joins, so the heavy edge table is never shuffled by
    # them (guide §3.1).  Above the bound the shuffle joins run unchanged.
    n_nodes = rep0.count()
    small_map = n_nodes <= BROADCAST_REP_MAX_NODES
    # one pointer jump on the rep map itself (rep <- rep[rep]) BEFORE
    # contracting: on near-clique dedup graphs most nodes reach the clique
    # min here, so the contracted edge set shrinks toward empty and the
    # iterative loop is usually a single confirm round.  Exact: rep(u) is
    # in u's component and monotonically non-increasing, and a component's
    # min node is always its own rep, so the contraction-validity argument
    # above is unchanged with rep2 in place of rep.
    rmap = rep0.select(F.col("id").alias("_rid"), F.col("rep").alias("_rrep"))
    if small_map:
        rmap = F.broadcast(rmap)
    rep = rep0.join(rmap, rep0["rep"] == rmap["_rid"], "left").select(
        "id", F.coalesce("_rrep", "rep").alias("rep")
    ).localCheckpoint()
    # contract over the UN-symmetrized edges (half the join rows — the
    # reversed copies would only produce the mirrored contracted edges the
    # canonical distinct + final symmetrization regenerate anyway), dedup
    # in canonical (min, max) orientation so the distinct shuffles half
    # the rows, then symmetrize the tiny result
    rp_u = rep.select(F.col("id").alias("u"), F.col("rep").alias("ru"))
    rp_v = rep.select(F.col("id").alias("v"), F.col("rep").alias("rv"))
    if small_map:
        rp_u = F.broadcast(rp_u)
        rp_v = F.broadcast(rp_v)
    ce = (
        e.join(rp_u, "u")
        .join(rp_v, "v")
        .where(F.col("ru") != F.col("rv"))
        .select(F.least("ru", "rv").alias("u"), F.greatest("ru", "rv").alias("v"))
        .distinct()
    )
    sym = ce.unionByName(ce.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.localCheckpoint()
    # the contracted graph is tiny on near-clique dedup inputs (~10^2 edges
    # from 2.5M simhash pairs at sf0.1).  When it fits a hard row bound,
    # finish it on the driver (core.components) instead of the iterative join
    # loop: one bounded collect (<= ~3 MB) replaces 3+ fixed-latency Spark
    # jobs per propagation round.  The bound keeps the transfer O(small) —
    # above it (long-chain graphs at scale) the distributed loop runs
    # unchanged.
    n_ce = sym.count()
    if n_ce == 0:
        return rep.select("id", F.col("rep").alias("label"))
    if n_ce <= DRIVER_CC_MAX_EDGES:
        import numpy as np
        import pandas as pd

        pdf = sym.toPandas()
        uu = pdf["u"].to_numpy(np.int64)
        vv = pdf["v"].to_numpy(np.int64)
        ids, inv = np.unique(np.concatenate([uu, vv]), return_inverse=True)
        # ids are sorted: a component's min index is its min original id
        lab = ids[components(len(ids), inv[: len(uu)], inv[len(uu):])]
        spark = edges.sparkSession
        labels = spark.createDataFrame(
            pd.DataFrame({"rep": ids, "label": lab}))
        return rep.join(F.broadcast(labels), "rep", "left").select(
            "id", F.coalesce("label", "rep").alias("label")
        )
    labels = sym.select(F.col("u").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    for _ in range(max_iter):
        nbr = (
            sym.join(labels.withColumnRenamed("id", "v")
                     .withColumnRenamed("label", "nl"), "v")
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("nl").alias("nbr_min"))
        )
        upd = labels.join(nbr, "id", "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nbr_min", "label")).alias("label"),
            F.col("label").alias("_old"),
        )
        # pointer jumping: label <- label's label (aliased self-join; the
        # un-aliased form silently degrades to a trivial condition)
        lmap = upd.select(F.col("id").alias("_lid"), F.col("label").alias("_ll"))
        upd = upd.join(lmap, upd["label"] == lmap["_lid"], "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("_ll", "label")).alias("label"),
            "_old",
        ).localCheckpoint()
        changed = upd.where(F.col("label") != F.col("_old")).count()
        labels = upd.select("id", "label")
        if changed == 0:
            break
    # lift contracted labels back to every original node; reps whose whole
    # component collapsed in the contraction (no contracted edge) keep
    # their rep as the label
    return rep.join(labels.withColumnRenamed("id", "rep"), "rep", "left").select(
        "id", F.coalesce("label", "rep").alias("label")
    )


def dedup_clusters(docs: DataFrame, pairs: DataFrame,
                   id_col: str = "doc_id",
                   rebalance: bool = True) -> DataFrame:
    """(doc_id, cluster_id) for EVERY document: cluster_id = min doc id of
    its near-dup component; singletons cluster with themselves.  Keep-one
    = ``where doc_id == cluster_id``."""
    labels = connected_components(pairs, rebalance=rebalance)
    return (
        docs.select(F.col(id_col).cast("long").alias("doc_id"))
        .join(labels.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select("doc_id", F.coalesce("label", "doc_id").alias("cluster_id"))
    )


PR_SCALE = 10 ** 12


def pagerank(edges: DataFrame, n_iter: int = 5,
             damping: tuple[int, int] = (85, 100),
             scale: int = PR_SCALE) -> DataFrame:
    """PageRank in EXACT integer arithmetic — ranks are bigints scaled by
    ``scale``; each iteration is rank = base + d * sum(rank[src] div
    deg[src]) div den with integer division throughout, so the result is
    independent of aggregation order (float PageRank is not: distributed
    double sums reorder across runs) and a SQL oracle reproduces it bit
    for bit.  Dangling-node mass is dropped (the simplified variant);
    nodes with no in-links hold the base mass.

    Scale shape: per iteration one equi-join (edges x ranks, shuffled on
    src — degree skew on celebrity pages is an AQE skew-join case) + one
    groupBy(dst) with map-side partial sums.  The edge projection and the
    degree table are localCheckpoint()ed ONCE (each iteration otherwise
    re-scans the input and re-aggregates degrees), and ranks are
    checkpointed every OTHER round instead of every round — enough to
    truncate the iterative lineage, at half the fixed action latency
    (measured 4.9 -> 1.4 s at sf0.1 with bit-identical ranks; the final
    round stays lazy so the caller's action does the last materialize).
    Overflow bound: sum of in-contribs < n * scale must stay under 2^63 —
    scale=1e12 holds to ~9M incoming edges per node; lower `scale` for
    denser graphs.

    Output: (id, rank_int)."""
    num, den = damping
    base = (den - num) * scale // den
    e = edges.selectExpr("cast(src as bigint) as src",
                         "cast(dst as bigint) as dst").localCheckpoint()
    nodes = (e.selectExpr("src as id").union(e.selectExpr("dst as id"))
             .distinct().localCheckpoint())
    deg = e.groupBy("src").agg(F.count("*").alias("d")).localCheckpoint()
    r = nodes.withColumn("r", F.lit(scale).cast("long"))
    for i in range(n_iter):
        inc = (e.join(r.withColumnRenamed("id", "src"), "src")
               .join(deg, "src")
               .selectExpr("dst as id", "r div d as c")
               .groupBy("id").agg(F.sum("c").alias("inc")))
        r = (nodes.join(inc, "id", "left")
             .selectExpr(
                 "id",
                 f"cast({base} + ({num} * coalesce(inc, 0)) div {den} "
                 "as bigint) as r"))
        if (i + 1) % 2 == 0 and i + 1 < n_iter:
            r = r.localCheckpoint()
    return r.selectExpr("id", "r as rank_int")


def pagerank_duckdb_sql(edges_sql: str, n_iter: int = 5,
                        damping: tuple[int, int] = (85, 100),
                        scale: int = PR_SCALE) -> str:
    """DuckDB twin of pagerank: the iteration statically unrolled into
    chained CTEs (same integer arithmetic, same keep rules)."""
    num, den = damping
    base = (den - num) * scale // den
    parts = [
        f"e as ({edges_sql})",
        "nodes as (select src as id from e union select dst as id from e)",
        "deg as (select src, count(*) as d from e group by src)",
        f"r0 as (select id, cast({scale} as bigint) as r from nodes)",
    ]
    for i in range(1, n_iter + 1):
        parts.append(f"""r{i} as (
          select n.id,
                 cast({base} + ({num} * coalesce(s.inc, 0)) // {den}
                      as bigint) as r
          from nodes n left join (
            select e.dst as id, sum(r.r // deg.d) as inc
            from e join r{i - 1} r on e.src = r.id
                   join deg on deg.src = e.src
            group by e.dst) s on n.id = s.id)""")
    return ("with " + ",\n".join(parts)
            + f"\nselect id, r as rank_int from r{n_iter}")
