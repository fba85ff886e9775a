"""Cell-indexed spatial joins — the engine's workhorse operators.

The reference's universal access path is an R-tree bbox join
(``t.geom && g.geom``, function_resolve_overlap_gap_init.sql:195-199 and
find_overlap_and_gap-pre.sql:556-585). Spark has no R-trees; the idiomatic
replacement is: explode each feature to the grid cells its bbox covers, then
**equi-join on cell_id** — a shuffle/broadcast hash join Catalyst can plan,
prune, and AQE-skew-split. Every operator here is pure DataFrame built-ins
(whole-stage codegen; zero Python).

Pair dedup without a distinct(): a candidate pair found in several shared
cells is emitted only in the canonical cell containing the top-left corner of
the bbox-intersection — the same "canonical owner" rule the reference uses
for border lines and faces (min grid id: view_get_left_over_borders.sql:15-28,
function_resolve_overlap_gap_single_cell.sql:820-831) — so no
shuffle-for-distinct is needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from resolve_overlap_and_gap_spark import grid


def points_with_cell(points: DataFrame, res: int, lon: str = "px", lat: str = "py") -> DataFrame:
    return points.withColumn("cell_id", grid.cell_id_col(F.col(lon), F.col(lat), res))


def boxes_with_cells(boxes: DataFrame, res: int) -> DataFrame:
    """Explode each box to its covering cells (J1 key generation).

    JVM-side sequence()+explode; one output row per (box, cell)."""
    return boxes.withColumn(
        "cell_id",
        F.explode(
            grid.covering_cells_col(
                F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), res
            )
        ),
    )


def point_in_box_join(
    points: DataFrame,
    boxes: DataFrame,
    res: int,
    broadcast_boxes: bool | None = None,
) -> DataFrame:
    """Point-in-polygon join for axis-aligned footprints (J1 + P1/P2).

    Containment is half-open ([min, max)) so a point on a shared edge matches
    exactly one box edge-neighbor — the determinism requirement of the
    reference's exact-match outputs (SURVEY.md §2.6 O1).

    Each point has exactly ONE cell at ``res`` while a box covers a set of
    DISTINCT cells, so the cell equi-join emits each matching pair at most
    once: no dedup shuffle needed.
    """
    p = points_with_cell(points, res)
    b = boxes_with_cells(boxes, res)
    if broadcast_boxes:
        b = F.broadcast(b)
    return p.join(b, "cell_id").where(
        (F.col("px") >= F.col("xmin"))
        & (F.col("px") < F.col("xmax"))
        & (F.col("py") >= F.col("ymin"))
        & (F.col("py") < F.col("ymax"))
    )


def _canonical_pair_cell(res: int) -> Column:
    """Cell of the intersection bbox's min corner — the unique cell in which
    a candidate pair is reported (canonical-owner dedup, J4/J8 analog)."""
    ix = F.greatest(F.col("a.xmin"), F.col("b.xmin"))
    iy = F.greatest(F.col("a.ymin"), F.col("b.ymin"))
    return grid.cell_id_col(ix, iy, res)


def box_overlap_pairs(boxes: DataFrame, res: int, id_col: str = "id") -> DataFrame:
    """Overlap self-join (J2, find_overlap_and_gap-pre.sql:618-646 semantics
    on bbox footprints): pairs (a<b) with positive-area intersection, plus
    the intersection box. One shuffle (cell equi-join); canonical-cell rule
    dedups pairs found in multiple shared cells."""
    a = boxes_with_cells(boxes, res).alias("a")
    b = boxes_with_cells(boxes, res).alias("b")
    j = (
        a.join(b, "cell_id")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .where(
            (F.col("a.xmin") < F.col("b.xmax"))
            & (F.col("b.xmin") < F.col("a.xmax"))
            & (F.col("a.ymin") < F.col("b.ymax"))
            & (F.col("b.ymin") < F.col("a.ymax"))
        )
        .where(F.col("cell_id") == _canonical_pair_cell(res))
    )
    return j.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.greatest(F.col("a.xmin"), F.col("b.xmin")).alias("ixmin"),
        F.greatest(F.col("a.ymin"), F.col("b.ymin")).alias("iymin"),
        F.least(F.col("a.xmax"), F.col("b.xmax")).alias("ixmax"),
        F.least(F.col("a.ymax"), F.col("b.ymax")).alias("iymax"),
    )


def content_balanced_cells(
    points: DataFrame,
    base_res: int,
    max_res: int,
    max_rows_in_each_cell: int,
    lon: str = "px",
    lat: str = "py",
    with_hot: bool = False,
) -> DataFrame:
    """Content-balanced grid: refine any cell holding more than
    ``max_rows_in_each_cell`` points to its children, repeatedly — the exact
    semantic of cbg_content_based_balanced_grid
    (find_overlap_and_gap-pre.sql:208-236), with Morton children instead of
    quadrants. Returns (cell_id, n_rows, res); with_hot additionally
    returns {res: hot-cell DataFrame} for the levels that refined.

    FULLY DISTRIBUTED, AT MOST TWO PASSES over the points: a base-level
    probe histogram (on uniform data nothing is hot and that single
    aggregation IS the whole call — the fixed-res cost), then, only if
    hot cells exist, ONE more explode + groupBy((res, cell)) aggregation
    histograms every deeper candidate resolution together (map-side
    partial combine keeps the shuffle O(cells), not O(points x levels)),
    checkpointed once.  The
    level-by-level hot determination then cascades over that SMALL
    histogram — hot(r+1) = (n_rows > max) AND parent IN hot(r), a chain of
    semi-joins between per-level cell dims AQE broadcasts — so refining
    never re-keys or re-shuffles the points and never eagerly checkpoints
    a point subset per level (the round-4 shape: L aggregations + L count
    actions + L-1 point checkpoints; at 100 TB that is L full passes over
    the corpus vs this version's <= 2).  The only driver-side values are
    the base hot-cell count plus one small per-level raw-hot-count
    collect used to prune levels that
    cannot refine; a million-cell frontier never materializes as Python
    rows or an isin literal (the round-3 bottleneck; the repo's own Pareto
    study showed a ~5k-literal isin already costs more than shipping the
    rows).

    Semantics are unchanged from the iterative version: a level-(r+1)
    cell's point count is identical whether counted over all points or
    only over points inside hot level-r parents (a cell's points all lie
    in its parent), so counting every level up front commutes with the
    refinement.
    """
    levels = list(range(base_res, max_res + 1))

    def hist_at(rs: list[int]) -> DataFrame:
        keyed = points.select(
            F.explode(F.array(*[
                F.struct(
                    F.lit(r).cast("int").alias("res"),
                    grid.cell_id_col(F.col(lon), F.col(lat), r)
                    .alias("cell_id"),
                )
                for r in rs
            ])).alias("rc")
        ).select("rc.res", "rc.cell_id")
        return (keyed.groupBy("res", "cell_id")
                .agg(F.count("*").alias("n_rows"))
                .localCheckpoint(eager=True))

    # Two-phase probe: the base level alone first — on (near-)uniform
    # data nothing is hot and the whole call is ONE aggregation, exactly
    # the fixed-res cost (exploding every candidate level up front would
    # pay max_res - base_res extra point passes for nothing; measured 2x
    # on the uniform sf0.1 bench layer).  Only when the base level has
    # hot cells does phase B histogram the deeper levels, all in one
    # more pass.
    hist0 = hist_at([base_res])
    n_hot0 = hist0.where(F.col("n_rows") > max_rows_in_each_cell).count()
    if n_hot0 == 0 or base_res >= max_res:
        out0 = hist0.select("cell_id", "n_rows", "res")
        if with_hot:
            return out0, {}
        return out0
    hist = hist0.unionByName(hist_at(levels[1:]))
    raw_hot = {base_res: n_hot0}
    raw_hot.update({
        r["res"]: r["n"]
        for r in hist.where(F.col("n_rows") > max_rows_in_each_cell)
        .groupBy("res").agg(F.count("*").alias("n")).collect()
    })
    frontier: list[DataFrame] = []
    hot_by_res: dict[int, DataFrame] = {}
    prev_hot: DataFrame | None = None
    for r in levels:
        cur = hist.where(F.col("res") == r)
        if prev_hot is not None:
            cur = (cur.withColumn("_parent", grid.ancestor_col(F.col("cell_id"), r - 1))
                   .join(prev_hot.withColumnRenamed("cell_id", "_parent"),
                         "_parent", "left_semi")
                   .drop("_parent"))
        if r >= max_res or not raw_hot.get(r):
            frontier.append(cur)
            break
        hot = (cur.where(F.col("n_rows") > max_rows_in_each_cell)
               .select("cell_id"))
        frontier.append(cur.where(F.col("n_rows") <= max_rows_in_each_cell))
        hot_by_res[r] = hot
        prev_hot = hot
    out = frontier[0]
    for p in frontier[1:]:
        out = out.unionByName(p)
    out = out.select("cell_id", "n_rows", "res")
    if with_hot:
        return out, hot_by_res
    return out


