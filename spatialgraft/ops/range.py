"""Range query / spatial range join / range-aggregate join.

Spark-first realization of the reference's centerpiece joins
(`sjoin` reference/src/main/scala/cs/purdue/edu/spatialrdd/SpatialRdd.scala:264-284,
`rjoin` :298-322, `rangeFilter` :117-147):
query boxes are multicast to their covering grid cells (cover_cells), the
points side carries the same cell id, and Catalyst runs a hash equi-join on
`cell` followed by an exact int64 refine predicate — the dual-tree local
join (RTree.scala:185-300) collapses into join+filter with AQE handling
skew at runtime (cells.cover_join, behind range_join).

The counts (range_join_count, range_join_count_salted) never build the
pairs of a box's interior cells: cover_count counts the points per
cell and per spot in one GROUPING SETS pass, a cover cell strictly inside
its box's cell range joins its cell's count (every point there is a true
hit, as in Raster Intervals), and only perimeter cells join point rows
and refine.  The per-box sum rides Catalyst's partial+final hash agg
(replacing the hand-rolled flush at RTree.scala:315-356).

Every join here hints its multicast side through cells.hint_cover:
a cover whose query set passes the size gate is broadcast, a huge one
gets no hint.  range_join_count alone keeps a broadcast_queries flag:
True forces the broadcast, False a shuffled (sort-merge) join.  (kNN's
flag differs on False; see ops.knn.knn_join.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cells import cell_expr, cover_cells, cover_join, hint_cover, with_cell
from ..partitioner import salt_multicast, salt_points

CONTAINS = ("mx >= xmin AND mx <= xmax AND "
            "my >= ymin AND my <= ymax")


def range_filter(points: DataFrame, xmin: int, ymin: int,
                 xmax: int, ymax: int) -> DataFrame:
    """Global range query (F1): plain pushed-down predicate.

    Partition pruning comes free once data is written partitioned/sorted
    by cell (reference prunes via the driver quadtree,
    SpatialRdd.scala:117-143)."""
    return points.where(
        (F.col("mx") >= xmin) & (F.col("mx") <= xmax) &
        (F.col("my") >= ymin) & (F.col("my") <= ymax))


def range_join(points: DataFrame, boxes: DataFrame) -> DataFrame:
    """sjoin (J1): (box_id, doc_key) matched pairs.

    Pairs are unique by construction — a point belongs to exactly one
    cell and a box's cover lists each cell once — so no distinct shuffle
    is needed (the reference dedupes because its multicast can route one
    box to a partition several times, SpatialRdd.scala:264-284; our cell
    cover cannot)."""
    return (cover_join(points, boxes, CONTAINS)
            .select("box_id", "doc_key"))


def range_join_count(points: DataFrame, boxes: DataFrame,
                     broadcast_queries: bool | None = None) -> DataFrame:
    """rjoin (J2) with count aggregate — the SpatialJoinApp query
    (reference examples/SpatialJoinApp.scala:81-96): (box_id, cnt) for
    every box holding a point, through cover_count (interior cells
    counted per cell, perimeter cells refined per point).  The points
    shuffle into that count, so a call with very few boxes is slower
    than a plain broadcast join would be (see cover_count)."""
    return cover_count(points, boxes, broadcast_queries)


def cover_count(points: DataFrame, boxes: DataFrame,
                broadcast: bool | None, plan=None) -> DataFrame:
    """The counting twin of cells.cover_join: (box_id, cnt) = the
    number of points each box contains (CONTAINS), for boxes with
    cnt > 0, without joining a point of a box's interior cells pair by
    pair.

    One pass over the points groups them with GROUPING SETS into
    per-spot rows (cell, mx, my; g = 0, w = points at that spot) and
    per-cell counts (cell; g = 1, w = points in the cell).  The cover
    (cells.cover_cells with interior=True) joins them on (cell, g): an
    interior cell meets its one count row, a perimeter cell its spot
    rows, which CONTAINS filters (on a count row mx/my are NULL, so
    only `g = 1` keeps it).  cnt = sum(w) per box.  Interior-cell
    points skip the refine; that is exact because the interior test
    reads the same bbox columns CONTAINS does.

    broadcast: the flag of cells.hint_cover (None = auto gate, True
    broadcast, False sort-merge).
    plan: optional SpatialPartitioning — the points are salted
    (partitioner.salt_points: a point goes to one slice of its cell by
    doc_key) before the grouping, salt joins both grouping sets and the
    cover is replicated over the slices, so the join keys on (cell,
    salt, g) and no single task owns a whole hot cell.

    Trade-off: the points shuffle into the grouping instead of
    streaming into a broadcast join, so a call with few boxes is slower
    than a plain cover_join + count; with many boxes the pairs it never
    builds dominate (7500 boxes over 262k points: 34.5M candidate pairs
    -> 1.68M perimeter (spot, box) rows plus 180k interior cover rows).
    Measured on 4 cores, the crossover lies between 2000 boxes (1.71 s
    -> 2.03 s) and 3000 (2.03 s -> 1.60 s), with 7500 at 2.81 s ->
    1.77 s; it does not fall with fewer points (52k points, 1500 boxes:
    1.20 s -> 1.39 s), since the saved pairs and the added shuffle both
    grow with the points."""
    pts = with_cell(points)
    cover = cover_cells(boxes, interior=True)
    keys = ["cell"]
    if plan is not None:
        pts = salt_points(pts, ["cell", "mx", "my"], plan)
        cover = salt_multicast(cover, [*boxes.columns, "g"], plan)
        keys = ["cell", "salt"]
    counts = (pts.groupingSets([[*keys, "mx", "my"], keys],
                               *keys, "mx", "my")
              .agg(F.grouping("mx").alias("g"), F.count("*").alias("w")))
    cover = hint_cover(cover, boxes, broadcast, plan)
    return (counts.join(cover, on=[*keys, "g"], how="inner")
            .where(F.expr(f"g = 1 OR ({CONTAINS})"))
            .groupBy("box_id").agg(F.sum("w").alias("cnt")))


def spatio_textual_filter(points: DataFrame, xmin: int, ymin: int,
                          xmax: int, ymax: int, needle: str) -> DataFrame:
    """F5: range predicate AND text containment on the text span
    (reference README.md:57-67)."""
    return range_filter(points, xmin, ymin, xmax, ymax).where(
        F.lower(F.col("text")).contains(needle.lower()))


INTERSECTS = ("d_xmin <= xmax AND xmin <= d_xmax AND "
              "d_ymin <= ymax AND ymin <= d_ymax")


def intersects_join(dboxes: DataFrame, qboxes: DataFrame) -> DataFrame:
    """F3: box-data x box-query intersects join -> (box_id, dbox_id).

    Border-inclusive interval overlap on both axes — the reference's
    Geom.intersects / RTree.searchIntersection semantics
    (reference Geom.scala:96-97, rtree/RTree.scala:803-810).  Both
    sides multicast to their covering cells and hash-join on cell; a
    pair overlapping several cells is emitted exactly once via the
    reference-point rule (only the cell owning the intersection's
    lower-left corner reports it), so no distinct shuffle is needed —
    the standard dedup-free partitioned spatial-join shape."""
    d = cover_cells(dboxes.selectExpr(
        "dbox_id", "xmin AS d_xmin", "ymin AS d_ymin",
        "xmax AS d_xmax", "ymax AS d_ymax"),
        xmin="d_xmin", ymin="d_ymin", xmax="d_xmax", ymax="d_ymax")
    q = hint_cover(cover_cells(qboxes), qboxes)
    refpt_cell = cell_expr("greatest(d_xmin, xmin)",
                           "greatest(d_ymin, ymin)")
    return (d.join(q, on="cell", how="inner")
            .where(F.expr(INTERSECTS))
            .where(F.col("cell") == refpt_cell)
            .select("box_id", "dbox_id"))


def range_join_count_salted(points: DataFrame, boxes: DataFrame,
                            plan) -> DataFrame:
    """J8: skew-scheduled range join — the explicit analogue of the
    reference's joinScheduler (scheduler/joinScheduler.scala:102-167).

    Hot cells (from the exact cell histogram in the SpatialPartitioning
    `plan`) are split into `nsplits` salt slices: the data side hashes
    into one slice, the multicast query side replicates across all
    slices, and the join keys on (cell, salt) — so no single reducer
    owns a whole hot cell even when AQE's probe-side splitting isn't
    enough.  The same cover_count kernel as range_join_count: the
    points are salted before its per-cell grouping, both grouping sets
    carry the salt and the join keys on (cell, salt, g); the cover's
    auto broadcast gate counts the salt replication.  Results are
    identical to range_join_count (tested)."""
    return cover_count(points, boxes, None, plan)
