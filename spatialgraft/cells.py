"""Grid-cell encoding and box cover — exact int64, JVM-side expressions.

Plays the role of the reference's space-filling-curve cell ids
(reference/src/main/scala/cs/purdue/edu/spatialindex/rtree/sfcurve.scala:28-148;
here a flat grid id, no curve) and of the query-multicast step that
replicates each query box to every overlapping partition (reference
SpatialRdd.scala:377-397).  Everything is a Catalyst column expression
(whole-stage codegen, no UDF):

  cell_x = mx * CX div WORLD_MX      (exact integer floor)
  cell   = cell_x * CY + cell_y
  cover(box) = explode(x-range) x explode(y-range)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import config as C
from .broadcast import COVER_FANOUT, decide


def cell_expr(mx: str = "mx", my: str = "my",
              cx: int = C.CELL_CX, cy: int = C.CELL_CY) -> Column:
    return F.expr(f"(({mx} * {cx}) div {C.WORLD_MX}) * {cy} "
                  f"+ (({my} * {cy}) div {C.WORLD_MY})")


def with_cell(df: DataFrame, mx: str = "mx", my: str = "my",
              out: str = "cell") -> DataFrame:
    return df.withColumn(out, cell_expr(mx, my))


def cover_cells(boxes: DataFrame,
                xmin: str = "xmin", ymin: str = "ymin",
                xmax: str = "xmax", ymax: str = "ymax",
                out: str = "cell") -> DataFrame:
    """One output row per (box, overlapped cell) — the multicast step.

    Cell ranges are computed with the same exact integer floor as point
    assignment, so a border-inclusive containment can never fall outside
    the cover.
    """
    cx0 = F.expr(f"({xmin} * {C.CELL_CX}) div {C.WORLD_MX}")
    cx1 = F.expr(f"({xmax} * {C.CELL_CX}) div {C.WORLD_MX}")
    cy0 = F.expr(f"({ymin} * {C.CELL_CY}) div {C.WORLD_MY}")
    cy1 = F.expr(f"({ymax} * {C.CELL_CY}) div {C.WORLD_MY}")
    return (boxes
            .withColumn("_cx", F.explode(F.sequence(cx0, cx1)))
            .withColumn("_cy", F.explode(F.sequence(cy0, cy1)))
            .withColumn(out, F.col("_cx") * C.CELL_CY + F.col("_cy"))
            .drop("_cx", "_cy"))


def cover_join(points: DataFrame, queries: DataFrame,
               broadcast: bool | None, refine: str,
               presence: set[int] | None = None) -> DataFrame:
    """The cover -> equi-join -> refine kernel shared by the range and
    PIP joins: points (mx, my) get their cell, each query is multicast to
    the cells its bbox (xmin..ymax) covers, the two hash-join on `cell`,
    and the exact `refine` SQL predicate keeps the true matches.

    broadcast: None = auto size-gate of the multicast side
    (spatialgraft.broadcast.decide); True/False force.
    presence: optional sFilter cell-presence set — multicast rows whose
    cell holds no data are dropped before the shuffle
    (spatialgraft.sfilter.prune_cover)."""
    pts = with_cell(points)
    bc = decide(queries, broadcast, COVER_FANOUT)
    cover = cover_cells(queries)
    if presence is not None:
        from .sfilter import prune_cover
        cover = prune_cover(cover, presence)
    if bc:
        cover = F.broadcast(cover)
    return pts.join(cover, on="cell", how="inner").where(F.expr(refine))
