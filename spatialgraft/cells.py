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

The same floor arithmetic serves every grid (join cells, tiles, index
coarse cells, the kNN SAT sub-grid): cell_expr / cover_cells /
cover_ids (its driver-side twin, for index directory pruning) /
sat_rows / ring_count_sql take the grid dims.  A histogram's summed-area table (sat_rows /
ring_count_sql) counts the points in any cell rectangle with 4 array
lookups.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import config as C
from .broadcast import COVER_FANOUT, decide


def cell_expr(mx: str = "mx", my: str = "my",
              cx: int = C.CELL_CX, cy: int = C.CELL_CY) -> Column:
    return F.expr(f"(({mx} * {cx}) div {C.WORLD_MX}) * {cy} "
                  f"+ (({my} * {cy}) div {C.WORLD_MY})")


def with_cell(df: DataFrame) -> DataFrame:
    return df.withColumn("cell", cell_expr())


def cover_cells(boxes: DataFrame,
                xmin: str = "xmin", ymin: str = "ymin",
                xmax: str = "xmax", ymax: str = "ymax",
                out: str = "cell",
                cx: int = C.CELL_CX, cy: int = C.CELL_CY,
                interior: bool = False) -> DataFrame:
    """One output row per (box, overlapped cell) — the multicast step.

    Cell ranges are computed with the same exact integer floor as point
    assignment, so a border-inclusive containment can never fall outside
    the cover.  cx/cy pick the grid (default: the join cell grid; the
    tile grid for raster->vector).

    interior: also add `g` = 1 on the cover cells strictly inside the
    box's cell range on both axes (cx0 < column < cx1 and cy0 < row <
    cy1), else 0.  Exact on any grid by floor monotonicity: a point of
    cell column > cx0 = (xmin * cx) div WORLD_MX has mx > xmin (mx <=
    xmin would floor to <= cx0), and likewise mx < xmax, ymin < my <
    ymax, so every point of a g = 1 cell lies inside the box.  g is a
    non-null CASE, so a join on it infers no isnotnull(g) filter that
    would evaluate the test a second time.
    """
    cx0 = F.expr(f"({xmin} * {cx}) div {C.WORLD_MX}")
    cx1 = F.expr(f"({xmax} * {cx}) div {C.WORLD_MX}")
    cy0 = F.expr(f"({ymin} * {cy}) div {C.WORLD_MY}")
    cy1 = F.expr(f"({ymax} * {cy}) div {C.WORLD_MY}")
    x, y = F.col("_cx"), F.col("_cy")
    df = (boxes
          .withColumn("_cx", F.explode(F.sequence(cx0, cx1)))
          .withColumn("_cy", F.explode(F.sequence(cy0, cy1)))
          .withColumn(out, x * cy + y))
    if interior:
        inner = (cx0 < x) & (x < cx1) & (cy0 < y) & (y < cy1)
        df = df.withColumn("g", F.when(inner, 1).otherwise(0))
    return df.drop("_cx", "_cy")


def cover_ids(xmin: int, ymin: int, xmax: int, ymax: int,
              cx: int = C.CELL_CX, cy: int = C.CELL_CY) -> list[int]:
    """Python twin of cover_cells for one milli box: the ids of the
    cells it covers on the cx x cy grid, with the same floor arithmetic
    (driver-side planning: index directory pruning)."""
    return [x * cy + y
            for x in range(xmin * cx // C.WORLD_MX,
                           xmax * cx // C.WORLD_MX + 1)
            for y in range(ymin * cy // C.WORLD_MY,
                           ymax * cy // C.WORLD_MY + 1)]


def sat_rows(cells, counts, cx: int = C.CELL_CX, cy: int = C.CELL_CY
             ) -> np.ndarray:
    """Summed-area table (SAT) of a histogram on the cx x cy grid
    (`cells[i]` = x * cy + y holds `counts[i]` points; ids unique):
    flattened inclusive 2-D prefix sums with a zero row/column of
    padding — entry (i, j), i in [0, cx], j in [0, cy], at 1-based
    index i*(cy+1)+j+1, holds the count over cells with x < i and
    y < j.  O(#cells) memory — scale-independent."""
    grid = np.zeros((cx, cy), dtype=np.int64)
    cells = np.asarray(cells, dtype=np.int64)
    grid[cells // cy, cells % cy] = counts
    sat = np.zeros((cx + 1, cy + 1), dtype=np.int64)
    sat[1:, 1:] = grid.cumsum(0).cumsum(1)
    return sat.ravel()


def sat_df(spark, sat: np.ndarray) -> DataFrame:
    """The SAT as a one-row `sat array<bigint>` DataFrame, built from a
    pyarrow.Table (a local relation; no job, no per-entry Python)."""
    col = pa.ListArray.from_arrays([0, len(sat)], pa.array(sat, pa.int64()))
    return spark.createDataFrame(pa.table({"sat": col}))


def ring_count_sql(sat: str, cxa: str, cxb: str, cya: str, cyb: str,
                   cy: int = C.CELL_CY) -> str:
    """Sum of counts over the inclusive cell rectangle via 4 SAT
    lookups (element_at is 1-based; the padding makes -1 edges safe).
    cy is the y-size of the SAT's grid."""
    def at(i: str, j: str) -> str:
        return (f"element_at({sat}, "
                f"CAST(({i}) * {cy + 1} + ({j}) + 1 AS INT))")

    return (f"{at(f'{cxb} + 1', f'{cyb} + 1')} - {at(cxa, f'{cyb} + 1')} "
            f"- {at(f'{cxb} + 1', cya)} + {at(cxa, cya)}")


def hint_cover(cover: DataFrame, queries: DataFrame,
               flag: bool | None = None, plan=None) -> DataFrame:
    """`cover` (the multicast of `queries`) with its join hint — the
    one broadcast policy of every multicast join.  False hints a
    sort-merge (shuffled) join; True, or None while the size gate
    passes, a broadcast; otherwise no hint, and Catalyst plans the join
    from its own size estimates.  The gate is
    spatialgraft.broadcast.decide on the box-cover fan-out (~64 cells)
    times the plan's salt replication (its largest `nsplits`; 1 without
    a plan); no job runs."""
    if flag is False:
        return cover.hint("merge")
    splits = 1 if plan is None else plan.max_splits
    if flag or decide(queries, COVER_FANOUT * splits):
        return F.broadcast(cover)
    return cover


def cover_join(points: DataFrame, queries: DataFrame,
               refine: str) -> DataFrame:
    """The cover -> equi-join -> refine kernel of the range pairs and
    PIP joins: points (mx, my) get their cell, each query is multicast
    to the cells its bbox (xmin..ymax) covers, the two hash-join on
    `cell`, and the exact `refine` SQL predicate keeps the true matches.
    The cover carries the auto hint of hint_cover."""
    cover = hint_cover(cover_cells(queries), queries)
    return (with_cell(points).join(cover, on="cell", how="inner")
            .where(F.expr(refine)))
