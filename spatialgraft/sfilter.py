"""sFilter: spatial communication pruning before the shuffle join.

The reference embeds a quadtree "spatial bloom filter" per partition to
answer `queryBox -> Boolean` before shipping queries
(reference/src/main/scala/cs/purdue/edu/spatialindex/quatree/SBQTree.scala:46-257,
bit-array form spatialbloomfilter/sbfilter.scala:74-178; never actually
wired into the shipped join — the call is commented out at
SMapPartition.scala:117-118).  Our version is exact and cheaper: the
per-cell presence set (O(#cells) bits, <= 32768 entries) is collected
once and the *query side's multicast rows* are filtered against it
before the shuffle — query cells with no data never enter the join.
The set costs one distinct(cell) stats job.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cells import cover_ids, with_cell


def presence_cells(points: DataFrame) -> set[int]:
    """Exact cell-presence set (one tiny stats job)."""
    return set(with_cell(points).select("cell").distinct().toArrow()
               ["cell"].to_pylist())


# Above this size, an isin() literal list bloats the compiled plan and
# re-ships the whole set inside every task binary; a broadcast semi-join
# ships it once per executor instead.
_ISIN_MAX = 1024


def query_box_with_p(cells: set[int],
                     xmin: int, ymin: int, xmax: int, ymax: int) -> float:
    """Empty-area ratio of a query box: the fraction of its covering
    cells that hold no data — the reference's probabilistic
    `queryBoxWithP` surface (SBQTree.scala:257), answered exactly from
    the presence set instead of a lossy bit tree.  1.0 = the box can be
    skipped entirely; a scheduler can deprioritize boxes above a
    threshold before any shuffle."""
    ids = cover_ids(xmin, ymin, xmax, ymax)
    empty = sum(1 for c in ids if c not in cells)
    return empty / len(ids) if ids else 1.0


def prune_cover(cover: DataFrame, cells: set[int]) -> DataFrame:
    """Drop multicast (query, cell) rows whose cell holds no data.

    Small sets compile to an in-set predicate; large ones (up to
    N_CELLS) go through a broadcast LEFT SEMI join so the plan stays
    small and the set ships once per executor, not once per task."""
    if len(cells) <= _ISIN_MAX:
        return cover.where(F.col("cell").isin(list(cells)))
    spark = cover.sparkSession
    present = spark.createDataFrame(
        pa.table({"cell": pa.array(sorted(cells), pa.int64())}))
    return cover.join(F.broadcast(present), on="cell", how="left_semi")
