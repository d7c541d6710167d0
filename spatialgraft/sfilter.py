"""sFilter: which cells hold data, and how empty a query box is.

The reference embeds a quadtree "spatial bloom filter" per partition to
answer `queryBox -> Boolean` before shipping queries
(reference/src/main/scala/cs/purdue/edu/spatialindex/quatree/SBQTree.scala:46-257,
bit-array form spatialbloomfilter/sbfilter.scala:74-178; never actually
wired into the shipped join — the call is commented out at
SMapPartition.scala:117-118).  Our version is exact: the per-cell
presence set (O(#cells) entries, <= 32768) costs one distinct(cell)
stats job, and query_box_with_p answers the reference's empty-area
surface from it.  No join prunes its cover by it: on kNN the prune
measured no gain (bench_records/knn_cover_prune_ab.jsonl).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .cells import cover_ids, with_cell


def presence_cells(points: DataFrame) -> set[int]:
    """Exact cell-presence set (one tiny stats job)."""
    return set(with_cell(points).select("cell").distinct().toArrow()
               ["cell"].to_pylist())


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

