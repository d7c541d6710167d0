"""Point-in-polygon join.

The reference supports rectangles only ("point-in-polygon" there is a
4-way coordinate compare, reference Geom.scala:85-86); the north rule
requires true polygon containment.  Strategy: cover the polygon's bbox
with grid cells (multicast, like ops.range), hash equi-join on cell, then
refine with an exact int64 predicate — border-inclusive, matching the
reference's contains semantics.  Two refine paths:

  convex fast path   fixed-ring polygons as one column per vertex
                     (vx0..vy{n-1}): conjunction of half-plane
                     cross-product tests (sqlgen.pip_predicate, full
                     whole-stage codegen).
  general path       ARBITRARY simple polygons (concave, variable
                     vertex count) as vertex arrays (vxs, vys): exact
                     int64 even-odd ray-cast over the edge list
                     (sqlgen.pip_concave_predicate — higher-order array
                     exprs, JVM-side, no Python; HOFs run interpreted
                     inside the codegen stage, still no UDF).

Both run the same cover->equi-join->refine kernel (cells.cover_join),
so the physical shape (and its scaling behavior) is shared.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cells import cover_join
from ..sqlgen import pip_concave_predicate, pip_predicate
from .range import CONTAINS


def pip_join(points: DataFrame, polys: DataFrame) -> DataFrame:
    """(poly_id, doc_key) pairs: points contained in each convex polygon.

    The polygon cover is broadcast while the auto size gate passes
    (cells.hint_cover); a huge polygon set gets no hint."""
    return (cover_join(points, polys, pip_predicate("mx", "my"))
            .select("poly_id", "doc_key"))


def pip_join_count(points: DataFrame, polys: DataFrame) -> DataFrame:
    j = pip_join(points, polys)
    return j.groupBy("poly_id").agg(F.count("*").alias("cnt"))


def pip_join_concave(points: DataFrame, polys: DataFrame) -> DataFrame:
    """(poly_id, doc_key) pairs for ARBITRARY simple polygons given as
    vertex arrays (poly_id, vxs, vys, xmin, ymin, xmax, ymax) — exact
    int64 even-odd ray-cast, border-inclusive, concave-safe.

    Same cover/equi-join/refine shape as the convex path; only the
    refine predicate differs (O(#vertices) per candidate pair).  A
    cheap codegen bbox conjunct runs BEFORE the interpreted ray-cast
    HOF: cells are coarser than bboxes, so most cover candidates
    short-circuit on four int compares instead of paying the
    O(#vertices) edge walk — the same free pre-filter the convex path
    gets from its first failing half-plane test (exact: the bbox is a
    superset of the polygon, so the conjunct never drops a contained
    point)."""
    pred = pip_concave_predicate("mx", "my", "vxs", "vys", "spark")
    return (cover_join(points, polys, f"{CONTAINS} AND {pred}")
            .select("poly_id", "doc_key"))


def pip_join_concave_count(points: DataFrame, polys: DataFrame) -> DataFrame:
    j = pip_join_concave(points, polys)
    return j.groupBy("poly_id").agg(F.count("*").alias("cnt"))
