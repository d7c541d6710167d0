"""Single-pass exact kNN join (J5/J6/J7 + W1/J9/F6) — fully JVM-side.

Re-design of the reference's range-based kNN join
(reference/src/main/scala/cs/purdue/edu/spatialrdd/impl/knnJoinRDD.scala:45-242),
which runs a local kNN round and then re-joins every query whose bound
crosses a partition, as ONE bounded join of pure DataFrame operations
(whole-stage codegen on the point side — an earlier applyInPandas
cogroup variant was 10-30x slower at scale because the grouped-Arrow
plumbing dominates):

  bound    one O(#sub-cells) histogram collect (Arrow) over a sub-grid
           SAT_SUBDIV x SAT_SUBDIV finer than the join cells; numpy
           turns it into a 2-D summed-area table (SAT) that ships as
           one broadcast array row.  Each query takes the smallest
           sub-cell ring around its home sub-cell holding
           >= min(k, total) points (4 element_at lookups per candidate
           radius, one filter expression); the distance to that ring's
           far corner (+1 milli) is an exact upper bound kth2 on its
           kth distance — no full-table scan ever (the role of the
           reference's iterative nextRound loop, knnJoinRDD.scala:100-140).
           The sub-grid keeps the bound tight in dense cells: at
           join-cell resolution radius 0 already reaches the far corner
           of a whole cell, so a dense cell's query drags in its
           neighbours (the fine-raster filter of Raster Intervals,
           SIGMOD 2023).
  join     each query re-joins the points over cover_cells of its
           kth2 box with the exact filter dist2 <= kth2 (the
           reference's `rkjoin`, RtreePartition.scala:294-324).  The
           points reach the join in their input partitions: like the
           reference's query multicast, the cover carries each query to
           every cell it can reach, so a broadcast cover meets every
           point where it sits and no point is shuffled; a
           non-broadcast cover shuffles them once, after the cache.
  rank     the survivors, a few k per query, take one row_number over
           (dist2, doc_key) per qid: a deterministic total order (the
           reference's local top-k plus sort+slice,
           knnJoinRDD.scala:100-140, 217-231, is tie-unstable; ties are
           real here, so the canon matters).

Driver-side construction cost matters too: each logical step is ONE
selectExpr (lateral column aliases keep sub-expressions single-
sourced), the driver-built SAT reaches Spark as a pyarrow.Table (a
local relation, no job), and the broadcast gate reads
the optimizer's sizeInBytes estimate instead of running a count — the
only jobs a call runs are the histogram collect and the result's count.

Skew (J9): the reference salts skewed partitions inside kNN round 2
(knnJoinRDD.scala:120-215) because that round moves the points by
partition.  Here the broadcast cover meets every point in its input
partition, so no cell is ever gathered into one task and there is
nothing to salt; under a shuffled cover the probe side gets AQE's
skew split.

Predicates (F6): `pred` restricts the data side before any join — the
reference's `knnFilter(entry, k, z)` z-predicate
(SpatialRdd.scala:150); kNN is then exact among qualifying points.

All distances are float64 (dx*dx + dy*dy) with the same expression
shape as the DuckDB oracle -> bit-exact.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import config as C
from ..cells import (cell_expr, cover_cells, hint_cover, ring_count_sql,
                     sat_df, sat_rows, with_cell)

# x/y are recomputed inline from the int milli coords with the exact
# expression shape of extract.py:65 (int subtract -> cast -> /1000.0),
# so dist2 is bit-identical to the x/y-column formulation while the
# candidate rows carry two INTs instead of two DOUBLEs
_X = "(CAST(mx - 180000 AS DOUBLE) / 1000.0)"
_Y = "(CAST(my - 90000 AS DOUBLE) / 1000.0)"
_D2 = (f"(qx - {_X}) * (qx - {_X}) + (qy - {_Y}) * (qy - {_Y})")

# The bound's SAT sub-grid: each join cell splits into SAT_SUBDIV x
# SAT_SUBDIV sub-cells.  The floor arithmetic nests (sub_x div SUBDIV =
# cell_x), so a sub-cell lies inside one cell.  At join-cell resolution
# a dense cell's radius-0 bound already reaches that cell's far corner
# and drags 9-16 cells of candidates into the join; 4 cuts it to a
# quarter cell, and finer sub-grids grow the per-call SAT (entries =
# cells * SUBDIV^2) for little more.  Under a grid override it halves
# until the sub-grid fits 2^21 cells.
SAT_SUBDIV = next((s for s in (4, 2) if C.N_CELLS * s * s <= 1 << 21), 1)
_SCX, _SCY = C.CELL_CX * SAT_SUBDIV, C.CELL_CY * SAT_SUBDIV

# candidate ring radii (sub-cells): 0, then powers of two up to the
# full sub-grid.  (max - 1).bit_length() + 1 powers guarantee the last
# reaches max(SCX, SCY) - 1 (a query in a corner sub-cell needing the
# far edge) on ANY grid, including non-power-of-two overrides.
_RADII = [0] + [2 ** i for i in range((max(_SCX, _SCY) - 1)
                                      .bit_length() + 1)]


def _rect(r: str) -> list[str]:
    """The sub-cell rectangle of radius `r` around the home sub-cell
    (_sx, _sy), clipped to the sub-grid: [xa, xb, ya, yb]."""
    return [f"greatest(_sx - {r}, 0)", f"least(_sx + {r}, {_SCX - 1})",
            f"greatest(_sy - {r}, 0)", f"least(_sy + {r}, {_SCY - 1})"]


def _milli_bounds(cx: int, cy: int) -> list[str]:
    """Exact milli bounds _x0/_x1/_y0/_y1 of the rectangle
    [_cxa, _cxb] x [_cya, _cyb] on the cx x cy grid (cell c covers m in
    [ceil(c*W/n), ceil((c+1)*W/n) - 1], the floor arithmetic of
    cell_expr)."""
    def first(c: str, w: int, n: int) -> str:
        return f"({c} * {w} + {n - 1}) div {n}"
    return [
        f"{first('_cxa', C.WORLD_MX, cx)} AS _x0",
        f"{first('(_cxb + 1)', C.WORLD_MX, cx)} - 1 AS _x1",
        f"{first('_cya', C.WORLD_MY, cy)} AS _y0",
        f"{first('(_cyb + 1)', C.WORLD_MY, cy)} - 1 AS _y1"]


def _bound(queries: DataFrame, sat: DataFrame, need: int) -> DataFrame:
    """Each query's exact kth bound and its box: the smallest sub-cell
    ring holding >= `need` points (SAT lookups inside one filter over
    the candidate radii), then the distance to that ring's far corner
    plus a 1-milli guard as rm; kth2 = rm^2 in degrees^2, and the box
    is the query point +- rm clipped to the world."""
    radii = ", ".join(map(str, _RADII))
    count = ring_count_sql("sat", *_rect("r"), cy=_SCY)
    picked = (queries.selectExpr(
                  "qid", "qmx", "qmy", "qx", "qy",
                  f"(CAST(qmx AS BIGINT) * {_SCX}) div {C.WORLD_MX} AS _sx",
                  f"(CAST(qmy AS BIGINT) * {_SCY}) div {C.WORLD_MY} AS _sy")
              .crossJoin(F.broadcast(sat))
              .selectExpr(
                  "qid", "qmx", "qmy", "qx", "qy", "_sx", "_sy",
                  f"element_at(filter(array({radii}), "
                  f"r -> {count} >= {need}), 1) AS _r"))
    rect = [f"{e} AS {a}" for e, a in
            zip(_rect("_r"), ("_cxa", "_cxb", "_cya", "_cyb"))]
    return picked.selectExpr(
        "qid", "qx", "qy", *rect, *_milli_bounds(_SCX, _SCY),
        "greatest(qmx - _x0, _x1 - qmx) AS _dxm",
        "greatest(qmy - _y0, _y1 - qmy) AS _dym",
        "CAST(ceil(sqrt(CAST(_dxm * _dxm + _dym * _dym AS DOUBLE)))"
        " + 1 AS BIGINT) AS rm",
        "CAST(rm * rm AS DOUBLE) / 1.0E6 AS kth2",
        "greatest(0, qmx - rm) AS xmin",
        f"least({C.WORLD_MX - 1}, qmx + rm) AS xmax",
        "greatest(0, qmy - rm) AS ymin",
        f"least({C.WORLD_MY - 1}, qmy + rm) AS ymax"
    ).select("qid", "qx", "qy", "kth2", "xmin", "xmax", "ymin", "ymax")


def _join(pts: DataFrame, queries: DataFrame, k: int,
          broadcast: bool | None, hist) -> DataFrame:
    """Bound -> cover join -> rank.  `hist` is the collected
    sub-cell histogram (pyarrow: sub, n); it drives every
    data-dependent decision: the SAT and `need` = min(k, total).
    `broadcast` is knn_join's broadcast_queries."""
    n = hist["n"].to_numpy()
    sat = sat_df(pts.sparkSession,
                 sat_rows(hist["sub"].to_numpy(), n, _SCX, _SCY))
    cover = cover_cells(_bound(queries, sat, min(k, int(n.sum()))))
    if broadcast is not False:
        # a sort-merge hint for False lost to Catalyst's own choice at
        # x1024 (bench_records/knn_false_merge_x1024.jsonl)
        cover = hint_cover(cover, queries, broadcast)

    # equi-join and the exact dist filter; the bound leaves a few k
    # survivors per query, which go straight to the one qid rank
    w = Window.partitionBy("qid").orderBy("dist2", "doc_key")
    return (pts.join(cover, on="cell", how="inner")
            .selectExpr("qid", "doc_key", "kth2", f"{_D2} AS dist2")
            .where(F.col("dist2") <= F.col("kth2"))
            .select("qid", "doc_key", "dist2")
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k))


# 24 B/row: (cell, doc_key) int64 + mx/my int32 in the serialized slim
# cache (see knn_join's slim projection)
_SLIM_CACHE_BYTES_PER_ROW = 24


def _warn_if_cache_exceeds_storage(spark, total_rows: int) -> bool:
    """Executor-sizing advisory (VERDICT r6 item 3): when the estimated
    slim-cache size exceeds the executors' aggregate on-heap capacity,
    eviction (even to tmpfs disk) was MEASURED at +29% on the 4N join
    wall (240.4 vs 188.2 s, 8 GiB executors, certified clean windows —
    bench_records/r6_knn_floor_4n_evlog.jsonl).  Warning only, no
    behavior change; returns whether it fired (for tests).  The driver
    histogram knn_join already collects supplies total_rows, so
    the check is free."""
    est = total_rows * _SLIM_CACHE_BYTES_PER_ROW
    try:
        vals = (spark.sparkContext._jsc.sc()
                .getExecutorMemoryStatus().values().iterator())
        agg = 0
        while vals.hasNext():
            agg += int(vals.next()._1())
    except Exception:
        return False
    if agg <= 0 or est <= agg:
        return False
    import warnings
    warnings.warn(
        f"knn_join: estimated slim cache "
        f"({est / 1e9:.1f} GB for {total_rows} rows at "
        f"{_SLIM_CACHE_BYTES_PER_ROW} B/row) exceeds aggregate executor "
        f"storage capacity ({agg / 1e9:.1f} GB); eviction cost a "
        "measured +29% on the join wall at the 1.05B-row gate "
        "(bench_records/r6_knn_floor_4n_evlog.jsonl) — size executor "
        "memory for the cache",
        stacklevel=3)
    return True


def knn_join(points: DataFrame, queries: DataFrame, k: int = C.DEFAULT_K,
             broadcast_queries: bool | None = None,
             pred: Column | str | None = None,
             salt: int | None = None,
             materialize: bool = True,
             cache_input: bool = True) -> DataFrame:
    """For every query point (qid, qmx, qmy, qx, qy): its k nearest data
    points.  Returns (qid, doc_key, dist2, rnk), rnk 1..k by
    (dist2, doc_key).

    The call runs the join in one pass: the slim point projection is
    cached in the input's own partitions (SERIALIZED level —
    deserialized object-graph caching was a measured GC death spiral
    near the storage pool at 263M rows), the
    sub-cell histogram is collected once (O(#sub-cells), Arrow) to
    build the SAT that bounds every query's kth distance, one cover
    join under that bound is ranked, persisted and counted, and the
    slim cache is unpersisted before returning.  The points reach the
    join in their input partitions: a broadcast cover streams them with
    no shuffle, and a shuffled cover makes Catalyst hash them by cell
    once, above the cache, where AQE's skew join splits a hot cell.
    The returned DataFrame stays persisted; the caller unpersists it
    when done.

    pred: optional extra data-side predicate (knnFilter semantics, F6).
    broadcast_queries: None = auto size-gate of the cover
    (cells.hint_cover, the range/PIP gate: fan-out ~64) against the
    session broadcast threshold, from the optimizer's plan-size
    estimate — no job runs.  True broadcasts the cover.  False only
    withholds the hint: Catalyst still picks the physical join from its
    own estimates and may broadcast the cover (unlike range_join_count,
    where False forces a sort-merge join).

    salt / materialize / cache_input: accepted for existing callers;
    only the defaults (None / True / True) are valid, anything else
    raises ValueError before a job runs.  Each lost its A/B at the
    x2304 gate (1.05B docs, bench_records/r5_ab4n_x2304.jsonl) against
    the 139.7 s of the then two-stage plan and was removed: uniform
    salt=8 ran 268.0 s, the uncached input 206.4 s, and the lazy plan
    349.8 s with salt=8 and a driver maxResultSize crash without.

    The slim cache also carries accurate InMemoryRelation stats, so an
    exploded/generated input whose static Catalyst estimate misses the
    multiplicity is never auto-broadcast as a huge side.  Executor
    SIZING matters: when the slim cache does not fit the aggregate
    heap, eviction (even to tmpfs disk) cost a measured +29% on the
    join wall at the same gate (240.4 vs 188.2 s with 8 GiB executors,
    certified clean windows, r6_knn_floor_4n_evlog.jsonl) — budget
    executor memory for the ~24 B/row slim cache PLUS the
    working set of whatever shares the session.
    """
    if salt is not None or not materialize or not cache_input:
        raise ValueError(
            f"knn_join(salt={salt!r}, materialize={materialize!r}, "
            f"cache_input={cache_input!r}): uniform salt, the uncached "
            "input and the lazy plan were removed")
    spark = points.sparkSession
    if pred is not None:
        points = points.where(pred if isinstance(pred, Column)
                              else F.expr(pred))

    # slim projection: feeds the histogram and the join (the spans
    # column must not ride downstream).  It carries
    # (cell, doc_key, mx:int, my:int) — 24 bytes/row instead of the 40+
    # of a (cell, doc_key, x:double, y:double) row: the doubles are
    # recomputed bit-exactly from the milli ints (_X/_Y).  At 10^12
    # rows this is the join's one row-count-sized data stream — its
    # width IS the memory-bus bill.
    pts = with_cell(points).select(
        "cell", "doc_key",
        F.col("mx").cast("int").alias("mx"),
        F.col("my").cast("int").alias("my"))

    # SER cache (see docstring) in the input's own partitions, and one
    # O(#sub-cells) collect
    pts = pts.persist(StorageLevel.MEMORY_AND_DISK)
    sub = cell_expr("CAST(mx AS BIGINT)", "CAST(my AS BIGINT)",
                    _SCX, _SCY)
    hist = (pts.groupBy(sub.alias("sub"))
            .agg(F.count("*").alias("n")).toArrow())
    _warn_if_cache_exceeds_storage(spark, int(hist["n"].to_numpy().sum()))
    result = _join(pts, queries, k, broadcast_queries, hist).persist()
    result.count()
    pts.unpersist()
    return result
