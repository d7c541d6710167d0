"""Two-stage exact kNN join (J5/J6/J7 + W1/J9/F6) — fully JVM-side.

Re-design of the reference's range-based kNN join
(reference/src/main/scala/cs/purdue/edu/spatialrdd/impl/knnJoinRDD.scala:45-242)
as pure DataFrame operations (whole-stage codegen end to end — an earlier
applyInPandas cogroup variant was 10-30x slower at scale because the
grouped-Arrow plumbing dominates):

  layout   the slim point projection repartitions by (cell, salt) to
           the session shuffle width and caches: partition sizing then
           follows configuration (spark.sql.shuffle.partitions), not
           core count, and hash(cell, salt) satisfies every window's
           clustering below — the candidate stream is never exchanged.
  stage 1  each query is multicast to the cell ring around its home cell
           (bounded fan-out, like the reference's local `knnjoin_`,
           RtreePartition.scala:248-292); an equi-join on (cell, salt)
           + a per-(cell, salt, qid) pre-rank (row_number <= k) bounds
           the rows entering the global qid window to <= 9k per query
           no matter how dense the cell is, then the global window rank
           (dist2, doc_key) gives k local candidates and the
           kth-distance upper bound kth2.  Cells denser than
           3k*KNN_SAMPLE_MOD participate at a density-adaptive rate
           1/ceil(sqrt(cellcnt/3k)) — the sampled kth is still a valid
           upper bound and such rings are never marked done, so both
           stage-1 candidate volume and stage-2 bound-radius survivors
           grow as sqrt(k*cellcnt) instead of cellcnt while exactness
           moves wholesale to stage 2.
  split    DONE queries: ring held >= k candidates and the kth-radius
           box lies inside the ring's exact milli bounds -> the local
           top-k is the true kNN (correctKNN/nextRoundKNN split,
           knnJoinRDD.scala:63-98).
  expand   UNDERFILLED queries (< k ring candidates): the exact cell
           histogram's 2-D summed-area table (O(#cells); one padded
           array row built on the driver, read by 4 element_at
           lookups) gives the smallest ring radius whose box holds
           >= k points; the distance to that box's far corner is an
           exact kth upper bound.  This replaces the old world-cover fallback — no
           full-table scan ever, the re-join box is as small as the
           data allows (role of the reference's iterative nextRound
           loop, knnJoinRDD.scala:100-140).
  stage 2  boundary + underfilled queries re-join points over
           cover_cells(radius box) with the exact bound dist2 <= kth2
           (the reference's `rkjoin`, RtreePartition.scala:294-324).
  rank     row_number over (dist2, doc_key) pins a deterministic total
           order (the reference's sort+slice at knnJoinRDD.scala:217-231
           is tie-unstable; ties are real here, so the canon matters).

Driver-side construction cost matters too: plan building used to run
~40 chained withColumn calls (each one a full Catalyst analysis of a
growing tree — measured ~2.5 s of pure driver time per sf0.1 call) plus
an eager queries.count() for the broadcast auto-gate.  Construction now
fuses each logical step into ONE selectExpr (lateral column aliases
keep sub-expressions single-sourced) and the broadcast gate reads the
optimizer's sizeInBytes estimate instead of running a count — the only
jobs a call runs are the histogram collect and the result's count.

Skew (J9): pass a SpatialPartitioning `plan` and both stage joins key
on (cell, salt) — the data side hashes hot cells into `nsplits` salt
slices, the multicast ring and stage-2 cover replicate across them, all
in spatialgraft.partitioner's one salt format (the reference salts
skewed partitions inside kNN round 2, knnJoinRDD.scala:120-215).
Salting is data-driven only: a uniform salt=N lost its A/B (see
knn_join).  Without a plan the ring join's probe side still gets AQE
skew-split.

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
from ..broadcast import COVER_FANOUT, RING_FANOUT, decide
from ..cells import cover_cells, ring_count_expr, sat_rows, with_cell
from ..partitioner import salt_multicast, salt_points
from ..sfilter import prune_cover

# x/y are recomputed inline from the int milli coords with the exact
# expression shape of extract.py:65 (int subtract -> cast -> /1000.0),
# so dist2 is bit-identical to the x/y-column formulation while the
# candidate rows carry two INTs instead of two DOUBLEs
_X = "(CAST(mx - 180000 AS DOUBLE) / 1000.0)"
_Y = "(CAST(my - 90000 AS DOUBLE) / 1000.0)"
_D2 = (f"(qx - {_X}) * (qx - {_X}) + (qy - {_Y}) * (qy - {_Y})")

# ring-expansion candidate radii (cells): powers of two up to the full
# grid (derived from the configured grid so a granularity change keeps
# the largest radius covering the world) — one row per radius per
# underfilled query, driver-independent.  The largest radius must reach
# max(CX, CY) - 1 (a query in a corner cell expanding to the far edge):
# (max - 1).bit_length() + 1 radii guarantees 2^last >= max - 1 for ANY
# grid, including non-power-of-two SPARK_GRAFT_CELL_CX/_CY overrides
# (the old max().bit_length() span only covered power-of-two dims —
# under e.g. 96x48 a corner query whose need sat beyond radius 64
# matched no radius and was silently dropped; ADVICE r5).
_EXPAND_RADII = [2 ** i
                 for i in range((max(C.CELL_CX, C.CELL_CY) - 1)
                                .bit_length() + 1)]


# the cell rectangle of radius _r around the home cell (_cx, _cy),
# clipped to the grid
_RECT = ["greatest(_cx - _r, 0) AS _cxa",
         f"least(_cx + _r, {C.CELL_CX - 1}) AS _cxb",
         "greatest(_cy - _r, 0) AS _cya",
         f"least(_cy + _r, {C.CELL_CY - 1}) AS _cyb"]


def _milli_bounds(prefix: str) -> list[str]:
    """Exact milli bounds of the cell rectangle [_cxa, _cxb] x [_cya, _cyb]
    as {prefix}x0/x1/y0/y1 (cell c covers m in [ceil(c*W/C),
    ceil((c+1)*W/C) - 1], the same floor arithmetic as cell_expr)."""
    def first(c: str, w: int, n: int) -> str:
        return f"({c} * {w} + {n - 1}) div {n}"
    return [
        f"{first('_cxa', C.WORLD_MX, C.CELL_CX)} AS {prefix}x0",
        f"{first('(_cxb + 1)', C.WORLD_MX, C.CELL_CX)} - 1 AS {prefix}x1",
        f"{first('_cya', C.WORLD_MY, C.CELL_CY)} AS {prefix}y0",
        f"{first('(_cyb + 1)', C.WORLD_MY, C.CELL_CY)} - 1 AS {prefix}y1"]


def _with_ring_bounds(queries: DataFrame, cell_counts: DataFrame,
                      k: int) -> DataFrame:
    """Attach the exact milli bounds of each query's candidate cell ring
    (cell cx covers mx in [ceil(cx*W/CX), ceil((cx+1)*W/CX) - 1]).

    Adaptive fan-out: when the query's own cell already holds plenty of
    points (>= 3k, from the broadcast cell histogram) the ring is just
    that cell — in dense regions (the skew hotspot) a 3x3 ring would
    over-fetch ~100x for the bound it buys.  Sparse cells use the 3x3
    ring.  Correctness is unaffected: the ring only produces the kth
    bound; too few candidates -> exact SAT-driven stage-2 fallback."""
    cx = f"((qmx * {C.CELL_CX}) div {C.WORLD_MX})"
    cy = f"((qmy * {C.CELL_CY}) div {C.WORLD_MY})"
    q = queries.selectExpr(
        "qid", "qmx", "qmy", "qx", "qy",
        f"{cx} AS _cx", f"{cy} AS _cy",
        f"({cx}) * {C.CELL_CY} + ({cy}) AS cell")
    q = (q.join(F.broadcast(cell_counts), on="cell", how="left")
         .selectExpr("qid", "qmx", "qmy", "qx", "qy", "_cx", "_cy",
                     f"CASE WHEN coalesce(cellcnt, 0) >= {3 * k} "
                     "THEN 0 ELSE 1 END AS _r"))
    # one fused select: corners via lateral aliases, then the ring's
    # exact milli bounds
    return q.selectExpr(
        "qid", "qmx", "qmy", "qx", "qy", "_cx", "_cy", "_r",
        *_RECT, *_milli_bounds("ring_"))


def _ring(qmeta: DataFrame) -> DataFrame:
    """Multicast each query row to its ring cells (projected to what
    stage 1 consumes: qid, qx, qy, cell)."""
    return (qmeta
            .withColumn("_gx", F.explode(F.sequence("_cxa", "_cxb")))
            .withColumn("_gy", F.explode(F.sequence("_cya", "_cyb")))
            .selectExpr("qid", "qx", "qy",
                        f"_gx * {C.CELL_CY} + _gy AS cell"))


def _stages(pts: DataFrame, queries: DataFrame, k: int,
            plan, bc_ring: bool, bc_cover: bool,
            counts: dict[int, int]):
    """Stage-1 / split / expand / stage-2 assembly.  Every decision the
    collected cell histogram `counts` drives is made here: the broadcast
    cell_counts and one-row SAT, the expansion `need` (min(k, total)),
    whether stage-1 sampling is compiled in, the stage-2 presence prune,
    and whether the expansion subtree exists at all.  The multi-consumer
    intermediates (cand1, stats) are persisted.  Returns
    (result, persisted).

    plan: None (unsalted, joins key on cell) or the SpatialPartitioning
    that salted `pts` — the multicast sides are then replicated over
    the same slices and both joins key on (cell, salt)."""
    spark = pts.sparkSession
    persisted = []
    dense_thresh = 3 * k * C.KNN_SAMPLE_MOD
    keys = ["cell"] if plan is None else ["cell", "salt"]
    cell_counts = spark.createDataFrame(
        [(c, n) for c, n in counts.items()] or [(0, 0)],
        "cell bigint, cellcnt bigint")
    sat_df = spark.createDataFrame([(sat_rows(counts),)],
                                   "sat array<bigint>")
    total = sum(counts.values())
    # short-circuit (free, from the driver-side histogram): when NO
    # cell crosses the threshold stage 1 already sees the full data, so
    # the histogram join + hash filter would keep every row — skip
    # them, and the ring_sum sampling guard on `done` drops too.
    sample_stage1 = any(c >= dense_thresh for c in counts.values())

    qmeta = _with_ring_bounds(queries, cell_counts, k)
    ring = _ring(qmeta)
    if plan is not None:
        ring = salt_multicast(ring, ["qid", "qx", "qy"], plan)
    if bc_ring:
        ring = F.broadcast(ring)

    w = Window.partitionBy("qid").orderBy("dist2", "doc_key")
    # pre-rank: per (cell[, salt], qid) top-k before the global window,
    # so the qid shuffle carries <= 9k rows per query regardless of
    # cell density (a salted slice's top-k superset keeps every
    # candidate a cell-level top-k could contain)
    wpre = Window.partitionBy(*keys, "qid").orderBy(
        "dist2", "doc_key")

    # stage 1 samples very dense cells: the sampled kth distance is
    # still a valid upper bound (fewer points -> larger kth), and no
    # query whose ring touches a sampled cell is ever marked done —
    # stage 2 redoes it exactly against the FULL data.  The density-
    # adaptive rate 1/ceil(sqrt(c/3k)) balances stage-1 candidate
    # volume against stage-2 bound-radius survivors (both grow as
    # sqrt(k*c) instead of c).  The filter runs on the cached cells, so
    # (cell, salt) partitioning is preserved and the windows stay
    # exchange-free.
    if sample_stage1:
        pts1 = (pts.join(F.broadcast(cell_counts), on="cell", how="left")
                .selectExpr(
                    "cell", "doc_key", "mx", "my",
                    *keys[1:],
                    f"CASE WHEN coalesce(cellcnt, 0) < {dense_thresh} "
                    "THEN CAST(1 AS BIGINT) ELSE CAST(ceil(sqrt("
                    f"CAST(coalesce(cellcnt, 0) AS DOUBLE) / {3.0 * k}"
                    ")) AS BIGINT) END AS _m")
                .where(F.expr("pmod(xxhash64(doc_key * 2 + 1), _m) = 0"))
                .drop("_m"))
    else:
        pts1 = pts

    # stage 1: ring candidates, local top-k, kth bound.  The projection
    # down to (keys, qid, doc_key, dist2) BEFORE the pre-rank matters:
    # those are the rows the per-group top-k heap/sort streams, and
    # qx/qy/mx/my riding along would double the sort's memory traffic
    # (the measured 4N bottleneck is the memory bus, not ALU).
    cand1 = (pts1.join(ring, on=keys, how="inner")
             .selectExpr(*keys, "qid", "doc_key", f"{_D2} AS dist2")
             .withColumn("prnk", F.row_number().over(wpre))
             .where(F.col("prnk") <= k)
             .drop("prnk")
             .withColumn("rnk", F.row_number().over(w))
             .where(F.col("rnk") <= k)
             .persist())
    persisted.append(cand1)

    # left join keeps queries whose whole ring is empty (cnt=0);
    # ring_sum (true counts via SAT) detects rings touching sampled
    # cells: sum >= dense_thresh is conservative (sum >= max)
    agg = cand1.groupBy("qid").agg(F.count("*").alias("cnt"),
                                   F.max("dist2").alias("kth2"))
    stats = (ring_count_expr(qmeta, sat_df, "ring_sum")
             .select("qid", "qmx", "qmy", "qx", "qy", "_cx", "_cy",
                     "ring_sum",
                     "ring_x0", "ring_x1", "ring_y0", "ring_y1")
             .join(agg, on="qid", how="left")
             .fillna({"cnt": 0})
             .persist())
    persisted.append(stats)

    # filled queries: exact kth bound from the ring top-k; done only
    # when the ring was complete (no sampled cell) AND the kth-radius
    # box sits inside the ring
    sampling_guard = (f"ring_sum < {dense_thresh} AND "
                      if sample_stage1 else "")
    filled = (stats.where(F.col("cnt") >= k)
              .selectExpr(
                  "*",
                  "CAST(ceil(sqrt(kth2) * 1000.0) + 1 AS BIGINT) AS rm",
                  f"({sampling_guard}"
                  "qmx - rm >= ring_x0 AND qmx + rm <= ring_x1 AND "
                  "qmy - rm >= ring_y0 AND qmy + rm <= ring_y1) AS done"))

    done = (cand1.join(filled.where("done").select("qid"), on="qid")
            .select("qid", "doc_key", "dist2", "rnk"))

    # stage 2: exact radius re-join for boundary + underfilled queries
    bq = filled.where("NOT done").select(
        "qid", "qmx", "qmy", "qx", "qy", "rm", "kth2")
    # underfilled queries (< k in the ring): SAT ring expansion — the
    # smallest power-of-two cell radius whose box holds >= min(k, total)
    # points; distance to that box's far corner (+1 milli guard) is an
    # exact kth upper bound.  Skipped when the table is empty: _rc >= 0
    # would pick radius 1 for every query and union a useless stage-2
    # branch.
    if total > 0:
        under = stats.where(F.col("cnt") < k)
        radii = ", ".join(str(r) for r in _EXPAND_RADII)
        exp_base = (
            under
            .selectExpr("qid", "qmx", "qmy", "qx", "qy", "_cx",
                        "_cy", f"explode(array({radii})) AS _r")
            .selectExpr("qid", "qmx", "qmy", "qx", "qy", "_r", *_RECT))
        exp = (
            ring_count_expr(exp_base, sat_df, "_rc")
            .where(F.col("_rc") >= min(k, total))
            .withColumn("_pick", F.row_number().over(
                Window.partitionBy("qid").orderBy("_r")))
            .where(F.col("_pick") == 1)
            # exact milli bounds of the chosen box (as _with_ring_bounds),
            # far-corner distance -> kth bound; lateral aliases keep each
            # bound single-sourced
            .selectExpr(
                "qid", "qmx", "qmy", "qx", "qy", *_milli_bounds("_b"),
                "greatest(qmx - _bx0, _bx1 - qmx) AS _dxm",
                "greatest(qmy - _by0, _by1 - qmy) AS _dym")
            .selectExpr(
                "qid", "qmx", "qmy", "qx", "qy",
                "CAST(ceil(sqrt(CAST(_dxm * _dxm + _dym * _dym "
                "AS DOUBLE))) + 1 AS BIGINT) AS rm",
                "CAST(rm * rm AS DOUBLE) / 1.0E6 AS kth2"))
        bq = bq.unionByName(exp)
    bq = bq.selectExpr(
        "qid", "qx", "qy", "kth2",
        "greatest(0, qmx - rm) AS xmin",
        f"least({C.WORLD_MX - 1}, qmx + rm) AS xmax",
        "greatest(0, qmy - rm) AS ymin",
        f"least({C.WORLD_MY - 1}, qmy + rm) AS ymax")
    cover = cover_cells(bq)
    # sFilter presence pruning of the stage-2 cover (X6 wired into J7,
    # VERDICT r4 item 6): multicast (query, cell) rows whose cell holds
    # no data can never match the inner join, so they are dropped
    # BEFORE the stage-2 shuffle.  Its win is bounded by the empty
    # fraction: on a dense grid (sf0.1 is ~70% occupied) the
    # >1024-cell broadcast semi-join is pure overhead per call — prune
    # only when at least half the grid is empty (the sparse regime X6
    # exists for)
    if len(counts) < C.N_CELLS // 2:
        cover = prune_cover(cover, set(counts))
    if plan is not None:
        # stage 2 joins on (cell, salt) too: the probe work of a dense
        # cell then spreads over its salt slices instead of landing in
        # one task (the measured 4N straggler), and the pts side's
        # (cell, salt) hash partitioning is reused with NO exchange
        # (the old cell-only join forced a full re-shuffle of pts on
        # the salted path)
        cover = salt_multicast(cover, ["qid", "qx", "qy", "kth2"], plan)
    if bc_cover:
        cover = F.broadcast(cover)

    # stage-2 probe: equi-join, exact dist filter, then the per-(keys,
    # qid) pre-rank — its <= k rows per group feed the global qid rank
    boundary = (pts.join(cover, on=keys, how="inner")
                .selectExpr(*keys, "qid", "doc_key", "kth2",
                            f"{_D2} AS dist2")
                .where(F.col("dist2") <= F.col("kth2"))
                .select(*keys, "qid", "doc_key", "dist2")
                .withColumn("prnk", F.row_number().over(wpre))
                .where(F.col("prnk") <= k)
                .select("qid", "doc_key", "dist2")
                .withColumn("rnk", F.row_number().over(w))
                .where(F.col("rnk") <= k)
                .select("qid", "doc_key", "dist2", "rnk"))

    return done.unionByName(boundary), persisted


# ~24 B/row: (cell, doc_key) int64 + mx/my int32 in the serialized slim
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


def _bc_gates(queries: DataFrame, eff_salt: int,
              flag: bool | None) -> tuple[bool, bool]:
    """Resolve the ring / stage-2-cover broadcast decisions: the
    multicast fan-out (ring 9, cover ~64) TIMES the effective salt
    replication, size-gated by spatialgraft.broadcast.decide (explicit
    flag wins, no job runs)."""
    return (decide(queries, flag, RING_FANOUT * eff_salt),
            decide(queries, flag, COVER_FANOUT * eff_salt))


def knn_join(points: DataFrame, queries: DataFrame, k: int = C.DEFAULT_K,
             broadcast_queries: bool | None = None,
             pred: Column | str | None = None,
             plan=None,
             salt: int | None = None,
             materialize: bool = True,
             cache_input: bool = True) -> DataFrame:
    """For every query point (qid, qmx, qmy, qx, qy): its k nearest data
    points.  Returns (qid, doc_key, dist2, rnk), rnk 1..k by
    (dist2, doc_key).

    The call runs the join: the slim point projection is cached
    (SERIALIZED level — deserialized object-graph caching was a
    measured GC death spiral near the storage pool at 263M rows), the
    cell histogram is collected once (O(#cells)) to build the SAT as a
    driver array and to short-circuit sampling when no cell is dense,
    the result is persisted and counted, and every intermediate is
    unpersisted before returning.  The returned DataFrame stays
    persisted; the caller unpersists it when done.

    pred: optional extra data-side predicate (knnFilter semantics, F6).
    plan: optional SpatialPartitioning -> salt hot cells in both stage
    joins (J9).
    broadcast_queries: None = auto size-gate per join (ring fan-out 9,
    stage-2 cover fan-out ~64) against the session broadcast threshold,
    from the optimizer's plan-size estimate — no job runs.  True/False
    force.

    salt / materialize / cache_input: accepted for existing callers;
    only the defaults (None / True / True) are valid, anything else
    raises ValueError before a job runs.  Each lost its A/B at the
    x2304 gate (1.05B docs, bench_records/r5_ab4n_x2304.jsonl) against
    the 139.7 s of this plan and was removed: uniform salt=8 ran
    268.0 s (prefer plan=, per-hot-cell split factors), the uncached
    input 206.4 s, and the lazy plan 349.8 s with salt=8 and a driver
    maxResultSize crash without.

    The slim cache also carries accurate InMemoryRelation stats, so an
    exploded/generated input whose static Catalyst estimate misses the
    multiplicity is never auto-broadcast as a huge side.  Executor SIZING matters: when the slim cache does not fit the
    aggregate heap, eviction (even to tmpfs disk) cost a measured +29%
    on the join wall at the same gate (240.4 vs 188.2 s with 8 GiB
    executors, certified clean windows, r6_knn_floor_4n_evlog.jsonl) —
    budget executor memory for the ~24 B/row slim cache PLUS the
    working set of whatever shares the session.
    """
    if salt is not None or not materialize or not cache_input:
        raise ValueError(
            f"knn_join(salt={salt!r}, materialize={materialize!r}, "
            f"cache_input={cache_input!r}): uniform salt, the uncached "
            "input and the lazy plan were removed; salt hot cells with "
            "plan= instead")
    spark = points.sparkSession
    # with a plan whose hottest cell splits N ways the ring/cover rows
    # are replicated a further N times by salt_multicast, so the
    # broadcast size gate must count it (ADVICE r5: a salted query side
    # up to Nx over the threshold could still be force-broadcast)
    eff_salt = plan.max_splits if plan is not None else 1
    bc_ring, bc_cover = _bc_gates(queries, eff_salt, broadcast_queries)
    if pred is not None:
        points = points.where(pred if isinstance(pred, Column)
                              else F.expr(pred))

    # slim projection: feeds the cell histogram, stage 1 and stage 2
    # (the spans column must not ride downstream).  It carries
    # (cell, doc_key, mx:int, my:int) — 24 bytes/row instead of the 40+
    # of a (cell, doc_key, x:double, y:double, salt) row: the doubles
    # are recomputed bit-exactly from the milli ints (_X/_Y) and the
    # salt column exists only when a skew plan asks for it.  At 10^12
    # rows this is the join's one row-count-sized data stream — its
    # width IS the memory-bus bill.
    pts = with_cell(points).select(
        "cell", "doc_key",
        F.col("mx").cast("int").alias("mx"),
        F.col("my").cast("int").alias("my"))
    keys = ["cell"]
    if plan is not None:
        keys = ["cell", "salt"]
        pts = salt_points(pts, ["cell", "doc_key", "mx", "my"], plan)
    # Repartition by (cell, salt) to the session shuffle width BEFORE
    # stage 1: (a) partition count then scales with configuration, not
    # core count — an input cached in defaultParallelism partitions made
    # each stage-1 map task sort (candidates/cores) rows and OOM at 24x
    # input on one executor; (b) hash(cell, salt) satisfies the
    # pre-rank window's clustering, so both window sorts run in place
    # with NO exchange of the candidate stream — the only full-data
    # shuffle in the whole join is this one slim-projection shuffle.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pts = pts.repartition(n_parts, *keys)

    # SER cache (see docstring), one O(#cells) collect
    pts = pts.persist(StorageLevel.MEMORY_AND_DISK)
    hist = pts.groupBy("cell").agg(F.count("*").alias("cellcnt")).collect()
    counts = {int(r["cell"]): int(r["cellcnt"]) for r in hist}
    _warn_if_cache_exceeds_storage(spark, sum(counts.values()))
    result, persisted = _stages(pts, queries, k, plan, bc_ring,
                                bc_cover, counts)
    result = result.persist()
    result.count()
    pts.unpersist()
    for df in persisted:
        df.unpersist()
    return result
