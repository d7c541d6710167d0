"""kNN scale paths: the SAT ring bound (no world cover), dense cells,
the shuffled-cover join, data-side predicate (F6), and the
fewer-than-k-points and empty-table edges — each checked bit-exactly
against a brute-force cross-join twin."""

import random
import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from spatialgraft import datagen
from spatialgraft.extract import with_geometry
from spatialgraft.ops.knn import knn_join

_D2 = "(qx - x) * (qx - x) + (qy - y) * (qy - y)"


def _brute(points, queries, k, pred=None):
    pts = points.where(pred) if pred is not None else points
    w = Window.partitionBy("qid").orderBy("dist2", "doc_key")
    return (queries.select("qid", "qx", "qy")
            .crossJoin(pts.select("doc_key", "x", "y"))
            .withColumn("dist2", F.expr(_D2))
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("qid", "doc_key", "dist2", "rnk"))


def _assert_same(got_df, want_df):
    cols = ["qid", "doc_key", "dist2", "rnk"]
    got = got_df.toPandas().sort_values(cols).reset_index(drop=True)
    want = want_df.toPandas().sort_values(cols).reset_index(drop=True)
    assert len(got) == len(want)
    assert got[cols].equals(want[cols])


def test_ring_expansion_matches_brute_force(spark, sf_smoke):
    # sf0.001 is sparse over 32k cells: k=25 needs a SAT ring of many
    # sub-cells on nearly every query
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    _assert_same(knn_join(pts, qs, k=25), _brute(pts, qs, k=25))
    # the removed options (lazy plan, uncached input, uniform salt) are
    # rejected up front
    for removed in ({"materialize": False}, {"cache_input": False},
                    {"salt": 8}):
        with pytest.raises(ValueError, match="were removed"):
            knn_join(pts, qs, k=25, **removed)


def test_eager_deep_expansion_matches_brute_force(spark, sf_smoke):
    """Deep SAT bound vs brute force: k=150 at sf0.001 needs a wide
    sub-cell ring for every query, so every kth bound comes from a
    large radius of the driver-built SAT (one filter over the candidate
    radii).  The k150 contract query runs this exact path.  Also the
    regression gate for any future bound rewrite — an r7 candidate
    (inline CASE-chain radius pick) was measured 2x slower from
    lateral-alias expression inlining and rejected
    (OPTIMIZATION_r07.md, bench_records/r7_expandpick_ab_sf01.jsonl)."""
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    _assert_same(knn_join(pts, qs, k=150), _brute(pts, qs, k=150))


def test_fewer_points_than_k(spark, sf_smoke):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke)).where(
        F.col("doc_key") % 997 == 0)
    n = pts.count()
    assert 0 < n < 10
    qs = datagen.knn_queries(spark, sf_smoke).limit(7)
    got = knn_join(pts, qs, k=10)
    assert got.count() == 7 * n
    _assert_same(got, _brute(pts, qs, k=10))


def test_empty_table(spark, sf_smoke):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke)).where(
        F.lit(False))
    qs = datagen.knn_queries(spark, sf_smoke).limit(7)
    assert knn_join(pts, qs, k=10).count() == 0


def test_dense_cells_match_brute_force(spark, sf_smoke):
    """Every location holds COPIES >= k points (the replicated-input
    shape of the x2304 gate), so each query's bound comes from its own
    sub-cell at radius 0; k > COPIES must reach past the copies of the
    nearest location."""
    copies = 12
    base = with_geometry(datagen.documents_spans(spark, sf_smoke))
    pts = (base.withColumn("_r", F.explode(F.sequence(F.lit(0),
                                                      F.lit(copies - 1))))
           .withColumn("doc_key", F.col("doc_key") * copies + F.col("_r"))
           .drop("_r"))
    qs = datagen.knn_queries(spark, sf_smoke).limit(40)
    for k in (10, 25):
        _assert_same(knn_join(pts, qs, k=k), _brute(pts, qs, k))


# Spark jobs one knn_join call runs at sf0.001, as measured: the sub-cell
# histogram collect and the result count with their query stages and
# broadcasts.  An added stage or driver collect fails here.
KNN_JOBS_MAX = 10


def test_knn_job_count_pinned(spark, sf_smoke):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    sc = spark.sparkContext
    sc.setJobGroup("test-knn-jobs", "knn_join job count")
    try:
        knn_join(pts, qs, k=10).unpersist()
        jobs = sc.statusTracker().getJobIdsForGroup("test-knn-jobs")
    finally:
        sc.setJobGroup("test-knn-jobs-done", "")
    assert 0 < len(jobs) <= KNN_JOBS_MAX, sorted(jobs)


def _final_plan(df) -> str:
    """The final physical plan behind a persisted result: the cached
    relation's adaptive plan, once executed (the executedPlan string
    would print its initial plan too).  It includes the plan that built
    the slim cache, printed under its InMemoryRelation."""
    cached = (df._jdf.queryExecution().executedPlan().inputPlan()
              .relation().cachedPlan())
    assert cached.isFinalPlan()
    return cached.executedPlan().toString()


def _subtrees(plan: str, marker: str) -> list[str]:
    """The text of every subtree of `plan` whose root line holds
    `marker`: that line and the deeper-indented lines after it."""
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if marker in line:
            end = i + 1
            while end < len(lines) and depth(lines[end]) > depth(line):
                end += 1
            out.append("\n".join(lines[i:end]))
    return out


def test_knn_ranks_once(spark, sf_smoke):
    """The bounded join's survivors (a few k per query) go straight to
    the one qid rank: exactly one Window in the plan, so no
    per-(cell, qid) ranking comes back.
    That rank leans on Spark's partial WindowGroupLimit, which keeps
    each task's top k per qid below the qid exchange; without it every
    survivor would cross that exchange, so a Spark version that drops
    it fails here instead of slowing down.  The points reach the
    broadcast cover in their input partitions: no cell exchange
    anywhere, not even under the slim cache."""
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    partial = re.compile(r"WindowGroupLimit \[qid#\d+L?\], .*"
                         r"row_number\(\), 10, Partial")
    res = knn_join(pts, qs, k=10)
    final = _final_plan(res)
    assert len(re.findall(r"\bWindow \[", final)) == 1
    below = _subtrees(final, "Exchange hashpartitioning(qid")
    assert len(below) == 1
    assert partial.search(below[0]), below[0]
    assert "Exchange hashpartitioning(cell" not in final
    res.unpersist()


def test_shuffled_stage_joins_identical(spark, sf_correct):
    """The shuffled shape (broadcast_queries=False, the bench.py and
    scripts/plancmp.py gate shape) must be bit-exact against the default
    join: the cover sort-merge joined against the points instead of
    broadcast, with the points shuffled once, after the cache."""
    pts = with_geometry(datagen.documents_spans(spark, sf_correct))
    qs = datagen.knn_queries(spark, sf_correct)
    base = knn_join(pts, qs, k=10)
    want = base.toPandas()
    # drop the persisted result first: the shuffled call's plan differs
    # from it only by join hints, which the cache lookup ignores, so the
    # shuffled call would read this result back instead of running
    base.unpersist()
    # with auto-broadcast off, only the engine's own O(#cells) hints
    # broadcast — the cell-keyed join must plan as sort-merge, so the
    # shuffled case cannot pass on a broadcast plan
    thr_key = "spark.sql.autoBroadcastJoinThreshold"
    thr = spark.conf.get(thr_key)
    spark.conf.set(thr_key, "-1")
    try:
        got = knn_join(pts, qs, k=10, broadcast_queries=False)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin [cell#" in plan, "cover join not shuffled"
        # Catalyst hashes the points by cell exactly once, right above
        # the slim cache's scan
        final = _final_plan(got)
        over_cache = [t for t in
                      _subtrees(final, "Exchange hashpartitioning(cell")
                      if "InMemoryTableScan" in t]
        assert len(over_cache) == 1, final
        assert over_cache[0].split("InMemoryTableScan")[0] \
            .count("Exchange") == 1, over_cache[0]
        _assert_same(got, spark.createDataFrame(want))
    finally:
        spark.conf.set(thr_key, thr)


def test_k150_matches_brute_force(spark, sf_smoke, sf_correct):
    """Reference-scale k (its benchmarks run k up to 200,
    reference README.md:51): k=150 exercises wide SAT rings at sf0.001
    and the dense cells' survivor ranks at sf0.01 — both must stay
    bit-exact."""
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    _assert_same(knn_join(pts, qs, k=150), _brute(pts, qs, k=150))

    pts1 = with_geometry(datagen.documents_spans(spark, sf_correct))
    qs1 = datagen.knn_queries(spark, sf_correct).limit(100)
    _assert_same(knn_join(pts1, qs1, k=150), _brute(pts1, qs1, k=150))


def test_knn_pred_matches_filtered_brute_force(spark, sf_smoke):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    pred = "lower(text) LIKE '%flag r%'"
    _assert_same(knn_join(pts, qs, k=5, pred=pred),
                 _brute(pts, qs, k=5, pred=F.expr(pred)))


def _sat_rects(counts, cx, cy):
    """Cell rectangles (cxa, cxb, cya, cyb), inclusive, on the cx x cy
    grid for the SAT check: the full grid, the four edge rows/columns,
    the four corner cells and populated cells alone, clipped rings of
    several radii around populated and corner cells, and seeded random
    rectangles."""
    cx1, cy1 = cx - 1, cy - 1
    rects = {(0, cx1, 0, cy1),
             (0, cx1, 0, 0), (0, cx1, cy1, cy1),
             (0, 0, 0, cy1), (cx1, cx1, 0, cy1)}
    homes = [(0, 0), (0, cy1), (cx1, 0), (cx1, cy1)]
    homes += [divmod(c, cy) for c in sorted(counts)[:50]]
    for hx, hy in homes:
        rects.add((hx, hx, hy, hy))
        for r in (1, 2, 5, 17, max(cx, cy)):
            rects.add((max(hx - r, 0), min(hx + r, cx1),
                       max(hy - r, 0), min(hy + r, cy1)))
    rng = random.Random(7)
    for _ in range(100):
        xa, xb = sorted(rng.randint(0, cx1) for _ in range(2))
        ya, yb = sorted(rng.randint(0, cy1) for _ in range(2))
        rects.add((xa, xb, ya, yb))
    return sorted(rects)


def _histogram(points, cx, cy):
    from spatialgraft.cells import cell_expr
    return {r["c"]: r["n"] for r in
            points.groupBy(cell_expr(cx=cx, cy=cy).alias("c"))
            .agg(F.count("*").alias("n")).collect()}


def _assert_sat_ring_counts(spark, counts, cx, cy):
    """ring_count_sql over the SAT built by sat_rows from `counts`
    (cell -> n on the cx x cy grid), cross-joined in as the kNN bound
    does, must equal the Python sum of `counts` inside each _sat_rects
    rectangle.  The brute-force kNN twins only catch an over-counting
    SAT (the bound gets too tight); an under-counting one merely
    loosens the bound, so the layout is pinned here directly."""
    from spatialgraft.cells import ring_count_sql, sat_df, sat_rows
    rects = _sat_rects(counts, cx, cy)
    sat = sat_df(spark, sat_rows(list(counts), list(counts.values()),
                                 cx, cy))
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rects)],
        "rid int, _cxa bigint, _cxb bigint, _cya bigint, _cyb bigint")
    ring = ring_count_sql("sat", "_cxa", "_cxb", "_cya", "_cyb", cy)
    got = {r["rid"]: r["n"] for r in
           df.crossJoin(F.broadcast(sat))
           .selectExpr("rid", f"{ring} AS n").collect()}
    for i, (xa, xb, ya, yb) in enumerate(rects):
        want = sum(n for c, n in counts.items()
                   if xa <= c // cy <= xb and ya <= c % cy <= yb)
        assert got[i] == want, ((xa, xb, ya, yb), got[i], want)


def test_sat_ring_count_matches_brute_sum(spark, sf_smoke):
    """On the join-cell grid and on the kNN bound's sub-grid."""
    from spatialgraft import config as C
    from spatialgraft.ops import knn
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    for cx, cy in ((C.CELL_CX, C.CELL_CY), (knn._SCX, knn._SCY)):
        counts = _histogram(pts, cx, cy)
        assert len(counts) > 100  # non-vacuous
        _assert_sat_ring_counts(spark, counts, cx, cy)
        _assert_sat_ring_counts(spark, {}, cx, cy)


def test_generated_input_matches_brute_force(spark, sf_smoke):
    """VERDICT r5 item 1: Catalyst's explode-blind sizeInBytes once let
    a generated points side be planted as a broadcast build (measured
    driver maxResultSize crash at 1.05B rows, lazy plan).  The join
    reads its points through the slim cache, whose stats are real; on
    an exploded (Generate) input it must stay bit-exact against brute
    force on the same input."""
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    big = (pts.withColumn("_r", F.explode(F.sequence(F.lit(0),
                                                     F.lit(49))))
           .withColumn("doc_key", F.col("doc_key") * 50 + F.col("_r"))
           .drop("_r"))
    qs = datagen.knn_queries(spark, sf_smoke).limit(40)
    _assert_same(knn_join(big, qs, k=3), _brute(big, qs, k=3))


def _salted_cover_hinted(df) -> bool:
    """Whether the salted cover (the Project carrying `salt` right under
    a broadcast hint) is broadcast-hinted in df's analyzed plan."""
    lines = df._jdf.queryExecution().analyzed().toString().splitlines()
    return any("ResolvedHint (strategy=broadcast)" in a and "salt#" in b
               for a, b in zip(lines, lines[1:]))


def test_broadcast_gate_counts_salt(spark, sf_smoke):
    """ADVICE r5: the cover's auto-broadcast gate multiplies the fan-out
    by the plan's salt replication (cells.hint_cover): the salted
    range join hints its salted cover as a broadcast while the gate
    passes, and does not once max_splits pushes it over."""
    from spatialgraft.broadcast import (COVER_FANOUT, plan_size_bytes,
                                        threshold_bytes)
    from spatialgraft.cells import cover_cells, hint_cover
    from spatialgraft.ops import range as rops
    from spatialgraft.partitioner import SpatialPartitioning
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    boxes = datagen.query_boxes(spark, sf_smoke)
    ests, thr = [plan_size_bytes(qs), plan_size_bytes(boxes)], \
        threshold_bytes(spark)
    assert 0 < max(ests) * COVER_FANOUT * 2 <= thr, \
        "fixture: a 2-way salted cover must fit"
    fits = SpatialPartitioning({0: 2})
    over = SpatialPartitioning({0: thr // (min(ests) * COVER_FANOUT) + 1})

    def gated(side, plan):
        cover = hint_cover(cover_cells(boxes), side, plan=plan)
        return "ResolvedHint (strategy=broadcast)" in \
            cover._jdf.queryExecution().analyzed().toString()

    for side in (qs, boxes):
        assert gated(side, None)
        assert gated(side, fits)
        assert not gated(side, over)
    for plan, hinted in ((fits, True), (over, False)):
        rj = rops.range_join_count_salted(pts, boxes, plan)
        assert _salted_cover_hinted(rj) is hinted


def test_cache_sizing_advisory(spark):
    """VERDICT r6 item 3: the measured +29% eviction penalty is now a
    code-level advisory — fires iff the estimated slim cache exceeds
    aggregate executor storage; never changes behavior."""
    from spatialgraft.ops.knn import _warn_if_cache_exceeds_storage
    # tiny table: no warning
    assert _warn_if_cache_exceeds_storage(spark, 1000) is False
    # absurd row count (exabytes): must warn
    import warnings
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        fired = _warn_if_cache_exceeds_storage(spark, 10**17)
    assert fired is True
    assert any("slim cache" in str(x.message) for x in w)
