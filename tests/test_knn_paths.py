"""kNN scale paths: SAT ring expansion (no world cover), salted stage 1
(J9), data-side predicate (F6), and the fewer-than-k-points edge —
each checked bit-exactly against a brute-force cross-join twin."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from spatialgraft import datagen
from spatialgraft.extract import with_geometry
from spatialgraft.ops.knn import knn_join
from spatialgraft.partitioner import plan_partitions

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
    # sf0.001 is sparse over 32k cells: k=25 underfills most 3x3 rings,
    # exercising the SAT expansion on nearly every query
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    _assert_same(knn_join(pts, qs, k=25), _brute(pts, qs, k=25))


def test_eager_deep_expansion_matches_brute_force(spark, sf_smoke):
    """EAGER-path deep SAT expansion vs brute force: k=150 at sf0.001
    underfills every ring, so every query's stage-2 radius flows
    through the eager expansion subtree (driver SAT array + explode-
    radii pick).  The k150 contract query runs this exact path
    (materialize=True); before r7 only the LAZY construction was
    brute-force-gated at k=150.  Also the regression gate for any
    future expansion rewrite — an r7 candidate (inline CASE-chain
    radius pick) was measured 2x slower from lateral-alias expression
    inlining and rejected (OPTIMIZATION_r07.md, bench_records/
    r7_expandpick_ab_sf01.jsonl)."""
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    _assert_same(knn_join(pts, qs, k=150, materialize=True),
                 _brute(pts, qs, k=150))


def test_fewer_points_than_k(spark, sf_smoke):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke)).where(
        F.col("doc_key") % 997 == 0)
    n = pts.count()
    assert 0 < n < 10
    qs = datagen.knn_queries(spark, sf_smoke).limit(7)
    got = knn_join(pts, qs, k=10)
    assert got.count() == 7 * n
    _assert_same(got, _brute(pts, qs, k=10))


def test_salted_knn_identical_and_nonvacuous(spark, sf_correct):
    pts = with_geometry(datagen.documents_spans(spark, sf_correct))
    qs = datagen.knn_queries(spark, sf_correct)
    plan = plan_partitions(pts.select("doc_key", "mx", "my"))
    assert plan.max_splits > 1, \
        "skew fixture produced no salted cells"
    _assert_same(knn_join(pts, qs, k=10, plan=plan),
                 knn_join(pts, qs, k=10))


def test_uniform_salt_identical(spark, sf_correct):
    """knn_join(salt=N) — the plan-free skew knob — must be bit-exact
    against the unsalted join in BOTH materialize modes (stage 1 AND
    stage 2 key on (cell, salt) when salted).  The same twin also holds
    the shuffled shape (broadcast_queries=False, the bench.py and
    scripts/plancmp.py gate shape): ring and cover sort-merge joined
    against the points instead of broadcast."""
    pts = with_geometry(datagen.documents_spans(spark, sf_correct))
    qs = datagen.knn_queries(spark, sf_correct)
    base = knn_join(pts, qs, k=10)
    _assert_same(knn_join(pts, qs, k=10, salt=8), base)
    _assert_same(knn_join(pts, qs, k=10, salt=8, materialize=True), base)
    # the uncached eager path (gate protocol) must also be bit-exact
    _assert_same(knn_join(pts, qs, k=10, salt=8, materialize=True,
                          cache_input=False), base)
    # with auto-broadcast off, only the engine's own O(#cells) hints
    # broadcast — the cell-keyed stage joins must plan as sort-merge
    # (the qid joins always do), so the shuffled case cannot pass on a
    # broadcast plan
    thr_key = "spark.sql.autoBroadcastJoinThreshold"
    thr = spark.conf.get(thr_key)
    spark.conf.set(thr_key, "-1")
    try:
        for mat in (False, True):
            got = knn_join(pts, qs, k=10, broadcast_queries=False,
                           materialize=mat)
            plan = got._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin [cell#" in plan, \
                f"stage joins not shuffled (materialize={mat})"
            _assert_same(got, base)
    finally:
        spark.conf.set(thr_key, thr)


def test_sampling_short_circuit_identical(spark, sf_smoke, monkeypatch):
    # the same input answered through both stage-1 regimes — sampling
    # forced on (threshold 0 via KNN_SAMPLE_MOD=1 -> every cell with
    # >= 3k points samples) vs the driver-side short-circuit when no
    # cell crosses the threshold — must be bit-identical
    from spatialgraft import config as C
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke).limit(50)
    fast = knn_join(pts, qs, k=3)
    monkeypatch.setattr(C, "KNN_SAMPLE_MOD", 1)
    sampled = knn_join(pts, qs, k=3)
    _assert_same(sampled, fast)


def test_k150_matches_brute_force(spark, sf_smoke, sf_correct):
    """Reference-scale k (its benchmarks run k up to 200,
    reference README.md:51): k=150 exercises deep SAT expansion at
    sf0.001 (most rings underfill) and the dense pre-rank/sampling
    machinery at sf0.01 — both must stay bit-exact."""
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


def test_sat_plan_matches_driver_sat(spark, sf_smoke):
    """The lazy SAT row (_sat_plan) must equal the driver-built one
    (_sat_rows) entry for entry, and `_total` the table total.  The
    brute-force twins only catch an over-counting SAT (the bound gets
    too tight); an under-counting one merely loosens the bound, so the
    layout is pinned here directly — on real data and an empty table."""
    from spatialgraft.cells import with_cell
    from spatialgraft.ops.knn import _sat_plan, _sat_rows
    pts = with_cell(with_geometry(datagen.documents_spans(spark, sf_smoke)))
    cell_counts = pts.groupBy("cell").agg(F.count("*").alias("cellcnt"))
    counts = {r["cell"]: r["cellcnt"] for r in cell_counts.collect()}
    assert len(counts) > 100  # non-vacuous
    for cc, want in ((cell_counts, counts),
                     (cell_counts.where("false"), {})):
        (row,) = _sat_plan(spark, cc).collect()
        assert row["sat"] == _sat_rows(want)
        assert row["_total"] == sum(want.values())


def test_lazy_construction_runs_no_jobs(spark, sf_smoke):
    """materialize=False must be a pure plan: no Spark job (histogram,
    count, or otherwise) during knn_join() itself, and nothing left
    persisted (the round-3 lazy path collected the histogram and leaked
    three cached DataFrames per call)."""
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    jsc = spark.sparkContext._jsc.sc()
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    cached_before = jsc.getPersistentRDDs().size()
    df = knn_join(pts, qs, k=10, materialize=False)
    after = set(tracker.getJobIdsForGroup(None))
    assert after == before, f"lazy knn_join ran jobs {after - before}"
    # plan inspection is also job-free
    df._jdf.queryExecution().executedPlan().toString()
    assert set(tracker.getJobIdsForGroup(None)) == before
    # no hidden cache state left behind
    assert jsc.getPersistentRDDs().size() == cached_before


def test_stage2_cover_prune_wired(spark, sf_smoke):
    """VERDICT r4 item 6: the stage-2 cover is presence-pruned (X6 ->
    J7).  Wiring check: the lazy plan carries the left-semi prune; the
    quantitative headroom on the sparse sf0.001 fixture is large (most
    of the 32k cells hold no data, so most world-cover multicast rows
    die before the stage-2 shuffle).  Exactness of the pruned path is
    covered by the brute-force twins above, which all run through it."""
    from spatialgraft import config as C
    from spatialgraft.sfilter import presence_cells
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    plan = (knn_join(pts, qs, k=25, materialize=False)
            ._jdf.queryExecution().optimizedPlan().toString())
    assert "LeftSemi" in plan, "stage-2 cover prune not in lazy plan"
    present = presence_cells(pts)
    assert len(present) < 0.2 * C.N_CELLS, \
        "sf0.001 fixture unexpectedly dense; prune test is vacuous"


def test_lazy_equals_eager(spark, sf_smoke):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    qs = datagen.knn_queries(spark, sf_smoke)
    _assert_same(knn_join(pts, qs, k=10, materialize=False),
                 knn_join(pts, qs, k=10, materialize=True))


def _assert_no_raw_generate_broadcast(plan_str):
    """Every BroadcastExchange subtree that contains a Generate must
    also contain an Aggregate below it: broadcasting an O(#cells)
    aggregate OF generated lineage is safe by construction; broadcasting
    the raw generated row stream is the measured driver crash."""
    import re
    lines = plan_str.splitlines()
    art = [re.match(r"^[\s:+\-=*]*", ln).end() for ln in lines]
    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        depth = art[i]
        sub = []
        for j in range(i + 1, len(lines)):
            if lines[j].strip() and art[j] <= depth:
                break
            sub.append(lines[j])
        body = "\n".join(sub)
        if "Generate" in body:
            assert "Aggregate" in body, (
                "raw generated lineage under a BroadcastExchange:\n"
                + ln + "\n" + body[:1500])


def test_lazy_generated_input_never_broadcast(spark, sf_smoke):
    """VERDICT r5 item 1: Catalyst's explode-blind sizeInBytes could
    plant a generated points side as a broadcast build (measured driver
    maxResultSize crash at 1.05B rows).  The lazy path must detect the
    Generate lineage and force sort-merge on the points side of both
    stage joins — and must leave parquet-backed plans untouched."""
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    big = (pts.withColumn("_r", F.explode(F.sequence(F.lit(0),
                                                     F.lit(49))))
           .withColumn("doc_key", F.col("doc_key") * 50 + F.col("_r"))
           .drop("_r"))
    qs = datagen.knn_queries(spark, sf_smoke).limit(40)
    lazy = knn_join(big, qs, k=3, materialize=False)
    opt = lazy._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("strategy=merge") >= 2, \
        "guard did not hint both stage joins"
    _assert_no_raw_generate_broadcast(
        lazy._jdf.queryExecution().executedPlan().toString())
    # parquet-backed input keeps today's unhinted plans
    normal = knn_join(pts, qs, k=3, materialize=False)
    assert "strategy=merge" not in \
        normal._jdf.queryExecution().optimizedPlan().toString()
    # and the guarded plan is still bit-exact vs the eager path
    _assert_same(lazy, knn_join(big, qs, k=3, materialize=True))


def test_broadcast_gate_counts_salt(spark, sf_smoke):
    """ADVICE r5: the ring/cover auto-broadcast gate must multiply the
    fan-out by the effective salt replication of the multicast side."""
    from spatialgraft.broadcast import plan_size_bytes, threshold_bytes
    from spatialgraft.ops.knn import _bc_gates
    qs = datagen.knn_queries(spark, sf_smoke)
    est, thr = plan_size_bytes(qs), threshold_bytes(spark)
    assert 0 < est * 9 <= thr, "fixture: unsalted ring must fit"
    ring1, _cover1 = _bc_gates(spark, qs, 1, None)
    assert ring1
    big_salt = int(thr // (est * 9) + 1)
    ring_s, cover_s = _bc_gates(spark, qs, big_salt, None)
    assert not ring_s and not cover_s
    # explicit flags still win over the gate
    assert _bc_gates(spark, qs, big_salt, True) == (True, True)
    assert _bc_gates(spark, qs, 1, False) == (False, False)


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
