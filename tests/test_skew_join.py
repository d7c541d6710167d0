from spatialgraft import config as C
from spatialgraft import datagen
from spatialgraft.extract import with_geometry
from spatialgraft.ops import range as rops
from spatialgraft.ops.knn import knn_join
from spatialgraft.partitioner import plan_partitions


def test_salted_join_identical_and_nonvacuous(spark, sf_correct):
    pts = with_geometry(datagen.documents_spans(spark, sf_correct))
    boxes = datagen.query_boxes(spark, sf_correct)
    plan = plan_partitions(pts.select("doc_key", "mx", "my"))

    # the skewed fixture must actually trigger salting
    assert plan.max_splits > 1, "skew fixture produced no salted cells"

    base = (rops.range_join_count(pts, boxes).toPandas()
            .sort_values("box_id").reset_index(drop=True))
    salted = (rops.range_join_count_salted(pts, boxes, plan).toPandas()
              .sort_values("box_id").reset_index(drop=True))
    assert base.equals(salted)


def test_partitioner_map_leaves_no_cache(spark, sf_correct):
    """VERDICT r5 nit 2: the plan's 32k-row cell map must not leak a
    cached relation for session lifetime — to_df does not persist (the
    map is only ever a broadcast build side).  knn_join, the engine's
    other persisting join, must leave only its returned result."""
    pts = with_geometry(datagen.documents_spans(spark, sf_correct))
    boxes = datagen.query_boxes(spark, sf_correct)
    plan = plan_partitions(pts.select("doc_key", "mx", "my"))
    jjsc = spark.sparkContext._jsc

    def pids() -> set[int]:
        # id-set deltas, not counts: earlier tests' NON-BLOCKING
        # unpersists can complete mid-test and shrink a raw count
        # (observed as an order-dependent flake once r7 sped the
        # preceding tests up); stale drops cannot perturb a delta
        return {int(k) for k in
                jjsc.getPersistentRDDs().keySet().toArray()}

    before = pids()
    rops.range_join_count_salted(pts, boxes, plan).count()
    assert pids() - before == set()
    # kNN: only the returned (intentional) result persists, not the
    # slim cache
    qs = datagen.knn_queries(spark, sf_correct).limit(50)
    res = knn_join(pts, qs, k=5)
    new = pids() - before
    assert len(new) == 1
    res.unpersist(blocking=True)
    assert pids() & new == set()


def _stacked_points(spark, stacks):
    """`n` points (distinct doc_keys) at each (mx, my, n) of `stacks`."""
    rows, key = [], 0
    for mx, my, n in stacks:
        for _ in range(n):
            rows.append((key, mx, my))
            key += 1
    return spark.createDataFrame(rows, "doc_key bigint, mx bigint, my bigint")


def _cell(mx, my):
    return ((mx * C.CELL_CX) // C.WORLD_MX) * C.CELL_CY + \
        (my * C.CELL_CY) // C.WORLD_MY


def test_plan_is_the_hot_cell_map(spark):
    """Hand-built histogram: one hot cell of 100 points among 9 cold
    cells of 1.  mean = 109 / 10 = 10.9, so the hot threshold is
    mean * 3 = 32.7 and a slice holds int(32.7) = 32 rows: the hot cell
    splits ceil(100 / 32) = 4 ways and is the map's only entry."""
    cold = [(20000 * i + 500, 500, 1) for i in range(1, 10)]
    hot = (1000, 1000, 100)
    pts = _stacked_points(spark, [hot] + cold)
    plan = plan_partitions(pts, skew_ratio=3.0)
    assert plan.assignment == {_cell(1000, 1000): 4}
    assert plan.max_splits == 4
    # n_partitions caps nsplits
    assert plan_partitions(pts, 3, 3.0).assignment == \
        {_cell(1000, 1000): 3}
    # no hot cell -> an empty map, an empty to_df, one slice everywhere
    flat = plan_partitions(_stacked_points(spark, cold), skew_ratio=3.0)
    assert flat.assignment == {}
    assert flat.max_splits == 1
    assert flat.to_df(spark).count() == 0


def test_no_hot_cell_plan_matches_unsalted(spark, sf_smoke):
    """A plan with no hot cell salts nothing: every row takes the
    coalesce(nsplits, 1) path through an empty broadcast map, and the
    salted join must stay bit-exact against its unsalted twin."""
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    boxes = datagen.query_boxes(spark, sf_smoke)
    plan = plan_partitions(pts.select("doc_key", "mx", "my"),
                           skew_ratio=1e12)
    assert plan.assignment == {}

    base = (rops.range_join_count(pts, boxes).toPandas()
            .sort_values("box_id").reset_index(drop=True))
    salted = (rops.range_join_count_salted(pts, boxes, plan).toPandas()
              .sort_values("box_id").reset_index(drop=True))
    assert len(base) > 0
    assert base.equals(salted)
