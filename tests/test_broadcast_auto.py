"""broadcast_queries=None auto-selection (VERDICT r2 item 4): a small
query side must plan as a BroadcastHashJoin; a huge synthetic query side
must NOT be force-broadcast (it shuffles; AQE may still convert at
runtime from real stats, which is the desired behavior at scale)."""

from pyspark.sql import functions as F

from spatialgraft import datagen
from spatialgraft.broadcast import decide, plan_size_bytes, threshold_bytes
from spatialgraft.extract import with_geometry
from spatialgraft.ops.range import range_join_count


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_small_query_side_broadcasts(spark, sf_smoke):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    boxes = datagen.query_boxes(spark, sf_smoke)
    plan = _plan(range_join_count(pts, boxes))  # default: auto
    assert "BroadcastHashJoin" in plan


def test_large_query_side_not_forced_broadcast(spark, sf_smoke):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    big = spark.range(500_000).selectExpr(
        "id AS box_id",
        "(id * 37) % 350000 AS xmin", "(id * 41) % 170000 AS ymin",
        "(id * 37) % 350000 + 500 AS xmax",
        "(id * 41) % 170000 + 500 AS ymax")
    # auto must NOT plant a broadcast hint on the 500k-box cover (the
    # driver-side build it would force); Catalyst/AQE remain free to
    # pick the physical join from real stats — e.g. at smoke scale the
    # POINTS side is the small one and broadcasting IT is correct
    analyzed = range_join_count(pts, big) \
        ._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    forced = range_join_count(pts, big, broadcast_queries=True) \
        ._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in forced


def test_explicit_false_shuffles_the_cover(spark, sf_smoke):
    """broadcast_queries=False hints the cover to a shuffled join, so
    the cell join is not broadcast even where Catalyst would broadcast
    the small cover on its own estimate (at sf0.001 it does), and the
    results stay the same.  Checked on the executed plan of
    range_join_count (cover_count)."""
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke),
                        columns=["doc_key", "mx", "my"])
    boxes = datagen.query_boxes(spark, sf_smoke)
    want = sorted(map(tuple, range_join_count(pts, boxes).collect()))
    df = range_join_count(pts, boxes, broadcast_queries=False)
    got = sorted(map(tuple, df.collect()))
    plan = _plan(df)
    assert "BroadcastHashJoin [cell" not in plan
    assert "SortMergeJoin [cell" in plan
    assert got == want and len(want) > 0


def test_decide_math(spark):
    thr = threshold_bytes(spark)
    assert thr > 0
    small = spark.range(10).selectExpr("id AS box_id")
    big = spark.range(2_000_000).selectExpr("id AS box_id")
    assert decide(small, fanout=64) is True
    assert decide(big, fanout=64) is False


def test_plan_size_hook_gives_real_estimate(spark):
    """Every auto gate reads Catalyst's sizeInBytes through a PySpark
    internal (plan_size_bytes); if that API changes shape the hook falls
    back to its 1 << 62 sentinel and every gate silently stops
    broadcasting.  Pin a real estimate on the installed PySpark."""
    est = plan_size_bytes(spark.range(10))
    assert 0 < est < 1 << 62


def test_threshold_bytes_matches_spark_parse(spark):
    """threshold_bytes reads every byte-size suffix Spark accepts for
    spark.sql.autoBroadcastJoinThreshold (t/tb/p/pb included) as the
    same byte count Spark's own conf parse gives."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    sql_conf = spark._jsparkSession.sessionState().conf()
    try:
        for raw in ["10MB", "1t", "1tb", "2TB", "1p", "1pb", "-1"]:
            spark.conf.set(key, raw)
            assert threshold_bytes(spark) == \
                sql_conf.autoBroadcastJoinThreshold(), raw
    finally:
        spark.conf.set(key, old)
