"""Non-power-of-two grid override (ADVICE r5, medium): the grid knobs
SPARK_GRAFT_CELL_CX/_CY are deployment config; the kNN SAT ring radii
must span ANY grid's sub-grid, not just power-of-two dims — under an
old radii derivation a corner query on a 96x48 grid whose nearest data
sat beyond cell radius 64 matched no radius and was silently dropped
(kNN returned < k rows).  The same subprocess reruns the range count's
brute-force twins (tests/test_cover_count.py) on that grid.  Runs in a
subprocess because the grid constants bind at module import."""

import os
import subprocess
import sys
import textwrap

_INNER = textwrap.dedent('''
    import os
    assert os.environ["SPARK_GRAFT_CELL_CX"] == "96"
    from spatialgraft import config as C
    assert C.CELL_CX == 96 and C.CELL_CY == 48
    from spatialgraft.ops import knn
    # the sub-grid splits each cell 4x4, and the largest ring radius
    # reaches its far edge
    assert (knn._SCX, knn._SCY) == (4 * 96, 4 * 48)
    assert max(knn._RADII) >= max(knn._SCX, knn._SCY) - 1, knn._RADII
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from spatialgraft.ops.knn import knn_join
    from spatialgraft.session import get_spark
    spark = get_spark("grid-override", cpus=4)
    # 30 points clustered in the far corner (cell_x ~ 95), queries in
    # the opposite corner (cell_x 0): the SAT ring must reach sub-cell
    # radius ~4 * CELL_CX - 1 = 383 to satisfy the queries.  An old
    # power-of-two radii cap (64 cells for a 96-wide grid) made such
    # queries vanish.
    pts = spark.createDataFrame(
        [(i, 358000 + (i * 37) % 1500, 178000 + (i * 53) % 1500)
         for i in range(30)], "doc_key bigint, mx bigint, my bigint"
    ).selectExpr("doc_key", "mx", "my",
                 "CAST(mx - 180000 AS DOUBLE) / 1000.0 AS x",
                 "CAST(my - 90000 AS DOUBLE) / 1000.0 AS y")
    qs = spark.createDataFrame(
        [(q, 1000 + q * 211, 1000 + q * 173) for q in range(5)],
        "qid bigint, qmx bigint, qmy bigint"
    ).selectExpr("qid", "qmx", "qmy",
                 "CAST(qmx - 180000 AS DOUBLE) / 1000.0 AS qx",
                 "CAST(qmy - 90000 AS DOUBLE) / 1000.0 AS qy")
    got = knn_join(pts, qs, k=10)
    n = got.count()
    assert n == 50, f"expected 5 queries x k=10 = 50 rows, got {n}"
    w = Window.partitionBy("qid").orderBy("dist2", "doc_key")
    want = (qs.crossJoin(pts)
            .withColumn("dist2", F.expr(
                "(qx - x) * (qx - x) + (qy - y) * (qy - y)"))
            .withColumn("rnk", F.row_number().over(w))
            .where("rnk <= 10").select("qid", "doc_key", "dist2", "rnk"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    # SAT ring counts equal brute-force sums on a non-power-of-two grid
    # and its sub-grid too (points spread over the whole world)
    from tests.test_knn_paths import _assert_sat_ring_counts, _histogram
    spread = spark.range(500).selectExpr(
        "(id * 7919) % 360000 AS mx", "(id * 104729) % 180000 AS my")
    both = pts.select("mx", "my").unionByName(spread)
    for cx, cy in ((C.CELL_CX, C.CELL_CY), (knn._SCX, knn._SCY)):
        counts = _histogram(both, cx, cy)
        assert sum(counts.values()) == 530
        _assert_sat_ring_counts(spark, counts, cx, cy)
    # the range count's interior-cell rule is exact on this grid too
    from tests.test_cover_count import (assert_cover_count_twin,
                                        assert_salted_cover_count_twin)
    assert_cover_count_twin(spark)
    assert_salted_cover_count_twin(spark)
    spark.stop()
    print("GRID-OK")
''')


def test_env_override_validation():
    """Bad env overrides must fail loudly at import (ADVICE r5: the
    knobs were unvalidated) — a zero grid dimension breaks the div/pmod
    cell arithmetic silently, an oversized grid overruns the O(#cells)
    driver structures.  Config-free Python subprocesses (no Spark)."""
    cases = [
        ({"SPARK_GRAFT_CELL_CX": "0"}, "must be >= 1"),
        ({"SPARK_GRAFT_CELL_CX": "16384",
          "SPARK_GRAFT_CELL_CY": "16384"}, "2\\^26|2\\^26 cells|exceeds"),
    ]
    import re
    for override, pat in cases:
        env = dict(os.environ, **override)
        r = subprocess.run(
            [sys.executable, "-c", "from spatialgraft import config"],
            env=env, capture_output=True, text=True, timeout=120,
            cwd=os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))))
        assert r.returncode != 0, f"{override} was accepted"
        assert "ValueError" in r.stderr and re.search(pat, r.stderr), \
            (override, r.stderr[-500:])


def test_knn_under_non_power_of_two_grid():
    env = dict(os.environ, SPARK_GRAFT_CELL_CX="96",
               SPARK_GRAFT_CELL_CY="48", SPARK_GRAFT_CPUS="4",
               SPARK_GRAFT_SHUFFLE="8")
    r = subprocess.run([sys.executable, "-c", _INNER], env=env,
                       capture_output=True, text=True, timeout=600,
                       cwd=os.path.dirname(os.path.dirname(
                           os.path.abspath(__file__))))
    assert r.returncode == 0, (r.stdout[-3000:], r.stderr[-3000:])
    assert "GRID-OK" in r.stdout
