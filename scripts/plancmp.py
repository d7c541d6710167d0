"""Dump the NORMALIZED executed plan of the gate-shaped kNN join.

Bisection tool for wall-clock anomalies on this co-tenant box: when a
gate reading moves, the first question is "did the plan change?".  Run
this at two git revisions (a worktree for the old one) and diff the
outputs — expression ids, plan ids, and cache-relation numbers are
normalized away, so byte-identical files mean Catalyst planned the
same physical join and the anomaly is environmental.

Round-6 precedent: the r6 2-core gate pair read kNN 3x slower than
r5's at both levels while PIP got FASTER; this tool proved HEAD and
the r5 commit plan-identical at the gate shape (eager, cached,
broadcast_queries=False, replicated-explode input), pinning the
anomaly on ambient steal, not code (BENCH_BASELINE.md round 6).

Usage: python scripts/plancmp.py OUT.txt  (run from the repo root)

The count_join operators (range_join_count, range_join,
pip_join_count, pip_join_concave_count) on the same points, with the
standard query boxes and polygons, go to OUT.txt.<op>; one line prints
their sha256 values.  These plans are taken unexecuted, so no job runs
for them, and they are taken FIRST: Spark truncates long plan metadata
(scan DataFilters) at a fixed length that counts the raw expression-id
digits, so plans built after the kNN call would shift with however many
ids the kNN code allocates.  Then the kNN line prints the row count,
the sha256 of the normalized plan and the number of Spark jobs the
knn_join call ran.  Last, the skew-scheduled range_join_count_salted
(salted by plan_partitions on the same points, which runs one histogram
job) goes to OUT.txt.range_join_count_salted and prints its sha256; it
comes after the kNN line so that it cannot shift the hashes above.
Last of all, knn_join with the default broadcast_queries (None, the
auto gate) goes to OUT.txt.knn_default and prints its row count,
sha256 and job count; the shuffled kNN result is unpersisted first, so
that the default call cannot read it back from the cache (the two
plans differ only by join hints, which the cache lookup ignores).  A
"default plan unchanged" check is one command per revision: equal
hashes mean byte-identical plans.
"""

import hashlib
import os
import re
import sys

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
sys.path.insert(0, os.getcwd())

from pyspark.sql import functions as F  # noqa: E402

from spatialgraft import datagen  # noqa: E402
from spatialgraft.extract import with_geometry  # noqa: E402
from spatialgraft.ops import pip as pops  # noqa: E402
from spatialgraft.ops import range as rops  # noqa: E402
from spatialgraft.ops.knn import knn_join  # noqa: E402
from spatialgraft.partitioner import plan_partitions  # noqa: E402
from spatialgraft.session import get_spark  # noqa: E402


def _write_plan(df, path: str) -> str:
    """Write df's normalized executed plan to path; return its sha256
    (hashed as written, so it matches `sha256sum path`)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = re.sub(r"#\d+", "#X", plan)
    plan = re.sub(r"\(\d+\)", "(N)", plan)
    plan = re.sub(r"id=\d+", "id=X", plan)
    with open(path, "w") as f:
        f.write(plan)
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def main() -> None:
    out = sys.argv[1]
    spark = get_spark("plancmp", cpus=4, shuffle_partitions=8)
    sf = os.environ["SPARK_GRAFT_SF_DIR"]
    base = with_geometry(datagen.documents_spans(spark, sf))
    rep = int(os.environ.get("SPARK_GRAFT_REPLICATE", "4"))
    pts = (base.withColumn(
        "_r", F.explode(F.sequence(F.lit(0), F.lit(rep - 1))))
        .withColumn("doc_key", F.col("doc_key") * rep + F.col("_r"))
        .drop("_r"))
    boxes = datagen.query_boxes(spark, sf)
    polys = datagen.polygons(spark, sf)
    concave = datagen.polygons_concave(spark, sf)
    ops = {"range_join_count": rops.range_join_count(pts, boxes),
           "range_join": rops.range_join(pts, boxes),
           "pip_join_count": pops.pip_join_count(pts, polys),
           "pip_join_concave_count":
               pops.pip_join_concave_count(pts, concave)}
    print("count_join", " ".join(
        f"{op} sha256 {_write_plan(df, f'{out}.{op}')}"
        for op, df in ops.items()))
    qs = datagen.knn_queries(spark, sf)
    sc = spark.sparkContext
    sc.setJobGroup("plancmp-knn", "knn_join")
    res = knn_join(pts, qs, k=10, broadcast_queries=False)
    jobs = len(sc.statusTracker().getJobIdsForGroup("plancmp-knn"))
    sc.setJobGroup("plancmp", "plancmp")
    digest = _write_plan(res, out)
    print("rows", res.count(), "sha256", digest, "jobs", jobs, "->", out)
    plan = plan_partitions(pts.select("doc_key", "mx", "my"))
    salted = rops.range_join_count_salted(pts, boxes, plan)
    print("range_join_count_salted sha256", _write_plan(
        salted, f"{out}.range_join_count_salted"))
    res.unpersist()
    sc.setJobGroup("plancmp-knn-default", "knn_join")
    auto = knn_join(pts, qs, k=10)
    jobs = len(sc.statusTracker().getJobIdsForGroup("plancmp-knn-default"))
    sc.setJobGroup("plancmp", "plancmp")
    digest = _write_plan(auto, f"{out}.knn_default")
    print("knn_default rows", auto.count(), "sha256", digest, "jobs", jobs)
    spark.stop()


if __name__ == "__main__":
    main()
