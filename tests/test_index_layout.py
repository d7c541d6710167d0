import random

from spatialgraft import config as C
from spatialgraft import datagen
from spatialgraft.cells import cover_cells, cover_ids
from spatialgraft.extract import with_geometry
from spatialgraft.index import (PCOARSE_X, PCOARSE_Y, range_filter_indexed,
                                read_indexed, write_indexed)
from spatialgraft.ops.range import range_filter
from spatialgraft.oracles import HOTSPOT


def test_indexed_layout_roundtrip_and_pruning(spark, sf_smoke, tmp_path):
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    path = str(tmp_path / "indexed")
    write_indexed(pts.select("doc_key", "mx", "my", "x", "y"), path)

    # results identical to the unindexed range filter
    got = (range_filter_indexed(spark, path, *HOTSPOT)
           .select("doc_key", "mx", "my").toPandas()
           .sort_values("doc_key").reset_index(drop=True))
    want = (range_filter(pts, *HOTSPOT)
            .select("doc_key", "mx", "my").toPandas()
            .sort_values("doc_key").reset_index(drop=True))
    assert got.equals(want)

    # directory pruning reaches the scan: PartitionFilters on pcell
    plan = (range_filter_indexed(spark, path, *HOTSPOT)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan and "pcell" in plan
    # and the box predicate is pushed to parquet
    assert "PushedFilters" in plan and "GreaterThanOrEqual(mx" in plan


def test_cover_ids_matches_cover_cells(spark):
    """cells.cover_ids (the driver-side cover behind index directory
    pruning) lists exactly the cells cover_cells explodes, on the join
    grid and on the 16x8 index grid: seeded boxes of every size, plus
    world-edge and single-point boxes."""
    rng = random.Random(12)
    boxes = [(0, 0, C.WORLD_MX - 1, C.WORLD_MY - 1),
             (C.WORLD_MX - 1, C.WORLD_MY - 1, C.WORLD_MX - 1, C.WORLD_MY - 1),
             (0, 0, 0, 0)]
    for _ in range(60):
        w = rng.choice((1, 500, 5_000, 60_000))
        h = rng.choice((1, 300, 3_000, 30_000))
        x0 = rng.randrange(C.WORLD_MX - w)
        y0 = rng.randrange(C.WORLD_MY - h)
        boxes.append((x0, y0, x0 + w, y0 + h))
    df = spark.createDataFrame(
        [(i, *b) for i, b in enumerate(boxes)],
        "box_id int, xmin bigint, ymin bigint, xmax bigint, ymax bigint")
    for cx, cy in ((C.CELL_CX, C.CELL_CY), (PCOARSE_X, PCOARSE_Y)):
        got = {}
        for r in cover_cells(df, cx=cx, cy=cy).collect():
            got.setdefault(r.box_id, []).append(r.cell)
        for i, b in enumerate(boxes):
            assert sorted(got[i]) == sorted(cover_ids(*b, cx, cy)), (cx, b)


def test_indexed_partition_count_bounded(spark, sf_smoke, tmp_path):
    import os
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    path = str(tmp_path / "indexed2")
    write_indexed(pts.select("doc_key", "mx", "my"), path)
    dirs = [d for d in os.listdir(path) if d.startswith("pcell=")]
    assert 0 < len(dirs) <= 128
    assert read_indexed(spark, path).count() == pts.count()


def test_indexed_write_parallelism_not_capped_by_pcell(spark, sf_smoke,
                                                      tmp_path):
    """Forced-wide write: 256 shuffle partitions must produce >128 data
    files — i.e. write parallelism follows the task count, not the 128
    coarse directories (the old repartition('pcell') capped at 128
    writer tasks, a straggler/giant-file factory at 100 TB) — while
    pruning and exactness stay intact."""
    import glob
    pts = with_geometry(datagen.documents_spans(spark, sf_smoke))
    path = str(tmp_path / "indexed_wide")
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "256")
    try:
        write_indexed(pts.select("doc_key", "mx", "my"), path)
    finally:
        spark.conf.set(key, old)
    files = glob.glob(f"{path}/pcell=*/part-*.parquet")
    assert len(files) > 128, f"only {len(files)} data files"
    # exactness + pruning unchanged on the wide layout
    got = (range_filter_indexed(spark, path, *HOTSPOT)
           .select("doc_key", "mx", "my").toPandas()
           .sort_values("doc_key").reset_index(drop=True))
    want = (range_filter(pts, *HOTSPOT)
            .select("doc_key", "mx", "my").toPandas()
            .sort_values("doc_key").reset_index(drop=True))
    assert got.equals(want)
    plan = (range_filter_indexed(spark, path, *HOTSPOT)
            ._jdf.queryExecution().executedPlan().toString())
    assert "PartitionFilters" in plan and "pcell" in plan
    assert "PushedFilters" in plan and "GreaterThanOrEqual(mx" in plan
