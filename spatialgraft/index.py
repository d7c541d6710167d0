"""Persistent spatial layout — the engine's 'CREATE INDEX' (S3).

The reference builds a transient in-memory index per partition
(reference SpatialRdd.scala:595-644).  The Spark-native equivalent of a
*persistent* spatial index is a storage layout: write the table
hive-partitioned by a coarse cell (bounded directory count) and sorted by
the fine cell within files.  Range queries then get
  - directory pruning from the coarse-cell partition column, and
  - parquet row-group pruning from the fine-cell min/max stats,
entirely through Catalyst (PartitionFilters / PushedFilters in explain).
At Iceberg scale the same layout is `PARTITIONED BY (pcell)` + sort
order, swapped in behind this seam.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cells import cell_expr, cover_ids, with_cell

# 16 x 8 = 128 directories — bounded regardless of data size.
PCOARSE_X = 16
PCOARSE_Y = 8
# per-file row cap: bounds individual file size under skew
MAX_RECORDS_PER_FILE = 50_000_000


def pcell_expr(mx: str = "mx", my: str = "my") -> F.Column:
    return cell_expr(mx, my, PCOARSE_X, PCOARSE_Y)


def write_indexed(points: DataFrame, path: str) -> None:
    """Write the indexed layout: partitioned by coarse cell, sorted by
    fine cell within partitions.

    Write parallelism scales with data, not with the 128 coarse cells:
    repartitionByRange(spark.sql.shuffle.partitions, pcell, cell) gives
    each task a contiguous (pcell, cell) slice — so a hot coarse cell is
    split across many writer tasks (no 128-task straggler/giant-file
    cap) while each output file still covers a tight sorted cell run
    (row-group pruning stays as sharp as the single-task-per-pcell
    layout).  MAX_RECORDS_PER_FILE bounds individual file size under
    skew."""
    n_tasks = int(points.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"))
    (with_cell(points)
     .withColumn("pcell", pcell_expr())
     .repartitionByRange(n_tasks, "pcell", "cell")
     .sortWithinPartitions("pcell", "cell")
     .write.mode("overwrite")
     .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
     .partitionBy("pcell").parquet(path))


def read_indexed(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def range_filter_indexed(spark: SparkSession, path: str,
                         xmin: int, ymin: int, xmax: int, ymax: int
                         ) -> DataFrame:
    """Range query over the indexed layout: the pcell IN (...) predicate
    prunes directories before any file is opened; the box predicate is
    pushed to parquet row groups."""
    df = read_indexed(spark, path)
    return df.where(
        F.col("pcell").isin(cover_ids(xmin, ymin, xmax, ymax,
                                       PCOARSE_X, PCOARSE_Y)) &
        (F.col("mx") >= xmin) & (F.col("mx") <= xmax) &
        (F.col("my") >= ymin) & (F.col("my") <= ymax))
