"""session.load_table reads a local parquet path with its memoized
schema: the schema-inference job runs on the first read of a file
only, and a rewritten file is read with its new schema."""

import pyarrow as pa
import pyarrow.parquet as pq

from spatialgraft.session import load_table


def _jobs(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = fn()
    finally:
        sc.setJobGroup(f"{group}-done", "")
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2, 3]}), tmp_path / "t.parquet")
    first, n1 = _jobs(spark, "load-1", lambda: load_table(
        spark, str(tmp_path), "t"))
    again, n2 = _jobs(spark, "load-2", lambda: load_table(
        spark, str(tmp_path), "t"))
    assert n1 >= 1, "the first read infers the schema with a job"
    assert n2 == 0
    assert again.schema == first.schema
    assert sorted(r.a for r in again.collect()) == [1, 2, 3]


def test_rewritten_file_reads_its_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3, 4], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(map(tuple, df.collect())) == [(3, "x"), (4, "y")]
