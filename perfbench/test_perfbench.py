"""Smoke tests for the benchmark at the 0.001 scale.

    python3 -m pytest perfbench -q

All runs share one JVM (the first pays its start-up); the event log is
on for every run so the traced runs can attribute stage metrics.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
from refs import Refs  # noqa: E402
from tracing import driver_gap  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.fixture(scope="module")
def engine():
    run.configure_env(trace=True)
    sys.path.insert(0, run.ROOT)


def smoke(workload: str, trace: bool = False, refs=None):
    return run.Runner(workload, seed=7, seconds=1, trace=trace,
                      scale=run.SMOKE, refs=refs).run()


@pytest.mark.parametrize("workload", ["count_join", "knn"])
def test_workload_is_correct_and_reports_end_to_end(engine, workload):
    result, detail = smoke(workload)
    assert detail["failures"] == []
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == sum(len(p["ops"]) for p in detail["passes"])
    names = {m["name"] for m in BENCH["end_to_end"]}
    assert set(result["metrics"]) == names
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_wrong_reference_is_a_failed_op(engine):
    good = Refs.load(run.SMOKE)
    sel = inputs.select(inputs.Dataset(run.SMOKE), 7)
    bad = Refs(dict(good.a))
    bad.a["box_cnt"] = good.a["box_cnt"].copy()
    hit = sel.box_ids[good.a["box_cnt"][sel.box_ids] > 0][0]
    bad.a["box_cnt"][hit] += 1
    result, detail = smoke("count_join", refs=bad)
    assert not result["correct"]
    assert result["failed"] >= 1
    assert any(f.startswith("range_join_count") for f in detail["failures"])
    assert not any(f.startswith("pip_join_count")
                   for f in detail["failures"])


@pytest.mark.parametrize("workload", ["count_join", "knn"])
def test_traced_run_reports_every_layer_metric(engine, workload):
    result, detail = smoke(workload, trace=True)
    assert result["correct"]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(m) == {x["name"] for x in BENCH["per_layer"]}
    assert m["extract.rows"] == int(Refs.load(run.SMOKE).a["n_docs"])
    if workload == "count_join":
        assert m["ops.range.candidate_pairs"] >= m["ops.range.survivors"] > 0
        assert m["ops.pip.candidate_pairs"] >= m["ops.pip.survivors"] > 0
        assert m["spark.range_join_count.task_cpu_s"] > 0
        # the emitting operations run once each, checked
        assert set(detail["passes"][-1]["ops"]) == {
            "range_join", "tiles_points", "index"}
        assert m["index.files"] > 0 and m["index.write_amp"] > 0
        assert m["spark.index_write.task_cpu_s"] > 0
        assert m["spark.range_join.task_cpu_s"] > 0
    if workload == "knn":
        assert m["ops.knn.stages"] >= m["ops.knn.jobs"] > 0


def test_seed_picks_a_fixed_fraction_of_queries():
    ds = inputs.Dataset(0.02)
    a, b, c = (inputs.select(ds, s) for s in (1, 1, 2))
    assert np.array_equal(a.part_keys, b.part_keys)
    assert not np.array_equal(a.part_keys, c.part_keys)
    assert len(a.part_keys) == len(c.part_keys) == 3000
    assert len(a.probe_ids) == len(c.probe_ids)
    assert set(a.read_boxes) <= set(a.part_keys)


def test_driver_gap_counts_time_without_a_running_stage():
    assert driver_gap([(0.0, 10.0)], [(1.0, 3.0), (2.0, 4.0),
                                      (8.0, 12.0)]) == pytest.approx(5.0)
