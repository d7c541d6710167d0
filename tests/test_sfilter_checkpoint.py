import json
import os

from spatialgraft import datagen
from spatialgraft.extract import with_geometry
from spatialgraft.checkpoint import CheckpointManager, \
    checkpointed_range_join


def _pts(spark, sf):
    return with_geometry(datagen.documents_spans(spark, sf))


def test_checkpoint_resume(spark, sf_smoke, tmp_path):
    root = str(tmp_path / "ckpt")
    out1 = checkpointed_range_join(spark, sf_smoke, root).toPandas()

    m = json.load(open(os.path.join(root, "points_extracted",
                                    "_MANIFEST.json")))
    assert m["rows"] == m["lineage_sum"] > 0
    assert len(m["partition_rows"]) > 1

    # resume: stages must be skipped (manifest mtimes unchanged)
    mt1 = os.path.getmtime(os.path.join(root, "range_join",
                                        "_MANIFEST.json"))
    cm = CheckpointManager(root)
    assert cm.is_complete("points_extracted")
    out2 = checkpointed_range_join(spark, sf_smoke, root).toPandas()
    mt2 = os.path.getmtime(os.path.join(root, "range_join",
                                        "_MANIFEST.json"))
    assert mt1 == mt2
    assert out1.sort_values("box_id").reset_index(drop=True).equals(
        out2.sort_values("box_id").reset_index(drop=True))


def test_checkpoint_partial_resume(spark, sf_smoke, tmp_path):
    """A crash between stages: stage 1 committed, stage 2 missing ->
    resume skips stage 1 and runs only stage 2."""
    root = str(tmp_path / "ckpt2")
    cm = CheckpointManager(root)
    r1 = cm.run_stage(
        spark, "points_extracted",
        lambda: __import__("spatialgraft.cells", fromlist=["with_cell"])
        .with_cell(_pts(spark, sf_smoke)),
        lineage_col="cell")
    assert not r1.resumed
    out = checkpointed_range_join(spark, sf_smoke, root)
    assert out.count() > 0
    r1b = cm.run_stage(spark, "points_extracted", lambda: None,
                       lineage_col="cell")
    assert r1b.resumed


def test_checkpoint_lineage_bounded_high_cardinality(spark, tmp_path):
    """A 10^6-distinct lineage column must not collect 10^6 rows to the
    driver: the manifest keeps top-LINEAGE_CAP entries + a rollup whose
    rows_total preserves the sum(lineage) == rows audit, and resume
    semantics are unchanged (VERDICT r2 item 6)."""
    from spatialgraft.checkpoint import LINEAGE_CAP
    root = str(tmp_path / "ckpt_hc")
    cm = CheckpointManager(root)
    n = 1_000_000

    def build():
        # every row its own lineage value, plus one hot value
        return spark.range(n + 5).selectExpr(
            "CAST(CASE WHEN id < 5 THEN -1 ELSE id END AS STRING) "
            "AS lin", "id AS v")

    r = cm.run_stage(spark, "wide", build, lineage_col="lin")
    m = r.manifest
    assert len(m["partition_rows"]) == LINEAGE_CAP
    assert m["lineage_rollup"] is not None
    assert m["lineage_rollup"]["groups_total"] == n + 1
    assert m["lineage_sum"] == m["rows"] == n + 5
    # the hot value must be in the retained top-N
    assert m["partition_rows"].get("-1") == 5
    # resume path unchanged
    r2 = cm.run_stage(spark, "wide", lambda: None, lineage_col="lin")
    assert r2.resumed and r2.manifest["rows"] == n + 5
