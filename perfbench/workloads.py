"""The benchmark's operations, their correctness checks and the traced
run's layer probes.

Every operation calls the engine's public functions on the generated
inputs and materializes its full output inside the timed region; the
check that follows is not timed.  An operation returns what its check
needs; a check returns True when the output matches the pinned
references.

The emitting operations (every range-join pair, tile assignment, index
write and reads) run once each in the traced run of ``count_join``,
where they share its inputs: a timed workload of their own does not fit
the benchmark's time budget next to the two timed here.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import refs as R
from inputs import Selection
from tracing import Tracer

from spatialgraft import datagen, index
from spatialgraft.cells import cover_cells, with_cell
from spatialgraft.extract import with_geometry
from spatialgraft.ops import knn as kops
from spatialgraft.ops import pip as pops
from spatialgraft.ops import range as rops
from spatialgraft.ops import tiles as tops

SLIM = ["doc_key", "mx", "my"]

WORKLOADS = {
    "count_join": ("range_join_count", "pip_join_count"),
    "knn": ("knn_k10", "knn_k150"),
}
# operations the traced run of a workload runs once each, checked
TRACED_EXTRA = {"count_join": ("range_join", "tiles_points", "index")}


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    sel: Selection
    refs: R.Refs
    work: str
    tracer: Tracer
    read_boxes: list[tuple[int, int, int, int]] = field(default_factory=list)

    def points(self):
        with self.tracer.span("datagen.documents_spans"):
            docs = datagen.documents_spans(self.spark, self.sf_dir)
        with self.tracer.span("extract.with_geometry"):
            return with_geometry(docs, columns=SLIM)

    def boxes(self):
        with self.tracer.span("datagen.query_boxes"):
            return datagen.query_boxes(self.spark, self.sf_dir)

    def polygons(self):
        with self.tracer.span("datagen.polygons"):
            return datagen.polygons(self.spark, self.sf_dir)

    def probes(self):
        with self.tracer.span("datagen.knn_queries"):
            return datagen.knn_queries(self.spark, self.sf_dir)

    def index_path(self) -> str:
        return os.path.join(self.work, "index")

    def load_read_boxes(self) -> None:
        rows = (self.boxes().where(F.col("box_id").isin(
                    [int(b) for b in self.sel.read_boxes]))
                .orderBy("box_id").collect())
        self.read_boxes = [(r.xmin, r.ymin, r.xmax, r.ymax) for r in rows]


# ------------------------------------------------------------- operations

def _id_counts(df, id_col: str) -> dict[int, int]:
    return {int(r[0]): int(r[1]) for r in df.select(id_col, "cnt").collect()}


def run_range_join_count(c: Ctx):
    pts, boxes = c.points(), c.boxes()
    with c.tracer.span("ops.range.range_join_count"):
        df = rops.range_join_count(pts, boxes)
    with c.tracer.span("execute"):
        return _id_counts(df, "box_id")


def check_range_join_count(c: Ctx, got) -> bool:
    return got == c.refs.count_join("box", c.sel.box_ids)


def run_pip_join_count(c: Ctx):
    pts, polys = c.points(), c.polygons()
    with c.tracer.span("ops.pip.pip_join_count"):
        df = pops.pip_join_count(pts, polys)
    with c.tracer.span("execute"):
        return _id_counts(df, "poly_id")


def check_pip_join_count(c: Ctx, got) -> bool:
    return got == c.refs.count_join("poly", c.sel.poly_ids)


def _run_knn(c: Ctx, k: int):
    pts, probes = c.points(), c.probes()
    # materialize=True plans, runs and persists the result in the call
    with c.tracer.span("ops.knn.knn_join"):
        return kops.knn_join(pts, probes, k=k, materialize=True)


def _check_knn(c: Ctx, result, k: int) -> bool:
    try:
        rows = (result.groupBy("qid")
                .agg(F.count("*"), F.sum("doc_key"),
                     F.sum(F.col("doc_key") * F.col("rnk")))
                .collect())
    finally:
        result.unpersist()
    got = {int(r[0]): (int(r[1]), int(r[2]), int(r[3])) for r in rows}
    return got == c.refs.knn(k, c.sel.probe_ids)


def _checksums(df, cols) -> tuple[int, ...]:
    row = df.agg(*cols).collect()[0]
    return tuple(int(v or 0) for v in row)


def run_range_join(c: Ctx):
    pts, boxes = c.points(), c.boxes()
    with c.tracer.span("ops.range.range_join"):
        pairs = rops.range_join(pts, boxes)
    # every emitted pair is projected and folded into the checksum
    with c.tracer.span("execute"):
        return _checksums(pairs, [
            F.count("*"), F.sum("doc_key"),
            F.sum(F.expr(R.PAIR_HASH.format(id="box_id")))])


def check_range_join(c: Ctx, got) -> bool:
    return got == c.refs.box_totals(c.sel.box_ids)


def run_tiles_points(c: Ctx):
    pts = c.points()
    with c.tracer.span("ops.tiles.assign_tiles_points"):
        tiles = tops.assign_tiles_points(pts)
    with c.tracer.span("execute"):
        return _checksums(tiles, [F.count("*"), F.sum("tile"),
                                  F.sum(F.expr(R.TILE_HASH))])


def check_tiles_points(c: Ctx, got) -> bool:
    return got == c.refs.tiles()


def run_index(c: Ctx):
    if not c.read_boxes:
        c.load_read_boxes()
    pts = c.points()
    with c.tracer.span("index.write_indexed", job_group="index_write"):
        index.write_indexed(pts, c.index_path())
    got = []
    with c.tracer.span("index.range_filter_indexed", job_group="index_read"):
        for box in c.read_boxes:
            df = index.range_filter_indexed(c.spark, c.index_path(), *box)
            got.append(_checksums(df, [F.count("*"), F.sum("doc_key")]))
    return got


def check_index(c: Ctx, got) -> bool:
    return got == [c.refs.box(int(b)) for b in c.sel.read_boxes]


OPS = {
    "range_join_count": (run_range_join_count, check_range_join_count),
    "pip_join_count": (run_pip_join_count, check_pip_join_count),
    "knn_k10": (lambda c: _run_knn(c, 10),
                lambda c, got: _check_knn(c, got, 10)),
    "knn_k150": (lambda c: _run_knn(c, 150),
                 lambda c, got: _check_knn(c, got, 150)),
    "range_join": (run_range_join, check_range_join),
    "tiles_points": (run_tiles_points, check_tiles_points),
    "index": (run_index, check_index),
}

# job groups an operation's Spark work is attributed to, where they are
# not the operation's own name: index splits into its write and reads
JOB_GROUPS = {"index": ("index_write", "index_read")}


def all_job_groups() -> list[str]:
    return [g for op in OPS for g in JOB_GROUPS.get(op, (op,))]


# --------------------------------------------------- traced-run probes

def layer_probes(c: Ctx, workload: str) -> dict[str, float]:
    """Per-layer work counts and busy times that the timed operations
    cannot expose.  Runs only in a traced run, after the timed passes:
    the candidate-pair counts need an extra unrefined join."""
    t, out = c.tracer, {}
    with t.span("probe.synth", job_group="probe"):
        datagen.documents_spans(c.spark, c.sf_dir).write.format(
            "noop").mode("overwrite").save()
    with t.span("probe.extract", job_group="probe"):
        out["extract.rows"] = c.points().count()
    out["datagen.synth_s"] = t.total("probe.synth")
    out["extract.extract_s"] = max(
        0.0, t.total("probe.extract") - out["datagen.synth_s"])

    query_sides = []
    if workload == "count_join":
        from spatialgraft.sqlgen import pip_predicate
        query_sides += [("range", c.boxes(), rops.CONTAINS),
                        ("pip", c.polygons(), pip_predicate("mx", "my"))]
    out["cells.cover_rows"] = 0
    for kind, q, pred in query_sides:
        with t.span("probe.cover", job_group="probe"):
            out["cells.cover_rows"] += cover_cells(q).count()
        with t.span(f"probe.{kind}.pairs", job_group="probe"):
            j = with_cell(c.points()).join(cover_cells(q), on="cell")
            cand, surv = j.agg(
                F.count("*"),
                F.sum(F.expr(f"CASE WHEN {pred} THEN 1 ELSE 0 END"))
            ).collect()[0]
        out[f"ops.{kind}.candidate_pairs"] = int(cand)
        out[f"ops.{kind}.survivors"] = int(surv or 0)
        out[f"ops.{kind}.hit_ratio"] = (int(surv or 0) / cand) if cand else 0
    out["cells.cover_s"] = t.total("probe.cover")
    for kind in ("range", "pip"):
        for f in ("candidate_pairs", "survivors", "hit_ratio"):
            out.setdefault(f"ops.{kind}.{f}", 0)

    if "index" in TRACED_EXTRA.get(workload, ()):
        files = glob.glob(os.path.join(c.index_path(), "*", "*.parquet"))
        nbytes = sum(os.path.getsize(p) for p in files)
        out["index.files"] = len(files)
        out["index.bytes_written"] = nbytes
        # slim input: doc_key, mx, my as three 8-byte integers per row
        out["index.write_amp"] = nbytes / (24 * out["extract.rows"])
    return out
