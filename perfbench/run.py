"""spatialgraft benchmark: one closed-loop client driving the engine's
public spatial operators, checked against pinned references.

    python3 perfbench/run.py --workload count_join --seed 1 --seconds 10 \
        --trace 0

Workloads (``workloads.WORKLOADS``):
  count_join  ops.range.range_join_count + ops.pip.pip_join_count; its
              traced run also runs ops.range.range_join (every pair),
              ops.tiles.assign_tiles_points and index.write_indexed +
              seeded index.range_filter_indexed reads, once each
  knn         ops.knn.knn_join(materialize=True) at k=10 and k=150

Set-up is a Spark session start plus input generation, done
``SETUPS`` times (the first also launches the JVM), then one unrecorded
warm-up pass of the workload (on the smoke dataset for ``knn``);
``setup_s`` is the median session start plus the warm-up.  The run then
measures passes of the workload's operations, one after another, until
``--seconds`` have gone by; ``wall_s`` is the median pass wall.
Each operation's output is checked against ``refs/``; a mismatch or an
exception counts as a failed operation.  The last stdout line is the
result JSON; the line before it holds the detail: pass walls and their
count, hypervisor steal per pass with passes above 2% flagged, memory-bus
bandwidth before and after, ``failed_ops`` (failed / attempted) and the
effective engine settings.

--trace 1 runs the traced passes (spans, one Spark job group per
operation) between two plain passes, with the event log on throughout,
then the layer probes, and reports the per-layer metrics instead of
the end-to-end ones; ``trace.overhead_s`` is the median traced pass wall
minus the plain pass after it.

Engine settings come only from the environment variables the engine
reads: SPARK_GRAFT_CPUS (this machine's CPU count), SPARK_GRAFT_DRIVER_MEM
and SPARK_GRAFT_LOCAL_DIR.  The driver heap is fixed at that size and
touched at JVM start, so ``peak_rss_mb`` moves with the JVM's memory
outside its heap and with the Python workers, not with when the heap
grew.  Everything the run writes stays under ``.perfbench_work/`` in
the checkout, and every process it starts, directly or not, has exited
and been reaped before it prints its result.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# dataset scale per workload, in TPC-H sf units (0.01 -> ~52k points);
# each has pinned references in refs/.  A run is mostly fixed cost (JVM
# start, first calls); these sizes keep one under a minute on 4 cores,
# so dozens of runs per workload fit in an hour.
SCALES = {"count_join": 0.05, "knn": 0.01}
SMOKE = 0.001      # dataset of the smoke tests (~5k points)
# kNN's first calls cost three passes (Python workers, code generation);
# its warm-up pays them on the smoke dataset, which keeps set-up short,
# and at k=10 only: the k=150 call runs the same stage chain
WARMUP_SCALES = {"knn": SMOKE}
WARMUP_OPS = {"knn": ("knn_k10",)}
SETUPS = 3
STEAL_FLAG_PCT = 2.0
DRIVER_MEM_CAP_MB = 2048
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h


def configure_env(trace: bool) -> None:
    """Size the engine to this machine and keep every file it writes
    inside WORK.  Must run before pyspark or spatialgraft is imported."""
    from tracing import spark_conf_dir

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(DRIVER_MEM_CAP_MB, mem_mb // 3)}m",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(WORK, "spark-local"),
    }
    os.environ.update(env)
    os.environ["SPARK_CONF_DIR"] = spark_conf_dir(
        WORK, trace, env["SPARK_GRAFT_DRIVER_MEM"])
    tmp = os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # every JVM, the launcher's too: temp files in WORK and no hsperfdata
    # file, which goes to the system temp directory whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")


class Runner:
    """One benchmark run: set-ups, timed passes, checks, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, scale: float | None = None, refs=None):
        import inputs
        import refs as R
        import workloads as W

        self.workload, self.seconds, self.trace = workload, seconds, trace
        self.seed = seed
        self.ops = W.WORKLOADS[workload]
        self.extra = W.TRACED_EXTRA.get(workload, ()) if trace else ()
        self.ds = inputs.Dataset(scale or SCALES[workload])
        self.sel = inputs.select(self.ds, seed)
        self.refs = refs if refs is not None else R.Refs.load(
            self.ds.scale)
        self.spark = None
        self.passes: list[dict] = []
        self.failures: list[str] = []

    # -------------------------------------------------------------- set-up
    def make_ctx(self, ds, sel, refs, name: str):
        """Generate the inputs of `sel` and bind them to the session."""
        import inputs
        from tracing import Tracer
        from workloads import Ctx

        return Ctx(self.spark,
                   inputs.write_tables(ds, sel, f"{WORK}/{name}"),
                   sel, refs, WORK, Tracer(False))

    def start_session(self) -> float:
        """Spark session (re)start plus input generation."""
        from spatialgraft.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench",
                               cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
        self.ctx = self.make_ctx(self.ds, self.sel, self.refs, "inputs")
        return time.perf_counter() - t0

    def warm_up(self) -> float:
        """One unrecorded, checked pass of the workload: Python workers,
        code generation, every operation's first call and JIT.  It runs
        at the run's scale unless WARMUP_SCALES names a smaller one, and
        every operation unless WARMUP_OPS names fewer."""
        import inputs
        import refs as R

        t0 = time.perf_counter()
        c = self.ctx
        if (scale := WARMUP_SCALES.get(self.workload)) is not None:
            ds = inputs.Dataset(scale)
            c = self.make_ctx(ds, inputs.select(ds, self.seed),
                              R.Refs.load(scale), "inputs-warm")
        ops = WARMUP_OPS.get(self.workload, self.ops) + self.extra
        self.warmup_ops = self.run_pass(c, record=False, ops=ops)["ops"]
        return time.perf_counter() - t0

    # -------------------------------------------------------------- passes
    def run_pass(self, c, record: bool = True, ops=None) -> dict:
        from workloads import JOB_GROUPS, OPS

        from spatialgraft.steal import StealTrace

        ops = ops or self.ops
        walls: dict[str, float] = {}
        with StealTrace() as st, c.tracer.span("pass"):
            for op in ops:
                run, check = OPS[op]
                group = None if op in JOB_GROUPS else op
                try:
                    with c.tracer.span(op, job_group=group):
                        t0 = time.perf_counter()
                        got = run(c)
                        walls[op] = time.perf_counter() - t0
                    with c.tracer.span("check", job_group="check"):
                        ok = check(c, got)
                    if not ok:
                        self.failures.append(f"{op}: wrong output")
                except Exception as e:  # an op failure is a result
                    ok = False
                    self.failures.append(f"{op}: {type(e).__name__}: {e}")
                if record and not ok:
                    self.failed += 1
        rec = {"wall_s": sum(walls.values()), "ops": walls,
               "steal_pct": st.summary()["steal_pct"]}
        rec["steal_flag"] = rec["steal_pct"] > STEAL_FLAG_PCT
        if record:
            self.attempted += len(ops)
            self.passes.append(rec)
        return rec

    def window(self, c) -> list[dict]:
        """Passes, one after another, until `seconds` have gone by (the
        last one may end after that)."""
        out, t0 = [], time.perf_counter()
        while not out or time.perf_counter() - t0 < self.seconds:
            out.append(self.run_pass(c))
        return out

    # ----------------------------------------------------------------- run
    def run(self) -> tuple[dict, dict]:
        from tracing import RssSampler

        self.attempted = self.failed = 0
        self.membw_gbs: list[float] = []
        sessions = [self.start_session() for _ in range(SETUPS)]
        if self.trace:
            warmup = self.warm_up()
            metrics = self.traced()
        else:
            # peak RSS from the warm-up on: the driver heap grows over
            # the first passes, so a longer span gives a steadier peak
            with RssSampler() as rss:
                warmup = self.warm_up()
                self.probe_membw()
                timed = self.window(self.ctx)
            self.probe_membw()
            wall = statistics.median(p["wall_s"] for p in timed)
            n_docs = int(self.refs.a["n_docs"])
            metrics = {
                "wall_s": (wall, "s"),
                "docs_per_s": (n_docs * len(self.ops) / wall, "docs/s"),
                "setup_s": (statistics.median(sessions) + warmup, "s"),
                "peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
            }
            self.spark.stop()
        detail = {
            "workload": self.workload, "scale": self.ds.scale,
            "env": {k: os.environ[k] for k in (
                "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM",
                "SPARK_GRAFT_LOCAL_DIR")},
            "sessions_s": sessions, "warmup_s": warmup,
            "warmup_ops": self.warmup_ops,
            "passes": self.passes, "samples": len(self.passes),
            "flagged_passes": sum(p["steal_flag"] for p in self.passes),
            "membw_gbs": self.membw_gbs,
            "failures": self.failures,
            "failed_ops": self.failed / max(self.attempted, 1),
        }
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        return result, detail

    def traced(self) -> dict:
        """Traced passes between two plain passes, then one traced pass
        of the workload's extra operations, bracketed by memory-bus
        probes; then the layer probes.  The first plain pass takes what
        the warm-up left (the first pass at full scale), the second is
        the untraced reference for the tracing overhead."""
        from tracing import Tracer

        self.probe_membw()
        plain = [self.run_pass(self.ctx)]
        tracer = self.ctx.tracer = Tracer(True, self.spark)
        timed = self.window(self.ctx)
        self.ctx.tracer = Tracer(False)
        plain.append(self.run_pass(self.ctx))
        self.ctx.tracer = tracer
        if self.extra:
            self.run_pass(self.ctx, ops=self.extra)
        self.probe_membw()
        return self.layer_metrics(plain, timed)

    def probe_membw(self) -> None:
        """Memory-bus bandwidth at this machine's CPU count, read just
        before and after the measured passes (never inside them)."""
        from spatialgraft import membw

        self.membw_gbs.append(
            membw.probe(int(os.environ["SPARK_GRAFT_CPUS"])))

    # ------------------------------------------------------- traced metrics
    def layer_metrics(self, plain: list[dict], timed: list[dict]) -> dict:
        import workloads as W
        from tracing import STAGE_FIELDS, driver_gap, parse_event_log

        c, t = self.ctx, self.ctx.tracer
        probes = W.layer_probes(c, self.workload)
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        groups = parse_event_log(os.path.join(WORK, "evlog", app_id))
        t.write(os.path.join(WORK, f"trace-{self.workload}.json"))

        n = len(timed)

        def op_median(op: str) -> float:
            v = [p["ops"][op] for p in timed if op in p["ops"]]
            return statistics.median(v) if v else 0.0

        def span_median(name: str) -> float:
            v = [b - a for a, b in t.intervals(name)]
            return statistics.median(v) if v else 0.0

        m: dict[str, tuple[float, str]] = {}
        units = {"datagen.synth_s": "s", "extract.extract_s": "s",
                 "extract.rows": "count", "cells.cover_rows": "count",
                 "cells.cover_s": "s"}
        for k, u in units.items():
            m[k] = (probes[k], u)
        for kind in ("range", "pip"):
            m[f"ops.{kind}.candidate_pairs"] = (
                probes[f"ops.{kind}.candidate_pairs"], "count")
            m[f"ops.{kind}.survivors"] = (
                probes[f"ops.{kind}.survivors"], "count")
            m[f"ops.{kind}.hit_ratio"] = (
                probes[f"ops.{kind}.hit_ratio"], "ratio")
        knn_groups = [groups.get(g, {}) for g in ("knn_k10", "knn_k150")]
        m["ops.knn.k10_s"] = (op_median("knn_k10"), "s")
        m["ops.knn.k150_s"] = (op_median("knn_k150"), "s")
        m["ops.knn.jobs"] = (sum(g.get("jobs", 0) for g in knn_groups) / n,
                             "count")
        m["ops.knn.stages"] = (
            sum(g.get("stages", 0) for g in knn_groups) / n, "count")
        m["ops.knn.driver_gap_s"] = (sum(
            driver_gap(t.intervals(op), groups.get(op, {}).get(
                "stage_iv", []))
            for op in ("knn_k10", "knn_k150")) / n, "s")
        m["index.write_s"] = (span_median("index_write"), "s")
        m["index.read_s"] = (span_median("index_read"), "s")
        m["index.bytes_written"] = (probes.get("index.bytes_written", 0),
                                    "bytes")
        m["index.files"] = (probes.get("index.files", 0), "count")
        m["index.write_amp"] = (probes.get("index.write_amp", 0), "ratio")
        for op in W.all_job_groups():
            g = groups.get(op)
            calls = len(t.intervals(op))
            for f in STAGE_FIELDS:
                if g is None:
                    v = 0.0
                elif f == "driver_gap_s":
                    v = driver_gap(t.intervals(op), g["stage_iv"]) / calls
                else:
                    v = g[f] / calls
                unit = "s" if f.endswith("_s") else "MB"
                m[f"spark.{op}.{f}"] = (v, unit)
        m["env.steal_pct"] = (max(p["steal_pct"] for p in timed), "%")
        m["env.membw_gbs"] = (min(self.membw_gbs), "GB/s")
        traced = statistics.median(p["wall_s"] for p in timed)
        m["trace.overhead_s"] = (traced - plain[-1]["wall_s"], "s")
        return m


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["count_join", "knn"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    adopt_orphans()
    # a SIGTERM unwinds like an error, so the processes still get stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        configure_env(bool(args.trace))
        sys.path.insert(0, ROOT)  # the engine under test, this checkout
        result, detail = Runner(args.workload, args.seed, args.seconds,
                                bool(args.trace)).run()
    finally:
        stop_processes()
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


def adopt_orphans() -> None:
    """Become the reaper of every process under this one: one whose
    parent exits first (the launcher shell the JVM never waits for, a
    Python worker) is re-parented here instead of to init, so
    stop_processes can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): "
                           f"{os.strerror(err)}")


def stop_processes(grace: float = 10.0) -> None:
    """Stop every process this one started, directly or not, and wait
    until each has exited and been reaped: the JVM (and with it the
    Python workers) and the memory-bus probe's resource tracker by
    asking, whatever is still there after `grace` seconds by SIGKILL."""
    from tracing import tree

    stop_jvm()
    from multiprocessing import resource_tracker
    resource_tracker._resource_tracker._stop()  # closes its pipe, waits
    me, deadline = os.getpid(), time.monotonic() + grace
    while True:
        while True:  # reap every child that has exited
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        left = [p for p in tree([me]) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.05)


def stop_jvm() -> None:
    """Stop any Spark session, then the gateway JVM, and wait for it."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
