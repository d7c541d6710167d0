"""Benchmark-side tracing: spans, Spark event-log attribution, peak RSS.

Spans are recorded in the benchmark's own code around each call into a
layer (pass -> operation -> layer call), kept in memory and written out
when the run ends.  Each operation runs under its own Spark job group,
so the event log (enabled through SPARK_CONF_DIR in a traced run) can
attribute stage metrics to it.  The parser follows the recipe of
``scripts/evparse.py``.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

STAGE_FIELDS = ("task_cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
                "spill_mb", "driver_gap_s")


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, job_group: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": job_group, "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if job_group is not None:
            self.spark.sparkContext.setJobGroup(job_group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if job_group is not None:
                self.spark.sparkContext.setJobGroup("untraced", "")

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def intervals(self, group: str) -> list[tuple[float, float]]:
        """[start, end] of the spans that ran under job group `group`."""
        return [(s["start"], s["end"]) for s in self.spans
                if s["group"] == group]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def spark_conf_dir(work: str, trace: bool, driver_mem: str) -> str:
    """A SPARK_CONF_DIR with a driver heap of fixed size, `driver_mem`,
    touched when the JVM starts: a heap grown on demand ends each run at
    a size set by when the collector chose to grow it, which swings peak
    RSS by a third from run to run.  For a traced run it also turns the
    event log on (one uncompressed file per application, so it parses
    without zstd)."""
    conf = os.path.join(work, "conf")
    evlog = os.path.join(work, "evlog")
    for d in (conf, evlog):
        os.makedirs(d, exist_ok=True)
    lines = ["spark.ui.showConsoleProgress false",
             f"spark.driver.extraJavaOptions -Xms{driver_mem} "
             "-XX:+AlwaysPreTouch"]
    if trace:
        lines += ["spark.eventLog.enabled true",
                  f"spark.eventLog.dir file://{evlog}",
                  "spark.eventLog.compress false",
                  "spark.eventLog.rolling.enabled false"]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return conf


def parse_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, completed stages, task CPU/GC, shuffle bytes,
    spill and the stage [submit, complete] intervals."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id",
                                                    "untraced")
                acc = groups.setdefault(g, _empty_group())
                acc["jobs"] += 1
                for sid in e.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                acc = groups.get(stage_group.get(si["Stage ID"]))
                sub, comp = si.get("Submission Time"), si.get("Completion Time")
                if acc is not None and sub and comp:
                    acc["stages"] += 1
                    acc["stage_iv"].append((sub / 1e3, comp / 1e3))
            elif ev == "SparkListenerTaskEnd":
                acc = groups.get(stage_group.get(e["Stage ID"]))
                m = e.get("Task Metrics") or {}
                if acc is None:
                    continue
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                acc["task_cpu_s"] += (m.get("Executor CPU Time") or 0) / 1e9
                acc["gc_s"] += (m.get("JVM GC Time") or 0) / 1e3
                acc["shuffle_read_mb"] += ((sr.get("Remote Bytes Read") or 0)
                                           + (sr.get("Local Bytes Read") or 0)
                                           ) / 1e6
                acc["shuffle_write_mb"] += (sw.get("Shuffle Bytes Written")
                                            or 0) / 1e6
                acc["spill_mb"] += (m.get("Disk Bytes Spilled") or 0) / 1e6
    return groups


def _empty_group() -> dict:
    return {"jobs": 0, "stages": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "stage_iv": []}


def driver_gap(spans: list[tuple[float, float]],
               stages: list[tuple[float, float]]) -> float:
    """Seconds inside `spans` during which no stage of the group ran —
    plan construction, result collection and scheduling on the driver."""
    gap = 0.0
    for s0, s1 in spans:
        covered, last = 0.0, s0
        for a, b in sorted(stages):
            a, b = max(a, last), min(b, s1)
            if b > a:
                covered += b - a
                last = b
        gap += (s1 - s0) - covered
    return gap


class RssSampler:
    """Peak summed RSS of the driver JVM and every process it forks (the
    Python workers), sampled on a background thread."""

    def __init__(self, interval: float = 0.05, rescan: float = 1.0):
        self.interval, self.rescan = interval, rescan
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        # walking /proc for the process tree is the costly part: redo it
        # once per `rescan`, read the few RSS counters every `interval`
        pids, next_scan = [], 0.0
        while True:
            if time.monotonic() >= next_scan:
                pids, next_scan = jvm_tree(), time.monotonic() + self.rescan
            self.peak_bytes = max(self.peak_bytes, rss_bytes(pids))
            if self._stop.wait(self.interval):
                return


def _stat_fields(pid: int | str) -> list[str] | None:
    """/proc/<pid>/stat after the command name (which may hold spaces):
    [state, ppid, ...]; None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (fields := _stat_fields(d)) is not None:
            children.setdefault(int(fields[1]), []).append(int(d))
    return children


def tree(roots: list[int]) -> list[int]:
    """`roots` and all of their descendants."""
    children, out, todo = _children(), [], list(roots)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def jvm_tree() -> list[int]:
    """This process's java children and all of their descendants (other
    children, such as memory-bus probe workers, are not the engine's)."""
    return tree([p for p in _children().get(os.getpid(), [])
                 if _is_java(p)])


def rss_bytes(pids: list[int]) -> int:
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return os.path.basename(f.read().split(b"\0")[0]) == b"java"
    except OSError:
        return False
