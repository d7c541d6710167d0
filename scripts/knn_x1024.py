"""The kNN kill-criterion leg: two checkouts, alternating fresh processes.

Protocol (the one of bench_records/knn_false_merge_x1024.jsonl): the
sf0.01 points are exploded x REP (doc_key*REP + r, r in 0..REP-1); one
warm-up knn_join runs on the unexploded points, then
knn_join(..., broadcast_queries=False) runs at k=10 and then k=150 in
the same session.  Each call is timed end to end (slim-cache build,
histogram, join, result count), with the machine's steal over the call
(spatialgraft.steal) and the checksum
[rows, sum(doc_key), sum(doc_key*rnk)].  Every run is one fresh process
whose working directory is its checkout, so it imports that checkout's
spatialgraft; the runs alternate parent, change, change, parent, ...
until each side has REPS runs.

Usage (from any directory):

    python scripts/knn_x1024.py PARENT_DIR CHANGE_DIR \\
        --sf-dir SF0.01_DIR [--reps 5] [--rep 1024] [--out FILE.jsonl]

The first output line describes the protocol and host; then one JSON
line per run, in the order the runs ran, in the bench_records format
({"label", "rep", "cpus", "sf", "broadcast_queries", "k10_s",
"k10_steal_pct", "k10_checksum", "k150_s", ..., "run"}).  Lines go to
--out (appended) and to stdout; the per-k medians and the pairs the
change won go to stderr.  --sf-dir defaults to $SPARK_GRAFT_SF_DIR and
--cpus to the machine's core count.
"""

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

KS = (10, 150)


def _one(args) -> None:
    """One run in this process, on the spatialgraft of the working
    directory; prints its record as the last stdout line."""
    sys.path.insert(0, os.getcwd())
    from pyspark.sql import functions as F

    from spatialgraft import datagen
    from spatialgraft.extract import with_geometry
    from spatialgraft.ops.knn import knn_join
    from spatialgraft.session import get_spark
    from spatialgraft.steal import StealTrace

    spark = get_spark("knn_x1024", cpus=args.cpus)
    base = with_geometry(datagen.documents_spans(spark, args.sf_dir))
    qs = datagen.knn_queries(spark, args.sf_dir)
    knn_join(base, qs, k=10, broadcast_queries=False).unpersist()
    rep = args.rep
    pts = (base.withColumn(
        "_r", F.explode(F.sequence(F.lit(0), F.lit(rep - 1))))
        .withColumn("doc_key", F.col("doc_key") * rep + F.col("_r"))
        .drop("_r"))
    rec = {"label": args.label, "rep": rep, "cpus": args.cpus,
           "sf": os.path.basename(os.path.normpath(args.sf_dir))
           .removeprefix("sf"),
           "broadcast_queries": False}
    for k in KS:
        with StealTrace() as tr:
            t0 = time.perf_counter()
            res = knn_join(pts, qs, k=k, broadcast_queries=False)
            wall = time.perf_counter() - t0
        row = res.agg(F.count("*"), F.sum("doc_key"),
                      F.sum(F.col("doc_key") * F.col("rnk"))).first()
        res.unpersist()
        rec[f"k{k}_s"] = round(wall, 2)
        rec[f"k{k}_steal_pct"] = tr.summary()["steal_pct"]
        rec[f"k{k}_checksum"] = [int(v or 0) for v in row]
    rec["run"] = args.run
    spark.stop()
    print(json.dumps(rec))


def _spawn(checkout: str, label: str, run: int, args) -> dict:
    """Run _one in a fresh process inside `checkout`; return its
    record.  The whole process group goes on timeout or interrupt, so
    no Spark JVM outlives its run."""
    cmd = [sys.executable, os.path.abspath(__file__), "--one",
           "--label", label, "--run", str(run), "--rep", str(args.rep),
           "--cpus", str(args.cpus), "--sf-dir",
           os.path.abspath(args.sf_dir)]
    proc = subprocess.Popen(cmd, cwd=checkout, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, err = proc.communicate(timeout=args.timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"run {run} ({label}, {checkout}) failed with exit "
                 f"{proc.returncode}:\n{err[-3000:]}")
    return json.loads(lines[-1])


def _host(cpus: int) -> str:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return (f"{os.cpu_count()} cores, {ram / 2**30:.0f} GiB RAM, "
            f"local[{cpus}], default driver heap")


def _summary(recs: list[dict]) -> str:
    """Per-k medians of each side, the pairs (in run order) the change
    won, and whether every checksum agrees."""
    side = {lab: [r for r in recs if r["label"] == lab]
            for lab in ("parent", "change")}
    parts = []
    for k in KS:
        key = f"k{k}_s"
        med = {lab: statistics.median(r[key] for r in rs)
               for lab, rs in side.items()}
        wins = sum(c[key] < p[key]
                   for p, c in zip(side["parent"], side["change"]))
        parts.append(f"k{k} median {med['parent']:.2f} -> "
                     f"{med['change']:.2f} s, change faster in "
                     f"{wins}/{len(side['change'])} pairs")
    same = all(len({json.dumps(r[f"k{k}_checksum"]) for r in recs}) == 1
               for k in KS)
    parts.append("checksums equal" if same else "CHECKSUMS DIFFER")
    return "; ".join(parts)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", nargs="?", help="parent checkout directory")
    ap.add_argument("change", nargs="?", help="changed checkout directory")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="the sf0.01 parquet directory")
    ap.add_argument("--reps", type=int, default=5,
                    help="runs per side (default 5)")
    ap.add_argument("--rep", type=int, default=1024,
                    help="explode factor of the points (default 1024)")
    ap.add_argument("--cpus", type=int, default=os.cpu_count(),
                    help="local[N] cores (default: all)")
    ap.add_argument("--timeout", type=float, default=1800,
                    help="seconds one run may take (default 1800)")
    ap.add_argument("--out", help="JSONL file to append the records to")
    ap.add_argument("--one", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--label", help=argparse.SUPPRESS)
    ap.add_argument("--run", type=int, default=0, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not args.sf_dir:
        ap.error("--sf-dir (or $SPARK_GRAFT_SF_DIR) is required")
    if args.one:
        _one(args)
        return
    if not (args.parent and args.change):
        ap.error("PARENT_DIR and CHANGE_DIR are required")
    dirs = {"parent": os.path.abspath(args.parent),
            "change": os.path.abspath(args.change)}
    head = {"what": "kNN kill-criterion leg (scripts/knn_x1024.py): "
                    + " ".join(__doc__.split("\n\n")[1].split()),
            "parent": os.path.basename(dirs["parent"]),
            "change": os.path.basename(dirs["change"]),
            "host": _host(args.cpus)}
    out = open(args.out, "a") if args.out else None

    def emit(rec: dict) -> None:
        line = json.dumps(rec)
        print(line, flush=True)
        if out:
            out.write(line + "\n")
            out.flush()

    emit(head)
    order = [("parent", "change"), ("change", "parent")]
    recs = []
    for i in range(2 * args.reps):
        label = order[(i // 2) % 2][i % 2]
        recs.append(_spawn(dirs[label], label, i, args))
        emit(recs[-1])
    print(_summary(recs), file=sys.stderr)


if __name__ == "__main__":
    main()
