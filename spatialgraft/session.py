"""SparkSession factory with scale-oriented defaults.

AQE on (runtime skew-join splitting + partition coalescing — the Spark
analogue of the reference's runtime join scheduler,
reference/src/main/scala/cs/purdue/edu/scheduler/joinScheduler.scala:102-167),
UTC session timezone for oracle comparison, Arrow enabled for the
vectorized UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Shuffle/spill files default to /tmp, a slow virtio disk here:
# concurrent writers (a 4-executor level) exceed the dirty-page
# writeback throttle and stall — measured as 4N levels running SLOWER
# than N on identical input while task CPU sat at ~40%.  /dev/shm is a
# RAM-backed tmpfs (a real cluster's per-node NVMe equivalent) — but
# only use it when it exists AND has real headroom, else a big spill
# hits ENOSPC/ RAM pressure instead of spilling to disk (ADVICE r2).
_SHM_MIN_FREE_BYTES = 16 << 30


def _default_local_dir() -> str:
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= _SHM_MIN_FREE_BYTES:
            return "/dev/shm/spark-local"
    except OSError:
        pass
    return "/tmp"


# Default driver heap ceiling; local[...] runs every task in this JVM.
_DRIVER_MEM_CAP_MB = 48 << 10


def _default_driver_mem() -> str:
    """min(48g, half of physical RAM): a fixed 48g heap on a smaller
    host lets the JVM grow past what the machine has and be OOM-killed
    mid-run instead of collecting garbage.  SPARK_GRAFT_DRIVER_MEM
    overrides it."""
    try:
        ram_mb = (os.sysconf("SC_PAGE_SIZE")
                  * os.sysconf("SC_PHYS_PAGES")) >> 20
    except (ValueError, OSError):
        return f"{_DRIVER_MEM_CAP_MB}m"
    return f"{min(_DRIVER_MEM_CAP_MB, ram_mb // 2)}m"


def get_spark(app: str = "spatialgraft",
              cpus: int | None = None,
              shuffle_partitions: int | None = None,
              master: str | None = None) -> SparkSession:
    """master=None -> local[cpus]; pass e.g. 'local-cluster[4,8,8192]'
    for true multi-executor-JVM runs (the N vs 4N scaling gate)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", str(max(cpus, 8))))
    if master is None:
        master = f"local[{cpus}]"
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR",
                               _default_local_dir())
    if master.startswith("local-cluster"):
        # local-cluster EXECUTORS ignore spark.local.dir — the worker
        # hands them SPARK_LOCAL_DIRS instead (executor blockmgr dirs
        # otherwise land on /tmp even with the conf set; observed as
        # huge fetch-wait + near-zero task CPU at the 4N level).  The
        # env must exist BEFORE the JVM forks the workers: if this
        # process already launched a driver JVM (an earlier local[...]
        # session), setting it now cannot reach the executors and any
        # executor_local_dirs record read back from the env would lie —
        # warn instead of setting it.
        from pyspark import SparkContext
        if "SPARK_LOCAL_DIRS" in os.environ:
            # exported before any JVM forked -> workers/executors
            # inherit it whether or not a driver JVM already exists;
            # nothing to do and nothing to warn about
            pass
        elif SparkContext._gateway is not None:
            import warnings
            warnings.warn(
                "get_spark(local-cluster): a driver JVM already exists "
                "in this process and SPARK_LOCAL_DIRS was never set; "
                "it cannot reach executors now — executor shuffle dirs "
                f"will be the Spark default (/tmp), not {local_dir!r}. "
                "Run scaling levels in a fresh process.",
                stacklevel=2)
        else:
            os.environ["SPARK_LOCAL_DIRS"] = local_dir
    builder = SparkSession.builder.master(master)
    # local-cluster[n,c,mem] only caps what the WORKER may allocate; the
    # executor JVM heap itself comes from spark.executor.memory (default
    # 1g!) — set it explicitly or multi-executor runs get 1 GiB heaps.
    exec_mem = os.environ.get("SPARK_GRAFT_EXECUTOR_MEM")
    if exec_mem:
        builder = builder.config("spark.executor.memory", exec_mem)
    return (
        builder
        .config("spark.executorEnv.PYTHONPATH",
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Serialized persisted blocks stay UNCOMPRESSED (the Spark
        # default): lz4-compressing the kNN slim cache was A/B-measured
        # at the x2304 gate (bench_records/r5, round 5) and LOST — the
        # 4N knn wall went 170.8 -> 215.1 s; the compression ALU cost
        # exceeds the bus traffic it saves on this box.
        .config("spark.rdd.compress", "false")
        # spill-merge read-ahead allocates a 1 MiB heap buffer PER spill
        # file; a heavily-spilled sort (thousands of files x 8 tasks)
        # then OOMs in getSortedIterator before reading a single row.
        # Direct reads are marginally slower but memory-bounded.
        .config("spark.unsafe.sorter.spill.read.ahead.enabled", "false")
        # see _default_local_dir: tmpfs when it has headroom, else /tmp.
        # Override: SPARK_GRAFT_LOCAL_DIR.
        .config("spark.local.dir", local_dir)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                               _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


# local parquet path -> (its sorted (file, size, mtime_ns), schema):
# Spark infers a parquet schema with a job (footer reads) on every read;
# a read of unchanged files passes the memoized schema and runs none.
# One entry per path, so rewriting a table never grows the memo.
_SCHEMAS: dict = {}


def _local_files(path: str) -> tuple | None:
    """Sorted (file, size, mtime_ns) of every file at a local path (one
    file or a directory tree); None when the path is not local."""
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = [os.path.join(d, f)
                 for d, _, names in os.walk(path) for f in names]
    else:
        return None
    return tuple(sorted((f, (st := os.stat(f)).st_size, st.st_mtime_ns)
                        for f in files))


def load_table(spark: SparkSession, sf_dir: str, name: str):
    path = f"{sf_dir}/{name}.parquet"
    files = _local_files(path)
    seen, schema = _SCHEMAS.get(path, (None, None))
    reader = (spark.read if schema is None or seen != files
              else spark.read.schema(schema))
    df = reader.parquet(path)
    if files is not None:
        _SCHEMAS[path] = (files, df.schema)
    df.createOrReplaceTempView(name)
    return df
