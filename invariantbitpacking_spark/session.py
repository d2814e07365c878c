"""SparkSession factory with the engine's tuned defaults.

Scale posture: these configs are what we would ship to a 1000-executor
cluster (AQE on, skew-join handling on, Arrow batching sized so one
batch of 128-token blocks stays well under executor memory); in the
sandbox they run on local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# First-touch page faults can cost ~100us each on snapshot-restored /
# memory-overcommitted VMs (measured on this sandbox: np.arange of
# 8.4M elements takes 992 ms on a fresh buffer, 10 ms on a reused
# one).  glibc's malloc mmap/munmaps every allocation above ~32 MB, so
# each large numpy temporary in the codec hot loops re-faults all its
# pages on every batch.  Huge mmap/trim thresholds keep big buffers on
# the brk heap, faulting each page ONCE per worker lifetime; the cost
# is that a worker retains its high-water mark (bounded by the codec
# mass caps, ~1-2 GB).  Must be in the environment BEFORE a process
# starts, so it is exported here (pre-JVM: pyspark daemons and their
# forked workers inherit it) and via spark.executorEnv for real
# clusters.  IBP_NO_MALLOC_TUNING=1 opts out.
_MALLOC_TUNING = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 34),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 34),
}


def _malloc_tuning() -> dict[str, str]:
    if os.environ.get("IBP_NO_MALLOC_TUNING") == "1":
        return {}
    out = {}
    for k, v in _MALLOC_TUNING.items():
        os.environ.setdefault(k, v)
        # ship what's actually in force: a user's own pre-exported
        # threshold wins locally, so executors must see the same value
        out[k] = os.environ[k]
    return out


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run
    on: its affinity mask, the count perfbench uses."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def default_driver_memory() -> str:
    """``IBP_DRIVER_MEM`` when set, else half the machine's physical
    memory (``MemTotal``) in whole GiB, at least 1g and at most 16g.  A
    local-mode driver JVM hosts the executors; the other half is left
    to the Python workers and the OS."""
    env = os.environ.get("IBP_DRIVER_MEM")
    if env:
        return env
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16, max(1, (total // 2) >> 30))}g"


def get_spark(app_name: str = "invariantbitpacking_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # collect-with-limit starts at 1 partition and scales up 4x per
        # round (spark.sql.limit.scaleUpFactor), so a limit+collect over
        # an N-slice local relation runs ceil(log4(N)) SEQUENTIAL jobs —
        # measured 0.9 s for a 100-row bounded-id collect at 32 slices
        # vs 0.2 s in one job.  Our limit+collect consumers (kmeans
        # seeding, dataops query samples) take small bounded heads, so
        # first-try-everything is the right shape; scale-sensitive
        # (cores-derived), not a magic constant.
        .config("spark.sql.limit.initialNumPartitions", str(cores * 2))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
    )
    for k, v in _malloc_tuning().items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    # escape hatch for per-run conf without code edits, e.g.
    #   IBP_SPARK_CONF="spark.python.worker.reuse=false;spark.speculation=true"
    # (worker reuse is the knob for the rare JVM<->python Arrow socket
    # deadlock a reused worker can race into on long 100x runs: both
    # sides end up blocked in read; a fresh worker per task sidesteps
    # the reuse handoff entirely at a small fork cost).  With reuse off,
    # every task forks a fresh worker from the daemon, so the lazy
    # zip-directory invalidation an engine stage installs
    # (operators/stages.py) never carries over and each task pays the
    # ~0.2 CPU-s stdlib floor.  PythonRDD workers that never run an
    # engine stage keep the stdlib behaviour too, e.g. the one
    # spark.createDataFrame(list) uses.
    for kv in filter(None, (s.strip() for s in
                            os.environ.get("IBP_SPARK_CONF", "").split(";"))):
        k, _, v = kv.partition("=")
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the local-mode equivalent of
    ``spark-submit --py-files``), so UDF closures unpickle anywhere.

    The zip name carries a hash of the source contents and the write is
    temp-file + atomic rename: a fixed mutable path broke CONCURRENT
    sessions sharing one scratch dir (executor fetch compares its
    cached copy to the file and fails on "exists and does not match"
    when another job rewrites it mid-flight).  Content-addressed names
    make the file immutable once written, so any number of concurrent
    drivers — same code or different checkouts — coexist."""
    import hashlib
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    members = []
    for root, _, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                members.append((full, rel))
    members.sort(key=lambda m: m[1])
    h = hashlib.sha256()
    for full, rel in members:
        h.update(rel.encode())
        with open(full, "rb") as fh:
            h.update(fh.read())
    zip_path = os.path.join(
        os.environ.get("IBP_DATA_DIR", "/tmp/ibp_spark_data"),
        f"invariantbitpacking_spark_{h.hexdigest()[:16]}.zip")
    os.makedirs(os.path.dirname(zip_path), exist_ok=True)
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.tmp.{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full, rel in members:
                # pin the archive mtime so identical sources always
                # produce identical bytes regardless of checkout time
                zi = zipfile.ZipInfo(rel, date_time=(2020, 1, 1, 0, 0, 0))
                with open(full, "rb") as fh:
                    zf.writestr(zi, fh.read())
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
