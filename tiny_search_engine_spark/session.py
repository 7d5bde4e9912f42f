"""SparkSession factory tuned for this engine.

Local mode is the sandbox proxy for a multi-executor cluster; all layout
decisions (doc-sharding, salted repartition, compressed postings) are made
for 1000-executor / 100 TB scale and validated here via partitioning- and
parallelism-invariance tests.

Iceberg is the primary production catalog per BASELINE.json input_hint; the
runtime jars are not in this sandbox, so ``jobs.table_io`` falls back to
plain parquet paths with identical schemas (SURVEY.md §7); catalog conf is
supplied at spark-submit time (README "Cluster submission").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local-mode cores: ``SPARK_GRAFT_CPUS`` when set, else the CPUs this
    process may run on (its affinity mask, which a container's cpuset
    narrows — not the host's core count)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """Driver heap: ``SPARK_DRIVER_MEMORY`` when set, else a quarter of
    physical RAM, capped at 8 GiB with a 1 GiB floor — room is left for
    the Python workers and the OS page cache the parquet stores live in."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return f"{max(1024, min(8192, ram_mb // 4))}m"


def get_spark(
    app_name: str = "tiny_search_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # one BLAS thread per Python worker: parallelism belongs to Spark.
    # Without this, N workers x default-N-thread OpenBLAS pools = N^2
    # threads -> kernel-time thrash (measured 2.6x slower build at
    # local[32] on 32 cores).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # Shuffle scratch: a cluster points spark.local.dir at fast local SSDs;
    # this sandbox's root disk throttles buffered writes to ~13 MB/s (cgroup
    # writeback), which serializes every shuffle regardless of cores. Use
    # tmpfs when present so parallel stages are CPU- not writeback-bound.
    local_dir = os.environ.get("TSE_SPARK_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/tse_spark_local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
    cpus = default_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # explicit skew handling is ours (doc-sharding); AQE's is belt+braces
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def scratch_dir(prefix: str = "tse_") -> str:
    """mkdtemp on the fastest writable storage (tmpfs when available).

    Benchmark/test segment stores are scratch data; on this sandbox the
    root disk's buffered-write throttle (~13 MB/s) would turn every
    parquet write into the bottleneck. Production stores pass a real
    warehouse path to build_index directly and never use this.
    """
    import tempfile

    base = os.environ.get("TSE_WORK_DIR")
    if base is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        base = "/dev/shm"
    return tempfile.mkdtemp(prefix=prefix, dir=base)
