"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_master() -> str:
    """``$SPARK_GRAFT_MASTER``, else ``local[$SPARK_GRAFT_CPUS]``, else one
    task thread per CPU this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"


def default_driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else a quarter of physical RAM. In
    local mode the driver JVM is the executor, so its heap is the engine's
    memory; a quarter leaves room for the Python workers and the page
    cache. Too small a heap shows up as GC churn in the verify stage
    (measured on a 32-core host: 8g capped its scaling long before cores
    did)."""
    ram = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{ram // 4 >> 20}m"


def get_spark(
    app_name: str = "imdedup_plus_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a session.

    Defaults chosen for the dedup workload:
    * AQE on, with skew-join splitting and partition coalescing — the safety
      net under the LSH bucket cap for residual band-hash skew;
    * Arrow enabled for the pandas/Arrow kernels (span extraction);
    * shuffle partitions sized by env/CLI, not hard-coded (at 100 TB this is
      set to ~2-3x total cores by the submitter).
    """
    master = master or default_master()
    # glibc malloc: keep large numpy buffers on the reusable heap instead of
    # mmap/munmap-ing them per Arrow batch. On fault-expensive hosts (this
    # VM: ~70us/page first touch, measured) the default re-faults every
    # batch's working set — the flattened verify kernel ran 15x slower
    # without this. Must be in the env BEFORE the JVM starts so the python
    # worker daemon inherits it; executorEnv covers real clusters.
    _malloc_env = {
        "MALLOC_MMAP_THRESHOLD_": "1073741824",
        "MALLOC_TRIM_THRESHOLD_": "1073741824",
    }
    for k, v in _malloc_env.items():
        os.environ.setdefault(k, v)
    # shuffle spill dir: tmpfs when available — fast for the sub-GB
    # shuffles of tests/bench at sf0.1. CAUTION: tmpfs is RAM; at corpus
    # scale the verify shuffle (tens of GB) competes with the JVM heap and
    # can OOM-kill the process — corpus-scale runs set
    # SPARK_GRAFT_LOCAL_DIR to a disk path (scripts/scaling_data.py does).
    # A real cluster uses executor-local NVMe for the same reason.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python data sources (container.py) prune shards via pushFilters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # zstd shuffle blocks are ~40% smaller than lz4 on the packed
        # shingle-set payload; the verify shuffle is the pipeline's
        # dominant I/O (measured ~100 GB at 4.4M docs with k=128), so the
        # codec choice is worth more than its CPU cost at every scale
        .config("spark.io.compression.codec", "zstd")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in _malloc_env.items():
        builder = builder.config(f"spark.executorEnv.{k}", os.environ[k])
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
