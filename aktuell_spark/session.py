"""SparkSession factory with scale-aware defaults.

Local-mode testing stands in for a multi-executor cluster; every setting
here is chosen to also be correct at 1000-executor / 100 TB scale:

- AQE on (runtime coalesce + skew-join splitting);
- shuffle partitions sized to cores locally (would be ~2-3x total cores on
  a real cluster, or left to AQE's coalescing);
- Arrow enabled for every pandas-UDF boundary;
- UTC session timezone so event-time semantics are deployment-independent
  (the reference leaks wall-clock into ClientTimestamp,
  /root/reference/pkg/sync/database.go:126 — we never do);
- driver heap sized to the host: ``min(24g, 0.75 × memory / 1.10)``, where
  memory is the physical RAM or a smaller cgroup memory limit. Spark's
  Hardware Provisioning guide allots "at most 75% of the memory for
  Spark", and ``spark.driver.memoryOverheadFactor`` (default 0.10) adds
  non-heap memory on top of the heap. In local mode the driver is the only
  JVM, and Spark's unified memory manager sizes cache and execution memory
  from the heap, not from the RAM: a heap larger than the host lets cached
  blocks and uncollected garbage grow until the kernel kills the JVM.
  ``SPARK_DRIVER_MEM`` (e.g. ``8g``) overrides the computed value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# cap on the computed default heap; reached on hosts with >= 35.2 GiB
_MAX_DRIVER_MEM_MB = 24 * 1024
# Spark Hardware Provisioning: "allocate only at most 75% of the memory
# for Spark"
_SPARK_MEMORY_SHARE = 0.75
# spark.driver.memoryOverheadFactor default: non-heap memory on top of -Xmx
_MEMORY_OVERHEAD_FACTOR = 0.10
# cgroup v2, then v1; a limit of "max" (or v1's near-2^63 value) is no limit
_CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def host_memory_bytes() -> int:
    """Physical RAM, or the container's cgroup memory limit if smaller."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw))
    return total


def default_driver_memory() -> str:
    """``spark.driver.memory`` for this host: ``min(24g, 0.75 × host
    memory / (1 + overhead factor))``, so heap plus Spark's assumed
    non-heap overhead stays within the share Spark's docs allot."""
    heap_mb = int(
        host_memory_bytes() * _SPARK_MEMORY_SHARE / (1 + _MEMORY_OVERHEAD_FACTOR)
    ) // 2**20
    if heap_mb >= _MAX_DRIVER_MEM_MB:
        return f"{_MAX_DRIVER_MEM_MB // 1024}g"
    return f"{heap_mb}m"


def get_spark(
    app_name: str = "aktuell_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores=None`` uses ``local[*]``. On a real cluster this builder is
    bypassed entirely — ``spark-submit --py-files`` provides the session
    and these configs move to ``spark-defaults.conf``.
    """
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(cores_env) if cores_env else 0
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash join when its size
        # conditions hold instead of always sort-merge (optimization
        # guide §3.1/§9): every equi-join skips the two per-partition
        # sorts; the planner still falls back to sort-merge when the
        # build side cannot be sized safely, and AQE's skew splitting
        # stays in effect. Measured −40% on the join-heavy dedup/ANN
        # suite at sf0.1; scale-independent (the choice is per-join,
        # size-based, not tuned to local core counts).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        # -Xmx of the only JVM in local mode: sized to the host (module
        # docstring; Spark hardware-provisioning 75% share and 0.10
        # memoryOverheadFactor); SPARK_DRIVER_MEM overrides it
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
        # state store: RocksDB keeps stateful-op state off-heap and
        # spillable — required at 10^12-turn scale, harmless locally
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship aktuell_spark to executors (the spark-submit --py-files
    equivalent): pandas-UDF closures reference this package, and worker
    processes don't inherit the driver's sys.path edits."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join("/tmp", f"aktuell_spark_pkg_{os.getpid()}.zip")
    # always rebuild: a cached zip would ship stale code after edits
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
