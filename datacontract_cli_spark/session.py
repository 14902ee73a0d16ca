"""SparkSession factory with scale-aware defaults.

Local-mode testing config; on a real cluster the same settings apply except
master/memory come from spark-submit. AQE is on so skewed shuffles re-plan
at runtime; cores, driver heap and shuffle partitions default to this
machine's (:func:`machine_defaults`; on a cluster partitions would be sized
to ~2-3× total cores); session timezone is pinned UTC so
timestamp semantics match the DuckDB oracle and the reference's naive→UTC
localization. A new driver JVM maps its classes from a per-user class-data
archive, or writes one at exit (:mod:`jvm_archive`).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from datacontract_cli_spark import jvm_archive

# throughput GC (heap size: see machine_defaults)
# ReservedCodeCacheSize: a long-lived session compiling many distinct
# queries (the bench runs ~50) generates enough bytecode to thrash the JVM's
# default 240 MB code cache — flushing evicts hot compiled methods and
# queries re-run interpreted/deoptimized
# -Xlog: JVM warnings go to stderr, not stdout (which carries `--json`
# output); the class-archive ones are dropped (jvm_archive reports its state)
_JAVA_OPTIONS = ("-XX:+UseParallelGC -XX:ReservedCodeCacheSize=512m "
                 "-Xlog:disable -Xlog:all=warning:stderr -Xlog:cds=off:stderr")


def machine_defaults() -> tuple[int, str]:
    """(cores, driver heap) for this machine: ``SPARK_GRAFT_CPUS`` or the
    cores this process may run on; ``SPARK_DRIVER_MEMORY`` or a quarter of
    physical memory, between 1g and 16g (beyond 16g, lazy page faulting
    and GC of a mostly empty heap gave multi-second outliers: measured at
    32 threads, a 48g heap took 2-50s per identical query, 16g ~1s)."""
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    cpus = int(env_cpus) if env_cpus.isdigit() else len(os.sched_getaffinity(0))
    memory = os.environ.get("SPARK_DRIVER_MEMORY")
    if not memory:
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
        memory = f"{max(1024, min(16 * 1024, phys_mb // 4))}m"
    return cpus, memory


def get_spark(
    app_name: str = "datacontract-cli-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus, driver_memory = machine_defaults()
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = int(n) if n.isdigit() else cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default 64m advisory size coalesces a ~256MB shuffle down to 4
        # reduce tasks — fine on a 4-node cluster, parallelism-starving on a
        # 32-core box; 8m keeps reduce stages wide while still merging
        # genuinely tiny partitions
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.extraJavaOptions", _JAVA_OPTIONS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        # single virtual disk in this sandbox is slow AND high-variance;
        # tmpfs shuffle models a cluster's parallel local disks far better
        .config("spark.local.dir",
                os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
                if os.path.isdir("/dev/shm") else "/tmp")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.mergeSchema", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    extra_conf = extra_conf or {}
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = jvm_archive.start(builder, _JAVA_OPTIONS, extra_conf)
    spark.sparkContext.setLogLevel("WARN")
    return spark
