"""SparkSession factory.

Local-mode defaults sized from the host (``SPARK_GRAFT_CPUS`` cores, a
driver heap derived from the memory actually available) but every setting
is the one you'd ship to a 1000-executor cluster: AQE + skew-join on, Arrow
on, shuffle partitions ~ cores (overridden to 2-3x total cores on a real
cluster), UTC timezone pinned so DuckDB-oracle comparisons are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# per-core allowance left outside the heap for the Python workers (pandas +
# Arrow batches) and the JVM's own off-heap (netty, codegen, metaspace)
WORKER_HEADROOM_MB = 768


def available_memory_mb() -> int:
    """MemAvailable, capped by the cgroup's remaining limit when one is set."""
    with open("/proc/meminfo") as fh:
        info = {line.split(":")[0]: line.split()[1] for line in fh}
    avail = int(info["MemAvailable"]) // 1024
    for limit_f, usage_f in (
        ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory.current"),
        ("/sys/fs/cgroup/memory/memory.limit_in_bytes",
         "/sys/fs/cgroup/memory/memory.usage_in_bytes"),
    ):
        try:
            with open(limit_f) as lf, open(usage_f) as uf:
                limit, usage = lf.read().strip(), uf.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            avail = min(avail, (int(limit) - int(usage)) // (1024 * 1024))
        break
    return avail


def default_driver_memory(cores: int) -> str:
    """Half of what is left after the per-core worker headroom, 1-16 GiB.

    A heap sized to the whole machine (ParallelGC grows it eagerly) gets the
    JVM OOM-killed once the Python workers and cached blocks add up."""
    try:
        avail = available_memory_mb()
    except (OSError, KeyError, ValueError):
        return "4g"
    heap = (avail - cores * WORKER_HEADROOM_MB) // 2
    return f"{max(1024, min(16384, heap))}m"


def get_spark(
    app_name: str = "graph_rag_agent_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # in local[N] shuffle partitions ~ N; on a cluster set 2-3x total cores
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
    cores = int(n) if n.isdigit() else (os.cpu_count() or 1)
    if shuffle_partitions is None:
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(cores)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # G1's concurrent cycles throttle allocation-heavy codegen at high
        # thread counts in local mode (measured 2x on sha/concat workloads);
        # throughput GC wins for batch ETL. On a cluster set the same via
        # spark.executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
