"""SparkSession factory, and the driver-rows helpers in (``local_frame``)
and out (``collect_if_fits``).

Local-mode defaults sized from the host (``SPARK_GRAFT_CPUS`` cores, a
driver heap derived from the memory actually available) but every setting
is the one you'd ship to a 1000-executor cluster: AQE + skew-join on, Arrow
on, shuffle partitions ~ cores (overridden to 2-3x total cores on a real
cluster), UTC timezone pinned so DuckDB-oracle comparisons are stable.
"""

from __future__ import annotations

import logging
import os
from typing import Iterable, Sequence

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

log = logging.getLogger(__name__)

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


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence] | pd.DataFrame, ddl: str
) -> DataFrame:
    """Driver-side rows (tuples in ``ddl`` column order, or a pandas frame
    with the ``ddl`` columns) → DataFrame.

    ``spark.createDataFrame(<list>, ddl)`` plans as ``parallelize`` plus a
    PythonRDD re-pickle map, which runs under a different worker key than
    the ``mapInPandas`` stages and so starts a second ``pyspark.daemon``
    with its own workers. The rows are built into a typed ``pyarrow.Table``
    instead, which plans as a ``LocalTableScan`` with no Python worker. In
    tuples ``None`` stays null and ``NaN`` stays NaN; a pandas frame
    converts as pandas does, reading NaN as null."""
    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    if isinstance(rows, pd.DataFrame):
        table = pa.Table.from_pandas(rows, schema=arrow_schema, preserve_index=False)
    else:
        rows = list(rows)
        columns = zip(*rows) if rows else [()] * len(arrow_schema)
        table = pa.Table.from_arrays(
            [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )
    log.info("local_frame: %d rows, Arrow LocalTableScan", table.num_rows)
    return spark.createDataFrame(table, schema)


def collect_if_fits(df: DataFrame, max_rows: int, what: str) -> pa.Table | None:
    """``df``'s rows as an Arrow table when there are at most ``max_rows``,
    else None: the size gate choosing a graph kernel's driver or
    distributed path.

    One ``limit(max_rows + 1).toArrow()`` job measures and fetches at once.
    It holds at most ``max_rows + 1`` rows, as Arrow buffers rather than
    Python ``Row`` objects, so learning that a graph does not fit costs no
    more driver memory than the driver kernel that runs when it does. A
    0-row table is falsy: test the result with ``is None``."""
    table = df.limit(max_rows + 1).toArrow()
    fits = table.num_rows <= max_rows
    log.info(
        "collect_if_fits: %s %d rows (max %d) -> %s",
        what, table.num_rows, max_rows, "driver" if fits else "distributed",
    )
    return table if fits else None
