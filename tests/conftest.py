import gc
import os
import sys

import pytest
from pyspark.sql import SparkSession

from graph_rag_agent_spark.session import get_spark
from graph_rag_agent_spark.sources.corpus import generate_corpus_pdf

# test module -> peak JVM heap (MB) while it ran; printed in the summary
HEAP_PEAKS = pytest.StashKey[dict]()


@pytest.fixture(scope="session")
def spark():
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4)
    s = get_spark(app_name="graft-tests", master=f"local[{cpus}]",
                  shuffle_partitions=cpus)
    yield s
    s.stop()


def _heap_pools(session):
    mgmt = session.sparkContext._jvm.java.lang.management.ManagementFactory
    return [
        p for p in mgmt.getMemoryPoolMXBeans()
        if p.getType().toString() == "Heap memory"
    ]


@pytest.fixture(scope="module", autouse=True)
def release_session_blocks(request):
    """Free what a module cached or checkpointed before the next one runs:
    cached frames, and the entry memo's localCheckpoint frames, whose blocks
    Spark's ContextCleaner drops once the JVM collects their RDDs. Records
    the module's peak JVM heap."""
    session = SparkSession.getActiveSession()
    if session is not None:
        for p in _heap_pools(session):
            p.resetPeakUsage()
    yield
    session = SparkSession.getActiveSession()
    if session is None:
        return
    request.config.stash.setdefault(HEAP_PEAKS, {})[request.module.__name__] = sum(
        p.getPeakUsage().getUsed() for p in _heap_pools(session)
    ) / 2**20
    session.catalog.clearCache()
    entry = sys.modules.get("__spark_entry__")
    if entry is not None:
        app = session.sparkContext.applicationId
        for key in [k for k in entry._MEMO if k[0] == app]:
            del entry._MEMO[key]
    gc.collect()
    session.sparkContext._jvm.System.gc()


def pytest_terminal_summary(terminalreporter, config):
    peaks = config.stash.get(HEAP_PEAKS, {})
    if peaks:
        terminalreporter.section("peak JVM heap per module (MB)")
        for name, mb in peaks.items():
            terminalreporter.write_line(f"{mb:8.0f}  {name}")


@pytest.fixture(scope="session")
def tiny_corpus_pdf():
    return generate_corpus_pdf(50, seed=42)


@pytest.fixture(scope="session")
def tiny_corpus(spark, tiny_corpus_pdf):
    return spark.createDataFrame(
        tiny_corpus_pdf,
        schema="repo string, path string, commit string, lang string, content string",
    )
