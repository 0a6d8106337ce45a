"""KG benchmark: a cold build or an incremental pass, then search requests.

Usage (from the repository root, or any other directory):

    python3 perfbench/run.py --workload build_full --seed 1 --seconds 5 --trace 0

Workloads (see ``workloads.py``): ``build_full`` and ``incremental_delta``.
One driver process, one client, closed loop, on ``local[<usable cores>]``.
A run sets up (Spark session, seeded inputs repeated for a median, any
base warehouse), times the workload's operation once, then sends the
seeded search request stream for ``--seconds`` and repeats two requests
untimed. Every output is checked. The last line of standard output is one
JSON object:

- ``--trace 0``: the end-to-end metrics ``op_s`` (seconds of the
  operation), ``setup_s`` and ``peak_rss_mb`` (JVM plus Python workers);
- ``--trace 1``: the per-layer ledger from ``ledger.py``, built from spans
  around the package's layer functions and the Spark event log.

A ``report:`` line before it names the figures each workload stands for
(``build_s`` and triples/s, ``incremental_s``, search latencies,
``failed_share``) and the heap, cores and Spark version used.

Everything the run writes goes under ``.bench_work/`` in the repository
root, which is removed at exit.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_FILES = 200
SETUP_INPUT_REPS = 3
RSS_INTERVAL_S = 0.2


def available_mb() -> int:
    """MemAvailable, capped by the cgroup's remaining limit when there is one."""
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


def driver_heap_mb() -> int:
    """A quarter of the free memory, between 1 and 3 GiB: the rest is left
    to the Python workers, the page cache and other tenants."""
    return max(1024, min(3072, available_mb() // 4))


class RssSampler(threading.Thread):
    """Peak summed RSS of a process and all its descendants."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak_kb = 0
        self._done = threading.Event()

    def _tree_rss_kb(self) -> int:
        children: dict = {}
        rss: dict = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
                with open(f"/proc/{entry}/statm") as fh:
                    pages = int(fh.read().split()[1])
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
            rss[int(entry)] = pages * os.sysconf("SC_PAGE_SIZE") // 1024
        total, todo = 0, [self.pid]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(children.get(p, ()))
        return total

    def run(self):
        while not self._done.wait(RSS_INTERVAL_S):
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb())

    def stop(self) -> float:
        self._done.set()
        self.join()
        self.peak_kb = max(self.peak_kb, self._tree_rss_kb())
        return self.peak_kb / 1024.0


def start_spark(workload: str, work: str, trace: bool):
    """Session sized for this host; all temporary files under ``work``."""
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    # Python workers import the package from the checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    from graph_rag_agent_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    heap = driver_heap_mb()
    conf = {
        "spark.driver.memory": f"{heap}m",
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name=f"perfbench-{workload}", master=f"local[{cores}]",
                      extra_conf=conf)
    return spark, {"heap_mb": heap, "cores": cores, "spark": spark.version}


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def attempt(tracer, fn, *args):
    """-> (output, completed, seconds). Spans are recorded only in here."""
    if tracer:
        tracer.active = True
    t0 = time.perf_counter()
    try:
        out, done = fn(*args), True
    except Exception:
        traceback.print_exc()
        out, done = None, False
    seconds = time.perf_counter() - t0
    if tracer:
        tracer.active = False
    return out, done, seconds


def passes(check, *args) -> bool:
    try:
        return bool(check(*args))
    except Exception:
        traceback.print_exc()
        return False


def run(args) -> dict:
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> dict:
    import ledger
    from workloads import WORKLOADS, QueryStream

    t0 = time.perf_counter()
    spark, host = start_spark(args.workload, work, args.trace)
    session_s = time.perf_counter() - t0
    sampler = None
    try:
        from pyspark import SparkContext

        sampler = RssSampler(SparkContext._gateway.proc.pid)
        sampler.start()
        tracer = ledger.Tracer(spark) if args.trace else None
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.files)
        gen_s = []
        for _ in range(SETUP_INPUT_REPS):
            t0 = time.perf_counter()
            wl.make_inputs()
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare()
        setup_s = session_s + statistics.median(gen_s) + time.perf_counter() - t0
        if tracer:
            ledger.install(tracer)

        out, done, op_s = attempt(tracer, wl.op)
        failed = 0 if done and passes(wl.check, out) else 1
        rows = None
        if tracer and hasattr(wl, "stage_rows"):
            rows = {}
            for stage, n in wl.stage_rows().items():
                layer = ledger.STAGE_LAYER.get(stage)
                if layer:
                    rows[layer] = rows.get(layer, 0) + n

        queries = QueryStream(spark, wl.catalog, args.seed)
        request = queries.request
        if tracer:
            request = functools.partial(tracer.call, "search", queries.request)
        query_s = []
        deadline = time.perf_counter() + args.seconds
        while not query_s or time.perf_counter() < deadline:
            i = len(query_s)
            out, done, seconds = attempt(tracer, request, i)
            query_s.append(seconds)
            if not (done and passes(queries.check, i, out)):
                failed += 1
        repeats = queries.repeats(len(query_s))
        for i in repeats:
            out, done, _ = attempt(None, queries.request, i)
            if not (done and passes(queries.check, i, out)):
                failed += 1
        attempted = 1 + len(query_s) + len(repeats)
        extra = {**wl.trace_extra(), "requests": len(query_s)} if tracer else {}
        report = {"workload": args.workload, "seed": args.seed, "attempted": attempted,
                  "failed_share": failed / attempted, **wl.report(op_s),
                  **queries.report(query_s), **host}
    finally:
        peak_mb = sampler.stop() if sampler else 0.0
        stop_spark(spark)

    if tracer:
        events = ledger.parse_event_log(os.path.join(work, "eventlog"))
        values = ledger.ledger(tracer, events, len(query_s), op_s, extra, rows)
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in ledger.metric_units().items()}
        report["traced_self_share"] = values["trace.self_sum_s"] / op_s
    else:
        metrics = {
            "op_s": {"value": op_s, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    report.update({"op_s": op_s, "setup_s": setup_s, "peak_rss_mb": peak_mb})
    print("report: " + json.dumps(report, sort_keys=True))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)), ROOT]
    try:
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    parser.add_argument("--files", type=int, default=N_FILES,
                        help="corpus size in files (smaller for smoke tests)")
    args = parser.parse_args(argv)
    result = run(args)
    sys.stdout.flush()
    print(json.dumps(result))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
