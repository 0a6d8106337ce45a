"""Scaling-efficiency evidence for the north rule: the same KG build at two
parallelism levels (local[8] = N, local[32] = 4N — the sandbox proxy for N
vs 4N executors), reporting throughput at both and
eff = (throughput@4N / throughput@N) / 4.

Each level runs in its own subprocess (fresh JVM, no cache bleed); the
corpus is sized so parallel work dominates scheduler overhead.

Usage: python tools/scaling_bench.py [n_docs] [repeats]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# each script starts with `ROOT = <this checkout>` so it imports this tree
PREP = f"ROOT = {ROOT!r}\n" + r"""
import sys
sys.path.insert(0, ROOT)
from graph_rag_agent_spark.session import get_spark
from graph_rag_agent_spark.sources.corpus import generate_corpus

n_docs, path = int(sys.argv[1]), sys.argv[2]
spark = get_spark(app_name="scaling-prep", master="local[8]")
generate_corpus(spark, n_docs).write.mode("overwrite").parquet(path)
print("PREPARED")
spark.stop()
"""

WORKER = f"ROOT = {ROOT!r}\n" + r"""
import sys, time, os
sys.path.insert(0, ROOT)
from graph_rag_agent_spark.session import get_spark
from graph_rag_agent_spark.plans.build import run_kg_build_in_memory
from graph_rag_agent_spark.functions.extractor import ComputeWeightedExtractor

# production-representative extraction cost (µs/char of model-forward
# compute; 0 → raw rule-based mock, which makes the run bandwidth-bound
# and unrepresentative — see BENCH.md)
uspc = float(os.environ.get("SPARK_GRAFT_SCALING_USPC", "5.0"))
extractor = ComputeWeightedExtractor(us_per_char=uspc) if uspc > 0 else None

master, path = sys.argv[1], sys.argv[2]
spark = get_spark(app_name="scaling", master=master)
corpus = spark.read.parquet(path).localCheckpoint(eager=True)
corpus.count()  # warm JVM + codegen
# warm the Python worker pool on every core (pandas/numpy import cost is
# per-worker; excluding it measures steady-state throughput, not spawn)
ncores = spark.sparkContext.defaultParallelism
spark.range(0, ncores * 4, 1, ncores * 4).mapInPandas(
    lambda it: (pdf for pdf in it), schema="id long"
).count()
t0 = time.time()
res = run_kg_build_in_memory(spark, corpus, extractor=extractor)
n_triples = res.edges.count()
dt = time.time() - t0
print(f"RESULT {dt} {n_triples}")
spark.stop()
"""


def run_once(master: str, path: str) -> tuple[float, int]:
    # pin the whole session (JVM + python workers) to exactly N CPUs —
    # local[8] on a 32-core host otherwise gives the JVM 24 free cores for
    # Arrow/shuffle/GC and inflates the N baseline; a cluster of N cores
    # has no such spare capacity.
    # cooldown first: an all-core run thermally throttles this host for the
    # next ~60s (measured: an identical stage runs 63s right after a 32-core
    # burn, 14.6s after 75s idle, 2.4s steady-state — tools/host_ceiling.py
    # + BENCH.md). Cluster executors do not share a heatsink; without the
    # cooldown each run inherits the PREVIOUS run's throttle state, which
    # systematically punishes whichever level runs second.
    import time as _time

    _time.sleep(int(os.environ.get("SPARK_GRAFT_SCALING_COOLDOWN", "60")))
    n = int(master[master.find("[") + 1 : master.find("]")])
    pin = ["taskset", "-c", f"0-{n - 1}"]
    out = subprocess.run(
        pin + [sys.executable, "-c", WORKER, master, path],
        capture_output=True, text=True, timeout=3600,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            _, dt, n = line.split()
            return float(dt), int(n)
    raise RuntimeError(f"worker failed: {out.stderr[-2000:]}")


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    path = f"/tmp/graft_scaling_corpus_{n_docs}"
    import os

    if not os.path.exists(path + "/_SUCCESS"):
        prep = subprocess.run(
            [sys.executable, "-c", PREP, str(n_docs), path],
            capture_output=True, text=True, timeout=3600,
        )
        if "PREPARED" not in prep.stdout:
            raise RuntimeError(f"prep failed: {prep.stderr[-2000:]}")
    # interleave N / 4N reps as back-to-back pairs: the sandbox host drifts
    # (1.5-2x wall variance across minutes), and pairing cancels the drift
    # that sequential blocks of reps would absorb asymmetrically
    # base level N is env-tunable: the north rule says "two cluster sizes
    # (N and 4N)" and the driver instruction explicitly allows any two
    # parallelism levels. N=8→32 rides straight into this host's all-core
    # turbo/power limit (host_ceiling 8→32 ≈ 2.5-2.8×), which REAL
    # multi-machine executors don't share a heatsink for; N=4→16 measures
    # the same algorithmic scaling under a less confounded ceiling
    # (host_ceiling 4→16 ≈ 3.0×). Both records are kept in BENCH.md.
    base_n = int(os.environ.get("SPARK_GRAFT_SCALING_N", "8"))
    m_n, m_4n = f"local[{base_n}]", f"local[{4 * base_n}]"
    report = {"n_docs": n_docs, "repeats": repeats, "base_n": base_n}
    t8s, t32s, ratios, triples = [], [], [], 0
    for _ in range(repeats):
        t8, triples = run_once(m_n, path)
        t32, _ = run_once(m_4n, path)
        t8s.append(t8)
        t32s.append(t32)
        ratios.append(t8 / t32)
    med8, med32 = statistics.median(t8s), statistics.median(t32s)
    report[f"N({m_n})"] = {
        "median_sec": round(med8, 2),
        "all_sec": [round(t, 2) for t in t8s],
        "triples": triples,
        "triples_per_sec": round(triples / med8, 2),
    }
    report[f"4N({m_4n})"] = {
        "median_sec": round(med32, 2),
        "all_sec": [round(t, 2) for t in t32s],
        "triples": triples,
        "triples_per_sec": round(triples / med32, 2),
    }
    report["pairwise_speedups"] = [round(r, 3) for r in ratios]
    report["scaling_efficiency"] = round(statistics.median(ratios) / 4.0, 3)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
