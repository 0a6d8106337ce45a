"""Outside-in per-layer ledger for the traced benchmark run.

Spans are recorded from the benchmark process around calls into each
layer's public functions; the package itself is not edited. ``install``
wraps every public function (and every public method of a class) defined
in a layer's modules and rebinds the wrapper wherever the package imported
the original by name.

Each span sets the Spark job group to its layer, so every job a call
launches carries the layer as its key. After ``spark.stop()`` the event
log is parsed offline: task-end events are grouped by that key into run
time, shuffle, spill, failed tasks, rows written and Python-worker bytes.

Attribution rules:

- A layer's ``wall_s`` is its self time: span time minus the time of the
  child spans it called.
- A ``TableCatalog.write`` is charged to the layer that owns the table
  (``TABLE_LAYER``), because a lazy plan runs its whole upstream inside the
  write job. Reads, existence checks, upserts and untabled writes stay with
  ``catalog``; a write made inside a catalog call (the upsert rewrite)
  stays with ``catalog`` too.
- Modules outside ``LAYER_MODULES`` are not wrapped; their time falls into
  the caller's self time.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import sys
import time
from collections import Counter, defaultdict

PACKAGE = "graph_rag_agent_spark"
GROUP_PREFIX = "perfbench:"

LAYER_MODULES = {
    "catalog": ("sources.catalog",),
    "chunker": ("operators.chunker",),
    "extraction": ("operators.extraction",),
    "parsing": ("operators.parsing",),
    "embeddings": ("operators.embeddings",),
    "canonicalize": ("operators.canonicalize",),
    "communities": ("operators.communities",),
    "pagerank": ("operators.pagerank",),
    "graph_metrics": ("operators.graph_metrics",),
    "incremental": ("operators.incremental",),
    "consistency": ("operators.consistency",),
    "search": ("operators.search",),
    "plans": ("plans.build", "plans.incremental_update"),
}
LAYERS = tuple(LAYER_MODULES)

# table -> layer whose plan a write of that table materializes
TABLE_LAYER = {
    "chunks": "chunker",
    "extraction_cache": "extraction",
    "records": "parsing",
    "occurrences": "parsing",
    "edges_raw": "parsing",
    "nodes_raw": "parsing",
    "mentions_raw": "parsing",
    "entity_embeddings": "embeddings",
    "chunk_embeddings": "embeddings",
    "similar": "canonicalize",
    "wcc": "canonicalize",
    "nodes": "canonicalize",
    "edges": "canonicalize",
    "mentions": "canonicalize",
    "lpa_membership": "communities",
    "entity_communities": "communities",
    "communities": "communities",
    "community_hierarchy": "communities",
    "community_summaries": "communities",
    "entity_pagerank": "pagerank",
    "graph_quality": "graph_metrics",
    "registry": "incremental",
}

# build_metrics stage -> layer; `embed_failures` is a counter riding on the
# embed write, not a table, so it is left out
STAGE_LAYER = {
    "corpus": "catalog",
    "chunk": "chunker",
    "extract": "extraction",
    "parse_records": "parsing",
    "parse_occurrences": "parsing",
    "parse_edges": "parsing",
    "parse_nodes": "parsing",
    "parse_mentions": "parsing",
    "embed": "embeddings",
    "embed_chunks": "embeddings",
    "similar_join": "canonicalize",
    "wcc": "canonicalize",
    "canonicalize_nodes": "canonicalize",
    "canonicalize_edges": "canonicalize",
    "canonicalize_mentions": "canonicalize",
    "communities_lpa": "communities",
    "communities_detect": "communities",
    "communities_membership": "communities",
    "communities_hierarchy": "communities",
    "communities_summarize": "communities",
    "pagerank": "pagerank",
    "graph_quality": "graph_metrics",
    "registry": "incremental",
}

PER_LAYER = ("wall_s", "calls", "jobs", "task_s", "driver_only_s",
             "shuffle_mb", "spill_mb", "failed_tasks")
PYTHON_LAYERS = ("chunker", "extraction", "embeddings")
ROWS_LAYERS = ("catalog", "chunker", "extraction", "parsing", "embeddings",
               "canonicalize", "communities", "pagerank", "graph_metrics",
               "incremental")
PYTHON_BYTES = ("data sent to Python workers", "data returned from Python workers")
MB = 1024.0 * 1024.0


def metric_units() -> dict:
    """Every per-layer metric name -> unit, in output order."""
    units = {}
    unit_of = {"wall_s": "s", "task_s": "s", "driver_only_s": "s",
               "shuffle_mb": "MB", "spill_mb": "MB"}
    for layer in LAYERS:
        for m in PER_LAYER:
            units[f"{layer}.{m}"] = unit_of.get(m, "count")
    for layer in PYTHON_LAYERS:
        units[f"{layer}.python_mb"] = "MB"
    for layer in ROWS_LAYERS:
        units[f"{layer}.rows_out"] = "count"
    units.update({
        "extraction.cache_hit_ratio": "ratio",
        "extraction.chunks_in": "count",
        "catalog.write_amp": "ratio",
        "catalog.write_mb": "MB",
        "catalog.changed_mb": "MB",
        "search.requests": "count",
        "trace.op_s": "s",
        "trace.self_sum_s": "s",
    })
    return units


class Tracer:
    """Span stack with per-layer self time and entry counts."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._stack: list = []  # [layer, t0, child_s]
        self.self_s: dict = defaultdict(float)
        self.calls: Counter = Counter()
        # spans are recorded only while active: set-up and output checks
        # call the same functions but are not part of the ledger
        self.active = False

    def _set_group(self, layer) -> None:
        self._sc.setLocalProperty(
            "spark.jobGroup.id", GROUP_PREFIX + layer if layer else None
        )

    def current(self):
        return self._stack[-1][0] if self._stack else None

    def enter(self, layer: str) -> list:
        parent = self.current()
        if parent != layer:
            self.calls[layer] += 1
            self._set_group(layer)
        frame = [layer, time.time(), 0.0]
        self._stack.append(frame)
        return frame

    def exit(self, frame: list) -> None:
        dur = time.time() - frame[1]
        self._stack.pop()
        self.self_s[frame[0]] += dur - frame[2]
        parent = self.current()
        if self._stack:
            self._stack[-1][2] += dur
        if parent != frame[0]:
            self._set_group(parent)

    def call(self, layer: str, fn, *args, **kwargs):
        if not self.active:
            return fn(*args, **kwargs)
        frame = self.enter(layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self.exit(frame)


def _wrap(tracer: Tracer, layer: str, fn, write: bool = False):
    if write:
        # TableCatalog.write(self, df, name, ...)
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            name = args[2] if len(args) > 2 else kwargs.get("name")
            owner = layer
            if tracer.current() != "catalog":
                owner = TABLE_LAYER.get(name, layer)
            return tracer.call(owner, fn, *args, **kwargs)
    else:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.call(layer, fn, *args, **kwargs)
    return traced


def install(tracer: Tracer) -> None:
    """Wrap every layer's public functions and methods."""
    replaced = {}
    for layer, mods in LAYER_MODULES.items():
        for short in mods:
            modname = f"{PACKAGE}.{short}"
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                if inspect.isfunction(obj):
                    replaced[obj] = _wrap(tracer, layer, obj)
                elif inspect.isclass(obj):
                    for mname, meth in list(vars(obj).items()):
                        if not mname.startswith("_") and inspect.isfunction(meth):
                            is_write = obj.__name__ == "TableCatalog" and mname == "write"
                            setattr(obj, mname, _wrap(tracer, layer, meth, write=is_write))
    # rebind names the package imported with `from module import fn`
    for modname, mod in list(sys.modules.items()):
        if not (modname == PACKAGE or modname.startswith(PACKAGE + ".")):
            continue
        for name, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and obj in replaced:
                setattr(mod, name, replaced[obj])


def _union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def parse_event_log(log_dir: str) -> dict:
    """layer -> task-level totals from the Spark event log, keyed by the job
    group each span set."""
    files = [
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    ]
    stage_group: dict = {}
    out: dict = defaultdict(lambda: defaultdict(float))
    intervals: dict = defaultdict(list)
    for path in sorted(files):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith(GROUP_PREFIX):
                        continue
                    layer = group[len(GROUP_PREFIX):]
                    out[layer]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, layer)
                elif kind == "SparkListenerTaskEnd":
                    layer = stage_group.get(ev.get("Stage ID"))
                    if layer is None:
                        continue
                    acc = out[layer]
                    info = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    acc["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    acc["shuffle_mb"] += (
                        tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
                    )
                    acc["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
                    outm = tm.get("Output Metrics", {})
                    acc["write_mb"] += outm.get("Bytes Written", 0) / MB
                    acc["rows_written"] += outm.get("Records Written", 0)
                    if info.get("Failed") or info.get("Killed"):
                        acc["failed_tasks"] += 1
                    for a in info.get("Accumulables", []):
                        if a.get("Name") in PYTHON_BYTES:
                            acc["python_mb"] += int(a.get("Update") or 0) / MB
                    if "Launch Time" in info and "Finish Time" in info:
                        intervals[layer].append(
                            (info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0)
                        )
    for layer, ivs in intervals.items():
        out[layer]["busy_s"] = _union_length(ivs)
    return out


def ledger(tracer: Tracer, events: dict, requests: int, op_s: float,
           extra: dict, rows_out: dict | None = None) -> dict:
    """Per-layer metrics for the one operation; ``search`` values are per
    request. ``rows_out`` overrides the event log's rows-written count
    where the plan records its own."""
    vals: dict = {}
    for layer in LAYERS:
        n = max(1, requests) if layer == "search" else 1
        ev = events.get(layer, {})
        wall = tracer.self_s.get(layer, 0.0)
        vals[f"{layer}.wall_s"] = wall / n
        vals[f"{layer}.calls"] = tracer.calls.get(layer, 0) / n
        vals[f"{layer}.jobs"] = ev.get("jobs", 0) / n
        vals[f"{layer}.task_s"] = ev.get("task_s", 0.0) / n
        vals[f"{layer}.driver_only_s"] = max(0.0, wall - ev.get("busy_s", 0.0)) / n
        vals[f"{layer}.shuffle_mb"] = ev.get("shuffle_mb", 0.0) / n
        vals[f"{layer}.spill_mb"] = ev.get("spill_mb", 0.0) / n
        vals[f"{layer}.failed_tasks"] = ev.get("failed_tasks", 0) / n
    for layer in PYTHON_LAYERS:
        vals[f"{layer}.python_mb"] = events.get(layer, {}).get("python_mb", 0.0)
    for layer in ROWS_LAYERS:
        rows = (rows_out or {}).get(layer)
        if rows is None:
            rows = events.get(layer, {}).get("rows_written", 0)
        vals[f"{layer}.rows_out"] = rows
    write_mb = sum(ev.get("write_mb", 0.0) for ev in events.values())
    changed_mb = extra.get("changed_mb", 0.0)
    vals.update({
        "extraction.cache_hit_ratio": extra.get("cache_hit_ratio", 0.0),
        "extraction.chunks_in": extra.get("chunks_in", 0),
        "catalog.write_amp": write_mb / changed_mb if changed_mb else 0.0,
        "catalog.write_mb": write_mb,
        "catalog.changed_mb": changed_mb,
        "search.requests": requests,
        "trace.op_s": op_s,
        "trace.self_sum_s": sum(
            s for layer, s in tracer.self_s.items() if layer != "search"
        ),
    })
    return vals
