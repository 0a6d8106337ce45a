"""Test oracles and fakes: code the tests compare the package against or
drive it with, and that no build, query or tool runs.

- ``modularity``: exact modularity of a partition, to score the Leiden
  kernel's and the distributed local move's partitions;
- ``simhash_signatures_sql``: the pure-SQL form of
  ``dedup.simhash_signatures``, its bit-exact twin;
- ``TruncatingGleaningExtractor``: a deterministic imperfect first LLM
  pass, for the gleaning tests;
- ``logged_loops``: the path and iteration or round count each iterative
  graph kernel logs.

Spark's Python workers cannot import a module under ``tests/``, so this
one is registered with cloudpickle to ship by value.
"""

from __future__ import annotations

import math
import re
import sys
from collections import defaultdict
from typing import Dict, Iterable, List

from pyspark import cloudpickle
from pyspark.sql import DataFrame, functions as F

from graph_rag_agent_spark.config import RECORD_DELIMITER
from graph_rag_agent_spark.functions.extractor import (
    DeterministicCodeExtractor,
    Extractor,
)
from graph_rag_agent_spark.functions.leiden_kernel import Edge, _build_adj
from graph_rag_agent_spark.functions.wire_format import join_records
from graph_rag_agent_spark.operators.dedup import _word_set

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def modularity(
    edges: Iterable[Edge], comm: Dict[str, int], gamma: float = 1.0
) -> float:
    """Q = Σ_c [Σin_c/m2 - gamma·(Σtot_c/m2)²] over the undirected graph."""
    adj, selfw = _build_adj(edges)
    nodes = set(adj) | set(selfw)
    k = {v: sum(adj.get(v, {}).values()) + 2.0 * selfw.get(v, 0.0) for v in nodes}
    m2 = sum(k.values())
    if m2 <= 0:
        return 0.0
    s_in: Dict[int, float] = defaultdict(float)
    s_tot: Dict[int, float] = defaultdict(float)
    for v in nodes:
        s_tot[comm[v]] += k[v]
        s_in[comm[v]] += 2.0 * selfw.get(v, 0.0)
    for u in adj:
        for v, w in adj[u].items():
            if u < v and comm[u] == comm[v]:
                s_in[comm[u]] += 2.0 * w
    return sum(
        s_in[c] / m2 - gamma * (s_tot[c] / m2) ** 2 for c in s_tot
    )


def simhash_signatures_sql(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SQL-form twin of simhash_signatures: 64-bit simhash over word
    features in pure DataFrame arithmetic — per-word 64-bit hash = first 8
    bytes of md5(word) (hex nibbles decoded in-expression), per-bit ±1
    votes summed, sign → bit. No Python, but 64× row explosion."""
    words = docs.select(
        F.col(id_col).cast("string").alias("id"),
        F.explode(_word_set(text_col)).alias("w"),
    ).withColumn("hex", F.substring(F.md5("w"), 1, 16))
    # one row per (doc, bit): bit b of the 64-bit value lives in hex char
    # 16 - b/4 (chars are MSB-first), nibble bit b%4; vote = +1 if set
    bits = words.select(
        "id", "hex", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit")
    ).withColumn(
        "digit",
        F.expr("conv(substring(hex, 16 - cast(bit / 4 as int), 1), 16, 10)").cast("int"),
    ).withColumn(
        "vote",
        F.when(F.expr("(digit >> (bit % 4)) & 1") == 1, 1).otherwise(-1),
    )
    votes = bits.groupBy("id", "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy("id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(1L, bit)")).otherwise(0)
        ).alias("simhash")
    )


class TruncatingGleaningExtractor:
    """Deterministic model of an imperfect first LLM pass.

    ``__call__`` returns only the first ``ceil(fraction * n)`` of the base
    extractor's wire records (the \"missed entities\" failure mode gleaning
    exists to fix); ``glean`` returns up to ``per_pass`` records absent from
    the prior output; ``needs_more`` reports whether any remain. With enough
    passes, gleaning provably reconverges to the base extractor's output.
    """

    def __init__(self, base: Extractor = None, fraction: float = 0.5,
                 per_pass: int = 1_000_000):
        self.base = base or DeterministicCodeExtractor()
        self.fraction = fraction
        self.per_pass = per_pass
        self.calls = {"first": 0, "glean": 0, "needs_more": 0}

    def _records(self, text: str) -> List[str]:
        full = self.base(text)
        return [r for r in full.split(RECORD_DELIMITER) if r.strip()]

    def __call__(self, text: str) -> str:
        self.calls["first"] += 1
        recs = self._records(text)
        if not recs:
            return ""
        keep = max(1, math.ceil(len(recs) * max(min(self.fraction, 1.0), 0.0)))
        return join_records(recs[:keep])

    def _missing(self, text: str, prior: str) -> List[str]:
        have = {r.strip() for r in (prior or "").split(RECORD_DELIMITER)}
        return [r for r in self._records(text) if r not in have]

    def glean(self, text: str, prior: str) -> str:
        self.calls["glean"] += 1
        return join_records(self._missing(text, prior)[: self.per_pass])

    def needs_more(self, text: str, prior: str) -> bool:
        self.calls["needs_more"] += 1
        return bool(self._missing(text, prior))


def logged_loops(caplog, loop: str) -> list:
    """→ [(path, count)] from each ``<loop>: <path> path, <count> <unit>``
    INFO line caplog captured, in order: what ``pagerank`` (iterations),
    ``connected components`` and ``k_core`` (rounds) log per run."""
    line = re.compile(rf"{re.escape(loop)}: (\w+) path, (\d+) \w+$")
    return [
        (m[1], int(m[2]))
        for m in (line.match(r.getMessage()) for r in caplog.records)
        if m
    ]
