"""Deterministic synthetic source-code corpus.

Shape is exactly BASELINE.json's input_hint:
``corpus(repo string, path string, commit string, lang string, content string)``.

Seed-42, no external data. Properties engineered per FIXTURES.md §A:
- Zipf skew: one hot repo holds ~50% of rows; one hot lang (py) dominates —
  the skew fixture for salting/AQE tests.
- content carries plantable entities (imports, classes, defs, constants) the
  deterministic extractor finds, near-duplicate entity names within edit
  distance < 3 (DataLoader / Data_Loader / DataLoaders) to exercise
  canonicalization, and 。 sentence terminators to exercise the chunker's
  sentence-snap paths.
- lengths spread from empty/short files to ~60k chars, plus one >500k-char
  file to hit the large-text pre-split path.
"""

from __future__ import annotations

import hashlib
import random
from typing import Dict, List

import pandas as pd

from graph_rag_agent_spark.session import local_frame

CORPUS_COLUMNS = ["repo", "path", "commit", "lang", "content"]

# base entity names + near-duplicate variants (levenshtein(lower) < 3)
_BASE_NAMES = [
    "DataLoader", "ConfigParser", "HttpClient", "QueryPlanner", "TokenStream",
    "GraphWriter", "IndexBuilder", "CacheManager", "EventRouter", "ShardMapper",
]
_VARIANTS = {
    "DataLoader": ["DataLoader", "Data_Loader", "DataLoaders"],
    "ConfigParser": ["ConfigParser", "Config_Parser", "ConfigParsers"],
    "HttpClient": ["HttpClient", "Http_Client", "HttpClients"],
    "QueryPlanner": ["QueryPlanner", "Query_Planner"],
    "TokenStream": ["TokenStream", "Token_Stream"],
    "GraphWriter": ["GraphWriter", "GraphWriters"],
    "IndexBuilder": ["IndexBuilder", "Index_Builder"],
    "CacheManager": ["CacheManager", "CacheManagers"],
    "EventRouter": ["EventRouter", "Event_Router"],
    "ShardMapper": ["ShardMapper", "ShardMappers"],
}
_MODULES = ["utils_core", "io_layer", "net_stack", "sched_kernel", "fmt_codec"]
_WORDPOOL = [
    "alpha", "bridge", "cache", "delta", "engine", "filter", "gamma", "handler",
    "index", "joiner", "kernel", "lexer", "mapper", "nexus", "opcode", "parser",
    "queue", "router", "stream", "tensor", "union", "vector", "walker", "xenon",
    "yield", "zone", "audit", "batch", "codec", "digest", "embed", "flush",
    "graph", "hash", "ingest", "journal", "kiosk", "ledger", "matrix", "nebula",
]
_FUNCS = ["load_batch", "parse_config", "fetch_page", "plan_query", "emit_tokens",
          "write_graph", "build_index", "evict_cache", "route_event", "map_shard"]
_PROSE = [
    "该模块负责核心数据处理流程。",
    "注意线程安全与重试语义！",
    "这是一个高性能实现吗？",
    "The pipeline favors batch execution。",
    "Configuration is loaded lazily。",
]


def _py_file(rng: random.Random, mod: str, paragraphs: int) -> str:
    base = rng.choice(_BASE_NAMES)
    cls = rng.choice(_VARIANTS[base])
    other_base = rng.choice(_BASE_NAMES)
    parent = rng.choice(_VARIANTS[other_base])
    imports = rng.sample(_MODULES, k=rng.randint(1, 3))
    fns = rng.sample(_FUNCS, k=rng.randint(1, 3))
    const = f"{base.upper()}_LIMIT"
    prose = " ".join(rng.choice(_PROSE) for _ in range(rng.randint(1, 4)))

    lines = [f'"""Module {mod}。 {prose}"""', ""]
    lines += [f"import {m}" for m in imports]
    lines.append(f"from {rng.choice(_MODULES)} import {rng.choice(_FUNCS)}")
    lines += ["", f"{const} = {rng.randint(1, 999)}", ""]
    lines.append(f"class {cls}({parent}):")
    for fn in fns:
        lines += [
            f"    def {fn}(self, arg):",
            f"        out = {rng.choice(_FUNCS)}(arg)",
            f"        return {fn}(out)",
            "",
        ]
    body = "\n".join(lines)
    # pad with repeated prose paragraphs to spread file sizes
    pad = "\n\n".join(
        f"# {rng.choice(_PROSE)} {rng.choice(_PROSE)}" for _ in range(paragraphs)
    )
    return body + ("\n\n" + pad if pad else "")


def _prose_file(rng: random.Random, paragraphs: int) -> str:
    paras = []
    for _ in range(max(1, paragraphs)):
        sents = [rng.choice(_PROSE) for _ in range(rng.randint(2, 6))]
        name = rng.choice(_VARIANTS[rng.choice(_BASE_NAMES)])
        sents.insert(rng.randrange(len(sents)), f"{name} 提供关键能力。")
        paras.append(" ".join(sents))
    return "\n\n".join(paras)


def generate_corpus_pdf(n_rows: int, seed: int = 42) -> pd.DataFrame:
    """Deterministic corpus as a pandas DataFrame (shared with the oracle)."""
    rng = random.Random(seed)
    rows: List[Dict[str, str]] = []
    n_repos = max(4, n_rows // 100)
    for i in range(n_rows):
        # Zipf-ish skew: ~50% of rows land in the hot repo, hot lang = py
        if rng.random() < 0.5:
            repo = "org0/repo0"
        else:
            repo = f"org{rng.randint(1, 4)}/repo{rng.randint(1, n_repos)}"
        lang = "py" if rng.random() < 0.6 else rng.choice(["java", "go", "md", "txt"])
        ext = {"py": "py", "java": "java", "go": "go", "md": "md", "txt": "txt"}[lang]
        path = f"src/{rng.choice(['core','io','net','sched','fmt'])}/f{i}.{ext}"
        commit = hashlib.sha1(f"{repo}:{path}".encode()).hexdigest()

        # Realistic module-name distribution: mostly a reused two-word pool
        # (the same module imported across many files = one entity), plus a
        # small versioned fraction whose near-duplicate families stay small.
        # Appending a per-file index instead makes EVERY file's module a
        # near-duplicate of its neighbors → one quadratic merge blob.
        base = f"{rng.choice(_WORDPOOL)}_{rng.choice(_WORDPOOL)}"
        mod_name = f"{base}_v{i % 1000}" if rng.random() < 0.1 else base
        r = rng.random()
        if i == 0 and n_rows >= 50:
            # the >500k-char file → large-text pre-split path
            content = _py_file(rng, f"mega_{mod_name}", paragraphs=9000)
        elif r < 0.03:
            content = ""  # empty file
        elif r < 0.08:
            content = "# stub\n"  # short file (< chunk_size/10 chars)
        elif lang in ("md", "txt"):
            content = _prose_file(rng, paragraphs=rng.randint(1, 40))
        else:
            content = _py_file(rng, mod_name, paragraphs=rng.choice([0, 0, 2, 10, 60, 200]))
        rows.append(
            {"repo": repo, "path": path, "commit": commit, "lang": lang, "content": content}
        )
    return pd.DataFrame(rows, columns=CORPUS_COLUMNS)


def generate_corpus(spark, n_rows: int):
    """Corpus as a Spark DataFrame (a driver frame, see session.local_frame)."""
    pdf = generate_corpus_pdf(n_rows)
    schema = "repo string, path string, commit string, lang string, content string"
    return local_frame(spark, pdf, schema).repartition(32, "repo", "path")
