"""Every top-level function and class in the package is referenced from
code that runs outside the tests: the package itself,
`__spark_entry__.py`, the bench scripts, `tools/` or `perfbench/`.

A reference is a `Name`, an `Attribute` or an import alias with the
definition's name, outside the definition's own body; string constants do
not count. The scan is by name, not by module, so a dead definition whose
name is used elsewhere passes.
"""

import ast
import dataclasses
from pathlib import Path

from graph_rag_agent_spark.config import PipelineConfig

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "graph_rag_agent_spark"

# name → why it stays although only tests reach it
ALLOWED = {
    "modularity": "exact modularity the Leiden tests score partitions with",
    "simhash_signatures_sql": "SQL twin the fast simhash path is compared against",
    "ComputeWeightedExtractor": "LLM-slot fake for the extraction tests",
    "TruncatingGleaningExtractor": "LLM-slot fake for the gleaning tests",
    "latest_wins": "timestamp merge rule (reference N5), tested alone",
    "detect_manual_edits": "manual-edit stats row (reference detect_manual_edits), tested alone",
    "bpe_tokenize": "applies the merges the bpe_merges query learns; tested alone",
    "streaming_triples": "streaming extraction plan, tested against the batch plan",
    "streaming_first_seen": "stateful streaming dedup, tested alone",
    "refresh_rollup": "delta refresh of cascading_rollup, tested against it",
    "top_chunks_for_seeds": "local-search chunk ranking (Q1), tested alone",
}


def _non_test_files():
    files = sorted(PACKAGE.rglob("*.py"))
    files += [ROOT / n for n in ("__spark_entry__.py", "bench.py", "bench_extra.py")]
    for d in ("tools", "perfbench"):
        files += [
            p for p in sorted((ROOT / d).rglob("*.py"))
            if "tests" not in p.relative_to(ROOT).parts
        ]
    return [f for f in files if f.exists()]


def _top_level_defs(tree):
    return [
        n for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]


def _referenced_names() -> set:
    names = set()
    for path in _non_test_files():
        tree = ast.parse(path.read_text(), str(path))
        # a definition's own body (recursion) does not reach it
        owner = {}
        for d in _top_level_defs(tree):
            for sub in ast.walk(d):
                owner[id(sub)] = d.name
        for sub in ast.walk(tree):
            if isinstance(sub, ast.Name):
                name = sub.id
            elif isinstance(sub, ast.Attribute):
                name = sub.attr
            elif isinstance(sub, ast.alias):
                name = sub.name.rsplit(".", 1)[-1]
            else:
                continue
            if owner.get(id(sub)) != name:
                names.add(name)
    return names


def test_every_package_definition_is_reached_outside_tests():
    referenced = _referenced_names()
    unreached = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for d in _top_level_defs(ast.parse(path.read_text(), str(path))):
            if d.name not in referenced and d.name not in ALLOWED:
                unreached.append(f"{path.relative_to(ROOT)}:{d.lineno} {d.name}")
    assert not unreached, "defined but reached only from tests:\n" + "\n".join(unreached)


def test_allowlist_names_only_unreached_definitions():
    """An allowlisted name that gains a real caller, or is deleted, leaves
    the list."""
    defined = {
        d.name
        for path in PACKAGE.rglob("*.py")
        for d in _top_level_defs(ast.parse(path.read_text(), str(path)))
    }
    referenced = _referenced_names()
    assert set(ALLOWED) <= defined, set(ALLOWED) - defined
    assert not set(ALLOWED) & referenced, set(ALLOWED) & referenced


def test_every_pipeline_config_field_is_read():
    """A `PipelineConfig` field that no code reads is a knob that changes
    nothing. A field counts as read when some attribute load has its name
    in the package, the entry file or the bench scripts, the code that
    builds or receives a config; `tools/` and `perfbench/` never see one,
    and their unrelated `.seed` attributes would hide an unread `seed`."""
    read = set()
    for path in _non_test_files():
        if path.relative_to(ROOT).parts[0] in ("tools", "perfbench"):
            continue
        for sub in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(sub, ast.Attribute) and isinstance(sub.ctx, ast.Load):
                read.add(sub.attr)
    fields = {f.name for f in dataclasses.fields(PipelineConfig)}
    assert fields <= read, f"PipelineConfig fields nothing reads: {sorted(fields - read)}"
