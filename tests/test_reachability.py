"""Every top-level function and class in the package, and every method of
such a class, is referenced from code that runs outside the tests: the
package itself, `__spark_entry__.py`, the bench scripts, `tools/` or
`perfbench/`. Dunder methods are exempt: Python calls them.

A reference is a `Name`, an `Attribute` or an import alias with the
definition's name, outside the definition's own body; string constants do
not count. The scan is by name, not by module, so a dead definition whose
name is used elsewhere passes.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "graph_rag_agent_spark"
CONFIG = PACKAGE / "config.py"

# name → why it stays although the scan sees only tests reach it
ALLOWED = {
    "ComputeWeightedExtractor": (
        "tools/scaling_bench.py runs it: the WORKER script that imports it "
        "is a string constant, which the scan does not parse"
    ),
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


def _defs(tree):
    """Top-level definitions and the non-dunder methods of top-level classes."""
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    out = []
    for d in tree.body:
        if isinstance(d, funcs):
            out.append(d)
        elif isinstance(d, ast.ClassDef):
            out.append(d)
            out += [
                m for m in d.body
                if isinstance(m, funcs)
                and not (m.name.startswith("__") and m.name.endswith("__"))
            ]
    return out


def _name_of(node):
    """The name a `Name`, `Attribute` or import alias refers to; None for
    any other node."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name.rsplit(".", 1)[-1]
    return None


def _referenced_names() -> set:
    names = set()
    for path in _non_test_files():
        tree = ast.parse(path.read_text(), str(path))
        # a definition's own body (recursion) does not reach it
        owner = {}
        for d in _defs(tree):
            for sub in ast.walk(d):
                owner.setdefault(id(sub), set()).add(d.name)
        for sub in ast.walk(tree):
            name = _name_of(sub)
            if name is not None and name not in owner.get(id(sub), ()):
                names.add(name)
    return names


def test_every_package_definition_is_reached_outside_tests():
    referenced = _referenced_names()
    unreached = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for d in _defs(ast.parse(path.read_text(), str(path))):
            if d.name not in referenced and d.name not in ALLOWED:
                unreached.append(f"{path.relative_to(ROOT)}:{d.lineno} {d.name}")
    assert not unreached, "defined but reached only from tests:\n" + "\n".join(unreached)


def test_allowlist_names_only_unreached_definitions():
    """An allowlisted name that gains a real caller, or is deleted, leaves
    the list."""
    defined = {
        d.name
        for path in PACKAGE.rglob("*.py")
        for d in _defs(ast.parse(path.read_text(), str(path)))
    }
    referenced = _referenced_names()
    assert set(ALLOWED) <= defined, set(ALLOWED) - defined
    assert not set(ALLOWED) & referenced, set(ALLOWED) & referenced


def test_package_has_no_global_statement():
    """Process-wide mutable state (a counter a loop rewrites for tests to
    read) stays out of the package: a loop logs what it did instead."""
    found = [
        f"{path.relative_to(ROOT)}:{sub.lineno} global {', '.join(sub.names)}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for sub in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(sub, ast.Global)
    ]
    assert not found, "global statements in the package:\n" + "\n".join(found)


def test_every_config_constant_is_read():
    """A `config.py` constant that no other code reads is a knob that
    changes nothing, and its comment describes behaviour the code may not
    have. Each top-level assignment in `config.py` needs a reference (as
    above) in another file of the package, the entry file, the bench
    scripts, `tools/` or `perfbench/`."""
    constants = {
        t.id
        for node in ast.parse(CONFIG.read_text()).body if isinstance(node, ast.Assign)
        for t in node.targets if isinstance(t, ast.Name)
    }
    read = {
        _name_of(sub)
        for path in _non_test_files() if path != CONFIG
        for sub in ast.walk(ast.parse(path.read_text(), str(path)))
    }
    assert constants <= read, f"config.py constants nothing reads: {sorted(constants - read)}"
