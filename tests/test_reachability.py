"""Every top-level function and class in the package, and every method of
such a class, is referenced from code that runs outside the tests: the
package itself, `__spark_entry__.py`, the bench scripts, `tools/` or
`perfbench/`. Dunder methods are exempt: Python calls them.

A reference is a `Name`, an `Attribute` or an import alias with the
definition's name, outside the definition's own body; string constants do
not count, except the Python scripts that `SCRIPTS` names. The scan is by
name, not by module, so a dead definition whose name is used elsewhere
passes.

Every defaulted parameter of such a definition is passed by some call, in
those files or in the tests: a parameter that only ever takes its default
is a constant.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "graph_rag_agent_spark"
CONFIG = PACKAGE / "config.py"
TESTS = ROOT / "tests"

# file → its module-level string constants that hold a Python script it runs
SCRIPTS = {"tools/scaling_bench.py": ("WORKER",)}

# name → why it stays although the scan sees only tests reach it
ALLOWED = {}

_REFERENCE = (
    "the pure-Python reference the parity tests compare against keeps the "
    "build's knobs in its signature"
)

# (definition, parameter) → why the parameter keeps a default no call passes
UNPASSED_DEFAULT_ALLOWED = {
    ("TableCatalog", "iceberg_catalog"): (
        "deployment setting: a warehouse opened through a configured Iceberg "
        "catalog names it; the tests' Iceberg runtime check skips without one"
    ),
    **{
        ("build_reference_graph", p): _REFERENCE
        for p in ("extractor", "cutoff", "topk", "max_edit_distance", "max_gleanings")
    },
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


def _script_source(node):
    """The literal parts of a string constant or a `+` of them; f-string
    parts are left out."""
    if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
        return _script_source(node.left) + _script_source(node.right)
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return ""


def _parse(path):
    """The syntax tree of `path`, then one for each script `SCRIPTS` names
    in it."""
    tree = ast.parse(path.read_text(), str(path))
    scripts = SCRIPTS.get(path.relative_to(ROOT).as_posix(), ())
    trees = [tree]
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id in scripts for t in node.targets
        ):
            trees.append(ast.parse(_script_source(node.value), f"{path} (script)"))
    return trees


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
    for tree in (t for path in _non_test_files() for t in _parse(path)):
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


def _signatures(tree):
    """(the name a call uses, definition, its positional parameters a call
    fills) for each definition `_defs` finds; a class's `__init__` is
    called through the class name."""
    for d in tree.body:
        if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield d.name, d, d.args.posonlyargs + d.args.args
        elif isinstance(d, ast.ClassDef):
            for m in d.body:
                if not isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                if m.name == "__init__":
                    name = d.name
                elif m.name.startswith("__") and m.name.endswith("__"):
                    continue
                else:
                    name = m.name
                static = any(_name_of(x) == "staticmethod" for x in m.decorator_list)
                pos = m.args.posonlyargs + m.args.args
                yield name, m, pos if static else pos[1:]


def _defaulted(func, positional):
    """The parameter names of `func` that have a default."""
    a = func.args
    pos = positional[len(positional) - len(a.defaults):] if a.defaults else []
    kw = [p for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return [p.arg for p in pos + kw]


def _passed():
    """callee name → (keywords some call passes, the most positional
    arguments one call passes), over every call in the tests and the files
    `_non_test_files` lists; `functools.partial(f, …)` counts as a call of
    `f`. A starred argument counts as every position. A call through an
    import alias or an `x = f` assignment in any of these files counts for
    both names."""
    files = _non_test_files() + sorted(TESTS.rglob("*.py"))
    trees = [t for path in files for t in _parse(path)]
    alias = {}
    for sub in (s for tree in trees for s in ast.walk(tree)):
        if isinstance(sub, ast.alias) and sub.asname:
            alias.setdefault(sub.asname, set()).add(_name_of(sub))
        elif isinstance(sub, ast.Assign) and _name_of(sub.value):
            for t in sub.targets:
                if isinstance(t, ast.Name):
                    alias.setdefault(t.id, set()).add(_name_of(sub.value))
    keywords, positions = {}, {}
    for call in (s for tree in trees for s in ast.walk(tree) if isinstance(s, ast.Call)):
        func, args = call.func, call.args
        if _name_of(func) == "partial" and args:
            func, args = args[0], args[1:]
        n = float("inf") if any(isinstance(x, ast.Starred) for x in args) else len(args)
        for name in {_name_of(func)} | alias.get(_name_of(func), set()):
            keywords.setdefault(name, set()).update(k.arg for k in call.keywords)
            positions[name] = max(positions.get(name, 0), n)
    return keywords, positions


def _unpassed():
    """(definition, parameter) → "path:line" for each defaulted parameter
    of a package definition that no call passes: not by keyword, not by
    position, not through `functools.partial`."""
    keywords, positions = _passed()
    out = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        for name, func, positional in _signatures(ast.parse(path.read_text(), rel)):
            order = [p.arg for p in positional]
            for param in _defaulted(func, positional):
                by_position = param in order and order.index(param) < positions.get(name, 0)
                if param not in keywords.get(name, ()) and not by_position:
                    out[(name, param)] = f"{rel}:{func.lineno}"
    return out


def test_every_keyword_default_is_passed():
    """A defaulted parameter that no call passes has one value in use: its
    default. It belongs in the body, as a literal or as the `config.py`
    constant."""
    unpassed = [
        f"{where} {name}({param})"
        for (name, param), where in _unpassed().items()
        if (name, param) not in UNPASSED_DEFAULT_ALLOWED
    ]
    assert not unpassed, "defaulted parameters no call passes:\n" + "\n".join(unpassed)


def test_unpassed_default_allowlist_names_only_unpassed_parameters():
    """An allowlisted parameter that gains a caller, or is deleted, leaves
    the list."""
    stale = set(UNPASSED_DEFAULT_ALLOWED) - set(_unpassed())
    assert not stale, stale
