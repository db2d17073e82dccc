"""Guards over the package's import graph and the files that import it
from outside: every ``from apsviz_timeseriesdb_ingest_spark… import
name`` in ``tools/*.py`` names something the package still defines,
every ``tests/slow_tests.txt`` entry names a test function that exists,
and every module is reached from a query, an ingest plan or the
streaming ingest. These are read from source with ``ast``, so a deleted
symbol cannot silently break a soak script or leave a dead slow entry.
One check imports the ingest packages in a subprocess (no Spark session
starts) and asserts that they load no training-data module."""

from __future__ import annotations

import ast
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "apsviz_timeseriesdb_ingest_spark"


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _module_path(module: str) -> str | None:
    base = os.path.join(ROOT, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _top_level_names(tree: ast.Module) -> set[str]:
    """Names bound at module level, also inside top-level ``if``/``try``
    blocks."""
    names: set[str] = set()
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(n.id for t in targets for n in ast.walk(t)
                         if isinstance(n, ast.Name))
        elif isinstance(node, (ast.If, ast.Try)):
            stack.extend(node.body + node.orelse + getattr(node, "finalbody", [])
                         + [s for h in getattr(node, "handlers", []) for s in h.body])
    return names


def _broken_imports(path: str) -> list[str]:
    broken = []
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            broken += [a.name for a in node.names
                       if a.name.split(".")[0] == PKG and _module_path(a.name) is None]
        elif (isinstance(node, ast.ImportFrom) and not node.level and node.module
              and node.module.split(".")[0] == PKG):
            target = _module_path(node.module)
            if target is None:
                broken.append(node.module)
                continue
            defined = _top_level_names(_parse(target))
            broken += [f"{node.module}.{a.name}" for a in node.names
                       if a.name not in defined
                       and _module_path(f"{node.module}.{a.name}") is None]
    return broken


def test_tool_imports_resolve():
    tools = os.path.join(ROOT, "tools")
    broken = {name: bad for name in sorted(os.listdir(tools)) if name.endswith(".py")
              for bad in (_broken_imports(os.path.join(tools, name)),) if bad}
    assert broken == {}


def test_slow_entries_name_existing_tests():
    tests = os.path.join(ROOT, "tests")
    with open(os.path.join(tests, "slow_tests.txt")) as f:
        entries = [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]
    defined: dict[str, set[str]] = {}
    stale = []
    for entry in entries:
        module, _, name = entry.partition("::")
        path = os.path.join(tests, module)
        if module not in defined:
            defined[module] = ({n.name for n in _parse(path).body
                                if isinstance(n, ast.FunctionDef)}
                               if os.path.isfile(path) else set())
        if name.split("[", 1)[0] not in defined[module]:
            stale.append(entry)
    assert entries and stale == []


def _package_modules() -> dict[str, str]:
    """Every module of the package, ``dotted name -> path``; a package's
    ``__init__.py`` maps to the package's own name."""
    out = {}
    for d, _, names in os.walk(os.path.join(ROOT, PKG)):
        for n in names:
            if n.endswith(".py"):
                rel = os.path.relpath(os.path.join(d, n), ROOT)[:-3].split(os.sep)
                out[".".join(rel[:-1] if rel[-1] == "__init__" else rel)] = os.path.join(d, n)
    return out


def _imported_modules(module: str, path: str, known: dict[str, str]) -> set[str]:
    """The package modules ``module`` imports anywhere in its body
    (function-local imports too), absolute or relative; ``from m import
    n`` names ``m.n`` when that is a module."""
    package = module if path.endswith("__init__.py") else module.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(_parse(path)):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = package.split(".")[:len(package.split(".")) - node.level + 1]
                base = ".".join(parent + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    # importing a module runs every enclosing package's __init__
    return {".".join(m.split(".")[:i + 1]) for m in out if m in known
            for i in range(m.count(".") + 1)}


def test_every_module_is_reached_from_a_root():
    """Each non-``__init__`` module is imported, transitively, from a
    query module (``suite/``), an ingest plan (``plans/``) or the
    streaming ingest. A package ``__init__`` counts as reached but its
    re-exports are not followed: they would reach every module."""
    known = _package_modules()
    roots = {m for m in known
             if m.startswith((f"{PKG}.suite", f"{PKG}.plans"))}
    roots.add(f"{PKG}.streaming.stream_ingest")
    reached, todo = set(), sorted(roots)
    while todo:
        m = todo.pop()
        if m in reached:
            continue
        reached.add(m)
        if not known[m].endswith("__init__.py"):
            todo.extend(_imported_modules(m, known[m], known) - reached)
    unreached = sorted(m[len(PKG) + 1:] for m, p in known.items()
                       if m not in reached and not p.endswith("__init__.py"))
    assert unreached == []


def test_ingest_packages_load_no_corpus_modules():
    """Importing the ingest surface (``streaming``, ``plans``,
    ``sources``) loads none of the training-data operators: no ``llm``
    module and no corpus reader (``sources.warc`` is imported directly
    by the one query that parses WET records)."""
    code = (
        "import sys\n"
        f"import {PKG}.streaming, {PKG}.plans, {PKG}.sources\n"
        "print('\\n'.join(sorted(sys.modules)))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    loaded = out.stdout.split()
    corpus = [m for m in loaded
              if m.startswith(f"{PKG}.llm") or m == f"{PKG}.sources.warc"]
    assert f"{PKG}.plans.obs_ingest" in loaded and corpus == []
