"""Package reachability: every module under ``sports_stats_data_pipeline_spark``
must be reached by a static import walk from something that runs outside the
test suite — a ``plans.*`` module (the registered queries), ``__spark_entry__.py``,
``bench.py``, ``tools/*.py`` or ``perfbench/*.py``. A module that only tests
import is dead weight carried "for completeness"; it is deleted, not kept.

The walk is ``ast``-only (nothing is imported), follows every ``import`` and
``from ... import`` statement at any nesting depth (function-local imports
included), and treats a reached submodule as also reaching its parent
packages, since Python executes their ``__init__`` on the way. The package
has no dynamic imports, so the static walk is the whole import graph.
"""

from __future__ import annotations

import ast
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "sports_stats_data_pipeline_spark"

#: Package modules that only tests reach, each with the reason it stays.
TEST_ONLY_ALLOWED = {
    # Sequential greedy-fold reference that the streaming near-dup
    # admission and the scale referees are checked against; it is a test
    # oracle by design and must stay independent of the production path.
    "streaming.fold_reference",
}


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file path for every package module."""
    out = {}
    root = os.path.join(_REPO, _PKG)
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), _REPO)[:-3]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            out[".".join(parts)] = os.path.join(dirpath, f)
    return out


def _imports(path: str, modname: str | None, is_pkg: bool) -> set[str]:
    """Fully-qualified names a file imports (module or module.attr)."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = (modname or "").split(".")
                if not is_pkg:
                    base = base[:-1]
                base = base[: len(base) - (node.level - 1)]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            names.add(mod)
            names.update(f"{mod}.{a.name}" for a in node.names)
    return names


def _walk(
    roots: list[str], modules: dict[str, str], seeds: set[str] = frozenset()
) -> set[str]:
    """Package modules reached from the root files and the seed modules."""
    reached: set[str] = set()
    todo: list[str] = []

    def reach(name: str) -> None:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            m = ".".join(parts[:i])
            if m in modules and m not in reached:
                reached.add(m)
                todo.append(m)

    for path in roots:
        for name in _imports(path, None, False):
            reach(name)
    for m in seeds:
        reach(m)
    while todo:
        m = todo.pop()
        path = modules[m]
        for name in _imports(path, m, path.endswith("__init__.py")):
            reach(name)
    return reached


def _files(subdir: str) -> list[str]:
    d = os.path.join(_REPO, subdir)
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".py")
    )


def test_only_allowlisted_modules_are_reached_from_tests_alone():
    modules = _package_modules()
    plans = {m for m in modules if m.startswith(f"{_PKG}.plans.")}
    roots = [os.path.join(_REPO, "__spark_entry__.py"),
             os.path.join(_REPO, "bench.py")]
    roots += _files("tools") + _files("perfbench")
    from_roots = _walk(roots, modules, plans)
    from_tests = _walk(_files("tests"), modules)

    unreached = {m[len(_PKG) + 1:] for m in set(modules) - from_roots}
    assert unreached == TEST_ONLY_ALLOWED, (
        "package modules no query, stream, bench, tool or perfbench "
        f"workload reaches: {sorted(unreached - TEST_ONLY_ALLOWED)}; "
        f"allow-listed but now reached or gone: "
        f"{sorted(TEST_ONLY_ALLOWED - unreached)}"
    )
    # the allow-listed modules are still exercised by the suite
    assert {f"{_PKG}.{m}" for m in TEST_ONLY_ALLOWED} <= from_tests


def test_walk_sees_function_local_and_relative_imports():
    modules = _package_modules()
    # plans/__init__.py reaches its siblings only via a function-local
    # relative ``from . import ...``
    reached = _walk([], modules, {f"{_PKG}.plans"})
    assert f"{_PKG}.plans.relational" in reached
    assert f"{_PKG}.sources.tables" in reached
