"""Package reachability, per module and per top-level function.

Every module under ``sports_stats_data_pipeline_spark`` must be reached by a
static import walk from something that runs outside the test suite — a
``plans.*`` module (the registered queries), ``__spark_entry__.py``,
``bench.py``, ``tools/*.py`` or ``perfbench/*.py``. A module that only tests
import is dead weight carried "for completeness"; it is deleted, not kept.

The import walk is ``ast``-only (nothing is imported), follows every
``import`` and ``from ... import`` statement at any nesting depth
(function-local imports included), and treats a reached submodule as also
reaching its parent packages, since Python executes their ``__init__`` on
the way. The package has no dynamic imports, so the static walk is the whole
import graph.

The same holds one level down: every top-level ``def``/``class`` of the
package must be reached by a name walk (see :func:`_reached_names`) from
the same roots, or be allow-listed with its reason in
:data:`FUNCTIONS_ALLOWED`. A public function that only tests call is a
second implementation nothing runs; it is deleted, not kept. Names match
bare across modules, so a name collision makes the walk keep a function,
never delete one.
"""

from __future__ import annotations

import ast
import os
import re

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "sports_stats_data_pipeline_spark"

#: Package modules that only tests reach, each with the reason it stays.
TEST_ONLY_ALLOWED = {
    # Sequential greedy-fold reference that the streaming near-dup
    # admission and the scale referees are checked against; it is a test
    # oracle by design and must stay independent of the production path.
    "streaming.fold_reference",
}


#: Top-level package functions and classes that nothing outside the test
#: suite reaches, each with the reason it stays. Keys are
#: ``module::name`` (module relative to the package); a key ``module::*``
#: allows every top-level name of that module. Allowed functions seed the
#: name walk, so the helpers they call need no entry of their own.
FUNCTIONS_ALLOWED = {
    "streaming.fold_reference::*":
        "the sequential greedy-fold referee the streaming near-dup "
        "admission is checked against (TEST_ONLY_ALLOWED)",
    "plans.lint::*":
        "plan-shape assertions the plan tests read query plans through",
    "plans.graph_reference::union_find_labels":
        "union-find referee for the connected-components queries",
    "operators.pagerank::pagerank_fixedpoint_sql":
        "closed-form referee the iterative PageRank is checked against",
    "operators.quantize::quantized_cosine_topk":
        "brute-force referee for the quantized cosine scores",
    "operators.quantize::dequantize":
        "referee that pins the int8 quantization error bound",
    "streaming.join::purchase_click_pairs_batch":
        "batch twin test_stream_join_equals_batch_twin compares the "
        "stream-stream join against",
    "sources.fetch::requests_transport":
        "the only transport that reaches a live site",
    "sources.scrape_pipeline::discover_fighter_urls":
        "parity with the reference scraper's fighter discovery step",
    "sources.scrape_pipeline::discover_fight_urls":
        "parity with the reference scraper's fight discovery step",
    "plans.documents::_minhash_band_relation":
        "the scale harness observes LSH bucket sizes through it",
    "operators.maintenance::parquet_file_count":
        "tests of the compaction path read file counts through it",
    "operators.multisnapshot::list_group_snapshots":
        "tests of the snapshot sink read the snapshot list through it",
    "operators.multisnapshot::vacuum_group_snapshots":
        "the recovery path for uncommitted snapshot directories",
    "operators.incremental::estimate_sketches":
        "tests of the incremental mart read sketch estimates through it",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


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


def _names(nodes) -> set[str]:
    """Every name a subtree can use: identifiers, attribute names, import
    aliases and word-like string constants (``getattr``-style lookups and
    name-keyed tables)."""
    out: set[str] = set()
    for node in nodes:
        for x in ast.walk(node):
            if isinstance(x, ast.Name):
                out.add(x.id)
            elif isinstance(x, ast.Attribute):
                out.add(x.attr)
            elif isinstance(x, ast.alias):
                out.update(x.name.split("."))
                if x.asname:
                    out.add(x.asname)
            elif (
                isinstance(x, ast.Constant)
                and isinstance(x.value, str)
                and _WORD.match(x.value)
            ):
                out.add(x.value)
    return out


def _is_registration(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return (
        isinstance(f, ast.Attribute)
        and f.attr == "register"
        and isinstance(f.value, ast.Name)
        and f.value.id == "REGISTRY"
    )


def _top_level_defs(modules: dict[str, str]):
    """(defs, seeds): ``defs`` maps a bare name to every top-level
    def/class of that name as ``(module::name, node)``; ``seeds`` are the
    names the package's own module-level code uses — module-level
    statements other than imports and ``__all__`` (a re-export is not a
    use), every decorator, and the whole of every ``@REGISTRY.register``
    function (a registered query runs by being registered)."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    seeds: set[str] = set()
    for mod, path in modules.items():
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=path)
        key = mod[len(_PKG) + 1:]
        for st in tree.body:
            if isinstance(st, _DEFS):
                defs.setdefault(st.name, []).append((f"{key}::{st.name}", st))
                seeds |= _names(st.decorator_list)
                if any(_is_registration(d) for d in st.decorator_list):
                    seeds |= _names([st]) | {st.name}
            elif isinstance(st, (ast.Import, ast.ImportFrom)):
                continue
            elif isinstance(st, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__"
                for t in st.targets
            ):
                continue
            else:
                seeds |= _names([st])
    return defs, seeds


def _root_files() -> list[str]:
    roots = [os.path.join(_REPO, "__spark_entry__.py"),
             os.path.join(_REPO, "bench.py")]
    return roots + _files("tools") + _files("perfbench")


def _reached_names(defs, seeds: set[str]) -> set[str]:
    """Closure of ``seeds``: a reached name reaches every top-level
    def/class of that name, whose body (decorators, defaults and
    annotations included) reaches more names.

    Names are matched bare, across modules: two modules defining the same
    name are one node here. A collision can therefore only keep a
    function the walk would otherwise flag, never flag one that is
    reached — the walk errs towards keeping."""
    reached: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _key, node in defs.get(name, ()):
            todo.extend(_names([node]) - reached)
    return reached


def _allowed(key: str) -> bool:
    mod = key.split("::")[0]
    return key in FUNCTIONS_ALLOWED or f"{mod}::*" in FUNCTIONS_ALLOWED


def _unreached_functions() -> tuple[set[str], set[str]]:
    """(unreached from the roots, still unreached once the allow-listed
    functions are kept), each as ``module::name`` keys."""
    defs, seeds = _top_level_defs(_package_modules())
    for path in _root_files():
        with open(path) as fh:
            seeds |= _names([ast.parse(fh.read(), filename=path)])
    every = {key for lst in defs.values() for key, _ in lst}

    def unreached(extra: set[str]) -> set[str]:
        reached = _reached_names(defs, seeds | extra)
        return {k for k in every if k.split("::")[1] not in reached}

    from_roots = unreached(set())
    kept = {k.split("::")[1] for k in from_roots if _allowed(k)}
    return from_roots, unreached(kept)


def test_only_allowlisted_modules_are_reached_from_tests_alone():
    modules = _package_modules()
    plans = {m for m in modules if m.startswith(f"{_PKG}.plans.")}
    from_roots = _walk(_root_files(), modules, plans)
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


def test_only_allowlisted_functions_are_reached_from_tests_alone():
    from_roots, left = _unreached_functions()
    assert not left, (
        "top-level package functions no query, stream, bench, tool or "
        f"perfbench workload reaches (delete them): {sorted(left)}"
    )
    # every named entry still exists and is still unreached: a stale
    # entry would silently keep a future dead function alive
    named = {k for k in FUNCTIONS_ALLOWED if not k.endswith("::*")}
    assert named <= from_roots, (
        "allow-listed but now reached or gone: "
        f"{sorted(named - from_roots)}"
    )


def test_function_walk_counts_registered_queries_as_reached():
    defs, seeds = _top_level_defs(_package_modules())
    reached = _reached_names(defs, seeds)
    # registered only through its decorator; nothing calls it by name
    assert "embedding_cosine_topk_gate" in reached
    # reached through the registered query's body
    assert "embedding_cosine_topk" in reached
