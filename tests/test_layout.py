"""Package layout guard: every module of ``apache_pinot_spark`` is either
reachable from a declared surface or listed, with its reason, in
``KEPT_OFF_SURFACE``; every public method of the catalog, engine and
broker classes is either used from a reachable module or listed, with its
reason, in ``UNCALLED_METHODS``.

The walk is static (``ast`` only, no imports, no Spark). It starts from the
declared surfaces — the query registry and its suites, the session and
catalog, and the broker (``server`` + ``sqlfront``) — and follows every
import statement, including the ones inside function bodies, plus the
parent packages each import runs. A module that nothing reaches must be
listed below; a listed module that becomes reachable, or no longer exists,
fails too, so the list stays exact.

A reachable module can still carry a method nothing calls, and through it
a function-level import of a whole tier; the method walk closes that gap.
A method counts as used when its name appears as an attribute or a string
constant in a reachable module.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

PKG = "apache_pinot_spark"
TESTS = Path(__file__).resolve().parent
ROOT = TESTS.parent / PKG

SEEDS = ("querysuite", "suites", "session", "catalog", "server", "sqlfront")

# Off-surface modules kept on purpose: no declared query, suite, session,
# catalog or broker path imports them. Each stays for a tested capability
# outside the declared surface; delete it here when it is deleted.
KEPT_OFF_SURFACE = {
    "operators.recipes": "published curation-recipe CurationConfig presets; test_recipes (slow)",
    "operators.report": "one-call corpus audit report; test_report",
    "streaming": "package of the realtime tier below",
    "streaming.realtime": "Structured Streaming realtime/hybrid tables; test_kafka_contract, test_streaming (slow)",
    "sources.complex": "complexTypeConfig flattening of nested records; test_ingestion",
    "functions.clp": "CLP log-message encoding; test_clp",
}


# Module → class whose public methods the method walk checks.
SURFACE_CLASSES = {
    "catalog": "PinotCatalog",
    "sqlfront": "PinotEngine",
    "server": "PinotHttpServer",
}
# Public methods of those classes that no reachable module uses, kept on
# purpose: each is an entry point for callers outside the package, tested
# by the module its reason names. Delete an entry when its method is
# deleted or gets a caller.
UNCALLED_METHODS = {
    "PinotCatalog.create_table": "schema + table config batch ingest in one call; test_ingestion",
    "PinotCatalog.attach_all": "re-register persisted tables in a new session; test_ingestion",
    "PinotEngine.set_json_index_config": "JSON index flattening config for JSON_MATCH; test_json_match",
    "PinotEngine.infer_json": "JSON schema for JSON_MATCH [*] paths on a loaded table; test_user_journey",
    "PinotEngine.add_rollup": "rollup (star-tree analogue) registration; test_plans",
    "PinotEngine.register_upsert_table": "upsert table registration; test_upsert",
    "PinotEngine.register_dedup_table": "dedup table registration; test_upsert",
    "PinotHttpServer.stop": "broker shutdown for embedding callers; test_server",
}


def _modules() -> dict[str, Path]:
    """Dotted name relative to the package (``""`` is the package root,
    a sub-package is its ``__init__``) → file."""
    out = {}
    for path in ROOT.rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def _with_parents(name: str) -> list[str]:
    """An import runs every enclosing package's ``__init__`` first."""
    parts = name.split(".") if name else []
    return [".".join(parts[:i]) for i in range(len(parts) + 1)]


def _imports(path: Path, modules: dict[str, Path]) -> set[str]:
    found: set[str] = set()

    def add(absolute: str) -> None:
        if absolute != PKG and not absolute.startswith(PKG + "."):
            return  # outside the package
        parts = absolute.split(".")[1:]
        for i in range(len(parts), -1, -1):  # longest prefix that is a module
            cand = ".".join(parts[:i])
            if cand in modules:
                found.update(_with_parents(cand))
                return

    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                add(alias.name)
        elif isinstance(node, ast.ImportFrom):
            assert not node.level, f"{path}: relative imports are not walked"
            add(node.module)
            for alias in node.names:  # `from pkg import submodule`
                add(f"{node.module}.{alias.name}")
    return found


def reachable(modules: dict[str, Path]) -> set[str]:
    todo = [
        m for m in modules
        if any(m == s or m.startswith(s + ".") for s in SEEDS)
    ]
    todo += [p for m in list(todo) for p in _with_parents(m)]
    seen: set[str] = set()
    while todo:
        m = todo.pop()
        if m in seen:
            continue
        seen.add(m)
        todo.extend(_imports(modules[m], modules) - seen)
    return seen


def test_every_module_is_reachable_or_listed():
    modules = _modules()
    unreachable = set(modules) - reachable(modules)
    unlisted = sorted(unreachable - set(KEPT_OFF_SURFACE))
    assert not unlisted, (
        f"unreachable from {SEEDS} and not in KEPT_OFF_SURFACE: {unlisted} — "
        "wire them into a declared surface, delete them, or list them "
        "with a reason"
    )


def test_kept_off_surface_list_is_exact():
    modules = _modules()
    gone = sorted(set(KEPT_OFF_SURFACE) - set(modules))
    assert not gone, f"listed in KEPT_OFF_SURFACE but no longer exist: {gone}"
    now_reachable = sorted(set(KEPT_OFF_SURFACE) & reachable(modules))
    assert not now_reachable, (
        f"listed in KEPT_OFF_SURFACE but reachable now: {now_reachable}"
    )



def test_kept_modules_are_tested():
    """Each kept module stays for a tested capability: the test modules
    its reason names exist, and at least one of them imports it. A kept
    package ``__init__`` stays for the modules under it and is exempt."""
    modules = _modules()
    untested = {}
    for name, reason in KEPT_OFF_SURFACE.items():
        if modules[name].name == "__init__.py":
            continue
        named = [TESTS / f"{t}.py" for t in re.findall(r"\btest_\w+", reason)]
        missing = [p.name for p in named if not p.exists()]
        if missing or not any(name in _imports(p, modules) for p in named):
            untested[name] = missing or f"none of {[p.name for p in named]} imports it"
    assert not untested, f"KEPT_OFF_SURFACE entries without their tests: {untested}"


def _names_used(path: Path) -> set[str]:
    """Attribute names and string constants in one module."""
    used: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            used.add(node.value)
    return used


def _public_methods(modules: dict[str, Path]) -> set[str]:
    out = set()
    for mod, cls in SURFACE_CLASSES.items():
        tree = ast.parse(modules[mod].read_text(), str(modules[mod]))
        (body,) = [n.body for n in tree.body if isinstance(n, ast.ClassDef) and n.name == cls]
        out.update(
            f"{cls}.{n.name}" for n in body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and not n.name.startswith("_")
        )
    return out


def test_every_public_method_is_used_or_listed():
    modules = _modules()
    used = set().union(*(_names_used(modules[m]) for m in reachable(modules)))
    methods = _public_methods(modules)
    uncalled = {m for m in methods if m.split(".")[1] not in used}
    unlisted = sorted(uncalled - set(UNCALLED_METHODS))
    assert not unlisted, (
        f"used by no module reachable from {SEEDS} and not in UNCALLED_METHODS: "
        f"{unlisted} — call them from a declared surface, delete them, or "
        "list them with a reason"
    )
    gone = sorted(set(UNCALLED_METHODS) - methods)
    assert not gone, f"listed in UNCALLED_METHODS but no longer exist: {gone}"
    now_used = sorted(set(UNCALLED_METHODS) - uncalled)
    assert not now_used, f"listed in UNCALLED_METHODS but used now: {now_used}"


def test_uncalled_methods_are_tested():
    """Each listed method stays for a tested entry point: the test module
    its reason names exists and uses the method."""
    untested = {}
    for name, reason in UNCALLED_METHODS.items():
        named = [TESTS / f"{t}.py" for t in re.findall(r"\btest_\w+", reason)]
        missing = [p.name for p in named if not p.exists()]
        method = name.split(".")[1]
        if missing or not any(method in _names_used(p) for p in named):
            untested[name] = missing or f"none of {[p.name for p in named]} uses it"
    assert not untested, f"UNCALLED_METHODS entries without their tests: {untested}"


# Where a top-level name counts as used: the package, the tests and the
# benchmark and driver entry points.
NAME_SOURCES = (ROOT, TESTS, TESTS.parent / "bench.py",
                TESTS.parent / "perfbench", TESTS.parent / "__spark_entry__.py")


def _name_uses(tree: ast.AST) -> Counter:
    """Names one syntax tree uses: ``Name`` ids, ``Attribute`` attrs,
    imported names and string constants (registry lookups by name).
    Comments are not in the tree, and a docstring never equals a name."""
    uses = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            uses[node.id] += 1
        elif isinstance(node, ast.Attribute):
            uses[node.attr] += 1
        elif isinstance(node, ast.alias):
            uses[node.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            uses[node.value] += 1
    return uses


def test_top_level_names_are_used():
    """Every top-level ``def`` and ``class`` of the package is used by
    code somewhere outside its own definition. A name that only a
    comment or a docstring mentions is dead code."""
    files = [p for src in NAME_SOURCES
             for p in ([src] if src.is_file() else sorted(src.rglob("*.py")))]
    trees = {path: ast.parse(path.read_text(), str(path)) for path in files}
    uses = sum((_name_uses(t) for t in trees.values()), Counter())
    dead = []
    for path in sorted(ROOT.rglob("*.py")):
        for node in trees[path].body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if uses[node.name] == _name_uses(node)[node.name]:
                dead.append(f"{path.relative_to(ROOT)}:{node.name}")
    assert not dead, f"top-level names nothing else mentions: {dead}"
