"""Package layout guard: every module of ``apache_pinot_spark`` is either
reachable from a declared surface or listed, with its reason, in
``KEPT_OFF_SURFACE``.

The walk is static (``ast`` only, no imports, no Spark). It starts from the
declared surfaces — the query registry and its suites, the session and
catalog, and the broker (``server`` + ``sqlfront``) — and follows every
import statement, including the ones inside function bodies, plus the
parent packages each import runs. A module that nothing reaches must be
listed below; a listed module that becomes reachable, or no longer exists,
fails too, so the list stays exact.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = "apache_pinot_spark"
TESTS = Path(__file__).resolve().parent
ROOT = TESTS.parent / PKG

SEEDS = ("querysuite", "suites", "session", "catalog", "server", "sqlfront")

# Off-surface modules kept on purpose: no declared query, suite, session,
# catalog or broker path imports them. Each stays for a tested capability
# outside the declared surface; delete it here when it is deleted.
KEPT_OFF_SURFACE = {
    "operators.pdftext": "PDF text extraction for paper/book corpora; test_pdftext",
    "operators.warc": "WARC/HTTP record reader for web-crawl ingest; test_warc_html",
    "operators.htmltext": "HTML to paragraph text after WARC ingest; test_warc_html",
    "operators.mediawiki": "MediaWiki dump walking and wikitext de-markup; test_mediawiki",
    "operators.zstdio": "zstd frame reader for .jsonl.zst/.warc.zst dumps; test_zstdio",
    "operators.corpusio": "JSONL(.gz/.zst) corpus reader; test_corpusio",
    "operators.cdx": "CDXJ crawl-index reader; test_cdx",
    "operators.robots": "robots.txt compliance audit of crawl URLs; test_robots",
    "operators.ebook": "EPUB to text for book corpora; test_ebook",
    "operators.latex": "LaTeX de-markup for arXiv source; test_latex_docx",
    "operators.tarwalk": "tar member walker for research-corpus dumps; test_tarwalk",
    "operators.bm25": "BM25 ranked retrieval over documents; test_bm25",
    "operators.unigram": "unigram-LM subword tokenizer next to bpe; test_unigram",
    "operators.recipes": "published curation-recipe CurationConfig presets; test_recipes (slow)",
    "operators.report": "one-call corpus audit report; test_report",
    "streaming": "package of the realtime tier below",
    "streaming.realtime": "Structured Streaming realtime/hybrid tables; test_kafka_contract, test_streaming (slow)",
    "sources.complex": "complexTypeConfig flattening of nested records; test_ingestion",
    "functions.clp": "CLP log-message encoding; test_clp",
    # Standalone media parser: no declared query decodes media bytes, and
    # no package module imports it.
    "operators.ogg": "Ogg page/stream stats; test_ogg",
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
