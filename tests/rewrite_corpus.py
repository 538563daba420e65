"""Golden corpus of dialect rewrites: what ``PinotDialect.rewrite(sql).sql``
returns for every constant SQL input the tests, the declared-query
suites and the benchmark workloads hand the dialect.

An input is a string constant (adjacent literals already joined) that is
the first argument of a ``.sql(...)``, ``.rewrite(...)``, ``.query(...)``
or ``_engine_q(...)`` call (directly, or through a name the same file
binds to it), the value of a ``"sql"`` key in a dict literal, or a
module-level upper-case name bound to text that starts with ``SELECT``. Each entry keeps the dialect
metadata (``sketch_columns``, ``binary_columns``, …) the input met at its
call site, so the metadata-driven branches are pinned too; an input that
raises records the exception type instead of the output. Inputs that the
recording run never hands the dialect are recorded against an empty
dialect.

Regenerate (from the repo root; runs every test file that builds an
engine or a dialect, both lanes, with the recorder installed, then the
declared queries that go through ``PinotEngine``)::

    python -m tests.rewrite_corpus

or recompute only the outputs of the recorded entries::

    python -m tests.rewrite_corpus --refresh

``tests/test_rewrite_corpus.py`` replays the file.
"""

from __future__ import annotations

import ast
import dataclasses
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS = os.path.join(ROOT, "tests", "rewrite_corpus.json")
SOURCE_DIRS = ("tests", os.path.join("apache_pinot_spark", "suites"), "perfbench")
# receivers whose .sql() is Spark's or DuckDB's, never the dialect's
_NOT_DIALECT = {"spark", "con", "duck", "duckdb", "conn", "session", "ss"}

# module-level helpers whose first argument is dialect SQL
_SQL_FACTORIES = {"_engine_q"}

_SET_FIELDS = ("array_columns", "table_columns", "binary_columns")
_MAP_FIELDS = ("text_index", "segment_partitions", "sketch_columns", "column_types")


def _const_str(node) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return None


def _receiver(node) -> str:
    try:
        return ast.unparse(node).rsplit(".", 1)[-1]
    except Exception:  # pragma: no cover - unparse handles every expr node
        return ""


def constant_inputs(root: str = ROOT) -> set[str]:
    """Every constant SQL input in SOURCE_DIRS (see the module doc)."""
    found: set[str] = set()
    for d in SOURCE_DIRS:
        for dirpath, _dirs, files in os.walk(os.path.join(root, d)):
            for fn in files:
                if fn.endswith(".py"):
                    with open(os.path.join(dirpath, fn)) as fh:
                        found |= _file_inputs(ast.parse(fh.read()))
    return found


def _file_inputs(tree: ast.Module) -> set[str]:
    # names bound to a string constant anywhere in the file: a call that
    # passes such a name passes that constant
    bound: dict[str, set[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and _const_str(node.value) is not None:
            for t in node.targets:
                if isinstance(t, ast.Name):
                    bound.setdefault(t.id, set()).add(node.value.value)
    found: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and node.args and (
            (
                isinstance(node.func, ast.Attribute)
                and node.func.attr in ("sql", "rewrite", "query")
                and _receiver(node.func.value) not in _NOT_DIALECT
            )
            or (isinstance(node.func, ast.Name) and node.func.id in _SQL_FACTORIES)
        ):
            arg = node.args[0]
            if _const_str(arg) is not None:
                found.add(arg.value)
            elif isinstance(arg, ast.Name):
                found |= bound.get(arg.id, set())
        elif isinstance(node, ast.Dict):
            for k, v in zip(node.keys, node.values):
                if k is not None and _const_str(k) == "sql" and _const_str(v) is not None:
                    found.add(v.value)
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)
            and node.targets[0].id.isupper()
        ):
            s = _const_str(node.value)
            if s is not None and s.lstrip().upper().startswith("SELECT"):
                found.add(s)
    return found


def metadata(dialect) -> dict:
    """The dialect's constructor state as JSON (empty fields left out)."""
    out: dict = {}
    for f in _SET_FIELDS:
        if getattr(dialect, f):
            out[f] = sorted(getattr(dialect, f))
    for f in _MAP_FIELDS:
        if getattr(dialect, f):
            out[f] = dict(sorted(getattr(dialect, f).items()))
    if dialect.json_schemas:
        out["json_schemas"] = {c: dt.json() for c, dt in sorted(dialect.json_schemas.items())}
    if dialect.timestamp_index:
        out["timestamp_index"] = sorted([c, u, m] for (c, u), m in dialect.timestamp_index.items())
    if dialect.sketch_ranges:
        out["sketch_ranges"] = {c: list(r) for c, r in sorted(dialect.sketch_ranges.items())}
    if dialect.json_configs:
        out["json_configs"] = {
            c: {
                k: sorted(v) if isinstance(v, set) else v
                for k, v in dataclasses.asdict(cfg).items()
            }
            for c, cfg in sorted(dialect.json_configs.items())
        }
    return out


def dialect_from(meta: dict):
    """A PinotDialect rebuilt from ``metadata()``'s output."""
    from pyspark.sql import types as T

    from apache_pinot_spark.functions.json import JsonIndexConfig
    from apache_pinot_spark.sqlfront import PinotDialect

    kw: dict = {f: set(meta[f]) for f in _SET_FIELDS if f in meta}
    kw.update({f: dict(meta[f]) for f in _MAP_FIELDS if f in meta})
    if "json_schemas" in meta:
        kw["json_schemas"] = {
            c: T._parse_datatype_json_string(s) for c, s in meta["json_schemas"].items()
        }
    if "timestamp_index" in meta:
        kw["timestamp_index"] = {(c, u): m for c, u, m in meta["timestamp_index"]}
    if "sketch_ranges" in meta:
        kw["sketch_ranges"] = {c: tuple(r) for c, r in meta["sketch_ranges"].items()}
    if "json_configs" in meta:
        kw["json_configs"] = {
            c: JsonIndexConfig(
                **{k: set(v) if isinstance(v, list) else v for k, v in cfg.items()}
            )
            for c, cfg in meta["json_configs"].items()
        }
    return PinotDialect(**kw)


def outcome(dialect, sql: str) -> dict:
    """``{"sql": <rewritten>}`` or ``{"raises": <exception type>}``, as a
    fresh process rewrites ``sql``: JSON_MATCH names its lambda variables
    from a process-wide counter, which is reset first."""
    from apache_pinot_spark.functions import json as pinot_json

    pinot_json._GENSYM = 0
    try:
        return {"sql": dialect.rewrite(sql).sql}
    except Exception as e:  # the type is the recorded answer
        return {"raises": type(e).__name__}


class Recorder:
    """Pytest plugin: while installed, every ``PinotDialect.rewrite`` call
    whose input is a constant records (metadata, input)."""

    def __init__(self, inputs: set[str]):
        self.inputs = inputs
        self.seen: dict[tuple[str, str], dict] = {}

    def install(self) -> None:
        from apache_pinot_spark.sqlfront import PinotDialect

        original = PinotDialect.rewrite
        recorder = self

        def rewrite(dialect, pinot_sql):
            if pinot_sql in recorder.inputs:
                meta = metadata(dialect)
                recorder.seen.setdefault(
                    (pinot_sql, json.dumps(meta, sort_keys=True)), meta
                )
            return original(dialect, pinot_sql)

        PinotDialect.rewrite = rewrite

    def pytest_configure(self, config):
        self.install()


def entries(inputs: set[str], seen: dict[tuple[str, str], dict]) -> list[dict]:
    """The sorted corpus: every seen (input, metadata) pair, and every
    unseen input against an empty dialect."""
    pairs = dict(seen)
    seen_inputs = {sql for sql, _ in seen}
    for sql in inputs - seen_inputs:
        pairs[(sql, "{}")] = {}
    return [
        {"input": sql, "metadata": meta, **outcome(dialect_from(meta), sql)}
        for (sql, _key), meta in sorted(pairs.items())
    ]


def _write(corpus: list[dict]) -> None:
    with open(CORPUS, "w") as fh:
        json.dump(corpus, fh, indent=1, sort_keys=True)
        fh.write("\n")


def _run_suite_queries() -> None:
    """The declared queries that go through PinotEngine, at the smoke SF."""
    import apache_pinot_spark.suites  # noqa: F401  (fills the registry)
    from apache_pinot_spark.querysuite import REGISTRY
    from apache_pinot_spark.session import get_spark
    from tests.conftest import SF_SMOKE

    spark = get_spark("rewrite-corpus", cpus=2)
    for q in REGISTRY.values():
        if "PinotEngine" in q.fn.__code__.co_names:
            q.fn(spark, SF_SMOKE).collect()


def _builds_engine(path: str) -> bool:
    with open(path) as fh:
        text = fh.read()
    return any(s in text for s in ("PinotEngine", "PinotDialect", "http_server"))


def main(argv: list[str]) -> int:
    import pytest

    sys.path.insert(0, ROOT)
    if argv == ["--refresh"]:
        # outputs only, for the recorded (input, metadata) pairs
        with open(CORPUS) as fh:
            corpus = json.load(fh)
        _write([
            {"input": e["input"], "metadata": e["metadata"],
             **outcome(dialect_from(e["metadata"]), e["input"])}
            for e in corpus
        ])
        return 0
    inputs = constant_inputs()
    rec = Recorder(inputs)
    files = argv or [
        os.path.join("tests", f)
        for f in sorted(os.listdir(os.path.join(ROOT, "tests")))
        if f.startswith("test_") and f.endswith(".py")
        and f != "test_rewrite_corpus.py" and _builds_engine(os.path.join(ROOT, "tests", f))
    ]
    code = pytest.main(["-q", "-m", "", "-p", "no:cacheprovider", *files], plugins=[rec])
    _run_suite_queries()
    _write(entries(inputs, rec.seen))
    return int(code)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
