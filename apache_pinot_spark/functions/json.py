"""JSON_MATCH / JSON_EXTRACT_SCALAR — JSON predicates as Spark expressions.

Reference semantics (basics/indexing/json-index.md):
  * JSON_MATCH(col, '<filter>') filter grammar (lines 304-434):
      "$.path"='v'            scalar equality (string values in ''quotes'')
      "$.addresses[*].number"=112   chained array path, ANY element
      "$.addresses[0].number"=112   positional
      "$.phone" IS [NOT] NULL       field existence
      <p1> AND <p2>                 nesting inside ONE call
      "$[*]"='item1', "$[1]"='item2', "$"=123, "$" IS NULL  (root forms)
  * ARRAY CONTEXT IS MAINTAINED (lines 404-434): two [*] predicates inside
    one JSON_MATCH must match the SAME array element; separate JSON_MATCH
    calls relax that.
  * The key must be a leaf path (line 500). DOCUMENTED DIVERGENCE: this
    engine does not enforce the leaf-only restriction — a predicate on a
    non-leaf path compares the serialized subtree text, which is strictly
    MORE capable than Pinot (every Pinot-legal filter behaves
    identically; non-leaf filters that Pinot rejects simply work here).
  * JSON index flattening config (lines 53-81) is honored via
    JsonIndexConfig: includePaths / excludePaths / maxLevels /
    excludeArray / disableCrossArrayUnnest — predicates on paths the
    config leaves unindexed match nothing, exactly as an index with no
    entries would.

Spark-first design: scalar paths compile to `get_json_object` (JVM,
codegen). Array-context paths compile to `exists(from_json(col, schema)
.<path>, e -> ...)` — the struct navigation keeps per-element context
exactly as the reference requires. The JSON schema is inferred once at
table registration (our analogue of building the JSON index) via
`infer_json_schema`, never per-row.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class JsonIndexConfig:
    """Subset of Pinot's JSON index flattening config
    (basics/indexing/json-index.md:53-81). A JSON_MATCH predicate whose
    path is NOT indexed under the config can never match (the index holds
    no entries for it) — mirroring Pinot, where such filters return no
    rows rather than falling back to a scan.

      maxLevels              — paths nested deeper are not indexed
      excludeArray           — array ([*]/[n]) paths are not indexed
      disableCrossArrayUnnest— values under DIFFERENT arrays are not
                               flattened into one row: an AND combining
                               [*] predicates from different arrays
                               cannot match
      includePaths           — if set, ONLY these path prefixes indexed
      excludePaths           — these path prefixes (and children) excluded
      excludeFields          — field NAMES excluded anywhere they appear,
                               even under included paths
    """

    max_levels: int | None = None
    exclude_array: bool = False
    disable_cross_array_unnest: bool = False
    include_paths: set[str] = dc_field(default_factory=set)
    exclude_paths: set[str] = dc_field(default_factory=set)
    exclude_fields: set[str] = dc_field(default_factory=set)

    @classmethod
    def from_json(cls, d: dict) -> "JsonIndexConfig":
        return cls(
            max_levels=d.get("maxLevels") if (d.get("maxLevels") or 0) > 0 else None,
            exclude_array=bool(d.get("excludeArray", False)),
            disable_cross_array_unnest=bool(d.get("disableCrossArrayUnnest", False)),
            include_paths=set(d.get("includePaths") or []),
            exclude_paths=set(d.get("excludePaths") or []),
            exclude_fields=set(d.get("excludeFields") or []),
        )


def _path_str(components: list[object]) -> str:
    out = "$"
    for c in components:
        out += f"[{c}]" if isinstance(c, int) else ("[*]" if c == "*" else f".{c}")
    return out


def _path_indexed(components: list[object], cfg: JsonIndexConfig | None) -> bool:
    """Is this predicate path covered by the index config?"""
    if cfg is None:
        return True
    if cfg.max_levels is not None and len(components) > cfg.max_levels:
        return False
    if cfg.exclude_array and any(c == "*" or isinstance(c, int) for c in components):
        return False
    if cfg.exclude_fields and any(
        isinstance(c, str) and c != "*" and c in cfg.exclude_fields for c in components
    ):
        return False
    p = _path_str(components)
    # a path is excluded if it equals or sits under an excluded prefix
    for ex in cfg.exclude_paths:
        if p == ex or p.startswith(ex + ".") or p.startswith(ex + "["):
            return False
    if cfg.include_paths:
        for inc in cfg.include_paths:
            if p == inc or p.startswith(inc + ".") or p.startswith(inc + "["):
                return True
        return False
    return True

# --------------------------------------------------------------------------
# Filter-expression parser
# --------------------------------------------------------------------------


@dataclass
class _Pred:
    path: list[object]  # components: str field names, int positions, '*' wildcards
    op: str  # '=', '<>', 'IS NULL', 'IS NOT NULL', '<', '<=', '>', '>='
    value: object | None = None


@dataclass
class _BoolNode:
    op: str  # 'and' | 'or'
    children: list[object]


_PRED_RE = re.compile(
    r"""\s*"(?P<path>\$[^"]*)"\s*
        (?P<op>=|<>|!=|<=|>=|<|>|IS\s+NOT\s+NULL|IS\s+NULL)
        \s*(?P<val>'(?:[^']|'')*'|-?\d+(?:\.\d+)?)?""",
    re.VERBOSE | re.IGNORECASE,
)


def _parse_path(path: str) -> list[object]:
    """'$.addresses[*].number' → ['addresses', '*', 'number']"""
    if not path.startswith("$"):
        raise ValueError(f"JSON_MATCH: path must start with $: {path!r}")
    out: list[object] = []
    for m in re.finditer(r"\.([A-Za-z_][\w\-]*)|\[(\*|\d+)\]", path[1:]):
        if m.group(1) is not None:
            out.append(m.group(1))
        else:
            out.append("*" if m.group(2) == "*" else int(m.group(2)))
    return out


def _tokenize_bool(expr: str) -> list[object]:
    """Split the filter into predicates and AND/OR/parens."""
    toks: list[object] = []
    i = 0
    n = len(expr)
    while i < n:
        ch = expr[i]
        if ch.isspace():
            i += 1
            continue
        if ch == "(":
            toks.append("(")
            i += 1
            continue
        if ch == ")":
            toks.append(")")
            i += 1
            continue
        up = expr[i : i + 3].upper()
        if up == "AND" and (i + 3 >= n or not expr[i + 3].isalnum()):
            toks.append("AND")
            i += 3
            continue
        if expr[i : i + 2].upper() == "OR" and (i + 2 >= n or not expr[i + 2].isalnum()):
            toks.append("OR")
            i += 2
            continue
        m = _PRED_RE.match(expr, i)
        if not m:
            raise ValueError(f"JSON_MATCH: cannot parse at {expr[i:]!r}")
        op = re.sub(r"\s+", " ", m.group("op").upper())
        val: object | None = None
        raw = m.group("val")
        if raw is not None:
            if raw.startswith("'"):
                val = raw[1:-1].replace("''", "'")
            elif "." in raw:
                val = float(raw)
            else:
                val = int(raw)
        if op in ("=", "<>", "!=", "<", "<=", ">", ">=") and raw is None:
            raise ValueError(f"JSON_MATCH: operator {op} needs a value")
        toks.append(_Pred(_parse_path(m.group("path")), "<>" if op == "!=" else op, val))
        i = m.end()
    return toks


def parse_json_filter(expr: str) -> object:
    """Parse into _Pred / _BoolNode tree (OR lowest precedence)."""
    toks = _tokenize_bool(expr)
    pos = 0

    def or_expr():
        nonlocal pos
        parts = [and_expr()]
        while pos < len(toks) and toks[pos] == "OR":
            pos += 1
            parts.append(and_expr())
        return parts[0] if len(parts) == 1 else _BoolNode("or", parts)

    def and_expr():
        nonlocal pos
        parts = [unit()]
        while pos < len(toks) and toks[pos] == "AND":
            pos += 1
            parts.append(unit())
        return parts[0] if len(parts) == 1 else _BoolNode("and", parts)

    def unit():
        nonlocal pos
        t = toks[pos]
        if t == "(":
            pos += 1
            node = or_expr()
            if pos >= len(toks) or toks[pos] != ")":
                raise ValueError("JSON_MATCH: unbalanced parens")
            pos += 1
            return node
        if isinstance(t, _Pred):
            pos += 1
            return t
        raise ValueError(f"JSON_MATCH: unexpected token {t!r}")

    node = or_expr()
    if pos != len(toks):
        raise ValueError("JSON_MATCH: trailing tokens")
    return node


# --------------------------------------------------------------------------
# Compilation
# --------------------------------------------------------------------------


def _jsonpath(components: list[object]) -> str:
    out = "$"
    for c in components:
        if isinstance(c, int):
            out += f"[{c}]"
        elif c == "*":
            raise AssertionError("wildcard reached scalar compiler")
        else:
            out += f".{c}"
    return out


_OPS = {
    "=": lambda a, b: a == b,
    "<>": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


def _scalar_compare(extracted: Column, pred: _Pred) -> Column:
    """Compare a get_json_object (string) extraction; numeric literals
    compare numerically via a double cast."""
    if pred.op == "IS NULL":
        return extracted.isNull()
    if pred.op == "IS NOT NULL":
        return extracted.isNotNull()
    lhs, rhs = extracted, F.lit(pred.value)
    if isinstance(pred.value, (int, float)) and not isinstance(pred.value, bool):
        # try_cast: non-numeric JSON values simply don't match a numeric
        # literal (ANSI cast would error the whole query).
        lhs = extracted.try_cast(T.DoubleType())
        rhs = F.lit(float(pred.value))
    return _OPS[pred.op](lhs, rhs)


def _typed_compare(field: Column, pred: _Pred) -> Column:
    """Compare a typed (from_json) field against the literal."""
    if pred.op == "IS NULL":
        return field.isNull()
    if pred.op == "IS NOT NULL":
        return field.isNotNull()
    lhs, value = field, pred.value
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        lhs = field.try_cast(T.DoubleType())
        value = float(value)
    return _OPS[pred.op](lhs, F.lit(value))


def _navigate(struct: Column, components: list[object]) -> Column:
    """Walk non-wildcard components on a typed (from_json) column."""
    cur = struct
    for c in components:
        if isinstance(c, int):
            cur = cur.getItem(c)
        else:
            cur = cur.getField(c)
    return cur


def _split_at_wildcard(components: list[object]) -> tuple[list[object], list[object]] | None:
    for i, c in enumerate(components):
        if c == "*":
            return components[:i], components[i + 1 :]
    return None


def _compile_context_group(
    parsed: Column, prefix: tuple[object, ...], preds: list[_Pred]
) -> Column:
    """ANY single array element satisfies ALL predicates — the reference's
    maintained-JSON-context rule (json-index.md:404-434)."""
    arr = _navigate(parsed, list(prefix))

    def elem_cond(e: Column) -> Column:
        cond = None
        for p in preds:
            rest = p.path[len(prefix) + 1 :]
            if _split_at_wildcard(rest) is not None:  # nested wildcard: recurse
                c = _compile_context_group_elem(e, rest, p)
            else:
                c = _typed_compare(_navigate(e, rest), p)
            cond = c if cond is None else (cond & c)
        return cond

    return F.exists(arr, elem_cond)


def _compile_context_group_elem(e: Column, rest: list[object], pred: _Pred) -> Column:
    split = _split_at_wildcard(rest)
    inner_prefix, inner_rest = split
    inner_arr = _navigate(e, inner_prefix)
    inner_pred = _Pred(inner_rest, pred.op, pred.value)
    return F.exists(
        inner_arr,
        lambda ie: _compile_context_group_elem(ie, inner_rest, pred)
        if _split_at_wildcard(inner_rest)
        else _typed_compare(_navigate(ie, inner_rest), inner_pred),
    )


def _compile_node(
    node: object,
    raw: Column,
    parsed: Column | None,
    cfg: JsonIndexConfig | None = None,
) -> Column:
    if isinstance(node, _BoolNode):
        # Wildcard predicates that are direct AND siblings share array
        # context; group them by wildcard prefix before compiling.
        if node.op == "and":
            groups: dict[tuple[object, ...], list[_Pred]] = {}
            others: list[object] = []
            for ch in node.children:
                if isinstance(ch, _Pred) and (s := _split_at_wildcard(ch.path)) is not None:
                    groups.setdefault(tuple(s[0]), []).append(ch)
                else:
                    others.append(ch)
            if cfg is not None and cfg.disable_cross_array_unnest and len(groups) > 1:
                # values under different arrays are never flattened into
                # one row → the conjunction cannot match (json-index.md:70)
                return F.lit(False)
            conds: list[Column] = []
            for prefix, preds in groups.items():
                if any(not _path_indexed(p.path, cfg) for p in preds):
                    conds.append(F.lit(False))
                    continue
                if parsed is None:
                    raise ValueError(
                        "JSON_MATCH with [*] paths needs a JSON schema; "
                        "pass schema= or register the table with infer_json_schema"
                    )
                conds.append(_compile_context_group(parsed, prefix, preds))
            conds.extend(_compile_node(ch, raw, parsed, cfg) for ch in others)
            out = conds[0]
            for c in conds[1:]:
                out = out & c
            return out
        out = _compile_node(node.children[0], raw, parsed, cfg)
        for ch in node.children[1:]:
            out = out | _compile_node(ch, raw, parsed, cfg)
        return out
    pred: _Pred = node
    if not _path_indexed(pred.path, cfg):
        return F.lit(False)  # unindexed path: no entries to match
    split = _split_at_wildcard(pred.path)
    if split is not None:
        if parsed is None:
            raise ValueError("JSON_MATCH with [*] paths needs a JSON schema")
        return _compile_context_group(parsed, tuple(split[0]), [pred])
    if not pred.path and pred.op in ("IS NULL", "IS NOT NULL"):
        # Root-level JSON null ("$" IS NULL, json-index.md:483-492):
        # get_json_object('null','$') yields the string 'null', so test the
        # raw document text.
        is_null = raw.isNull() | (F.trim(raw) == F.lit("null"))
        return is_null if pred.op == "IS NULL" else ~is_null
    extracted = F.get_json_object(raw, _jsonpath(pred.path))
    return _scalar_compare(extracted, pred)


def json_match(
    col: Column | str,
    filter_expr: str,
    schema: T.DataType | str | None = None,
    config: JsonIndexConfig | None = None,
) -> Column:
    """Boolean Column implementing Pinot's JSON_MATCH(col, filter).

    ``schema`` (a Spark DataType or DDL string) is required only for
    array-wildcard paths; obtain it once per table via
    ``infer_json_schema`` — the engine's analogue of building Pinot's
    JSON index (json-index.md:47). ``config`` applies the JSON index
    flattening rules (json-index.md:53-81): predicates on paths the
    config leaves unindexed match nothing, as in Pinot.

    Paths referenced by more than one predicate (e.g. '"$.k">=50 AND
    "$.k"<60') compile to repeated get_json_object calls on purpose:
    within one codegen'd operator Spark's subexpression elimination
    evaluates the duplicates once, and a plain projection stays inside
    whole-stage codegen. (A round-4 variant routed the shared extraction
    through an `exists` lambda carrier; higher-order functions are
    interpreted, and the carrier measured ~2x slower than the duplicated
    codegen'd extraction at every document size tested.)
    """
    c = F.col(col) if isinstance(col, str) else col
    parsed = F.from_json(c, schema) if schema is not None else None
    tree = parse_json_filter(filter_expr)
    return _compile_node(tree, c, parsed, config)


_TYPE_MAP = {
    "INT": T.IntegerType(),
    "LONG": T.LongType(),
    "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(),
    "BOOLEAN": T.BooleanType(),
    "STRING": T.StringType(),
    "TIMESTAMP": T.TimestampType(),
}


def json_extract_scalar(
    col: Column | str, path: str, result_type: str = "STRING", default: object | None = None
) -> Column:
    """JSON_EXTRACT_SCALAR(col, path, type[, default]) — json-index.md:42-45."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.get_json_object(c, path).cast(_TYPE_MAP[result_type.upper()])
    if default is not None:
        out = F.coalesce(out, F.lit(default))
    return out


def infer_json_schema(df: DataFrame, column: str, sample_rows: int = 1000) -> T.DataType:
    """Infer a merged JSON schema from a sample of rows — done once at
    table registration, never per query. Uses Spark's JSON schema
    inference (distributed for large samples)."""
    sample = df.select(F.col(column).alias("j")).where(F.col("j").isNotNull()).limit(sample_rows)
    spark = df.sparkSession
    inferred = spark.read.json(sample.rdd.map(lambda r: r[0]))
    return inferred.schema


# --------------------------------------------------------------------------
# SQL-string emitters — same parser/grouping semantics, producing Spark SQL
# text for the engine's SQL front-end.
# --------------------------------------------------------------------------


def _sq(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _nav_sql(base: str, components: list[object]) -> str:
    out = base
    for c in components:
        if isinstance(c, int):
            out += f"[{c}]"  # Spark SQL bracket indexing is 0-based
        else:
            out += f".{c}"
    return out


def _scalar_compare_sql(extracted: str, pred: _Pred) -> str:
    if pred.op == "IS NULL":
        return f"{extracted} IS NULL"
    if pred.op == "IS NOT NULL":
        return f"{extracted} IS NOT NULL"
    if isinstance(pred.value, (int, float)) and not isinstance(pred.value, bool):
        return f"try_cast({extracted} AS DOUBLE) {pred.op} {float(pred.value)!r}"
    return f"{extracted} {pred.op} {_sq(str(pred.value))}"


_GENSYM = 0


def _fresh_var() -> str:
    global _GENSYM
    _GENSYM += 1
    return f"e{_GENSYM}"


def _emit_context_group_sql(parsed: str, prefix: tuple[object, ...], preds: list[_Pred]) -> str:
    arr = _nav_sql(parsed, list(prefix))
    v = _fresh_var()
    conds = []
    for p in preds:
        rest = p.path[len(prefix) + 1 :]
        if _split_at_wildcard(rest) is not None:
            conds.append(_emit_nested_wildcard_sql(v, rest, p))
        else:
            conds.append(_scalar_compare_sql(_nav_sql(v, rest), p))
    return f"exists({arr}, {v} -> {' AND '.join(conds)})"


def _emit_nested_wildcard_sql(var: str, rest: list[object], pred: _Pred) -> str:
    inner_prefix, inner_rest = _split_at_wildcard(rest)
    inner_arr = _nav_sql(var, inner_prefix)
    v = _fresh_var()
    if _split_at_wildcard(inner_rest) is not None:
        body = _emit_nested_wildcard_sql(v, inner_rest, pred)
    else:
        body = _scalar_compare_sql(_nav_sql(v, inner_rest), pred)
    return f"exists({inner_arr}, {v} -> {body})"


# Constant-false predicate text. Never a bare ``false``: the caller wraps
# the predicate in parentheses, and Spark parses ``FROM t WHERE (false)``
# as the table alias ``WHERE`` with the column list ``(false)``.
_SQL_FALSE = "1 = 0"


def _emit_node_sql(
    node: object, raw: str, parsed: str | None, cfg: JsonIndexConfig | None = None
) -> str:
    if isinstance(node, _BoolNode):
        if node.op == "and":
            groups: dict[tuple[object, ...], list[_Pred]] = {}
            others: list[object] = []
            for ch in node.children:
                if isinstance(ch, _Pred) and (s := _split_at_wildcard(ch.path)) is not None:
                    groups.setdefault(tuple(s[0]), []).append(ch)
                else:
                    others.append(ch)
            if cfg is not None and cfg.disable_cross_array_unnest and len(groups) > 1:
                return _SQL_FALSE
            conds = []
            for prefix, preds in groups.items():
                if any(not _path_indexed(p.path, cfg) for p in preds):
                    conds.append(_SQL_FALSE)
                    continue
                if parsed is None:
                    raise ValueError("JSON_MATCH with [*] paths needs a JSON schema")
                conds.append(_emit_context_group_sql(parsed, prefix, preds))
            conds.extend(_emit_node_sql(ch, raw, parsed, cfg) for ch in others)
            return "(" + " AND ".join(conds) + ")"
        return (
            "("
            + " OR ".join(_emit_node_sql(ch, raw, parsed, cfg) for ch in node.children)
            + ")"
        )
    pred: _Pred = node
    if not _path_indexed(pred.path, cfg):
        return _SQL_FALSE
    split = _split_at_wildcard(pred.path)
    if split is not None:
        if parsed is None:
            raise ValueError("JSON_MATCH with [*] paths needs a JSON schema")
        return _emit_context_group_sql(parsed, tuple(split[0]), [pred])
    if not pred.path and pred.op in ("IS NULL", "IS NOT NULL"):
        is_null = f"({raw} IS NULL OR trim({raw}) = 'null')"
        return is_null if pred.op == "IS NULL" else f"NOT {is_null}"
    extracted = f"get_json_object({raw}, {_sq(_jsonpath(pred.path))})"
    return _scalar_compare_sql(extracted, pred)


def json_match_sql(
    col_sql: str,
    filter_expr: str,
    schema: T.DataType | str | None = None,
    config: JsonIndexConfig | None = None,
) -> str:
    """SQL-text form of json_match(col, filter) for the SQL front-end.
    ``schema`` (DataType or DDL/simpleString) enables [*] array paths via
    from_json; ``config`` applies the JSON index flattening rules."""
    parsed = None
    if schema is not None:
        ddl = schema.simpleString() if isinstance(schema, T.DataType) else schema
        parsed = f"from_json({col_sql}, {_sq(ddl)})"
    return "(" + _emit_node_sql(parse_json_filter(filter_expr), col_sql, parsed, config) + ")"


def json_extract_scalar_sql(
    col_sql: str, path: str, result_type: str = "STRING", default_sql: str | None = None
) -> str:
    typ = {
        "INT": "INT",
        "LONG": "BIGINT",
        "FLOAT": "FLOAT",
        "DOUBLE": "DOUBLE",
        "BOOLEAN": "BOOLEAN",
        "STRING": "STRING",
        "TIMESTAMP": "TIMESTAMP",
    }[result_type.upper()]
    out = f"CAST(get_json_object({col_sql}, {_sq(path)}) AS {typ})"
    if default_sql is not None:
        out = f"coalesce({out}, {default_sql})"
    return out
