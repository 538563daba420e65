"""Pinot SQL dialect front-end + broker result envelope.

The engine's user-facing query surface: accept Pinot-dialect SQL, rewrite
it to Spark SQL text, execute through Catalyst, and (optionally) wrap the
result in the broker JSON envelope of reference basics/Architecture.md:121-152.

Dialect rewrites implemented here (all pre-Spark, on the SQL text — no JVM
Catalyst rules, per SURVEY.md §4):
  * PQL `TOP n` group cap → ORDER BY <first aggregate> DESC LIMIT n
    (Introduction.md:110-111; ordering by aggregate value descending is the
    PQL convention — pinned in tests).
  * `OPTION(k=v, ...)` suffix parsing (basics/indexing/timestamp-index.md:50).
  * Function aliases: ADD/SUB/MULT/DIV (forward-index.md:224), dateTrunc /
    fromDateTime with epoch-millis parity (timestamp-index.md:11,27-39),
    DISTINCTCOUNT / DISTINCTCOUNTHLL (forward-index.md:214),
    PERCENTILE / PERCENTILETDIGEST / PERCENTILEEST
    (configuration-reference/schema.md:48), JSON_EXTRACT_SCALAR
    (json-index.md:42-45).
  * TEXT_MATCH / TEXT_CONTAINS / JSON_MATCH predicate expansion via the
    SQL emitters in functions/text.py and functions/json.py.
  * Multi-valued-column predicate rewrite (configuration-reference/
    schema.md:25): a scalar predicate on an ARRAY column matches if ANY
    element matches — `mvCol = 'v'` → array_contains, ranges → exists().
  * SELECT-alias references in WHERE (Pinot allows `WHERE tsWeek > ...`
    against a SELECT alias, timestamp-index.md:33-39; Spark does not).
  * Pinot's implicit LIMIT 10 on selection queries (broker default),
    applied only by the envelope API, never by `sql()`.

Everything not listed passes through unchanged — the pass-through surface
(joins, windows, set ops, Spark's function library) is stock Spark SQL.
"""

from __future__ import annotations

import importlib
import re
import time
import weakref
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apache_pinot_spark.catalog import load_tables
from apache_pinot_spark.functions.json import (
    infer_json_schema,
    json_extract_scalar_sql,
    json_match_sql,
)
from apache_pinot_spark.functions.text import text_contains_sql, text_match_sql
from apache_pinot_spark.session import local_frame, share_package_with_workers

# --------------------------------------------------------------------------
# Call-aware SQL text utilities (quote- and paren-safe; no sqlglot in the
# container, so this is a purpose-built scanner, not a general parser).
# --------------------------------------------------------------------------


def _scan_call(sql: str, start: int) -> tuple[int, list[str]]:
    """From the '(' at ``start``, return (end_index_after_rparen, args) with
    args split at top-level commas, respecting nesting and quotes."""
    assert sql[start] == "("
    depth, i, n = 0, start, len(sql)
    args: list[str] = []
    buf_start = start + 1
    while i < n:
        ch = sql[i]
        if ch == "'":
            i += 1
            while i < n:
                if sql[i] == "\\":
                    i += 2
                    continue
                if sql[i] == "'":
                    if i + 1 < n and sql[i + 1] == "'":  # '' escape
                        i += 2
                        continue
                    break
                i += 1
        elif ch == '"':
            i += 1
            while i < n and sql[i] != '"':
                i += 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                last = sql[buf_start:i].strip()
                if last or args:
                    args.append(last)
                return i + 1, args
        elif ch == "," and depth == 1:
            args.append(sql[buf_start:i].strip())
            buf_start = i + 1
        i += 1
    raise ValueError(f"unbalanced parentheses in SQL near {sql[start:start + 40]!r}")


def rewrite_calls(sql: str, handlers: dict[str, Callable[[list[str]], str]]) -> str:
    """Replace every NAME(args...) call whose upper-cased NAME is in
    ``handlers`` with handler(args). Arguments are rewritten recursively
    BEFORE the handler runs (innermost-first), and handler output is never
    rescanned — so handlers may safely emit names that would re-match
    (e.g. PERCENTILE → percentile)."""
    names = "|".join(re.escape(n) for n in handlers)
    pat = re.compile(rf"\b({names})\s*\(", re.IGNORECASE)

    def rewrite(text: str) -> str:
        out, pos = [], 0
        while True:
            m = pat.search(text, pos)
            if not m:
                break
            if _inside_literal(text[: m.start()]):
                pos = m.end()
                continue
            lparen = m.end() - 1
            end, args = _scan_call(text, lparen)
            repl = handlers[m.group(1).upper()]([rewrite(a) for a in args])
            out.append(text[: m.start()])
            out.append(repl)
            text = text[end:]
            pos = 0
        out.append(text)
        return "".join(out)

    return rewrite(sql)


def _inside_literal(prefix: str) -> bool:
    """Odd count of unescaped quotes before a match: it is inside a literal."""
    return (prefix.count("'") - prefix.count("\\'") - 2 * prefix.count("''")) % 2 == 1


_IN_ID_SET_RE = re.compile(r"\b(?:IN_ID_SET|INIDSET)\s*\(", re.IGNORECASE)
_EQUALS_0_OR_1_RE = re.compile(r"\s*=\s*([01])(?![\w.])")


def _fold_in_id_set_comparisons(sql: str) -> str:
    """Pinot's IN_ID_SET returns 1/0 and documents ``IN_ID_SET(col, '<blob>')
    = 1``; here the call is a boolean predicate, which Spark will not compare
    with an integer, so drop the comparison: ``= 0`` becomes ``NOT`` the
    call, and a NULL key matches neither form."""
    out, pos = [], 0
    for m in _IN_ID_SET_RE.finditer(sql):
        if m.start() < pos or _inside_literal(sql[: m.start()]):
            continue
        end, _ = _scan_call(sql, m.end() - 1)
        if cmp := _EQUALS_0_OR_1_RE.match(sql, end):
            negate = cmp.group(1) == "0"
            out += [sql[pos : m.start()], "NOT " * negate, sql[m.start() : end]]
            pos = cmp.end()
    return "".join(out) + sql[pos:]


def _split_literals(sql: str) -> list[tuple[bool, str]]:
    """Split SQL text into (is_literal, segment) runs, where literal
    segments are complete single-quoted strings (with '' and \\' escapes).
    Rewrites that must not touch string literals map over the non-literal
    segments and rejoin."""
    out: list[tuple[bool, str]] = []
    i, n, start = 0, len(sql), 0
    while i < n:
        if sql[i] == "'":
            if i > start:
                out.append((False, sql[start:i]))
            j = i + 1
            while j < n:
                if sql[j] == "\\":
                    j += 2
                    continue
                if sql[j] == "'":
                    if j + 1 < n and sql[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            j = min(j + 1, n)
            out.append((True, sql[i:j]))
            i = start = j
        else:
            i += 1
    if start < n:
        out.append((False, sql[start:]))
    return out


def _sub_outside_literals(sql: str, fn: Callable[[str], str]) -> str:
    """Apply a text-rewrite function to the non-literal segments only —
    alias/column substitutions must never rewrite occurrences inside
    string literals (`WHERE event_type = 'd'` with an alias `d`)."""
    return "".join(seg if lit else fn(seg) for lit, seg in _split_literals(sql))


def _guarded_sub(pattern: str, repl: str, sql: str, flags: int = 0) -> str:
    """re.sub that ignores matches STARTING inside a string literal (the
    match itself may span a literal, e.g. `col = 'v'` — only the anchor
    position must be real SQL, not quoted text)."""
    spans = []
    pos = 0
    for lit, seg in _split_literals(sql):
        if lit:
            spans.append((pos, pos + len(seg)))
        pos += len(seg)

    def guarded(m: re.Match) -> str:
        if any(a <= m.start() < b for a, b in spans):
            return m.group(0)
        return m.expand(repl)

    return re.sub(pattern, guarded, sql, flags=flags)


def _unquote(arg: str) -> str:
    a = arg.strip()
    if len(a) >= 2 and a[0] == "'" and a[-1] == "'":
        return a[1:-1].replace("''", "'").replace("\\'", "'")
    raise ValueError(f"expected a string literal, got {arg!r}")


# the public jsonPathDouble missing-path sentinel (Double.NEGATIVE_INFINITY)
_NEG_INF_SQL = "CAST('-Infinity' AS DOUBLE)"

_ISO_DUR_RE = re.compile(
    r"^P(?:(?P<d>\d+)D)?(?:T(?:(?P<h>\d+)H)?(?:(?P<m>\d+)M)?"
    r"(?:(?P<s>\d+(?:\.\d+)?)S)?)?$"
)


def _iso8601_duration_ms(s: str) -> int:
    """ISO-8601 day/time duration → milliseconds (the ago() argument
    grammar: P…DT…H…M…S; calendar units — years/months — are rejected
    because they have no fixed millisecond width)."""
    m = _ISO_DUR_RE.match(s.strip().upper())
    if not m or not any(m.groupdict().values()):
        raise ValueError(
            f"ago(): cannot parse ISO-8601 duration {s!r} (use P[n]DT[n]H[n]M[n]S; "
            "calendar units are not supported)"
        )
    g = {k: float(v) if v else 0.0 for k, v in m.groupdict().items()}
    return int((((g["d"] * 24 + g["h"]) * 60 + g["m"]) * 60 + g["s"]) * 1000)


_GAPFILL_RE = re.compile(r"\bGAPFILL\s*\(", re.IGNORECASE)
_BUCKET_UNITS_MS = {
    "MILLISECONDS": 1,
    "SECONDS": 1_000,
    "MINUTES": 60_000,
    "HOURS": 3_600_000,
    "DAYS": 86_400_000,
}


def _parse_time_spec_ms(spec: str) -> int:
    """'N:UNIT' (the public timeBucket grammar subset) → milliseconds."""
    parts = spec.strip().split(":")
    if len(parts) != 2 or not parts[0].isdigit() or parts[1].upper() not in _BUCKET_UNITS_MS:
        raise ValueError(
            f"GAPFILL: cannot parse bucket spec {spec!r} (expected 'N:UNIT', "
            f"UNIT in {sorted(_BUCKET_UNITS_MS)})"
        )
    return int(parts[0]) * _BUCKET_UNITS_MS[parts[1].upper()]


def _parse_fill_default(arg: str):
    a = arg.strip()
    if a.startswith("'"):
        return _unquote(a)
    try:
        return int(a)
    except ValueError:
        return float(a)


def _enclosing_subquery(sql: str, pos: int) -> tuple[int, int] | None:
    """Innermost balanced ``( SELECT … )`` span containing ``pos``
    (string literals skipped), or None when the position sits in the
    top-level statement. Supports the public aggregate-over-gapfill
    shape: the GAPFILL projection lives in a subquery and the outer
    query aggregates the densified rows."""
    stack: list[int] = []
    best: tuple[int, int] | None = None
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":  # skip '…''…' literals
            i += 1
            while i < n:
                if sql[i] == "'":
                    if i + 1 < n and sql[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
        elif ch == "(":
            stack.append(i)
        elif ch == ")":
            if stack:
                lo = stack.pop()
                if lo < pos < i and sql[lo + 1 : i].lstrip()[:6].upper() == "SELECT":
                    if best is None or lo > best[0]:
                        best = (lo, i)
        i += 1
    return best


def _parse_gapfill(sql: str):
    """Detect + parse the public GAPFILL table-function projection:
    GAPFILL(timeExpr, 'format', 'startMs', 'endMs', 'N:UNIT',
    FILL(col, 'mode'[, default])…, TIMESERIESON(k1, …)) AS alias.
    Returns (inner_sql, alias, fmt_spec, start_raw, end_raw, bucket_ms,
    keys, fills) — inner_sql is the query with the GAPFILL call replaced
    by `timeExpr AS alias` — or None when the statement has no GAPFILL.
    ``fmt_spec`` is the parsed DateTimeFormat of the time column (any
    EPOCH unit or SIMPLE_DATE_FORMAT, the public format families;
    start/end literals are expressed in that same format, round 7 —
    previously only '1:MILLISECONDS:EPOCH' was accepted)."""
    from apache_pinot_spark.plans.schema import DateTimeFormat

    m = _GAPFILL_RE.search(sql)
    if m is None:
        return None
    end, args = _scan_call(sql, m.end() - 1)
    am = re.match(r"\s+AS\s+([A-Za-z_]\w*)", sql[end:], re.IGNORECASE)
    if am is None:
        raise ValueError("GAPFILL: the call needs an output alias (… AS time_col)")
    alias = am.group(1)
    if len(args) < 5:
        raise ValueError(
            "GAPFILL needs (timeExpr, 'format', 'start', 'end', 'bucket', …)"
        )
    fmt_spec = DateTimeFormat.parse(_unquote(args[1]))
    if fmt_spec.fmt not in ("EPOCH", "SIMPLE_DATE_FORMAT") or (
        fmt_spec.fmt == "EPOCH" and fmt_spec.unit not in DateTimeFormat._UNIT_MILLIS
    ):
        raise ValueError(
            f"GAPFILL: unsupported time format {_unquote(args[1])!r} — "
            "EPOCH units (MILLISECONDS/SECONDS/MINUTES/HOURS/DAYS) and "
            "SIMPLE_DATE_FORMAT patterns are supported"
        )
    start_raw, end_raw = _unquote(args[2]), _unquote(args[3])
    bucket_ms = _parse_time_spec_ms(_unquote(args[4]))
    if fmt_spec.fmt == "EPOCH" and fmt_spec.unit_millis > 1:
        # The output time column renders as bucket_start / unit; that is
        # lossless ONLY when every bucket start is a unit multiple. The
        # start literal is given IN units (always aligned), so only the
        # bucket width can break alignment. Validate instead of silently
        # truncating (adjacent buckets would collapse onto one value).
        if bucket_ms % fmt_spec.unit_millis:
            raise ValueError(
                f"GAPFILL: bucket {_unquote(args[4])!r} is not a multiple of "
                f"the declared time unit ({fmt_spec.unit_millis} ms) — the "
                "output time column could not render buckets distinctly"
            )
    keys: list[str] = []
    fills: dict[str, tuple[str, object]] = {}
    for extra in args[5:]:
        e = extra.strip()
        fm = re.match(r"(FILL|TIMESERIESON)\s*\(", e, re.IGNORECASE)
        if not fm:
            raise ValueError(f"GAPFILL: unexpected argument {e!r}")
        _, inner = _scan_call(e, fm.end() - 1)
        if fm.group(1).upper() == "TIMESERIESON":
            keys = [k.strip() for k in inner]
        else:
            if len(inner) < 2:
                raise ValueError("FILL needs (column, 'mode'[, default])")
            col, mode = inner[0].strip(), _unquote(inner[1]).upper()
            default = _parse_fill_default(inner[2]) if len(inner) > 2 else None
            if mode == "FILL_DEFAULT_VALUE" and default is None:
                raise ValueError(
                    f"FILL({col}, 'FILL_DEFAULT_VALUE') needs an explicit "
                    "default third argument"
                )
            fills[col] = (mode, default)
    if not keys:
        raise ValueError("GAPFILL needs TIMESERIESON(key, …) naming the series")
    inner_sql = (
        sql[: m.start()] + f"{args[0].strip()} AS {alias}" + sql[end + am.end() :]
    )
    return inner_sql, alias, fmt_spec, start_raw, end_raw, bucket_ms, keys, fills


# --------------------------------------------------------------------------
# Dialect rewriter
# --------------------------------------------------------------------------

_AGG_RE = re.compile(
    r"\b(count|sum|min|max|avg|percentile(?:_approx)?|approx_count_distinct)\s*\(",
    re.IGNORECASE,
)
# A trailing "(" means a function call using the FROM keyword (e.g. ANSI
# TRIM(LEADING '0' FROM substr(...))), not a table reference.
_FROM_RE = re.compile(r"\bFROM\s+([A-Za-z_][\w.]*)(?![\w.]|\s*\()", re.IGNORECASE)
_OPTION_RE = re.compile(r"\bOPTION\s*\(([^)]*)\)\s*;?\s*$", re.IGNORECASE)
# the statement-prefix form of query options: SET key=value; SELECT …
_SET_STMT_RE = re.compile(
    r"^\s*SET\s+(\w+)\s*=\s*('(?:[^']|'')*'|[^;]+?)\s*;", re.IGNORECASE
)
_EXPLAIN_RE = re.compile(r"^\s*EXPLAIN\s+PLAN\s+FOR\s+", re.IGNORECASE)
_TOP_RE = re.compile(r"\bTOP\s+(\d+)\b", re.IGNORECASE)
_LIMIT_RE = re.compile(r"\bLIMIT\s+\d+", re.IGNORECASE)
_ORDERBY_RE = re.compile(r"\bORDER\s+BY\b", re.IGNORECASE)
_GROUPBY_RE = re.compile(r"\bGROUP\s+BY\b", re.IGNORECASE)


@dataclass
class RewriteResult:
    sql: str
    options: dict[str, str] = field(default_factory=dict)
    # advisory rewrite notes (e.g. a scale-relevant fallback was taken);
    # surfaced so query authors see cost cliffs instead of silent reverts
    notes: list[str] = field(default_factory=list)


# Sketch-state kinds a BYTES column can be declared as — the table
# config's sketchColumns map (TableConfig.sketch_columns; serialized
# sketch metric columns, schema.md:48) — each → the UDF family
# (module, registrar) declaring one registers, or None when
# _register_session_udfs already has it or the kind runs natively.
SKETCH_KINDS: dict[str, tuple[str, str] | None] = {
    # tdunning MergingDigest VERBOSE, Pinot's object serde (tdigest.py)
    "tdigest": None,
    # DataSketches compact theta, serial 3 or 4: merged JVM-side by
    # Spark's theta_union_agg (_theta_blob_guard checks each blob first)
    "theta": None,
    # DataSketches KllDoublesSketch (kll_wire.py)
    "kll": None,
    # stream-lib HyperLogLogPlus.getBytes() (hllplus_wire.py)
    "hllplus": None,
    # DataSketches HLL family 7, what Spark's hll_sketch_agg writes:
    # merged JVM-side by hll_union_agg.
    # theta and datasketches_hll are native aggregates: they share a
    # SELECT with each other and with Spark's own aggregates, but Spark
    # refuses native aggregates beside grouped-agg pandas UDFs, so
    # neither shares one with the other kinds below.
    "datasketches_hll": None,
    # stream-lib HyperLogLog.getBytes(), Pinot's DISTINCTCOUNTHLL wire
    "hll_clearspring": ("functions.hll_clearspring", "register_clearspring_udfs"),
    # DataSketches CpcSketch.toByteArray(), all five flavours (cpc_wire.py)
    "cpc": ("functions.cpc_wire", "register_cpc_udfs"),
    # serialized RoaringBitmap, portable spec (bitmap_wire.py)
    "bitmap": ("functions.bitmap_wire", "register_bitmap_udfs"),
    # DataSketches integer-summary tuple sketch (tuple_wire.py)
    "tuple": ("functions.tuple_wire", "register_tuple_udfs"),
    # DataSketches frequencies sketch of longs / strings (freq_wire.py)
    "freq_longs": ("functions.freq_wire", "register_freq_wire_udfs"),
    "freq_strings": ("functions.freq_wire", "register_freq_wire_udfs"),
}


def check_sketch_columns(mapping: dict[str, str], *schemas: T.StructType) -> dict[str, str]:
    """Column → lower-cased kind, once every kind is in SKETCH_KINDS and
    every mapped column that one of ``schemas`` holds is BYTES;
    otherwise ValueError naming the offending ones."""
    kinds = {col: str(kind).lower() for col, kind in mapping.items()}
    unknown = {c: mapping[c] for c, k in kinds.items() if k not in SKETCH_KINDS}
    if unknown:
        raise ValueError(
            f"sketchColumns: unknown sketch kind in {unknown}; "
            f"expected one of {sorted(SKETCH_KINDS)}"
        )
    not_bytes = {
        f.name: f.dataType.simpleString()
        for schema in schemas
        for f in schema.fields
        if f.name in kinds and not isinstance(f.dataType, T.BinaryType)
    }
    if not_bytes:
        raise ValueError(f"sketchColumns: a sketch column must be BYTES, got {not_bytes}")
    return kinds


# --------------------------------------------------------------------------
# Theta sketches (DISTINCTCOUNTTHETASKETCH and its RAW form): Spark's
# native DataSketches functions, JVM-side end to end
# --------------------------------------------------------------------------

_THETA_DEFAULT_LG_K = 12  # nominal entries 4096, the library's default
_THETA_PARAMS_RE = re.compile(
    r"(?i)\s*(nominalEntries|samplingProbability|accuracy)\s*="
)
# Spark type → the cast that makes a raw column a theta_sketch_agg input
# (which takes INT, BIGINT, FLOAT, DOUBLE, STRING and BINARY only); each
# is injective, so distinct counts do not change
_THETA_INPUT_CASTS = {
    "timestamp": "unix_micros({})",
    "date": "unix_date({})",
    "smallint": "CAST({} AS INT)",
    "tinyint": "CAST({} AS INT)",
    "boolean": "CAST({} AS INT)",
    "decimal": "CAST({} AS STRING)",
}
_THETA_SET_TOKEN = re.compile(
    r"\s*(SET_UNION|SET_INTERSECT|SET_DIFF|\(|\)|,|\$\d+)\s*", re.IGNORECASE
)
_THETA_SET_FNS = {
    "SET_UNION": "theta_union",
    "SET_INTERSECT": "theta_intersection",
    "SET_DIFF": "theta_difference",
}


def _theta_lg_k(params: str) -> int:
    """``lgNomEntries`` for a Pinot theta parameter string
    (``nominalEntries=…;samplingProbability=…``): ceil(log2(nominalEntries)),
    the library's own rounding, or the default when the string names
    none. ValueError outside the library's 4..26."""
    m = re.search(r"(?i)nominalEntries\s*=\s*(\d+)", params)
    if m is None:
        return _THETA_DEFAULT_LG_K
    lg_k = (int(m.group(1)) - 1).bit_length()
    if not 4 <= lg_k <= 26:
        raise ValueError(
            f"theta nominalEntries={m.group(1)}: must round up to 2^4..2^26"
        )
    return lg_k


def theta_set_sql(expr: str, legs: list[str], lg_k: int) -> str:
    """Compile a theta post-aggregation expression: ``SET_UNION(…)``,
    ``SET_INTERSECT(…)``, ``SET_DIFF(a, b)``, nested, over ``$k`` (the
    sketch of the k-th filter predicate, ``legs[k - 1]``), into nested
    native theta_union / theta_intersection / theta_difference calls.
    ValueError on anything else."""
    toks = [t.upper() for t in _THETA_SET_TOKEN.findall(expr)]
    if not toks or _THETA_SET_TOKEN.sub("", expr).strip():
        raise ValueError(f"theta set expression: cannot parse {expr!r}")
    pos = 0

    def take() -> str:
        nonlocal pos
        if pos == len(toks):
            raise ValueError(f"theta set expression: {expr!r} ends early")
        pos += 1
        return toks[pos - 1]

    def parse() -> str:
        t = take()
        if t.startswith("$"):
            if not 1 <= int(t[1:]) <= len(legs):
                raise ValueError(
                    f"theta set expression references {t} but only "
                    f"{len(legs)} filter predicates were given"
                )
            return legs[int(t[1:]) - 1]
        if t not in _THETA_SET_FNS or take() != "(":
            raise ValueError(f"theta set expression: expected SET_…( or $k in {expr!r}")
        args = [parse()]
        while (sep := take()) == ",":
            args.append(parse())
        if sep != ")" or (t == "SET_DIFF" and len(args) != 2):
            raise ValueError(f"theta set expression: bad arguments to {t} in {expr!r}")
        out = args[0]
        for arg in args[1:]:
            lg = f", {lg_k}" if t == "SET_UNION" else ""
            out = f"{_THETA_SET_FNS[t]}({out}, {arg}{lg})"
        return out

    out = parse()
    if pos != len(toks):
        raise ValueError(f"theta set expression: trailing tokens in {expr!r}")
    return out


# A compact theta sketch's preamble as hex digits, two per byte:
# preamble longs, serial version, family 3, two layout bytes, flags (bit
# 0 big-endian, bit 2 empty, bit 4 ordered), then the seed hash, which
# must be the default seed's (CC93: DataSketches' hash of 9001) unless the
# sketch is empty; an estimation blob's theta long follows, little-endian,
# in (0, 2^63).
_THETA_FLAGS_SEED = "(?:.[02468ACE]CC93|.[46CE]....)"
_THETA_LONG = "(?!0{16}).{14}[0-7]."
_THETA_PREAMBLE_RE = (
    f"^(?:0[12]0303....{_THETA_FLAGS_SEED}"  # serial 3: empty, one item, exact
    f"|030303....{_THETA_FLAGS_SEED}.{{16}}{_THETA_LONG}"  # serial 3 estimation
    f"|010403....{_THETA_FLAGS_SEED}"  # serial 4 (compressed) exact
    f"|020403....{_THETA_FLAGS_SEED}{_THETA_LONG})"  # serial 4 estimation
)


def _theta_blob_guard(col: str) -> str:
    """``col`` where it is NULL or holds a compact theta sketch this
    engine merges (_THETA_PREAMBLE_RE, and in an ordered serial-3
    estimation blob a last entry below theta); a raise_error otherwise.
    The library reads such malformed headers without complaint and
    answers 0 or a wrong count."""
    h = f"hex(substring({col}, 1, 24))"

    def big_endian(le_hex: str) -> str:
        return f"concat_ws('', reverse(regexp_extract_all({le_hex}, '(..)', 1)))"

    entry_past_theta = (
        f"{h} RLIKE '^030303....[13579BDF]' AND length({col}) > 24 AND "
        f"{big_endian(f'hex(substring({col}, -8))')} >= "
        f"{big_endian(f'substr({h}, 33, 16)')}"
    )
    return (
        f"CASE WHEN {col} IS NULL OR ({h} RLIKE '{_THETA_PREAMBLE_RE}' "
        f"AND NOT ({entry_past_theta})) THEN {col} ELSE raise_error("
        f"'{col}: not a compact theta sketch of the default seed') END"
    )


class PinotDialect:
    """Stateless-ish rewriter; array-column, JSON-schema, and
    timestamp-index metadata come from the owning engine (or empty for
    standalone use)."""

    def __init__(
        self,
        array_columns: set[str] | None = None,
        json_schemas: dict[str, T.DataType] | None = None,
        timestamp_index: dict[tuple[str, str], str] | None = None,
        text_index: dict[str, str] | None = None,
        table_columns: set[str] | None = None,
        binary_columns: set[str] | None = None,
        json_configs: dict | None = None,
        segment_partitions: dict[str, int] | None = None,
        sketch_ranges: dict[str, tuple[float, float]] | None = None,
        sketch_columns: dict[str, str] | None = None,
        column_types: dict[str, str] | None = None,
    ):
        self.array_columns = array_columns or set()
        # real column names of registered tables: a SELECT alias that
        # shadows a real column must NOT be substituted in WHERE (the
        # column reference wins, as in Pinot/standard SQL)
        self.table_columns = table_columns or set()
        # BYTES columns: DISTINCTCOUNTHLL over one merges serialized HLL
        # register sketches instead of hashing raw values
        # (configuration-reference/schema.md:48)
        self.binary_columns = binary_columns or set()
        # BYTES histogram-sketch column → its declared [lo, hi) value
        # range (needed to interpret bin indices as values)
        self.sketch_ranges = sketch_ranges or {}
        # declared BYTES sketch-state column → kind (SKETCH_KINDS): the
        # aggregate over it merges in that kind's wire domain
        self.sketch_columns = sketch_columns or {}
        # column → Spark type (simpleString): raw theta sketch inputs
        # cast by it (_THETA_INPUT_CASTS)
        self.column_types = column_types or {}
        self.json_schemas = json_schemas or {}  # column name → inferred schema
        # column → JsonIndexConfig (flattening rules, json-index.md:53-81)
        self.json_configs = json_configs or {}
        # segment-partition routing (Pinot segmentPartitionConfig): column
        # → partition count; equality predicates on the column get the
        # matching bucket predicate so the parquet scan partition-prunes
        self.segment_partitions = segment_partitions or {}
        # (time column, UNIT) → materialized `$col$UNIT` column
        # (timestamp-index.md:25-28: the index rewrite targets dateTrunc)
        self.timestamp_index = timestamp_index or {}
        # text column → materialized tokenized shadow column (`$col$tokens`,
        # the engine's Lucene-index analogue: queries skip re-tokenizing)
        self.text_index = text_index or {}
        # per-rewrite accumulator of raw DISTINCTCOUNTHLL arguments (reset
        # by rewrite(); resolved by _expand_hll)
        self._hll_args: list[str] = []

    # -- function handlers ------------------------------------------------
    def _handlers(self) -> dict[str, Callable[[list[str]], str]]:
        def _require_kind(arg: str, kind: str, fn: str) -> str:
            arg = arg.strip()
            if self.sketch_columns.get(arg) != kind:
                raise ValueError(
                    f"{fn}({arg}): column is not a registered {kind} sketch "
                    "BYTES column (declare it in sketchColumns / "
                    "PinotEngine.apply_sketch_columns)"
                )
            return arg

        def add(a):
            return f"(({a[0]}) + ({a[1]}))"

        def sub(a):
            return f"(({a[0]}) - ({a[1]}))"

        def mult(a):
            return f"(({a[0]}) * ({a[1]}))"

        def div(a):
            return f"((CAST({a[0]} AS DOUBLE)) / ({a[1]}))"

        def date_trunc(a):
            unit = _unquote(a[0]).upper()
            # timestamp-index rewrite (timestamp-index.md:41: 45s → 4.2s):
            # substitute the materialized pre-truncated column when the
            # table layout declares one for this (column, granularity)
            mat = self.timestamp_index.get((a[1].strip(), unit))
            if mat:
                return f"`{mat}`"
            return f"CAST(unix_millis(CAST(date_trunc('{unit}', {a[1]}) AS TIMESTAMP)) AS BIGINT)"

        def from_datetime(a):
            return f"unix_millis(to_timestamp({a[0]}, {a[1]}))"

        def to_datetime(a):
            return f"date_format(timestamp_millis({a[0]}), {a[1]})"

        def distinctcount(a):
            return f"COUNT(DISTINCT {a[0]})"

        def distinctcounthll(a):
            # Portable register-HLL (functions/hll.py): deterministic and
            # oracle-reproducible. Over a BYTES column the argument is a
            # serialized register sketch → merge instead of re-hash
            # (configuration-reference/schema.md:48). Raw columns emit a
            # placeholder that _expand_hll later resolves to the fast
            # precomputed-pair shape (or the inline form for multi-FROM
            # statements it cannot safely wrap).
            from apache_pinot_spark.functions.hll import hll_merge_estimate_sql

            arg = a[0].strip()
            if self.sketch_columns.get(arg) == "hll_clearspring":
                from apache_pinot_spark.functions.hll_clearspring import (
                    ESTIMATE_UDF,
                    MERGE_UDF,
                )

                return f"{ESTIMATE_UDF}({MERGE_UDF}({arg}))"
            if self.sketch_columns.get(arg) == "datasketches_hll":
                # Apache DataSketches HLL wire blobs (family 7 — what
                # Spark's own hll_sketch_agg and the wider Spark/
                # Databricks ecosystem serialize): merged and estimated
                # ENTIRELY JVM-side by the native functions — the one
                # sketch-column kind with a zero-Python merge path
                # allowDifferentLgConfigK=true: segments written with
                # different lgK over time (the ecosystem-interop case)
                # must merge, not abort
                return (
                    f"CAST(ROUND(hll_sketch_estimate("
                    f"hll_union_agg({arg}, true))) AS BIGINT)"
                )
            if arg in self.binary_columns:
                return hll_merge_estimate_sql(a[0], "spark")
            try:
                k = self._hll_args.index(arg)
            except ValueError:
                k = len(self._hll_args)
                self._hll_args.append(arg)
            return f"__PINOT_HLL_EST_{k}__"

        def distinctcounthllplus(a):
            # Over a registered HLL++ BYTES column: merge + estimate the
            # migrated stream-lib blobs (functions/hllplus_wire.py).
            # Raw columns: Spark-native HLL++ (fast JVM path, NOT
            # oracle-reproducible).
            # A BYTES column must be declared: counting distinct
            # serialized blobs is never the intent.
            arg = a[0].strip()
            if self.sketch_columns.get(arg) == "hllplus" or arg in self.binary_columns:
                arg = _require_kind(arg, "hllplus", "DISTINCTCOUNTHLLPLUS")
                from apache_pinot_spark.functions.hllplus_wire import (
                    ESTIMATE_UDF,
                    MERGE_UDF,
                )

                return f"{ESTIMATE_UDF}({MERGE_UDF}({arg}))"
            return f"approx_count_distinct({a[0]})"

        def distinctcountrawhllplus(a):
            # RAW HLL++ form: the merged (or freshly built) sketch as a
            # hex WIRE blob, loadable by the reference client libraries
            # (functions/hllplus_wire.py). Registered BYTES columns
            # merge; raw columns build at the stream-lib default p/sp.
            # An undeclared BYTES column is refused: building a sketch OF
            # serialized blobs is never the intent.
            from apache_pinot_spark.functions.hllplus_wire import (
                BUILD_UDF,
                MERGE_UDF,
            )

            arg = a[0].strip()
            if self.sketch_columns.get(arg) == "hllplus" or arg in self.binary_columns:
                arg = _require_kind(arg, "hllplus", "DISTINCTCOUNTRAWHLLPLUS")
                return f"hex({MERGE_UDF}({arg}))"
            # the CAST renders values with the JVM's own toString — exact
            # Long/Double rendering parity on any JVM, and nullable int
            # columns stay exact (no Arrow float64 coercion in the UDF)
            return f"hex({BUILD_UDF}(CAST({arg} AS STRING)))"

        def distinctcountsmarthll(a):
            # Public SMART form: exact counting below a size threshold,
            # HLL above. A single deterministic expression cannot switch
            # representation mid-aggregate, so this engine always takes
            # the EXACT branch — every answer the smart form could give
            # is within its error envelope (exact ⊂ approximate), and
            # the threshold argument is accepted and ignored. Memory is
            # cardinality-bound like DISTINCTCOUNT; callers needing
            # constant state at scale use DISTINCTCOUNTHLL explicitly.
            return f"COUNT(DISTINCT {a[0]})"

        def percentilesmarttdigest(a):
            # SMART t-digest: exact below threshold, digest above — same
            # stance, served by the deterministic percentile_approx path
            q = float(a[1]) / 100.0
            return f"percentile_approx({a[0]}, {q})"

        def _theta_form(a, fn):
            """(column, lg_k, predicates, set expression or None) of
            ``fn(column[, 'params'][, 'pred1', …, 'predN', 'SET_EXPR'])``;
            ValueError for predicates without a set expression."""
            col = a[0].strip()
            rest = [_unquote(x) for x in a[1:]]
            lg_k = _THETA_DEFAULT_LG_K
            if rest and _THETA_PARAMS_RE.match(rest[0]):
                lg_k = _theta_lg_k(rest.pop(0))
            if not rest:
                return col, lg_k, [], None
            if len(rest) == 1:
                raise ValueError(
                    f"{fn}({col}, {rest[0]!r}): filter predicates need a "
                    "set expression after them, e.g. 'SET_UNION($1)'"
                )
            return col, lg_k, rest[:-1], rest[-1]

        def _theta_sketch(col, lg_k, pred=None):
            """The group's sketch of ``col`` (rows where ``pred`` holds):
            a declared column unions its blobs, a raw one builds from
            its values."""
            declared = self.sketch_columns.get(col) == "theta"
            if declared:
                value = _theta_blob_guard(col)
            else:
                kind = self.column_types.get(col, "").split("(")[0]
                value = _THETA_INPUT_CASTS.get(kind, "{}").format(col)
            if pred is not None:
                value = f"CASE WHEN ({pred}) THEN {value} END"
            agg = "theta_union_agg" if declared else "theta_sketch_agg"
            return f"{agg}({value}, {lg_k})"

        def _theta_combined(col, lg_k, preds, expr):
            legs = [_theta_sketch(col, lg_k, p) for p in preds]
            return theta_set_sql(expr, legs, lg_k)

        def distinctcountthetasketch(a):
            # Over a BYTES theta-sketch column (sketchColumns kind theta):
            # union the group's sketches and estimate (BIGINT, the
            # public function's return shape). Over a raw column the
            # engine answers EXACTLY (COUNT DISTINCT): the sketch is an
            # approximation device, not a semantic; exact is both a valid
            # estimate and oracle-reproducible.
            # The multi-arg set-expression form — (col[, 'params'],
            # 'pred1', …, 'SET_INTERSECT($1, $2)') — compiles to one
            # aggregate pass building a CASE-guarded sketch per predicate,
            # combined by the native set operations.
            col, lg_k, preds, expr = _theta_form(a, "DISTINCTCOUNTTHETASKETCH")
            if expr is not None:
                return f"theta_sketch_estimate({_theta_combined(col, lg_k, preds, expr)})"
            if self.sketch_columns.get(col) == "theta":
                return f"theta_sketch_estimate({_theta_sketch(col, lg_k)})"
            return f"COUNT(DISTINCT {a[0]})"

        def distinctcountrawthetasketch(a):
            # RAW variant: the merged serialized sketch itself (hex), for
            # clients that post-aggregate across queries. Supports the
            # same multi-arg set-expression form as the estimate
            # function (returns the combined sketch's blob).
            col, lg_k, preds, expr = _theta_form(a, "DISTINCTCOUNTRAWTHETASKETCH")
            if expr is not None:
                return f"hex({_theta_combined(col, lg_k, preds, expr)})"
            col = _require_kind(col, "theta", "DISTINCTCOUNTRAWTHETASKETCH")
            return f"hex({_theta_sketch(col, lg_k)})"

        def distinctcounttuplesketch(a):
            # Over a BYTES integer-sum tuple-sketch column
            # (sketchColumns kind tuple): merge the group's sketches in the
            # DataSketches wire domain and report the distinct estimate.
            # Over a raw column: exact, same stance as the theta form.
            from apache_pinot_spark.functions.tuple_wire import ESTIMATE_UDF as TE

            arg = a[0].strip()
            if self.sketch_columns.get(arg) == "tuple":
                return f"CAST(ROUND({TE}({arg})) AS BIGINT)"
            return f"COUNT(DISTINCT {a[0]})"

        def distinctcountrawintegersumtuplesketch(a):
            from apache_pinot_spark.functions.tuple_wire import UNION_UDF as TU

            arg = _require_kind(a[0], "tuple", "DISTINCTCOUNTRAWINTEGERSUMTUPLESKETCH")
            return f"hex({TU}({arg}))"

        def sumvaluesintegersumtuplesketch(a):
            # Raw sum of the merged sketch's RETAINED summaries (the
            # merge-then-report convention; tuple_wire.sum_values) —
            # deterministic, and equal to the true total in the exact
            # (sub-nominal) regime.
            from apache_pinot_spark.functions.tuple_wire import SUMVALUES_UDF as TS

            arg = _require_kind(a[0], "tuple", "SUMVALUESINTEGERSUMTUPLESKETCH")
            return f"{TS}({arg})"

        def avgvalueintegersumtuplesketch(a):
            from apache_pinot_spark.functions.tuple_wire import AVGVALUE_UDF as TA

            arg = _require_kind(a[0], "tuple", "AVGVALUEINTEGERSUMTUPLESKETCH")
            return f"{TA}({arg})"

        def distinctcountbitmap(a):
            # Over a BYTES column declared as serialized RoaringBitmaps
            # (sketchColumns kind bitmap): OR the blobs, count the union —
            # the public DistinctCountBitmapAggregationFunction BYTES
            # behavior (functions/bitmap_wire.py, byte-golden vs the
            # RoaringBitmap jar). Over a raw column the bitmap is only
            # an exact-set carrier, so COUNT DISTINCT is the same
            # answer computed JVM-side.
            from apache_pinot_spark.functions.bitmap_wire import CARD_UDF

            arg = a[0].strip()
            if self.sketch_columns.get(arg) == "bitmap":
                return f"{CARD_UDF}({arg})"
            return f"COUNT(DISTINCT {a[0]})"

        def distinctcountrawbitmap(a):
            # RAW convention (engine extension mirroring the sketch
            # family's RAW forms): the merged serialized bitmap as hex,
            # for clients that post-aggregate across queries. Requires a
            # registered bitmap BYTES column — for raw columns use
            # ID_SET, the engine's portable exact-set carrier.
            from apache_pinot_spark.functions.bitmap_wire import UNION_UDF as BM_UNION

            arg = _require_kind(a[0], "bitmap", "DISTINCTCOUNTRAWBITMAP")
            return f"hex({BM_UNION}({arg}))"

        def distinctcountcpcsketch(a):
            # Over a BYTES column declared as serialized DataSketches
            # CPC sketches (sketchColumns kind cpc): merge the blobs in the
            # coupon-matrix domain and estimate library-exactly (HIP for
            # a single un-merged blob, ICON otherwise —
            # functions/cpc_wire.py, golden vs datasketches-java). Over a
            # raw column COUNT DISTINCT is the exact answer the sketch
            # approximates, computed JVM-side.
            from apache_pinot_spark.functions.cpc_wire import EST_UDF

            arg = a[0].strip()
            if self.sketch_columns.get(arg) == "cpc":
                return f"{EST_UDF}({arg})"
            return f"COUNT(DISTINCT {a[0]})"

        def distinctcountrawcpcsketch(a):
            # RAW form: the merged MERGED-format wire blob as hex —
            # byte-identical to the jar's own CpcUnion result, loadable
            # by CpcSketch.heapify.
            from apache_pinot_spark.functions.cpc_wire import UNION_UDF as CPC_UNION

            arg = _require_kind(a[0], "cpc", "DISTINCTCOUNTRAWCPCSKETCH")
            return f"hex({CPC_UNION}({arg}))"

        # -- multi-valued aggregate family (public Pinot surface; the
        # reference documents MV columns at schema.md:25 — these aggregate
        # over every ELEMENT of the arrays in the group, JVM-side)
        def countmv(a):
            return f"SUM(COALESCE(cardinality({a[0]}), 0))"

        def summv(a):
            return (
                f"SUM(aggregate({a[0]}, CAST(0.0 AS DOUBLE), "
                f"(acc, x) -> acc + CAST(x AS DOUBLE)))"
            )

        def minmv(a):
            return f"MIN(array_min({a[0]}))"

        def maxmv(a):
            return f"MAX(array_max({a[0]}))"

        def avgmv(a):
            return (
                f"(SUM(aggregate({a[0]}, CAST(0.0 AS DOUBLE), "
                f"(acc, x) -> acc + CAST(x AS DOUBLE))) "
                f"/ SUM(COALESCE(cardinality({a[0]}), 0)))"
            )

        def arraylength(a):
            return f"cardinality({a[0]})"

        # -- statistical aggregate pack (public aggregation surface:
        # variance/stddev pop+samp, covariance, skewness, kurtosis,
        # fourth moment, mode, minmaxrange, distinct sum/avg, exact
        # decimal sum). Spark's skewness/kurtosis use the population
        # central-moment formulas (kurtosis = n·m4/m2² − 3), the same
        # convention as the public engine's fourth-moment family.
        def _sql_quote(s2: str) -> str:
            # re-embedding a pattern into generated SQL: escape quote
            # characters so a pattern containing ' cannot break out
            return s2.replace("\\", "\\\\").replace("'", "''")

        def _fmt_to_millis(col: str, fmt: "DateTimeFormat") -> str:
            if fmt.fmt == "SIMPLE_DATE_FORMAT":
                return (
                    f"unix_millis(to_timestamp(CAST({col} AS STRING), "
                    f"'{_sql_quote(fmt.pattern)}'))"
                )
            if fmt.fmt == "TIMESTAMP":
                return f"unix_millis(CAST({col} AS TIMESTAMP))"
            return f"(CAST({col} AS BIGINT) * {fmt.unit_millis})"

        def datetimeconvert(a):
            # DATETIMECONVERT(col, inputFormat, outputFormat,
            # outputGranularity): the public time-normalization
            # workhorse. All three specs are literals, so this compiles
            # to pure arithmetic / to_timestamp expressions (the
            # plans/schema.DateTimeFormat grammar, schema.md:69-71):
            # input → epoch ms → floor to the granularity → output form.
            from apache_pinot_spark.plans.schema import DateTimeFormat

            if len(a) != 4:
                raise ValueError(
                    "DATETIMECONVERT needs (col, inputFormat, outputFormat, "
                    "outputGranularity)"
                )
            infmt = DateTimeFormat.parse(_unquote(a[1]))
            outfmt = DateTimeFormat.parse(_unquote(a[2]))
            gran = _parse_time_spec_ms(_unquote(a[3]))
            bucketed = f"(({_fmt_to_millis(a[0], infmt)}) DIV {gran} * {gran})"
            if outfmt.fmt == "SIMPLE_DATE_FORMAT":
                return (
                    f"date_format(timestamp_millis({bucketed}), "
                    f"'{_sql_quote(outfmt.pattern)}')"
                )
            if outfmt.fmt == "TIMESTAMP":
                return f"timestamp_millis({bucketed})"
            return f"({bucketed} DIV {outfmt.unit_millis})"

        def timeconvert(a):
            # TIMECONVERT(col, fromUnit, toUnit): integer unit change
            from apache_pinot_spark.plans.schema import DateTimeFormat

            units = DateTimeFormat._UNIT_MILLIS
            fu, tu = _unquote(a[1]).upper(), _unquote(a[2]).upper()
            if fu not in units or tu not in units:
                raise ValueError(
                    f"TIMECONVERT units must be in {sorted(units)}: {fu}, {tu}"
                )
            return f"(CAST({a[0]} AS BIGINT) * {units[fu]} DIV {units[tu]})"

        def minmaxrange(a):
            return f"(MAX({a[0]}) - MIN({a[0]}))"

        def distinctsum(a):
            return f"SUM(DISTINCT {a[0]})"

        def distinctavg(a):
            return f"AVG(DISTINCT {a[0]})"

        def sumprecision(a):
            # SUMPRECISION(col, precision[, scale]): exact decimal sum —
            # the overflow-proof SUM the public engine offers for money
            # columns; result keeps the declared precision/scale.
            if len(a) < 2:
                raise ValueError("SUMPRECISION needs (column, precision[, scale])")
            prec = int(a[1])
            scale = int(a[2]) if len(a) > 2 else 0
            if not 1 <= prec <= 38 or not 0 <= scale <= prec:
                raise ValueError(
                    f"SUMPRECISION: invalid precision/scale ({prec}, {scale})"
                )
            return f"SUM(CAST({a[0]} AS DECIMAL({prec},{scale})))"

        def fourthmoment(a):
            # central 4th moment Σ(x−μ)⁴/n, recovered from Spark's excess
            # kurtosis: m4 = (kurtosis + 3) · var_pop². Constant groups:
            # kurtosis is NaN at zero variance but the true m4 is exactly
            # 0 — guard it (identical aggregate expressions dedup in the
            # plan, so var_pop is computed once).
            return (
                f"(CASE WHEN var_pop({a[0]}) = 0 THEN CAST(0.0 AS DOUBLE) "
                f"ELSE (kurtosis({a[0]}) + 3) * POWER(var_pop({a[0]}), 2) END)"
            )

        def mode_(a):
            # MODE(col[, 'MIN'|'MAX']): most frequent value as DOUBLE;
            # ties reduce with MIN by default (the public contract).
            # Spark's deterministic mode returns the LOWEST tied value,
            # which IS the MIN reducer; MAX negates twice. The AVG
            # reducer needs the whole tie set — explicit no.
            reducer = _unquote(a[1]).upper() if len(a) > 1 else "MIN"
            if reducer == "MIN":
                return f"CAST(mode({a[0]}, true) AS DOUBLE)"
            if reducer == "MAX":
                return f"CAST(-mode(-({a[0]}), true) AS DOUBLE)"
            raise ValueError(
                f"MODE reducer {reducer!r} not supported (MIN/MAX; AVG "
                "over the tie set is not expressible as a single "
                "deterministic Spark aggregate)"
            )

        def minmaxrangemv(a):
            return f"(MAX(array_max({a[0]})) - MIN(array_min({a[0]})))"

        # -- MV aggregate variants over the flattened element stream.
        # Memory note (stated per the loud-fallback policy): the
        # collect_list/percentile forms hold the group's MV ELEMENTS in
        # the aggregation buffer — bounded by elements-per-group like
        # exact DISTINCTCOUNT, not constant-state. Element nulls are
        # dropped first (every engine aggregate ignores SQL NULLs).
        def _flat_elements(col: str) -> str:
            return f"flatten(collect_list(filter({col}, x -> x IS NOT NULL)))"

        def _distinct_elements_str(col: str) -> str:
            return (
                f"array_distinct(flatten(collect_list("
                f"filter(CAST({col} AS ARRAY<STRING>), x -> x IS NOT NULL))))"
            )

        def distinctsummv(a):
            # sum of DISTINCT elements across the group's arrays — one
            # transform binding so the distinct array is computed once
            return (
                f"element_at(transform(array(array_distinct({_flat_elements(a[0])})), "
                f"d -> aggregate(d, CAST(0.0 AS DOUBLE), "
                f"(acc, x) -> acc + CAST(x AS DOUBLE))), 1)"
            )

        def distinctavgmv(a):
            return (
                f"element_at(transform(array(array_distinct({_flat_elements(a[0])})), "
                f"d -> aggregate(d, CAST(0.0 AS DOUBLE), "
                f"(acc, x) -> acc + CAST(x AS DOUBLE)) / cardinality(d)), 1)"
            )

        def distinctcountbitmapmv(a):
            # exact distinct over MV elements (scalar
            # DISTINCTCOUNTBITMAP's convention: the bitmap sketch is
            # exact, so the plain distinct count IS the answer)
            return (
                f"cardinality(array_distinct({_flat_elements(a[0])}))"
            )

        def arrayagg(a):
            # ARRAYAGG(col, 'dataType'[, isDistinct]): group values as an
            # array; the dataType is the public serde hint (accepted,
            # types flow through Spark), optional distinct flag
            distinct = len(a) > 2 and a[2].strip().strip("'").lower() == "true"
            inner = f"collect_list({a[0]})"
            return f"array_distinct({inner})" if distinct else inner

        def distinctcounthllmv(a):
            # the portable register fold over the distinct MV elements —
            # estimate identical to DISTINCTCOUNTHLL over the exploded
            # column (functions/hll.py shares the register math)
            from apache_pinot_spark.functions.hll import (
                hll_estimate_fold_over_set_sql,
            )

            return hll_estimate_fold_over_set_sql(_distinct_elements_str(a[0]))

        def percentilemv(a):
            # exact interpolated percentile over the group's elements —
            # the same convention as the scalar PERCENTILE handler
            # (Spark percentile()); the sorted flattened array binds once
            # through a single-element transform. PERCENTILEEST/TDIGEST
            # MV forms share it (an approx contract satisfied exactly).
            q = float(a[1]) / 100.0
            flat = f"array_sort({_flat_elements(a[0])})"
            pos = f"({q!r} * (cardinality(arr) - 1))"
            lo1 = f"(CAST(FLOOR({pos}) AS INT) + 1)"
            return (
                f"element_at(transform(array({flat}), arr -> "
                f"CASE WHEN cardinality(arr) = 0 THEN CAST(NULL AS DOUBLE) "
                f"ELSE CAST(element_at(arr, {lo1}) AS DOUBLE) + "
                f"({pos} - FLOOR({pos})) * "
                f"(CAST(element_at(arr, LEAST({lo1} + 1, cardinality(arr))) AS DOUBLE) "
                f"- CAST(element_at(arr, {lo1}) AS DOUBLE)) END), 1)"
            )

        def valuein(a):
            # Pinot VALUEIN(mvCol, v1, v2, ...): in filter context, true
            # iff ANY element is in the value set
            return f"arrays_overlap({a[0]}, array({', '.join(a[1:])}))"

        def distinctcountmv(a):
            # exact distinct over all elements: flatten the group's arrays.
            # Fine for the dialect's group-by regime (distinct sets per
            # group are bounded); the explode+COUNT(DISTINCT) DataFrame
            # form is the scale path for huge per-group cardinalities.
            return f"cardinality(array_distinct(flatten(collect_list({a[0]}))))"

        def percentile(a):
            q = float(a[1]) / 100.0
            return f"percentile({a[0]}, {q})"

        def percentile_approx_(a):
            # Over a BYTES metric column the argument is a serialized
            # histogram sketch (configuration-reference/schema.md:48 —
            # TDigest-style percentile state): merge the per-row sketches
            # (element-wise count SUM) and walk the merged histogram.
            # Requires the column's declared [lo, hi) range, registered
            # via PinotEngine.register_sketch_range.
            arg = a[0].strip()
            if self.sketch_columns.get(arg) == "tdigest":
                # serialized-t-digest BYTES metric: merge the group's
                # blobs and estimate in rank space (functions/tdigest.py;
                # UDF registered by _register_session_udfs)
                from apache_pinot_spark.functions.tdigest import UDF_NAME

                return f"{UDF_NAME}({arg}, {float(a[1])!r})"
            if arg in self.binary_columns:
                rng = self.sketch_ranges.get(arg)
                if rng is None:
                    raise ValueError(
                        f"PERCENTILE over BYTES column {arg!r} needs its histogram "
                        "range: call register_sketch_range(column, lo, hi) first"
                    )
                from apache_pinot_spark.functions.quantile import (
                    merged_counts_sql,
                    percentile_walk_sql,
                )

                lo, hi = rng
                return percentile_walk_sql(merged_counts_sql(arg), lo, hi, float(a[1]))
            q = float(a[1]) / 100.0
            return f"percentile_approx({a[0]}, {q})"

        def percentile_kll(a):
            # PERCENTILEKLL(col, pct): over a registered KLL BYTES column
            # (sketchColumns kind kll) the group's serialized
            # KllDoublesSketch blobs merge in weighted-sample space and
            # estimate with the library's sorted-view rule
            # (functions/kll_wire.py — DataSketches wire interop).
            # Raw numeric columns take the deterministic
            # percentile_approx path like PERCENTILEEST.
            arg = a[0].strip()
            if self.sketch_columns.get(arg) == "kll":
                from apache_pinot_spark.functions.kll_wire import PCT_UDF

                return f"{PCT_UDF}({arg}, {float(a[1])!r})"
            q = float(a[1]) / 100.0
            return f"percentile_approx({a[0]}, {q})"

        def percentile_raw_kll(a):
            # PERCENTILERAWKLL(col[, pct[, k]]): the merged serialized
            # sketch itself (hex), for clients that post-aggregate.
            # Over a registered KLL BYTES column the group's blobs merge
            # level-wise and re-compact with the DETERMINISTIC compactor
            # (kll_wire.merge_kll_blobs — the library's own compaction
            # is randomized; ours de-randomizes the same 2-to-1 step, so
            # the blob is valid loadable KLL state AND reproducible).
            # Over a raw numeric column the sketch is built the same way
            # (kll_wire.build_kll_doubles, jar-heapify-validated). The
            # pct argument only matters to the estimate form; accepted
            # and ignored here like the reference's raw forms.
            from apache_pinot_spark.functions.kll_wire import BUILD_UDF, RAW_UDF

            arg = a[0].strip()
            if self.sketch_columns.get(arg) == "kll":
                return f"hex({RAW_UDF}({arg}))"
            k = int(float(a[2])) if len(a) > 2 else 200
            return f"hex({BUILD_UDF}(CAST({a[0]} AS DOUBLE), {k}))"

        # -- scalar-function compatibility pack (public Pinot names whose
        # Spark spelling or semantics differ; same-named functions —
        # md5, lower, trim, abs, round, regexp_like… — already pass
        # through to Spark untouched)
        def regexp_extract_(a):
            # Pinot regexpExtract(value, regexp[, group[, default]]):
            # Spark returns '' on no-match where Pinot returns the
            # default (or null) — nullif+coalesce restores that. (A
            # legitimately-empty capture also maps to the default; the
            # residual divergence of this mapping.)
            group = a[2] if len(a) > 2 else "0"
            base = f"nullif(regexp_extract({a[0]}, {a[1]}, {group}), '')"
            return f"coalesce({base}, {a[3]})" if len(a) > 3 else base

        def strpos(a):
            # Pinot strpos = Java String.indexOf: 0-based, -1 if absent.
            # Spark instr is 1-based with 0 for absent — shift by one.
            return f"(instr({a[0]}, {a[1]}) - 1)"

        def now_(a):
            return "unix_millis(current_timestamp())"  # Pinot now() = epoch ms

        def ago(a):
            # ago('PT1H30M') = now − ISO-8601 duration, in epoch ms
            ms = _iso8601_duration_ms(_unquote(a[0]))
            return f"(unix_millis(current_timestamp()) - {ms})"

        def substr_(a):
            # Pinot substr(col, start[, end]): 0-based start, exclusive
            # end, end = -1 → to end of string
            if len(a) == 2 or (len(a) == 3 and a[2].strip() == "-1"):
                return f"substring({a[0]}, ({a[1]}) + 1)"
            return f"substring({a[0]}, ({a[1]}) + 1, ({a[2]}) - ({a[1]}))"

        def histogram(a):
            # HISTOGRAM(col, lower, upper, numBins): equal-width bin
            # counts as an array; bins are [lo, hi) except the last,
            # which includes the upper edge. Bin edges are literals at
            # rewrite time, so this compiles to numBins SUM(CASE …)
            # aggregates — partial-aggregated, one shuffle, no UDF.
            col, lo, hi, n = a[0], float(a[1]), float(a[2]), int(a[3])
            if n < 1 or hi <= lo:
                raise ValueError("HISTOGRAM needs upper > lower and numBins >= 1")
            width = (hi - lo) / n
            sums = []
            for i in range(n):
                b_lo, b_hi = lo + i * width, lo + (i + 1) * width
                hi_op = "<=" if i == n - 1 else "<"
                sums.append(
                    f"SUM(CASE WHEN ({col}) >= {b_lo!r} AND ({col}) {hi_op} {b_hi!r} "
                    f"THEN 1 ELSE 0 END)"
                )
            return f"array({', '.join(sums)})"

        def distinctcountrawhll(a):
            # RAW HLL form: the MERGED serialized register sketch as hex,
            # for clients that post-aggregate estimates across queries.
            # Defined over BYTES sketch columns (raw columns use
            # DISTINCTCOUNTHLL; building a sketch there is one call away
            # via the ingestion layout).
            from apache_pinot_spark.functions.hll import hll_merge_sketch_sql

            arg = a[0].strip()
            if self.sketch_columns.get(arg) == "hll_clearspring":
                from apache_pinot_spark.functions.hll_clearspring import MERGE_UDF

                return f"hex({MERGE_UDF}({arg}))"
            if self.sketch_columns.get(arg) == "datasketches_hll":
                # merged DataSketches HLL blob, still loadable by the
                # library and by hll_sketch_estimate — all JVM-side
                # (mixed-lgK inputs allowed, as in the estimate form)
                return f"hex(hll_union_agg({arg}, true))"
            if arg not in self.binary_columns:
                raise ValueError(
                    f"DISTINCTCOUNTRAWHLL({arg}): column is not a BYTES HLL "
                    "sketch column (raw columns: use DISTINCTCOUNTHLL)"
                )
            return f"hex({hll_merge_sketch_sql(arg, 'spark')})"

        def percentilerawtdigest(a):
            # RAW t-digest form: serialized digest hex. Over a registered
            # t-digest BYTES column the group's blobs merge; over a raw
            # numeric column the digest is built from values. The
            # percentile argument exists in the public signature but does
            # not shape the RAW output — accepted and ignored.
            from apache_pinot_spark.functions.tdigest import (
                BUILD_RAW_UDF_NAME,
                RAW_UDF_NAME,
            )

            arg = a[0].strip()
            if self.sketch_columns.get(arg) == "tdigest":
                return f"hex({RAW_UDF_NAME}({arg}))"
            return f"hex({BUILD_RAW_UDF_NAME}(CAST({a[0]} AS DOUBLE)))"

        def id_set(a):
            # ID_SET(col[, 'options']): serialized set of the group's
            # distinct values, consumed by IN_ID_SET in a later query.
            # Integer columns emit the PUBLIC Pinot IdSet carrier
            # (type-tagged RoaringBitmap / Roaring64NavigableMap wire,
            # functions/idset_wire.py — byte-validated against the
            # RoaringBitmap jar), so idsets round-trip with a real Pinot
            # deployment; other types keep the engine-local JSON layout
            # (documented divergence: Pinot hashes non-int types, which
            # is not exactly invertible). The public options string —
            # 'sizeThresholdInBytes=…;expectedInsertions=…;fpp=…' —
            # drives the size-bounded BLOOM fallback (an exact carrier
            # over the threshold becomes Guava-format bloom state,
            # byte-compatible with the library; idset_wire.build_bloom).
            from apache_pinot_spark.functions.idset_wire import (
                BUILD_UDF as ID_B,
                parse_idset_options,
            )

            opts = _unquote(a[1]) if len(a) > 1 else ""
            parse_idset_options(opts)  # validate at rewrite time
            # typeof() rides along as the dispatch key, and the VALUES
            # go through CAST(… AS STRING): Arrow ships null-bearing
            # int64 to pandas as float64, which both breaks dtype
            # sniffing and ROUNDS values beyond 2^53 — strings survive
            # exactly (see register_idset_udfs)
            return (
                f"{ID_B}(CAST({a[0]} AS STRING), typeof({a[0]}), "
                f"'{_sql_quote(opts)}')"
            )

        def in_id_set(a):
            # IN_ID_SET(expr, 'base64'): membership against an ID_SET
            # blob — either carrier (auto-detected: Pinot IdSet payloads
            # lead with a type byte 0-3, the JSON layout with '[').  The
            # literal decodes at rewrite time into an IN list (values are
            # broadcast with the plan); very large sets belong in
            # IN_SUBQUERY instead, and say so.
            import base64 as _b64
            import json as _json

            blob = _unquote(a[1])
            raw = _b64.b64decode(blob) if blob else b"\x00"
            empty_set = f"(CASE WHEN {a[0]} IS NOT NULL THEN 1 = 0 END)"
            if raw and raw[0] == 3:
                # BLOOM_FILTER IdSet: approximate membership (false
                # positives at the filter's configured rate, never false
                # negatives) — the public semantics for bloom idsets,
                # served by the Guava-validated reader. Validate the
                # payload at REWRITE time so malformed blobs fail the
                # statement, not the tasks.
                from apache_pinot_spark.functions.idset_wire import (
                    BLOOM_UDF,
                    parse_bloom,
                )

                parse_bloom(raw[1:])
                esc = _sql_quote(blob)
                # STRING transport for exactness (see ID_SET); the UDF
                # parses longs and keeps NULL input NULL
                return (
                    f"{BLOOM_UDF}('{esc}', CAST({a[0]} AS STRING))"
                )
            if raw and raw[0] in (0, 1, 2):
                from apache_pinot_spark.functions.idset_wire import parse_idset

                ints = parse_idset(raw)
                if ints.size == 0:
                    # never a bare FALSE: Spark parses ``FROM t WHERE (FALSE)``
                    # as the table alias WHERE with the column list (FALSE);
                    # a NULL key stays NULL, as it does against a non-empty set
                    return empty_set
                if ints.size > 10_000:
                    raise ValueError(
                        f"IN_ID_SET: {ints.size} ids is too large for an "
                        "inline set — use IN_SUBQUERY against the source table"
                    )
                vals = ", ".join(str(int(v)) for v in ints)
                return f"(cast({a[0]} as bigint) IN ({vals}))"
            decoded = raw.decode() if raw.strip() else "[]"
            try:
                values = _json.loads(decoded) if decoded.strip() else []
            except ValueError:
                raise ValueError("IN_ID_SET: blob is not a serialized ID_SET")
            if not isinstance(values, list) or not all(
                isinstance(v, str) for v in values
            ):
                raise ValueError("IN_ID_SET: blob is not a serialized ID_SET")
            if not values:
                return empty_set
            if len(values) > 10_000:
                raise ValueError(
                    f"IN_ID_SET: {len(values)} ids is too large for an "
                    "inline set — use IN_SUBQUERY against the source table"
                )
            # Escape for Spark's string-literal grammar: backslash IS an
            # escape character in the default parser, so a value holding
            # one (or a crafted  x\') OR ...  tail) would otherwise break
            # out of the literal and become live SQL.
            quoted = ", ".join(
                "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
                for v in values
            )
            return f"(cast({a[0]} as string) IN ({quoted}))"

        def exact_distinct(a):
            # SEGMENTPARTITIONEDDISTINCTCOUNT: the public engine's
            # no-global-merge exact distinct for partition-aligned data —
            # Spark's COUNT(DISTINCT) already partial-aggregates per
            # partition and merges, so the plain form IS the optimized
            # shape here. DISTINCTCOUNTBITMAP is the public exact bitmap
            # sketch; exact distinct is the same answer.
            return f"COUNT(DISTINCT {a[0]})"

        def arg_min(a):
            # ARG_MIN(measuring, projection): projection value at the
            # minimum of the measuring expression
            return f"min_by({a[1]}, {a[0]})"

        def arg_max(a):
            return f"max_by({a[1]}, {a[0]})"

        def lastwithtime(a):
            # Public LASTWITHTIME(dataCol, timeCol, 'dataType'): value of
            # the row with the max time — max_by. The dataType is the
            # public engine's serde hint; Spark's types flow through, so
            # it is accepted and ignored.
            return f"max_by({a[0]}, {a[1]})"

        def firstwithtime(a):
            return f"min_by({a[0]}, {a[1]})"

        def _funnel_max_step_sql(a) -> str:
            # FUNNELMAXSTEP(tsExpr, windowMs, numSteps, cond1 … condN
            # [, mode]): the windowed-funnel aggregate (operators/
            # funnel.py semantics) as pure SQL — per-row matched-step
            # structs, flatten+sort per group, then the chain-DP fold.
            # Group rows by the correlation id (GROUP BY user_id …), as
            # in the public funnel functions.
            mode = ""
            if len(a) >= 4 and a[-1].strip().startswith("'"):
                from apache_pinot_spark.operators.funnel import parse_mode_flags

                raw_mode = _unquote(a[-1]).lower()
                flags = set(parse_mode_flags(raw_mode))
                allowed = {"default", "keep_all", "strict_order",
                           "strict_deduplication", "strict_increase"}
                if flags - allowed:
                    raise ValueError(
                        f"funnel mode {raw_mode!r} not supported in SQL "
                        "(default/keep_all/strict_order/"
                        "strict_deduplication/strict_increase, combinable)"
                    )
                flags -= {"default", "keep_all"}
                mode = ",".join(sorted(flags))
                a = a[:-1]
            if len(a) < 4:
                raise ValueError(
                    "FUNNELMAXSTEP needs (tsExpr, windowMs, numSteps, cond1, …)"
                )
            ts, window, n = a[0], int(a[1]), int(a[2])
            conds = a[3:]
            if len(conds) != n:
                raise ValueError(
                    f"FUNNELMAXSTEP declared {n} steps but got {len(conds)} predicates"
                )
            if "strict_increase" in mode:
                # variable-size Pareto-frontier state cannot fold in
                # fixed SQL accumulators — emit the registered Arrow
                # grouped-agg UDF instead (operators/funnel.py
                # register_funnel_udfs; NULL-ts rows dropped inside).
                # Non-matching rows ride as empty arrays; the UDF turns
                # them into step-0 events only when strict_order is on.
                from apache_pinot_spark.operators.funnel import FUNNEL_SI_UDF

                steps_arr = (
                    "filter(array("
                    + ", ".join(
                        f"CASE WHEN ({c}) THEN {i + 1} END"
                        for i, c in enumerate(conds)
                    )
                    + "), x -> x IS NOT NULL)"
                )
                of = 1 if "strict_order" in mode else 0
                dd = 1 if "strict_deduplication" in mode else 0
                return (
                    f"{FUNNEL_SI_UDF}(CAST({ts} AS BIGINT), {steps_arr}, "
                    f"{n}, {window}, {of}, {dd})"
                )
            per_row = (
                "filter(array("
                + ", ".join(
                    f"CASE WHEN ({c}) THEN named_struct("
                    f"'ts', CAST({ts} AS BIGINT), 'st', {i + 1}) END"
                    for i, c in enumerate(conds)
                )
                + "), x -> x IS NOT NULL)"
            )
            if "strict_order" in mode:
                # interleaving matters: non-matching events ride along as
                # step 0 (operators/funnel.py module doc pins the rules)
                per_row = (
                    f"(CASE WHEN size({per_row}) = 0 THEN "
                    f"array(named_struct('ts', CAST({ts} AS BIGINT), 'st', 0)) "
                    f"ELSE {per_row} END)"
                )
            # NULL-timestamp events contribute nothing in ANY mode — the
            # DataFrame operator filters them pre-shuffle
            # (_matched_events WHERE __ts IS NOT NULL); without this
            # guard a null-ts struct sorts first and poisons the fold
            # state (lv[0] = NULL in the default fold; a spurious
            # fst/kill in strict_order).
            per_row = (
                f"(CASE WHEN CAST({ts} AS BIGINT) IS NULL THEN "
                f"array() ELSE {per_row} END)"
            )
            evs = f"array_sort(flatten(collect_list({per_row})))"
            if mode == "strict_deduplication,strict_order":
                # combined flags (round 7): both rule sets in one fold —
                # the SQL twin of operators/funnel._fold_strict_order_dedup
                return (
                    f"aggregate({evs}, "
                    f"named_struct('lv', array_repeat(CAST(NULL AS BIGINT), {n}), "
                    f"'fst', false, 'dead', false, 'ret', CAST(NULL AS INT)), "
                    f"(acc, e) -> CASE WHEN acc.ret IS NOT NULL OR acc.dead THEN "
                    f"named_struct('lv', acc.lv, 'fst', acc.fst, 'dead', acc.dead, "
                    f"'ret', acc.ret) "
                    f"ELSE named_struct("
                    f"'lv', transform(acc.lv, (v, i) -> CASE "
                    f"WHEN e.st = 1 AND i = 0 THEN e.ts "
                    f"WHEN e.st = i + 1 AND i > 0 "
                    f"AND get(acc.lv, e.st - 1) IS NULL "
                    f"AND get(acc.lv, i - 1) IS NOT NULL "
                    f"AND e.ts - get(acc.lv, i - 1) <= {window} "
                    f"THEN get(acc.lv, i - 1) ELSE v END), "
                    f"'fst', acc.fst OR e.st = 1, "
                    f"'dead', acc.dead OR ("
                    f"NOT (e.st > 1 AND get(acc.lv, e.st - 1) IS NOT NULL) "
                    f"AND acc.fst AND (e.st = 0 OR "
                    f"(e.st > 1 AND get(acc.lv, e.st - 2) IS NULL))), "
                    f"'ret', CASE "
                    f"WHEN e.st > 1 AND get(acc.lv, e.st - 1) IS NOT NULL "
                    f"THEN CAST(e.st AS INT) "
                    f"WHEN e.st = {n} AND {n} > 1 "
                    f"AND get(acc.lv, {n} - 1) IS NULL "
                    f"AND get(acc.lv, {n} - 2) IS NOT NULL "
                    f"AND e.ts - get(acc.lv, {n} - 2) <= {window} "
                    f"THEN {n} ELSE CAST(NULL AS INT) END) END, "
                    f"acc -> coalesce(acc.ret, "
                    f"size(filter(acc.lv, v -> v IS NOT NULL))))"
                )
            if mode == "strict_order":
                state = (
                    f"aggregate({evs}, "
                    f"named_struct('lv', array_repeat(CAST(NULL AS BIGINT), {n}), "
                    f"'fst', false, 'dead', false), "
                    f"(acc, e) -> named_struct("
                    f"'lv', transform(acc.lv, (v, i) -> CASE "
                    f"WHEN acc.dead THEN v "
                    f"WHEN e.st = 1 AND i = 0 THEN e.ts "
                    f"WHEN e.st = i + 1 AND i > 0 AND get(acc.lv, i - 1) IS NOT NULL "
                    f"AND e.ts - get(acc.lv, i - 1) <= {window} "
                    f"THEN get(acc.lv, i - 1) ELSE v END), "
                    f"'fst', acc.fst OR e.st = 1, "
                    f"'dead', acc.dead OR (acc.fst AND (e.st = 0 OR "
                    f"(e.st > 1 AND get(acc.lv, e.st - 2) IS NULL)))), "
                    f"acc -> size(filter(acc.lv, v -> v IS NOT NULL)))"
                )
                return state
            if mode == "strict_deduplication":
                state = (
                    f"aggregate({evs}, "
                    f"named_struct('lv', array_repeat(CAST(NULL AS BIGINT), {n}), "
                    f"'ret', CAST(NULL AS INT)), "
                    f"(acc, e) -> CASE WHEN acc.ret IS NOT NULL THEN acc "
                    f"ELSE named_struct("
                    f"'lv', transform(acc.lv, (v, i) -> CASE "
                    f"WHEN e.st = 1 AND i = 0 THEN e.ts "
                    f"WHEN e.st = i + 1 AND i > 0 "
                    f"AND get(acc.lv, e.st - 1) IS NULL "
                    f"AND get(acc.lv, i - 1) IS NOT NULL "
                    f"AND e.ts - get(acc.lv, i - 1) <= {window} "
                    f"THEN get(acc.lv, i - 1) ELSE v END), "
                    f"'ret', CASE "
                    f"WHEN e.st > 1 AND get(acc.lv, e.st - 1) IS NOT NULL "
                    f"THEN CAST(e.st AS INT) "
                    f"WHEN e.st = {n} AND {n} > 1 "
                    f"AND get(acc.lv, {n} - 1) IS NULL "
                    f"AND get(acc.lv, {n} - 2) IS NOT NULL "
                    f"AND e.ts - get(acc.lv, {n} - 2) <= {window} "
                    f"THEN {n} ELSE CAST(NULL AS INT) END) END, "
                    f"acc -> coalesce(acc.ret, "
                    f"size(filter(acc.lv, v -> v IS NOT NULL))))"
                )
                return state
            state = (
                f"aggregate({evs}, array_repeat(CAST(NULL AS BIGINT), {n}), "
                f"(acc, e) -> transform(acc, (v, i) -> "
                f"CASE WHEN e.st = i + 1 THEN "
                f"(CASE WHEN i = 0 THEN e.ts ELSE "
                f"(CASE WHEN (e.ts - get(acc, i - 1)) <= {window} "
                f"THEN get(acc, i - 1) ELSE v END) END) "
                f"ELSE v END))"
            )
            return f"size(filter({state}, v -> v IS NOT NULL))"

        def funnel_max_step(a):
            return _funnel_max_step_sql(a)

        def funnel_complete_count(a):
            # completed traversals per group: with per-correlation-id
            # grouping this is the 0/1 completion flag
            n = int(a[2])
            return f"(CASE WHEN ({_funnel_max_step_sql(a)}) >= {n} THEN 1 ELSE 0 END)"

        def funnel_match_step(a):
            # array of per-step 0/1 flags. NOT a transform-lambda over the
            # max-step expression: aggregates are illegal inside lambda
            # functions, so emit one CASE per step — Catalyst de-dupes the
            # identical aggregate subtrees into a single buffer.
            n = int(a[2])
            ms = _funnel_max_step_sql(a)
            flags = ", ".join(
                f"CASE WHEN {k + 1} <= ({ms}) THEN 1 ELSE 0 END" for k in range(n)
            )
            return f"array({flags})"

        def clpdecode(a):
            # CLPDECODE(logtypeCol, dictionaryVarsCol, encodedVarsCol):
            # reassemble a CLP-encoded log message (functions/clp.py) —
            # the same placeholder/parts interleave fold, as SQL text.
            lt, dv, ev = a[0], a[1], a[2]
            e_ph, f_ph, cls = "\x11", "\x13", "[\x11\x12\x13]"
            parts = f"split({lt}, '{cls}', -1)"
            # packed-float rendering (functions/clp.py unpack_float_str):
            # sign bit 62, frac-digit count bits 56-59, mantissa bits 0-55
            pows = ", ".join(str(10**i) + "L" for i in range(16))
            v = f"element_at({ev}, acc.e + 1)"
            mant = f"({v} & {(1 << 56) - 1})"
            powv = (
                f"element_at(array({pows}), "
                f"cast(shiftright({v}, 56) % 16 + 1 as int))"
            )
            fstr = (
                f"(CASE WHEN shiftright({v}, 62) % 2 = 1 THEN '-' ELSE '' END) "
                f"|| cast(({mant} div {powv}) as string) || '.' || "
                f"lpad(cast(({mant} % {powv}) as string), "
                f"cast(shiftright({v}, 56) % 16 as int), '0')"
            )
            fold = (
                f"aggregate(regexp_extract_all({lt}, '{cls}', 0), "
                f"named_struct('s', element_at({parts}, 1), 'd', 0, 'e', 0), "
                f"(acc, p) -> CASE WHEN p = '{e_ph}' THEN named_struct("
                f"'s', concat(acc.s, cast(element_at({ev}, acc.e + 1) as string), "
                f"element_at({parts}, acc.d + acc.e + 2)), "
                f"'d', acc.d, 'e', acc.e + 1) "
                f"WHEN p = '{f_ph}' THEN named_struct("
                f"'s', concat(acc.s, {fstr}, "
                f"element_at({parts}, acc.d + acc.e + 2)), "
                f"'d', acc.d, 'e', acc.e + 1) "
                f"ELSE named_struct("
                f"'s', concat(acc.s, element_at({dv}, acc.d + 1), "
                f"element_at({parts}, acc.d + acc.e + 2)), "
                f"'d', acc.d + 1, 'e', acc.e) END)"
            )
            return f"({fold}).s"

        def st_point(a):
            # point = struct<x,y> (functions/geo.py); optional third
            # isGeography flag is a storage hint in the public engine —
            # accepted and ignored (distance picks the semantics).
            return (
                f"named_struct('x', CAST({a[0]} AS DOUBLE), "
                f"'y', CAST({a[1]} AS DOUBLE))"
            )

        def st_geomfromtext(a):
            # POINT literals become struct literals; POLYGON literals
            # pass through as text for ST_CONTAINS/ST_WITHIN to compile
            # (a polygon has no fixed-width struct form).
            from apache_pinot_spark.functions.geo import parse_wkt_point

            wkt = _unquote(a[0])
            if wkt.upper().lstrip().startswith("POINT"):
                x, y = parse_wkt_point(wkt)
                return f"named_struct('x', {x!r}D, 'y', {y!r}D)"
            return a[0]

        def st_distance(a):
            # geography semantics: haversine meters (closed-form JVM math)
            p, q = f"({a[0]})", f"({a[1]})"
            return (
                f"(2 * 6371008.7714 * asin(sqrt("
                f"power(sin(radians({q}.y - {p}.y) / 2), 2) + "
                f"cos(radians({p}.y)) * cos(radians({q}.y)) * "
                f"power(sin(radians({q}.x - {p}.x) / 2), 2))))"
            )

        def st_astext(a):
            # point struct -> WKT text. Numeric rendering follows
            # Spark's double-to-string (always a decimal point), not
            # JTS's integer-shortening — same geometry, noted formatting
            # divergence.
            p = f"({a[0]})"
            return (
                f"concat('POINT (', CAST({p}.x AS STRING), ' ', "
                f"CAST({p}.y AS STRING), ')')"
            )

        def st_equals(a):
            # point equality, null-safe per coordinate
            p, q = f"({a[0]})", f"({a[1]})"
            return f"(({p}.x <=> {q}.x) AND ({p}.y <=> {q}.y))"

        def st_area(a):
            # ST_AREA('POLYGON(...)' [, 'geography']): the polygon is a
            # WKT LITERAL (like ST_CONTAINS), so the area folds to a
            # CONSTANT at rewrite time — zero per-row cost. Default is
            # the GEOMETRY reading (Cartesian shoelace, coordinate
            # units²); the 'geography' flag takes the spherical m²
            # reading (Chamberlain–Duquette, functions/geo.py). Points
            # and rings-with-holes follow the public semantics (holes
            # subtract; a point has zero area).
            from apache_pinot_spark.functions.geo import (
                parse_wkt_polygon,
                polygon_area_planar,
                polygon_area_spherical,
            )

            try:
                wkt = _unquote(a[0])
            except ValueError:
                raise ValueError(
                    "ST_AREA: the argument must be a WKT string literal "
                    "(optionally wrapped in ST_GEOMFROMTEXT/ST_GEOGFROMTEXT)"
                )
            if wkt.upper().lstrip().startswith("POINT"):
                return "0.0D"
            rings = parse_wkt_polygon(wkt)
            geography = len(a) > 1 and _unquote(a[1]).lower() == "geography"
            area = (
                polygon_area_spherical(rings)
                if geography
                else polygon_area_planar(rings)
            )
            return f"{area!r}D"

        def st_contains(a):
            # ST_CONTAINS(polygonWKT, point): the polygon must be a WKT
            # LITERAL (directly or via ST_GEOMFROMTEXT) — it compiles once
            # into an edge-array literal with the ray-cast fold from
            # functions/geo.py. Arbitrary geometry COLUMNS are not
            # supported (documented divergence; the public engine also
            # precompiles literal geometries against its geo index).
            from apache_pinot_spark.functions.geo import parse_wkt_polygon

            lit = a[0].strip()
            if not (lit.startswith("'") and lit.endswith("'")):
                raise ValueError(
                    "ST_CONTAINS/ST_WITHIN: the polygon must be a WKT string "
                    "literal (optionally wrapped in ST_GEOMFROMTEXT)"
                )
            rings = parse_wkt_polygon(_unquote(lit))
            edges = ", ".join(
                f"named_struct('x1', {x1!r}D, 'y1', {y1!r}D, "
                f"'x2', {x2!r}D, 'y2', {y2!r}D)"
                for ring in rings
                for (x1, y1), (x2, y2) in zip(ring, ring[1:] + ring[:1])
            )
            p = f"({a[1]})"
            return (
                f"aggregate(array({edges}), false, (acc, e) -> "
                f"CASE WHEN ((e.y1 > {p}.y) != (e.y2 > {p}.y)) AND "
                f"({p}.x < (e.x2 - e.x1) * ({p}.y - e.y1) / (e.y2 - e.y1) + e.x1) "
                f"THEN NOT acc ELSE acc END)"
            )

        def st_within(a):
            # ST_WITHIN(point, polygon) == ST_CONTAINS(polygon, point)
            return st_contains([a[1], a[0]])

        def _epoch_dt(field_fn):
            """Public epoch-millis datetime extractors (year/hour/… take
            MILLISECONDS since epoch, optional timezone id) that share
            names with Spark's date/timestamp extractors.  Emit a dual
            branch on typeof(): integer input takes the Pinot
            epoch-millis reading, date/timestamp/string input keeps the
            Spark reading — both branches must merely analyze, so each
            casts its own way."""

            def h(a):
                tz = _sql_quote(_unquote(a[1])) if len(a) > 1 else None
                # the integer branch casts via STRING so the expression
                # ANALYZES for date/timestamp input too (only the taken
                # branch's value matters; CAST(DATE AS BIGINT) would fail
                # analysis outright)
                ms = f"timestamp_millis(CAST(CAST({a[0]} AS STRING) AS BIGINT))"
                ts = f"CAST({a[0]} AS TIMESTAMP)"
                if tz:
                    ms = f"from_utc_timestamp({ms}, '{tz}')"
                    ts = f"from_utc_timestamp({ts}, '{tz}')"
                return (
                    f"(CASE WHEN typeof({a[0]}) IN "
                    f"('bigint','int','smallint','tinyint') "
                    f"THEN {field_fn(ms)} ELSE {field_fn(ts)} END)"
                )

            return h

        def hammingdistance(a):
            # Pinot hammingDistance(s1, s2): -1 when lengths differ,
            # else the count of differing positions — a JVM-side
            # zip_with fold, no UDF
            return (
                f"(CASE WHEN length({a[0]}) != length({a[1]}) THEN -1 "
                f"ELSE aggregate(zip_with(split({a[0]}, ''), "
                f"split({a[1]}, ''), (x, y) -> IF(x <=> y, 0, 1)), 0, "
                f"(acc, v) -> acc + v) END)"
            )

        def split_(a):
            # Pinot split(str, delimiter) treats the delimiter as a
            # LITERAL; Spark's split() is regex-based — \Q…\E quoting
            # makes any delimiter safe (incl. '.', '|'), literal or
            # column-valued
            return f"split({a[0]}, concat('\\\\Q', {a[1]}, '\\\\E'))"

        def normalize_(a):
            form = _unquote(a[1]).upper() if len(a) > 1 else "NFC"
            if form not in ("NFC", "NFD", "NFKC", "NFKD"):
                raise ValueError(f"NORMALIZE: unknown form {form!r}")
            from apache_pinot_spark.functions.text import NORMALIZE_UDF

            return f"{NORMALIZE_UDF}({a[0]}, '{form}')"

        def in_subquery(a):
            # Public IN_SUBQUERY(expr, 'subquery sql') = semi-join against
            # the subquery's (single-column) result; the partitioned
            # variant is a routing hint in the public engine, identical
            # semantics here. The inner SQL is itself dialect-rewritten so
            # Pinot functions work inside it.
            # rewrite() resets per-query accumulators (_hll_args,
            # _rewrite_notes); save/restore them so an outer
            # DISTINCTCOUNTHLL placeholder still resolves and outer notes
            # survive, and surface the inner query's notes to the caller.
            saved_hll, saved_notes = self._hll_args, self._rewrite_notes
            try:
                inner_res = self.rewrite(_unquote(a[1]))
            finally:
                self._hll_args, self._rewrite_notes = saved_hll, saved_notes
            self._rewrite_notes.extend(inner_res.notes)
            inner = inner_res.sql.rstrip("; \n")
            return f"(({a[0]}) IN ({inner}))"

        def lookup(a):
            # Public LOOKUP('dimTable', 'valueColumn', 'pkColumn', pkExpr
            # [, pkColumn2, pkExpr2…]): decorate fact rows with a
            # dimension attribute. Compiled to a correlated scalar
            # subquery — Catalyst rewrites it to a (broadcast-able) left
            # outer join, which is exactly the dimension-join plan the
            # public engine's lookup join runs; missing keys yield NULL,
            # same contract.
            if len(a) < 4 or len(a) % 2 != 0:
                raise ValueError(
                    "LOOKUP needs (dimTable, valueColumn, pkColumn, pkExpr"
                    "[, pkColumn2, pkExpr2…])"
                )
            tbl, val = _unquote(a[0]), _unquote(a[1])
            pairs = [
                f"{_unquote(a[i])} = ({a[i + 1]})" for i in range(2, len(a), 2)
            ]
            return (
                f"(SELECT first({val}) FROM {tbl} WHERE {' AND '.join(pairs)})"
            )

        def frequent_sketch(a):
            # FREQUENTSTRINGSSKETCH / FREQUENTLONGSSKETCH: per-group
            # frequent-items blob as hex (clients deserialize for top-k +
            # error bounds — functions/freqitems.py). PinotEngine registers
            # the UDF at construction (register_freq_udfs).
            from apache_pinot_spark.functions.freqitems import SKETCH_UDF

            arg = a[0].strip()
            kind = self.sketch_columns.get(arg)
            if kind in ("freq_longs", "freq_strings"):
                # migrated DataSketches wire column: merge + re-emit in
                # the WIRE format (functions/freq_wire.py), so existing
                # clients keep deserializing with the reference library
                from apache_pinot_spark.functions.freq_wire import (
                    MERGE_LONGS_UDF,
                    MERGE_STRINGS_UDF,
                )

                udf = MERGE_LONGS_UDF if kind == "freq_longs" else MERGE_STRINGS_UDF
                return f"hex({udf}({arg}))"
            return f"hex({SKETCH_UDF}({a[0]}))"

        def vector_similarity(a):
            # Public vector-index query surface: VECTOR_SIMILARITY(col,
            # queryVector[, topK]) scored here as cosine similarity (the
            # vector index default), computed as a sequential JVM fold
            # (deterministic left-assoc order — the engine's float-parity
            # rule). The optional third argument is the index's candidate
            # budget hint; result size is governed by ORDER BY … LIMIT as
            # in the public engine, so the hint is accepted and ignored.
            # Index-accelerated retrieval is operators/similarity.py
            # (brute-force / LSH / IVF); this is the scoring expression.
            # Dimension mismatch scores NULL (zip_with null-pads), so bad
            # query vectors sort last instead of erroring mid-scan.
            v1, v2 = a[0], a[1]
            dot = (
                f"aggregate(zip_with({v1}, {v2}, (x, y) -> "
                f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                f"CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"
            )
            n1 = (
                f"sqrt(aggregate({v1}, CAST(0.0 AS DOUBLE), "
                f"(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
            )
            n2 = (
                f"sqrt(aggregate({v2}, CAST(0.0 AS DOUBLE), "
                f"(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
            )
            return f"(({dot}) / nullif(({n1}) * ({n2}), 0.0))"

        def json_extract(a):
            default = a[3] if len(a) > 3 else None
            return json_extract_scalar_sql(a[0], _unquote(a[1]), _unquote(a[2]), default)

        def text_match(a):
            extra = [_unquote(x) for x in a[2:]]
            include = set(extra[0].split(",")) if len(extra) > 0 and extra[0] else None
            exclude = set(extra[1].split(",")) if len(extra) > 1 and extra[1] else None
            # materialized text index applies only with default stop words
            # (per-query overrides change the token stream)
            tokens_col = None
            if include is None and exclude is None:
                tokens_col = self.text_index.get(a[0].strip())
            return text_match_sql(a[0], _unquote(a[1]), include, exclude, tokens_col)

        def text_contains(a):
            return text_contains_sql(a[0], _unquote(a[1]))

        def json_match(a):
            col = a[0].strip()
            schema = self.json_schemas.get(col)
            return json_match_sql(col, _unquote(a[1]), schema, self.json_configs.get(col))

        handlers = {
            "ADD": add,
            "SUB": sub,
            "MULT": mult,
            "DIV": div,
            "DATETRUNC": date_trunc,
            "FROMDATETIME": from_datetime,
            "TODATETIME": to_datetime,
            "DISTINCTCOUNT": distinctcount,
            "DISTINCTCOUNTHLL": distinctcounthll,
            "DISTINCTCOUNTHLLPLUS": distinctcounthllplus,
            "DISTINCTCOUNTTHETASKETCH": distinctcountthetasketch,
            "DISTINCTCOUNTRAWTHETASKETCH": distinctcountrawthetasketch,
            "ARRAYLENGTH": arraylength,
            "VALUEIN": valuein,
            "VARPOP": lambda a: f"var_pop({a[0]})",
            "VARSAMP": lambda a: f"var_samp({a[0]})",
            "VARIANCE": lambda a: f"var_samp({a[0]})",
            "STDDEVPOP": lambda a: f"stddev_pop({a[0]})",
            "STDDEVSAMP": lambda a: f"stddev_samp({a[0]})",
            "STDDEV": lambda a: f"stddev_samp({a[0]})",
            "COVARPOP": lambda a: f"covar_pop({a[0]}, {a[1]})",
            "COVARSAMP": lambda a: f"covar_samp({a[0]}, {a[1]})",
            "SKEWNESS": lambda a: f"skewness({a[0]})",
            "KURTOSIS": lambda a: f"kurtosis({a[0]})",
            "FOURTHMOMENT": fourthmoment,
            "MODE": mode_,
            "MINMAXRANGE": minmaxrange,
            "MINMAXRANGEMV": minmaxrangemv,
            "DISTINCTSUMMV": distinctsummv,
            "DISTINCTAVGMV": distinctavgmv,
            "DISTINCTCOUNTHLLMV": distinctcounthllmv,
            "DISTINCTCOUNTBITMAPMV": distinctcountbitmapmv,
            "ARRAYAGG": arrayagg,
            "PERCENTILEMV": percentilemv,
            "PERCENTILEESTMV": percentilemv,
            "PERCENTILETDIGESTMV": percentilemv,
            "PERCENTILEKLLMV": percentilemv,
            "DISTINCTSUM": distinctsum,
            "DISTINCTAVG": distinctavg,
            "SUMPRECISION": sumprecision,
            "COUNTMV": countmv,
            "SUMMV": summv,
            "MINMV": minmv,
            "MAXMV": maxmv,
            "AVGMV": avgmv,
            "DISTINCTCOUNTMV": distinctcountmv,
            "PERCENTILE": percentile,
            "PERCENTILETDIGEST": percentile_approx_,
            "PERCENTILEEST": percentile_approx_,
            # PERCENTILERAWEST returns a serialized Pinot QuantileDigest —
            # an engine-internal byte format with no public library in
            # this container to validate against (unlike the tdigest/KLL
            # raw forms, which are jar-golden-tested). Estimates work
            # (PERCENTILEEST); the raw q-digest blob form is an explicit,
            # documented no.
            "PERCENTILERAWEST": lambda a: (_ for _ in ()).throw(
                ValueError(
                    "PERCENTILERAWEST is not supported: the QuantileDigest "
                    "wire format is engine-internal with no public library "
                    "to validate against. Use PERCENTILEEST for estimates, "
                    "or PERCENTILERAWTDIGEST / PERCENTILERAWKLL for "
                    "jar-validated mergeable raw-sketch forms."
                )
            ),
            "PERCENTILEKLL": percentile_kll,
            "PERCENTILERAWKLL": percentile_raw_kll,
            "LOOKUP": lookup,
            "IN_SUBQUERY": in_subquery,
            "IN_PARTITIONED_SUBQUERY": in_subquery,
            "CLPDECODE": clpdecode,
            "DISTINCTCOUNTRAWHLL": distinctcountrawhll,
            "DISTINCTCOUNTRAWHLLPLUS": distinctcountrawhllplus,
            "DISTINCTCOUNTSMARTHLL": distinctcountsmarthll,
            "PERCENTILESMARTTDIGEST": percentilesmarttdigest,
            "PERCENTILERAWTDIGEST": percentilerawtdigest,
            "IDSET": id_set,
            "ID_SET": id_set,
            "INIDSET": in_id_set,
            "IN_ID_SET": in_id_set,
            "FUNNELCOMPLETECOUNT": funnel_complete_count,
            "FUNNEL_COMPLETE_COUNT": funnel_complete_count,
            "SEGMENTPARTITIONEDDISTINCTCOUNT": exact_distinct,
            "DISTINCTCOUNTBITMAP": distinctcountbitmap,
            "DISTINCTCOUNTRAWBITMAP": distinctcountrawbitmap,
            "DISTINCTCOUNTCPCSKETCH": distinctcountcpcsketch,
            "DISTINCTCOUNTRAWCPCSKETCH": distinctcountrawcpcsketch,
            "DISTINCT_COUNT_CPC_SKETCH": distinctcountcpcsketch,
            "DISTINCT_COUNT_RAW_CPC_SKETCH": distinctcountrawcpcsketch,
            "DISTINCTCOUNTTUPLESKETCH": distinctcounttuplesketch,
            "DISTINCTCOUNTRAWINTEGERSUMTUPLESKETCH": distinctcountrawintegersumtuplesketch,
            "SUMVALUESINTEGERSUMTUPLESKETCH": sumvaluesintegersumtuplesketch,
            "AVGVALUEINTEGERSUMTUPLESKETCH": avgvalueintegersumtuplesketch,
            "ARG_MIN": arg_min,
            "ARGMIN": arg_min,
            "ARG_MAX": arg_max,
            "ARGMAX": arg_max,
            "LASTWITHTIME": lastwithtime,
            "FIRSTWITHTIME": firstwithtime,
            "FUNNELMAXSTEP": funnel_max_step,
            "FUNNEL_MAX_STEP": funnel_max_step,
            "FUNNELMATCHSTEP": funnel_match_step,
            "FUNNEL_MATCH_STEP": funnel_match_step,
            "REGEXPEXTRACT": regexp_extract_,
            "STRPOS": strpos,
            # JSONPATH family (public jsonPath* transforms): served by
            # get_json_object's jayway-syntax subset ($.a.b[0], [*]);
            # numeric forms coerce through DOUBLE (Pinot coerces string
            # numbers too, and (long)3.7 truncates), missing paths fall
            # to the public defaults — Long.MIN_VALUE / -Infinity — or
            # the caller's third argument
            "JSONPATH": lambda a: f"get_json_object({a[0]}, {a[1]})",
            "JSONPATHSTRING": lambda a: (
                f"COALESCE(get_json_object({a[0]}, {a[1]}), "
                f"{a[2] if len(a) > 2 else 'NULL'})"
            ),
            "JSONPATHLONG": lambda a: (
                f"CAST(COALESCE(CAST(get_json_object({a[0]}, {a[1]}) AS DOUBLE), "
                f"{a[2] if len(a) > 2 else str(-(1 << 63))}) AS BIGINT)"
            ),
            "JSONPATHDOUBLE": lambda a: (
                f"COALESCE(CAST(get_json_object({a[0]}, {a[1]}) AS DOUBLE), "
                f"{a[2] if len(a) > 2 else _NEG_INF_SQL})"
            ),
            "JSONPATHARRAY": lambda a: (
                f"from_json(get_json_object({a[0]}, {a[1]}), 'array<string>')"
            ),
            # epoch-millis datetime extractors (optional tz id); DAYOFWEEK
            # follows the public Joda convention Monday=1..Sunday=7 (Spark
            # says Sunday=1)
            "YEAR": _epoch_dt(lambda t: f"year({t})"),
            "YEAROFWEEK": _epoch_dt(lambda t: f"extract(YEAROFWEEK FROM {t})"),
            "MONTH": _epoch_dt(lambda t: f"month({t})"),
            "MONTHOFYEAR": _epoch_dt(lambda t: f"month({t})"),
            "WEEK": _epoch_dt(lambda t: f"weekofyear({t})"),
            "WEEKOFYEAR": _epoch_dt(lambda t: f"weekofyear({t})"),
            "DAYOFYEAR": _epoch_dt(lambda t: f"dayofyear({t})"),
            "DOY": _epoch_dt(lambda t: f"dayofyear({t})"),
            "DAYOFMONTH": _epoch_dt(lambda t: f"day({t})"),
            "DAY": _epoch_dt(lambda t: f"day({t})"),
            "DAYOFWEEK": _epoch_dt(lambda t: f"(pmod(dayofweek({t}) + 5, 7) + 1)"),
            "DOW": _epoch_dt(lambda t: f"(pmod(dayofweek({t}) + 5, 7) + 1)"),
            "HOUR": _epoch_dt(lambda t: f"hour({t})"),
            "MINUTE": _epoch_dt(lambda t: f"minute({t})"),
            "SECOND": _epoch_dt(lambda t: f"second({t})"),
            "MILLISECOND": _epoch_dt(
                lambda t: f"CAST(pmod(unix_millis({t}), 1000) AS INT)"
            ),
            "QUARTER": _epoch_dt(lambda t: f"quarter({t})"),
            # typed MV array transforms (public arrayFooTYPE families —
            # the TYPE suffix only picks the Java overload; one Spark
            # form serves all of them). arrayIndexOf is 0-based with -1
            # for absent (array_position is 1-based with 0); arraySlice
            # is 0-based end-exclusive (slice is 1-based length-counted)
            **{
                f"{base}{t}": fn
                for t in ("INT", "LONG", "FLOAT", "DOUBLE", "STRING")
                for base, fn in (
                    ("ARRAYREVERSE", lambda a: f"reverse({a[0]})"),
                    ("ARRAYDISTINCT", lambda a: f"array_distinct({a[0]})"),
                    ("ARRAYSORT", lambda a: f"array_sort({a[0]})"),
                    ("ARRAYUNION", lambda a: f"array_union({a[0]}, {a[1]})"),
                    ("ARRAYCONCAT", lambda a: f"concat({a[0]}, {a[1]})"),
                    ("ARRAYCONTAINS", lambda a: f"array_contains({a[0]}, {a[1]})"),
                    (
                        "ARRAYINDEXOF",
                        lambda a: f"(array_position({a[0]}, {a[1]}) - 1)",
                    ),
                    (
                        "ARRAYSLICE",
                        lambda a: (
                            f"slice({a[0]}, ({a[1]}) + 1, ({a[2]}) - ({a[1]}))"
                        ),
                    ),
                    # direct 0-based indexing (the public implementation
                    # is a plain values[idx]); out-of-range yields NULL
                    # here where the reference throws — the forgiving
                    # reading of the same contract. The negative guard
                    # matters: try_element_at(arr, 0) still THROWS
                    # INVALID_INDEX_OF_ZERO and negative Spark indexes
                    # count from the END — both wrong for idx < 0
                    # (e.g. arrayIndexOf's -1 'absent' sentinel)
                    (
                        "ARRAYELEMENTAT",
                        lambda a: (
                            f"IF(({a[1]}) < 0, NULL, "
                            f"try_element_at({a[0]}, ({a[1]}) + 1))"
                        ),
                    ),
                )
            },
            "SPLIT": split_,
            "HAMMINGDISTANCE": hammingdistance,
            "REMOVE": lambda a: f"replace({a[0]}, {a[1]}, '')",
            "NORMALIZE": normalize_,
            "URLENCODE": lambda a: f"url_encode({a[0]})",
            "URLDECODE": lambda a: f"url_decode({a[0]})",
            "NOW": now_,
            "AGO": ago,
            "SUBSTR": substr_,
            "HISTOGRAM": histogram,
            "TOBASE64": lambda a: f"base64({a[0]})",
            "FROMBASE64": lambda a: f"unbase64({a[0]})",
            "SHA": lambda a: f"sha1({a[0]})",
            "SHA256": lambda a: f"sha2({a[0]}, 256)",
            "SHA512": lambda a: f"sha2({a[0]}, 512)",
            "CODEPOINT": lambda a: f"ascii({a[0]})",
            "CHR": lambda a: f"char({a[0]})",
            "ENCODEURL": lambda a: f"url_encode({a[0]})",
            "DECODEURL": lambda a: f"url_decode({a[0]})",
            "TOEPOCHSECONDS": lambda a: f"floor(({a[0]}) / 1000)",
            "TOEPOCHMINUTES": lambda a: f"floor(({a[0]}) / 60000)",
            "TOEPOCHHOURS": lambda a: f"floor(({a[0]}) / 3600000)",
            "TOEPOCHDAYS": lambda a: f"floor(({a[0]}) / 86400000)",
            "FROMEPOCHSECONDS": lambda a: f"(({a[0]}) * 1000)",
            "FROMEPOCHMINUTES": lambda a: f"(({a[0]}) * 60000)",
            "FROMEPOCHHOURS": lambda a: f"(({a[0]}) * 3600000)",
            "FROMEPOCHDAYS": lambda a: f"(({a[0]}) * 86400000)",
            # rounded/bucket variants (public transform surface):
            # ROUNDED floors the epoch value to a multiple of n in ITS
            # OWN unit; BUCKET divides into n-unit bucket ordinals;
            # FROMEPOCH…BUCKET inverts back to epoch millis
            **{
                f"TOEPOCH{u}ROUNDED": (
                    lambda a, ms=ms: f"(floor(({a[0]}) / {ms}) DIV ({a[1]}) * ({a[1]}))"
                )
                for u, ms in (("SECONDS", 1000), ("MINUTES", 60000),
                              ("HOURS", 3600000), ("DAYS", 86400000))
            },
            **{
                f"TOEPOCH{u}BUCKET": (
                    lambda a, ms=ms: f"(floor(({a[0]}) / {ms}) DIV ({a[1]}))"
                )
                for u, ms in (("SECONDS", 1000), ("MINUTES", 60000),
                              ("HOURS", 3600000), ("DAYS", 86400000))
            },
            **{
                f"FROMEPOCH{u}BUCKET": (
                    lambda a, ms=ms: f"(({a[0]}) * ({a[1]}) * {ms})"
                )
                for u, ms in (("SECONDS", 1000), ("MINUTES", 60000),
                              ("HOURS", 3600000), ("DAYS", 86400000))
            },
            "DATETIMECONVERT": datetimeconvert,
            "TIMECONVERT": timeconvert,
            "ST_POINT": st_point,
            "ST_GEOMFROMTEXT": st_geomfromtext,
            "ST_GEOGFROMTEXT": st_geomfromtext,
            "ST_ASTEXT": st_astext,
            "ST_EQUALS": st_equals,
            "ST_AREA": st_area,
            "ST_DISTANCE": st_distance,
            "ST_CONTAINS": st_contains,
            "ST_WITHIN": st_within,
            "FREQUENTSTRINGSSKETCH": frequent_sketch,
            "FREQUENTLONGSSKETCH": frequent_sketch,
            "VECTOR_SIMILARITY": vector_similarity,
            "JSON_EXTRACT_SCALAR": json_extract,
            "JSONEXTRACTSCALAR": json_extract,  # the camelCase public spelling
            # jsonExtractKey(json, 'path'): the KEYS at the path, as the
            # public function returns them
            "JSONEXTRACTKEY": lambda a: (
                f"json_object_keys(get_json_object({a[0]}, {a[1]}))"
            ),
            # jsonFormat(anyComplexValue): render as JSON text
            "JSONFORMAT": lambda a: f"to_json({a[0]})",
            "TEXT_MATCH": text_match,
            "TEXT_CONTAINS": text_contains,
            "JSON_MATCH": json_match,
        }
        # The public engine canonicalizes function names by CASE and
        # UNDERSCORE insensitivity (textMatch == TEXT_MATCH ==
        # text_match). Full canonicalization would need the tokenizer to
        # segment arbitrary spellings; what users actually type is (a)
        # the flat camelCase form of our underscored names and (b) the
        # docs' underscored spellings of the flat sketch names — both
        # covered here by explicit aliasing, collision-checked.
        for name in list(handlers):
            flat = name.replace("_", "")
            if "_" in name and flat not in handlers:
                handlers[flat] = handlers[name]
        for spelled in (
            "DISTINCT_COUNT", "DISTINCT_COUNT_HLL", "DISTINCT_COUNT_RAW_HLL",
            "DISTINCT_COUNT_HLL_PLUS", "DISTINCT_COUNT_RAW_HLL_PLUS",
            "DISTINCT_COUNT_BITMAP", "DISTINCT_COUNT_RAW_BITMAP",
            "DISTINCT_COUNT_SMART_HLL", "DISTINCT_COUNT_THETA_SKETCH",
            "DISTINCT_COUNT_RAW_THETA_SKETCH", "DISTINCT_COUNT_TUPLE_SKETCH",
            "DISTINCT_COUNT_RAW_INTEGER_SUM_TUPLE_SKETCH",
            "SUM_VALUES_INTEGER_SUM_TUPLE_SKETCH",
            "AVG_VALUE_INTEGER_SUM_TUPLE_SKETCH",
            "DISTINCT_SUM", "DISTINCT_AVG",
            "PERCENTILE_EST", "PERCENTILE_TDIGEST", "PERCENTILE_RAW_TDIGEST",
            "PERCENTILE_KLL", "PERCENTILE_RAW_KLL", "PERCENTILE_SMART_TDIGEST",
            "FREQUENT_STRINGS_SKETCH", "FREQUENT_LONGS_SKETCH",
            "SEGMENT_PARTITIONED_DISTINCT_COUNT", "MIN_MAX_RANGE",
            "LAST_WITH_TIME", "FIRST_WITH_TIME",
        ):
            flat = spelled.replace("_", "")
            if flat in handlers and spelled not in handlers:
                handlers[spelled] = handlers[flat]
        return handlers

    # -- clause-level rewrites ---------------------------------------------
    @staticmethod
    def _split_select_aliases(sql: str) -> dict[str, str]:
        """Map SELECT-list aliases → their expressions (top-level commas)."""
        m = re.search(r"\bSELECT\b(.*?)\bFROM\b", sql, re.IGNORECASE | re.DOTALL)
        if not m:
            return {}
        sel = m.group(1)
        parts, depth, buf = [], 0, []
        for ch in sel:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
        parts.append("".join(buf))
        out = {}
        for p in parts:
            am = re.search(r"\sAS\s+([A-Za-z_]\w*)\s*$", p.strip(), re.IGNORECASE)
            if am:
                out[am.group(1)] = p.strip()[: am.start()].strip()
        return out

    _PSEUDO_COLUMNS = {
        # the public engine's virtual document columns: $docId is the
        # row's position within its segment, $segmentName the segment
        # it lives in, $hostName the serving host. Spark-first mapping:
        # the low 33 bits of monotonically_increasing_id() ARE the
        # per-partition record number (the partition is the segment
        # analog), input_file_name() is the segment file, and the
        # driver host stands in for the server. Quoted ("$docId") and
        # bare forms both rewrite.
        "$docId": "(monotonically_increasing_id() & 8589934591)",
        "$segmentName": (
            "regexp_extract(input_file_name(), '([^/]+)\\.parquet', 1)"
        ),
        "$hostName": None,  # filled per-call (driver hostname literal)
    }

    def _rewrite_pseudo_columns(self, sql: str) -> str:
        if "$" not in sql:
            return sql
        import socket

        for name, expr in self._PSEUDO_COLUMNS.items():
            if expr is None:
                expr = f"'{socket.gethostname()}'"
            for form in (f'"{name}"', name):
                if form in sql:
                    sql = sql.replace(form, expr)
        return sql

    def _rewrite_alias_in_where(self, sql: str) -> str:
        """Pinot allows WHERE on a SELECT alias (timestamp-index.md:33-39).

        Substitution is literal-safe (never rewrites inside quoted
        strings) and skips aliases that name a REAL table column — the
        column reference wins there, as in standard SQL."""
        aliases = self._split_select_aliases(sql)
        if not aliases:
            return sql
        wm = re.search(
            r"\bWHERE\b(.*?)(\bGROUP\s+BY\b|\bORDER\s+BY\b|\bLIMIT\b|$)",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if not wm:
            return sql
        where = wm.group(1)
        for alias, expr in aliases.items():
            if alias in self.table_columns:
                continue
            where = _sub_outside_literals(
                where, lambda seg, a=alias, e=expr: re.sub(rf"\b{re.escape(a)}\b", f"({e})", seg)
            )
        return sql[: wm.start(1)] + where + sql[wm.end(1):]

    def _rewrite_top(self, sql: str) -> str:
        m = _TOP_RE.search(sql)
        if not m:
            return sql
        n = int(m.group(1))
        sql = sql[: m.start()] + sql[m.end():]
        if not _ORDERBY_RE.search(sql):
            am = _AGG_RE.search(sql)
            if am:
                end, _ = _scan_call(sql, am.end() - 1)
                agg = sql[am.start():end]
                sql = sql.rstrip().rstrip(";") + f" ORDER BY {agg} DESC"
        if not _LIMIT_RE.search(sql):
            sql = sql.rstrip().rstrip(";") + f" LIMIT {n}"
        return sql

    def _rewrite_mv_predicates(self, sql: str) -> str:
        """Scalar predicates on ARRAY columns → ANY-element semantics.
        Literal-safe: a match is only rewritten when the column NAME sits
        outside any string literal (the matched value may itself be a
        quoted literal — that's fine, only the anchor is guarded)."""
        for col in self.array_columns:
            sql = _guarded_sub(
                rf"\b({re.escape(col)})\s*=\s*('(?:[^']|'')*'|-?\d+(?:\.\d+)?)",
                rf"array_contains(\1, \2)",
                sql,
            )
            sql = _guarded_sub(
                rf"\b({re.escape(col)})\s*(<>|!=)\s*('(?:[^']|'')*'|-?\d+(?:\.\d+)?)",
                rf"exists(\1, x -> x != \3)",
                sql,
            )
            sql = _guarded_sub(
                rf"\b({re.escape(col)})\s*(<=|>=|<|>)\s*(-?\d+(?:\.\d+)?)",
                rf"exists(\1, x -> x \2 \3)",
                sql,
            )
            sql = _guarded_sub(
                rf"\b({re.escape(col)})\s+IN\s*\(([^)]*)\)",
                rf"arrays_overlap(\1, array(\2))",
                sql,
                flags=re.IGNORECASE,
            )
        return sql

    def _rewrite_partition_routing(self, sql: str) -> str:
        """Pinot's partition-based segment routing: an equality or IN
        predicate on a segment-partitioned column additionally constrains
        the hash-bucket partition directory, so the scan touches only the
        buckets the probed values can live in. The bucket expression
        mirrors the ingest-side segment_partition_expr and constant-folds
        at plan time."""
        from apache_pinot_spark.sources.batch import segment_partition_col_name

        for col, n in self.segment_partitions.items():
            bucket_col = f"`{segment_partition_col_name(col)}`"
            sql = _guarded_sub(
                rf"\b({re.escape(col)})\s*=\s*('(?:[^']|'')*'|-?\d+(?:\.\d+)?)",
                rf"(\1 = \2 AND {bucket_col} = "
                rf"pmod(xxhash64(CAST(\2 AS STRING)), {n}))",
                sql,
            )

            def in_repl(m: re.Match, _n=n, _bc=bucket_col) -> str:
                vals = [v.strip() for v in m.group(2).split(",")]
                buckets = ", ".join(
                    f"pmod(xxhash64(CAST({v} AS STRING)), {_n})" for v in vals
                )
                return (
                    f"({m.group(1)} IN ({m.group(2)}) AND "
                    f"{_bc} IN ({buckets}))"
                )

            spans = []
            pos = 0
            for lit, seg in _split_literals(sql):
                if lit:
                    spans.append((pos, pos + len(seg)))
                pos += len(seg)
            pat = re.compile(
                rf"\b({re.escape(col)})\s+IN\s*\(([^()]*)\)", re.IGNORECASE
            )
            sql = pat.sub(
                lambda m: m.group(0)
                if any(a <= m.start() < b for a, b in spans)
                else in_repl(m),
                sql,
            )
        return sql

    # -- entry point --------------------------------------------------------
    def _expand_hll(self, sql: str) -> str:
        """Resolve DISTINCTCOUNTHLL placeholders. Single-table statements
        get the fast shape — (reg, rho) computed once per row in a wrapped
        FROM subquery, 64 cheap MAX(CASE) partials over the pair (3.7x
        measured at sf0.1; identical estimates). Statements where the FROM
        cannot be safely wrapped fall back to the self-contained inline
        expression. The fast path requires the ONE match to sit at
        parenthesis depth 0 with no table alias after it: wrapping a
        derived table's inner FROM would inject the pair projection below
        a projection that drops it (AnalysisException), and 'FROM t alias'
        would turn into 'FROM (…) t alias' (parse error)."""
        from apache_pinot_spark.functions.hll import (
            hll_estimate_fold_sql,
            hll_estimate_from_pair_sql,
            hll_pair_sqls,
        )

        # Literal-masked copy for all POSITION work: same length as sql, so
        # offsets line up, but string-literal contents are blanked — a ')'
        # or 'FROM' inside a quoted value must not steer the scan.
        masked = "".join(
            seg if not lit else "'" + " " * (len(seg) - 2) + "'"
            if len(seg) >= 2 else seg
            for lit, seg in _split_literals(sql)
        )

        def _tail_ok(pos: int) -> bool:
            tail = masked[pos:].lstrip()
            return tail == "" or re.match(
                r"(?i)(WHERE|GROUP|ORDER|LIMIT|HAVING)\b", tail
            ) is not None

        def _safe(m: re.Match) -> bool:
            if masked[: m.start()].count("(") != masked[: m.start()].count(")"):
                return False  # inside a subquery/derived table
            return _tail_ok(m.end())

        def _find_wrap_target() -> tuple[int, int, str, str] | None:
            """(start, end, from_body, alias) of the one depth-0 FROM clause
            — a plain table or a derived table '(…) alias' — or None. The
            clause must be the WHOLE from-list (followed only by
            WHERE/GROUP/ORDER/LIMIT/HAVING or end): wrapping one side of a
            join would put the other side's columns out of scope for the
            injected pair projection."""
            matches = list(_FROM_RE.finditer(masked))
            if len(matches) == 1 and _safe(matches[0]):
                m = matches[0]
                return m.start(), m.end(), m.group(1), m.group(1)
            # depth-0 derived table: FROM ( … ) alias
            for dm in re.finditer(r"(?i)\bFROM\s*\(", masked):
                if masked[: dm.start()].count("(") != masked[: dm.start()].count(")"):
                    continue
                depth, i = 1, dm.end()
                while i < len(masked) and depth:
                    if masked[i] == "(":
                        depth += 1
                    elif masked[i] == ")":
                        depth -= 1
                    i += 1
                if depth:
                    return None
                am = re.match(r"\s*([A-Za-z_]\w*)", masked[i:])
                if not am or am.group(1).upper() in (
                    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "JOIN", "ON",
                    "CROSS", "LEFT", "RIGHT", "INNER", "UNION",
                ):
                    return None
                end = i + am.end()
                if not _tail_ok(end):
                    return None  # JOIN/comma after the alias: not wrappable
                return dm.start(), end, sql[dm.start() + 4 : end], am.group(1)
            return None

        target = _find_wrap_target()
        if target is not None:
            start, end, body, alias = target
            proj_parts = []
            for k, arg in enumerate(self._hll_args):
                reg, rho = hll_pair_sqls(arg, "spark")
                proj_parts.append(f"{reg} AS __hll_reg_{k}, {rho} AS __hll_rho_{k}")
            wrapped = f"FROM (SELECT *, {', '.join(proj_parts)} FROM {body}) {alias}"
            sql = sql[:start] + wrapped + sql[end:]
            for k in range(len(self._hll_args)):
                sql = sql.replace(
                    f"__PINOT_HLL_EST_{k}__",
                    hll_estimate_from_pair_sql(f"__hll_reg_{k}", f"__hll_rho_{k}", "spark"),
                )
            return sql
        # Unsafe FROM shapes (joins, multi-table lists): the compact
        # collect_set + HOF fold — the inline 64xMAX(CASE md5...) form
        # dies in Spark's generated hash-aggregate at this expression
        # size (janino nested-class IllegalAccessError). Bit-identical
        # estimates; cardinality-bound memory like exact DISTINCTCOUNT —
        # which silently defeats HLL's constant-state point, so the
        # fallback is LOUD: a rewrite note lands in RewriteResult.notes.
        for k, arg in enumerate(self._hll_args):
            sql = sql.replace(f"__PINOT_HLL_EST_{k}__", hll_estimate_fold_sql(arg))
            self._rewrite_notes.append(
                f"DISTINCTCOUNTHLL({arg}): FROM shape (join/multi-table) fell "
                "back to the collect_set fold — per-group memory is "
                "cardinality-bound like exact DISTINCTCOUNT, not constant HLL "
                "state. For high-cardinality columns aggregate the HLL in a "
                "single-table subquery first."
            )
        return sql

    def rewrite(self, pinot_sql: str) -> RewriteResult:
        sql = pinot_sql.strip()
        options: dict[str, str] = {}
        # the public `SET key=value; SELECT …` prefix form — same option
        # namespace as the OPTION(...) suffix (which wins on conflict,
        # being closer to the statement)
        while m := _SET_STMT_RE.match(sql):
            v = m.group(2).strip()
            if v.startswith("'"):
                v = _unquote(v)
            options[m.group(1)] = v
            sql = sql[m.end() :].lstrip()
        if m := _OPTION_RE.search(sql):
            for kv in m.group(1).split(","):
                if "=" in kv:
                    k, v = kv.split("=", 1)
                    options[k.strip()] = v.strip()
            sql = sql[: m.start()].rstrip()
        self._hll_args = []
        self._rewrite_notes: list[str] = []
        sql = self._rewrite_pseudo_columns(sql)
        sql = _fold_in_id_set_comparisons(sql)
        sql = rewrite_calls(sql, self._handlers())
        sql = self._rewrite_mv_predicates(sql)
        sql = self._rewrite_partition_routing(sql)
        sql = self._rewrite_alias_in_where(sql)
        sql = self._rewrite_top(sql)
        if self._hll_args:
            sql = self._expand_hll(sql)
        return RewriteResult(sql, options, self._rewrite_notes)


# --------------------------------------------------------------------------
# Engine + broker envelope (reference basics/Architecture.md:121-152)
# --------------------------------------------------------------------------

_PINOT_TYPES = {
    T.IntegerType(): "INT",
    T.LongType(): "LONG",
    T.FloatType(): "FLOAT",
    T.DoubleType(): "DOUBLE",
    T.StringType(): "STRING",
    T.BooleanType(): "BOOLEAN",
    T.TimestampType(): "TIMESTAMP",
    T.BinaryType(): "BYTES",
}


def _pinot_type(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return "BIG_DECIMAL"
    if isinstance(dt, T.ArrayType):
        return _pinot_type(dt.elementType) + "_ARRAY"
    if isinstance(dt, T.ShortType | T.ByteType):
        return "INT"
    return _PINOT_TYPES.get(dt, dt.simpleString().upper())


# Sessions whose dialect UDF families are already registered. UDF
# registration is session-global (spark.udf.register), so constructing a
# second PinotEngine on the same session must not pay the ~0.25 s of
# cloudpickle + JVM round-trips again (measured: 8 register_* families ×
# 2-5 UDFs each; a suite constructing an engine per query re-paid it ~10x
# per bench pass). WeakSet keys by object identity and drops entries when
# a session is GC'd, so id-reuse can never false-positive a NEW session.
_UDF_SESSIONS: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def _register_session_udfs(spark: SparkSession) -> None:
    """Register the column-declaration-free dialect UDF families once per
    session: FREQUENTSTRINGSSKETCH / PERCENTILERAWTDIGEST /
    DISTINCTCOUNTRAWHLLPLUS / ID_SET / PERCENTILERAWKLL / FUNNEL_MAX_STEP
    strict_increase / NORMALIZE all work on raw
    columns with no prior registration, so they must exist up front
    (their declared-column paths use them too; SKETCH_KINDS maps those
    kinds to None)."""
    if spark in _UDF_SESSIONS:
        return
    from apache_pinot_spark.functions.freqitems import register_freq_udfs
    from apache_pinot_spark.functions.hllplus_wire import register_hllplus_udfs
    from apache_pinot_spark.functions.idset_wire import register_idset_udfs
    from apache_pinot_spark.functions.kll_wire import register_kll_udfs
    from apache_pinot_spark.functions.tdigest import register_tdigest_udfs
    from apache_pinot_spark.functions.text import register_normalize_udf
    from apache_pinot_spark.operators.funnel import register_funnel_udfs

    register_freq_udfs(spark)
    register_tdigest_udfs(spark)
    register_hllplus_udfs(spark)  # DISTINCTCOUNTRAWHLLPLUS(rawCol) too
    register_idset_udfs(spark)  # ID_SET works on any column undeclared
    register_kll_udfs(spark)  # PERCENTILERAWKLL(rawCol) builds undeclared
    register_funnel_udfs(spark)  # FUNNEL_MAX_STEP strict_increase SQL form
    register_normalize_udf(spark)  # NORMALIZE(str[, form])
    _UDF_SESSIONS.add(spark)


class PinotEngine:
    """User-facing engine: Pinot-dialect SQL in, DataFrame / broker
    envelope out. Tables come from a parquet directory (the driver's
    TESTDATA layout) or from prior `register` calls."""

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str | None = None,
        tables: list[str] | None = None,
        default_limit: int = 10,
        num_groups_limit: int = 100_000,
    ):
        self.spark = spark
        self.default_limit = default_limit  # Pinot broker default for selections
        self.num_groups_limit = num_groups_limit
        self._dfs: dict[str, DataFrame] = {}
        self._json_schemas: dict[str, T.DataType] = {}
        self._array_columns: set[str] = set()
        self._binary_columns: set[str] = set()
        self._table_columns: set[str] = set()
        self._table_counts: dict[str, int] = {}  # totalDocs cache
        self._json_index_configs: dict = {}  # column → JsonIndexConfig
        self._timestamp_index: dict[tuple[str, str], str] = {}
        self._text_index: dict[str, str] = {}
        self._segment_partitions: dict[str, int] = {}
        self._sketch_ranges: dict[str, tuple[float, float]] = {}
        self._sketch_columns: dict[str, str] = {}  # column → SKETCH_KINDS kind
        self._column_types: dict[str, str] = {}  # column → Spark simpleString
        self._upsert_tables: dict[str, object] = {}  # name → UpsertConfig
        self._rollups: list = []  # RollupSpec registry
        share_package_with_workers(spark)
        _register_session_udfs(spark)
        if sf_dir:
            for name, df in load_tables(spark, sf_dir, tables).items():
                self._note_table(name, df)

    def register(self, name: str, df: DataFrame, json_columns: list[str] | None = None):
        df.createOrReplaceTempView(name)
        self._note_table(name, df, json_columns)

    def _note_table(self, name: str, df: DataFrame, json_columns: list[str] | None = None):
        self._dfs[name] = df
        self._table_counts.pop(name, None)
        for f in df.schema.fields:
            self._table_columns.add(f.name)
            self._column_types[f.name] = f.dataType.simpleString()
            if isinstance(f.dataType, T.ArrayType):
                self._array_columns.add(f.name)
            if isinstance(f.dataType, T.BinaryType):
                self._binary_columns.add(f.name)
        for col in json_columns or []:
            self._json_schemas[col] = infer_json_schema(df, col)

    def set_json_index_config(self, column: str, config) -> None:
        """Attach a JSON index flattening config
        (functions.json.JsonIndexConfig) to a JSON column: JSON_MATCH
        predicates on paths the config leaves unindexed match nothing,
        as in Pinot (json-index.md:53-81)."""
        self._json_index_configs[column] = config

    def infer_json(self, table: str, column: str):
        """Build the engine's JSON-index analogue: infer + cache the
        column's JSON schema so JSON_MATCH [*] paths compile."""
        self._json_schemas[column] = infer_json_schema(self._dfs[table], column)

    def register_ingested(self, name: str, table_path: str):
        """Register a table written by sources.batch.ingest_batch, picking
        up its layout metadata (timestamp-index columns → dialect rewrite,
        Pinot's dynamic index reload surface, indexing/README.md:36-72)."""
        from apache_pinot_spark.sources.batch import read_table_meta, register_table

        df = register_table(self.spark, name, table_path)
        self._note_table(name, df)
        meta = read_table_meta(table_path)
        for col, units in (meta["config"].get("timestampIndexGranularities") or {}).items():
            for unit in units:
                self._timestamp_index[(col, unit.upper())] = f"${col}${unit.upper()}"
        for col in meta["config"].get("textIndexColumns") or []:
            self._text_index[col] = f"${col}$tokens"
        sp_col = meta["config"].get("segmentPartitionColumn")
        if sp_col:
            self._segment_partitions[sp_col] = int(
                meta["config"].get("numSegmentPartitions", 8)
            )
        for c, n in (meta["config"].get("segmentPartitionMap") or {}).items():
            self._segment_partitions[c] = int(n)
        self.apply_sketch_columns(meta["config"].get("sketchColumns") or {}, df.schema)

    def apply_sketch_columns(self, mapping: dict[str, str], *schemas: T.StructType) -> None:
        """Declare BYTES sketch-state columns, column → SKETCH_KINDS kind
        (TableConfig.sketch_columns / the table config's sketchColumns
        map), so the matching aggregate functions merge in the right
        wire domain (schema.md:48). ``schemas`` are those of the table
        being declared (``register_ingested`` and the HTTP route pass
        it). All or nothing: an unknown kind, or a mapped column that one
        of ``schemas`` holds as anything but BYTES, raises before any
        column is declared."""
        kinds = check_sketch_columns(mapping, *schemas)
        for family in dict.fromkeys(SKETCH_KINDS[k] for k in kinds.values()):
            if family is not None:
                module, registrar = family
                mod = importlib.import_module(f"apache_pinot_spark.{module}")
                getattr(mod, registrar)(self.spark)
        self._sketch_columns.update(kinds)

    def register_sketch_range(self, column: str, lo: float, hi: float) -> None:
        """Declare the [lo, hi) histogram range of a BYTES percentile-sketch
        column (functions/quantile.py) so PERCENTILEEST / PERCENTILETDIGEST
        over it can merge-and-estimate (schema.md:48)."""
        self._sketch_ranges[column] = (float(lo), float(hi))

    def add_rollup(self, spec):
        """Register a star-tree-style rollup (plans/rollup.py) for
        aggregate-rewrite matching."""
        self._rollups.append(spec)

    def register_upsert_table(self, name: str, df: DataFrame, upsert_cfg) -> None:
        """Register a table with upsert semantics (public upsert-enabled
        realtime tables: primaryKeyColumns + upsertConfig): every SQL
        query against ``name`` sees the RESOLVED view — one row per
        primary key, latest by the comparison column, tombstones applied
        (operators/upsert.py). The raw version-history frame stays
        queryable as ``<name>_raw`` — the public ``skipUpsert=true``
        escape. Works on any frame, including a hybrid/consuming view, so
        re-registering after new segments commit refreshes the
        resolution."""
        from apache_pinot_spark.operators.upsert import upsert_view

        self.register(name, upsert_view(df, upsert_cfg))
        self.register(f"{name}_raw", df)
        self._upsert_tables[name] = upsert_cfg

    def register_dedup_table(self, name: str, df: DataFrame, dedup_cfg) -> None:
        """Register a table with dedup semantics (public dedup config:
        first record per primary key wins, later duplicates are dropped).
        Same raw escape as upsert tables (``<name>_raw``)."""
        from apache_pinot_spark.operators.upsert import dedup_keep_first_view

        self.register(name, dedup_keep_first_view(df, dedup_cfg))
        self.register(f"{name}_raw", df)
        self._upsert_tables[name] = dedup_cfg

    @property
    def dialect(self) -> PinotDialect:
        return PinotDialect(
            self._array_columns,
            self._json_schemas,
            self._timestamp_index,
            self._text_index,
            self._table_columns,
            self._binary_columns,
            self._json_index_configs,
            self._segment_partitions,
            self._sketch_ranges,
            self._sketch_columns,
            self._column_types,
        )

    def rewrite(self, pinot_sql: str) -> RewriteResult:
        return self.dialect.rewrite(pinot_sql)

    def sql(self, pinot_sql: str) -> DataFrame:
        if m := _EXPLAIN_RE.match(pinot_sql):
            return self._explain_plan(pinot_sql[m.end() :])
        gdf = self._maybe_gapfill(pinot_sql)
        if gdf is not None:
            return gdf
        rr = self.rewrite(pinot_sql)
        rewritten = rr.sql
        # public useStarTree=false option: bypass the rollup rewrite and
        # answer from the raw table
        if rr.options.get("useStarTree", "true").strip().lower() != "false":
            hit = self._try_rollup(rewritten)
            if hit is not None:
                return hit
        return self.spark.sql(rewritten)

    def _explain_plan(self, inner_sql: str) -> DataFrame:
        """The public ``EXPLAIN PLAN FOR <query>`` statement: a relation
        of (Operator, Operator_Id, Parent_Id) rows — the public result
        shape — describing THIS engine's physical plan (Spark operators
        rather than Pinot server operators: the honest answer here).
        Ids are pre-order; the root's parent is -1."""
        df = self.sql(inner_sql)
        tree = df._jdf.queryExecution().executedPlan().treeString()
        rows = []
        stack: list[tuple[int, int]] = []  # (depth, id)
        for line in tree.splitlines():
            if not line.strip():
                continue
            stripped = line.lstrip(" :+-")
            depth = (len(line) - len(stripped)) // 3
            node_id = len(rows)
            while stack and stack[-1][0] >= depth:
                stack.pop()
            parent = stack[-1][1] if stack else -1
            stack.append((depth, node_id))
            rows.append((stripped.rstrip(), node_id, parent))
        return local_frame(
            self.spark, rows, "Operator string, Operator_Id int, Parent_Id int"
        )

    def _maybe_gapfill(self, sql: str) -> DataFrame | None:
        """Route a statement containing GAPFILL. Two public shapes:

        * projection form — GAPFILL in the top-level SELECT: densify the
          statement's own aggregated rows (round-5 behavior).
        * aggregate-over-gapfill (nested outer query, round 6): the
          GAPFILL projection sits in a subquery and the outer query
          aggregates the densified series (the public "occupied slots
          per hour" shape). The subquery runs through the gapfill
          operator, lands as a temp view, and the outer statement —
          itself fully dialect-capable — runs against it.
        """
        m = _GAPFILL_RE.search(sql)
        if m is None:
            return None
        span = _enclosing_subquery(sql, m.start())
        if span is None:
            return self._run_gapfill(*_parse_gapfill(sql))
        lo, hi = span
        gdf = self._run_gapfill(*_parse_gapfill(sql[lo + 1 : hi]))
        self._gapfill_seq = getattr(self, "_gapfill_seq", 0) + 1
        view = f"__pinot_gapfill_{self._gapfill_seq}"
        gdf.createOrReplaceTempView(view)
        try:
            # substitute a parenthesized SELECT, not a bare view name —
            # valid in EVERY subquery position: "FROM ( … ) t" and the
            # CTE body "WITH g AS ( … )" alike (a bare name breaks the
            # latter); trailing aliases survive either way
            out = self.sql(sql[:lo] + f"(SELECT * FROM {view})" + sql[hi + 1 :])
        finally:
            # analysis has resolved the view into the plan; the name can go
            self.spark.catalog.dropTempView(view)
        return out

    def _literal_to_ms(self, fmt_spec, raw: str) -> int:
        """A start/end literal in the declared time format → epoch ms.
        EPOCH units convert arithmetically; SIMPLE_DATE_FORMAT literals
        are parsed with Spark's own Java pattern semantics on a one-row
        local relation (no data read; runs once at rewrite time)."""
        if fmt_spec.fmt == "EPOCH":
            return int(raw) * fmt_spec.unit_millis
        row = (
            self.spark.range(1)
            .select(
                F.unix_millis(
                    F.to_timestamp(F.lit(raw), fmt_spec.pattern)
                ).alias("ms")
            )
            .collect()
        )
        if row[0]["ms"] is None:
            raise ValueError(
                f"GAPFILL: literal {raw!r} does not parse with pattern "
                f"{fmt_spec.pattern!r}"
            )
        return int(row[0]["ms"])

    def _run_gapfill(
        self, inner_sql, alias, fmt_spec, start_raw, end_raw, bucket_ms, keys, fills
    ):
        """Execute the GAPFILL table-function form (public gapfill query
        syntax): run the query with GAPFILL's time expression projected
        as ``alias``, normalize the declared time format to epoch ms,
        then densify the (series × bucket) grid with operators/
        gapfill.py. The observed rows are already one per (series,
        bucket) — the inner aggregation did that — so the operator's
        per-bucket aggregate is first(). The output time column is
        rendered back in the declared format (what the public function
        returns)."""
        from apache_pinot_spark.operators.gapfill import gapfill as _gapfill

        start_ms = self._literal_to_ms(fmt_spec, start_raw)
        end_ms = self._literal_to_ms(fmt_spec, end_raw)
        if fmt_spec.fmt == "SIMPLE_DATE_FORMAT":
            # The pattern must be able to REPRESENT the bucket grid: a
            # pattern coarser than the bucket (e.g. yyyy-MM-dd with
            # 1:HOURS buckets) would render adjacent buckets as the same
            # string — the SDF twin of the EPOCH unit-alignment guard.
            # Check by round-tripping the first two bucket boundaries
            # through render+parse on a one-row local relation.
            probe = self.spark.range(1).select(
                *[
                    F.unix_millis(
                        F.to_timestamp(
                            F.date_format(
                                F.timestamp_millis(F.lit(b)), fmt_spec.pattern
                            ),
                            fmt_spec.pattern,
                        )
                    ).alias(f"b{i}")
                    for i, b in enumerate((start_ms, start_ms + bucket_ms))
                ]
            ).collect()[0]
            if probe["b0"] != start_ms or probe["b1"] != start_ms + bucket_ms:
                raise ValueError(
                    f"GAPFILL: pattern {fmt_spec.pattern!r} cannot represent "
                    "the bucket grid (adjacent buckets would render "
                    "identically or shift) — use a finer pattern or a "
                    "coarser bucket"
                )
        observed = self.sql(inner_sql)
        ms_col = "__gapfill_ms"
        observed = observed.withColumn(ms_col, fmt_spec.epoch_millis(F.col(alias)))
        value_cols = [
            c for c in observed.columns
            if c not in (alias, ms_col) and c not in keys
        ]
        unknown = set(fills) - set(value_cols)
        if unknown:
            raise ValueError(
                f"GAPFILL: FILL over non-projected columns {sorted(unknown)}; "
                f"projected value columns: {value_cols}"
            )
        out = _gapfill(
            observed.drop(alias),
            ms_col,
            bucket_ms,
            start_ms,
            end_ms,
            keys,
            {c: F.first(c) for c in value_cols},
            fill=fills or None,
        )
        if fmt_spec.fmt == "SIMPLE_DATE_FORMAT":
            rendered = F.date_format(
                F.timestamp_millis(F.col("bucket_ms_start")), fmt_spec.pattern
            )
        else:
            rendered = (
                F.col("bucket_ms_start") / F.lit(fmt_spec.unit_millis)
            ).cast("long")
        return out.select(
            rendered.alias(alias),
            *[c for c in out.columns if c != "bucket_ms_start"],
        )

    # -- star-tree / rollup aggregate rewrite (SURVEY §4) --------------------
    _SIMPLE_AGG_RE = re.compile(
        r"^\s*(COUNT|SUM|MIN|MAX|AVG)\s*\(\s*(DISTINCT\s+)?(\*|[A-Za-z_]\w*)\s*\)"
        r"\s*(?:AS\s+([A-Za-z_]\w*))?\s*$",
        re.IGNORECASE,
    )
    _GB_SHAPE_RE = re.compile(
        r"^\s*SELECT\s+(?P<sel>.*?)\s+FROM\s+(?P<tbl>[A-Za-z_]\w*)\s+"
        r"(?:WHERE\s+(?P<where>.*?)\s+)?"
        r"GROUP\s+BY\s+(?P<dims>[\w\s,]+?)\s*"
        r"(?P<tail>(ORDER\s+BY\s+[\w\s,]+?)?\s*(LIMIT\s+\d+)?)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    # WHERE forms a star-tree can answer: predicates over DIMENSION columns
    # only (dims are fully enumerated in the rollup, so filtering rollup
    # rows is exact). Conservative allowlist: col <op> literal / IN list /
    # BETWEEN, combined with AND/OR/NOT and parens.
    _DIM_WHERE_TOKEN_RE = re.compile(
        r"\s*(?:AND|OR|NOT|IN|BETWEEN|\(|\)|,|<=|>=|<>|!=|=|<|>|"
        r"'(?:[^']|'')*'|-?\d+(?:\.\d+)?|[A-Za-z_]\w*)",
        re.IGNORECASE,
    )

    def _rollup_where_ok(self, where: str, dimensions: list[str]) -> bool:
        """True iff the WHERE clause references ONLY rollup dimensions and
        stays inside the simple predicate grammar above."""
        pos = 0
        dimset = {d.lower() for d in dimensions}
        keywords = {"and", "or", "not", "in", "between"}
        while pos < len(where.rstrip()):
            m = self._DIM_WHERE_TOKEN_RE.match(where, pos)
            if not m:
                return False
            tok = m.group(0).strip()
            if re.match(r"^[A-Za-z_]\w*$", tok) and tok.lower() not in keywords:
                if tok.lower() not in dimset:
                    return False  # references a non-dimension column
            pos = m.end()
        return True

    def _try_rollup(self, sql: str):
        """Substitute a covering rollup for group-by queries it can answer
        exactly: aggregates merge from stored partials, and any WHERE
        touches only rollup DIMENSIONS (the star-tree property — dimension
        filters select rollup rows; no raw-row scan needed). HAVING or
        metric filters fall through to the raw table."""
        if not self._rollups:
            return None
        from apache_pinot_spark.plans.rollup import AggRequest, answer_from_rollup, covers

        m = self._GB_SHAPE_RE.match(sql)
        if not m or re.search(r"\bHAVING\b", sql, re.IGNORECASE):
            return None
        dims = [d.strip() for d in m.group("dims").split(",") if d.strip()]
        items = []
        depth, buf = 0, []
        for ch in m.group("sel"):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                items.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
        items.append("".join(buf))
        aggs: list[AggRequest] = []
        out_cols: list[str] = []
        for it in items:
            it = it.strip()
            if it in dims:
                out_cols.append(it)
                continue
            am = self._SIMPLE_AGG_RE.match(it)
            if not am:
                return None
            func, distinct, col, alias = (
                am.group(1).upper(),
                am.group(2),
                am.group(3),
                am.group(4),
            )
            if distinct:
                if func != "COUNT":
                    return None
                func = "DISTINCTCOUNT"
            col_n = None if col == "*" else col
            aggs.append(AggRequest(func, col_n, alias or it.replace(" ", "")))
            out_cols.append(aggs[-1].alias)
        where = (m.group("where") or "").strip()
        for spec in self._rollups:
            if spec.table != m.group("tbl") or not covers(spec, dims, aggs):
                continue
            if where and not self._rollup_where_ok(where, spec.dimensions):
                continue
            df = answer_from_rollup(
                self.spark, spec, dims, aggs, where_sql=where or None
            ).select(*out_cols)
            tail = (m.group("tail") or "").strip()
            if tail:
                df.createOrReplaceTempView("__rollup_answer")
                return self.spark.sql(f"SELECT * FROM __rollup_answer {tail}")
            return df
        return None

    def _collect_with_timeout(self, df: DataFrame, timeout_ms: int, tag: str):
        """Option(timeoutMs=...) (timestamp-index.md:50): run the collect
        under a job group and cancel it when the budget expires — the
        broker-timeout behavior. Only a cancellation the WATCHDOG fired is
        reported as TimeoutError; any other failure (analysis error, OOM,
        bad data) re-raises as itself so real errors aren't masked."""
        import threading

        sc = self.spark.sparkContext
        group = f"pinot-q-{abs(hash(tag)) % 10**9}"
        sc.setJobGroup(group, tag, interruptOnCancel=True)
        done = threading.Event()
        fired = threading.Event()

        def watchdog():
            if not done.wait(timeout_ms / 1000.0):
                fired.set()
                sc.cancelJobGroup(group)

        t = threading.Thread(target=watchdog, daemon=True)
        t.start()
        try:
            return df.collect()
        except Exception as e:
            if fired.is_set():
                raise TimeoutError(
                    f"query exceeded timeoutMs={timeout_ms}: {str(e)[:200]}"
                ) from None
            raise
        finally:
            done.set()
            sc.setJobGroup("", "")

    @staticmethod
    def _filter_output_rows(df) -> int | None:
        """Rows that survived the query's own Filter operator, read from
        the EXECUTED plan's SQLMetrics — zero additional Spark jobs. Walks
        the physical tree (unwrapping AQE roots and query stages) and
        returns the FilterExec numOutputRows; with several Filters (one
        per join side, subqueries) it returns None rather than guess."""
        try:
            stack = [df._jdf.queryExecution().executedPlan()]
            vals = []
            while stack:
                node = stack.pop()
                name = node.getClass().getSimpleName()
                if name == "AdaptiveSparkPlanExec":
                    node = node.executedPlan()
                    name = node.getClass().getSimpleName()
                if name == "FilterExec":
                    m = node.metrics()
                    if m.contains("numOutputRows"):
                        vals.append(m.apply("numOutputRows").value())
                if name.endswith("QueryStageExec"):
                    stack.append(node.plan())
                ch = node.children()
                for i in range(ch.size()):
                    stack.append(ch.apply(i))
            if len(vals) == 1:
                return int(vals[0])
            return None
        except Exception:
            return None

    def _scan_stats(self, sql: str, n_projected: int, n_rows: int, df=None) -> dict:
        """Honest envelope scan statistics (basics/Architecture.md:143-148):
        totalDocs = docs in the queried table, numDocsScanned = docs the
        filter SELECTED (scanned for projection — not rows returned),
        numEntriesScannedInFilter = filter-column entries evaluated
        (totalDocs × predicate columns in the scan model — no inverted
        index shortcut yet), numEntriesScannedPostFilter = selected docs ×
        projected columns. Single-table queries only; joins/subqueries get
        -1 (Pinot's own stats are per-table too). Counts are parquet
        metadata / cached; the WHERE selectivity is read from the executed
        job's FilterExec metric (`_filter_output_rows`), NOT a second
        COUNT(*) job — at scale re-running the filter would double every
        envelope query's scan cost."""
        out = {
            "totalDocs": -1,
            "numDocsScanned": n_rows,
            "numEntriesScannedInFilter": 0,
            "numEntriesScannedPostFilter": n_rows * n_projected,
        }
        froms = _FROM_RE.findall(sql)
        if len(froms) != 1 or froms[0] not in self._dfs:
            return out
        tbl = froms[0]
        if tbl not in self._table_counts:
            self._table_counts[tbl] = self._dfs[tbl].count()
        total = self._table_counts[tbl]
        out["totalDocs"] = total
        wm = re.search(
            r"\bWHERE\b(.*?)(\bGROUP\s+BY\b|\bORDER\s+BY\b|\bLIMIT\b|$)",
            sql,
            re.IGNORECASE | re.DOTALL,
        )
        if not wm:
            out["numDocsScanned"] = total
            out["numEntriesScannedInFilter"] = 0
            out["numEntriesScannedPostFilter"] = total * n_projected
            return out
        where = wm.group(1).strip()
        matched = self._filter_output_rows(df) if df is not None else None
        if matched is None:
            return out
        filter_cols = {
            c for c in self._dfs[tbl].columns
            if re.search(rf"\b{re.escape(c)}\b", where)
        }
        out["numDocsScanned"] = matched
        out["numEntriesScannedInFilter"] = total * max(len(filter_cols), 1)
        out["numEntriesScannedPostFilter"] = matched * n_projected
        return out

    def query(self, pinot_sql: str) -> dict:
        """Execute and wrap in the broker JSON envelope
        (basics/Architecture.md:121-152). Selection queries without LIMIT
        get Pinot's implicit LIMIT (default 10)."""
        t0 = time.monotonic()
        try:
            if m := _EXPLAIN_RE.match(pinot_sql):
                df = self._explain_plan(pinot_sql[m.end() :])
                rr = RewriteResult(pinot_sql, {}, [])
                return self._result_envelope(
                    rr, pinot_sql, df, df.collect(), self.num_groups_limit, t0
                )
            df = self._maybe_gapfill(pinot_sql)
            if df is not None:
                # Mirror sql(): GAPFILL is a table function the rewriter
                # can't express — run the operator and wrap the result,
                # instead of letting Spark choke on an unknown function.
                rr = RewriteResult(pinot_sql, {}, [])
                sql = pinot_sql
                rows = df.collect()
                groups_cap = self.num_groups_limit
            else:
                return self._query_rewritten(pinot_sql, t0)
        except Exception as e:  # parse/analysis/execution error → envelope
            return self._error_envelope(e, t0)
        return self._result_envelope(rr, sql, df, rows, groups_cap, t0)

    def _query_rewritten(self, pinot_sql: str, t0: float) -> dict:
        try:
            rr = self.rewrite(pinot_sql)
            sql = rr.sql
            is_selection = not _GROUPBY_RE.search(sql) and not _AGG_RE.search(
                sql[: sql.upper().find("FROM")]
            )
            if is_selection and not _LIMIT_RE.search(sql) and self.default_limit:
                sql = sql.rstrip().rstrip(";") + f" LIMIT {self.default_limit}"
            # numGroupsLimit is enforced IN the SQL (LIMIT cap+1 sentinel),
            # not by post-collect truncation — a 10M-group GROUP BY must
            # not materialize 10M rows on the driver to keep 100k.
            groups_cap = int(rr.options.get("numGroupsLimit", self.num_groups_limit))
            if _GROUPBY_RE.search(sql) and not _LIMIT_RE.search(sql):
                sql = sql.rstrip().rstrip(";") + f" LIMIT {groups_cap + 1}"
            # the envelope path gets the same rollup acceleration as
            # sql() (and the same useStarTree=false bypass)
            df = None
            if rr.options.get("useStarTree", "true").strip().lower() != "false":
                df = self._try_rollup(sql)
            if df is None:
                df = self.spark.sql(sql)
            timeout_ms = int(rr.options.get("timeoutMs", 0)) or None
            if timeout_ms:
                rows = self._collect_with_timeout(df, timeout_ms, pinot_sql)
            else:
                rows = df.collect()
        except Exception as e:  # parse/analysis/execution error → envelope
            return self._error_envelope(e, t0)
        return self._result_envelope(rr, sql, df, rows, groups_cap, t0)

    def _error_envelope(self, e: Exception, t0: float) -> dict:
        return {
            "resultTable": {"dataSchema": {"columnDataTypes": [], "columnNames": []}, "rows": []},
            "exceptions": [{"errorCode": 200, "message": str(e)[:500]}],
            "numServersQueried": 0,
            "numServersResponded": 0,
            "numSegmentsQueried": 0,
            "numSegmentsProcessed": 0,
            "numSegmentsMatched": 0,
            "numConsumingSegmentsQueried": 0,
            "numDocsScanned": 0,
            "numEntriesScannedInFilter": 0,
            "numEntriesScannedPostFilter": 0,
            "numGroupsLimitReached": False,
            "totalDocs": 0,
            "timeUsedMs": int((time.monotonic() - t0) * 1000),
            "segmentStatistics": [],
            "traceInfo": {},
            "minConsumingFreshnessTimeMs": 0,
        }

    def _result_envelope(self, rr, sql, df, rows, groups_cap, t0) -> dict:
        groups_limited = False
        if _GROUPBY_RE.search(sql) and len(rows) > groups_cap:
            rows = rows[:groups_cap]  # the sentinel row (cap+1) proves the cut
            groups_limited = True
        try:
            n_segments = len(df.inputFiles())
        except Exception:
            n_segments = 0
        stats = self._scan_stats(sql, len(df.schema.fields), len(rows), df=df)
        return {
            "resultTable": {
                "dataSchema": {
                    "columnDataTypes": [_pinot_type(f.dataType) for f in df.schema.fields],
                    "columnNames": [f.name for f in df.schema.fields],
                },
                "rows": [[r[i] for i in range(len(df.schema.fields))] for r in rows],
            },
            "exceptions": [],
            "numServersQueried": 1,
            "numServersResponded": 1,
            "numSegmentsQueried": n_segments,
            "numSegmentsProcessed": n_segments,
            "numSegmentsMatched": n_segments,
            "numConsumingSegmentsQueried": 0,
            "numDocsScanned": stats["numDocsScanned"],
            "numEntriesScannedInFilter": stats["numEntriesScannedInFilter"],
            "numEntriesScannedPostFilter": stats["numEntriesScannedPostFilter"],
            "numGroupsLimitReached": groups_limited,
            "totalDocs": stats["totalDocs"],
            "timeUsedMs": int((time.monotonic() - t0) * 1000),
            "segmentStatistics": [],
            # advisory rewrite notes (scale-relevant fallbacks, e.g. the
            # HLL join-shape fold) ride in traceInfo so REST clients see
            # cost cliffs without a failing status
            "traceInfo": (
                {"rewriteNotes": list(rr.notes)} if rr.notes else {}
            ),
            "minConsumingFreshnessTimeMs": 0,
        }
