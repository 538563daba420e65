"""TEXT_MATCH / TEXT_CONTAINS — full-text predicates as pure Spark
expressions.

Reference semantics (basics/indexing/text-search-support.md):
  * expression types (lines 34-40, 321-539): phrase '"w1 w2"' (exact
    in-order adjacency), term 'Java', boolean AND with implicit OR for
    juxtaposed operands, grouping '(...)', prefix 'stream*',
    regex '/pattern/'; plus the Lucene proximity form '"w1 w2"~N' the
    public engine accepts through its Lucene query parser (Lucene
    position-displacement semantics incl. transpositions at slop >= 2 —
    see _sloppy_phrase)
  * matching is case-insensitive (line 378)
  * the default English stop-word set (lines 251-257) is dropped at both
    index and query time, with per-column include/exclude overrides
    (lines 261-277)
TEXT_CONTAINS (basics/indexing/native-text-index.md:33-55) takes a single
term / prefix-wildcard "foo.*" / postfix-wildcard ".*bar" with standard
regex semantics.

Spark-first design: instead of a Lucene index we compile the search
expression into boolean combinations of `array_contains` / `exists` /
`contains` over a tokenized shadow column — all JVM built-ins inside
whole-stage codegen, so the predicate is evaluated during the columnar
scan and benefits from parquet filter pushdown on any conjunct scalar
predicates. At 100 TB the tokenized column can be materialized at ingest
(engine table-config `textIndexColumns`) so queries skip re-tokenizing.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pandas as pd  # module-level: pandas_udf type-hint inference needs 'pd.*'
from pyspark.sql import Column
from pyspark.sql import functions as F

# Default English stop words (reference text-search-support.md:251-257).
DEFAULT_STOP_WORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then than there these they this to was will with those""".split()
)


def effective_stop_words(
    include: set[str] | None = None, exclude: set[str] | None = None
) -> frozenset[str]:
    """Per-column stop-word overrides; a word in both lists ends up excluded
    (reference text-search-support.md:277)."""
    words = set(DEFAULT_STOP_WORDS) | {w.lower() for w in (include or set())}
    return frozenset(words - {w.lower() for w in (exclude or set())})


def tokens_expr(col: Column | str, stop_words: frozenset[str] = DEFAULT_STOP_WORDS) -> Column:
    """Lowercase, split on non-alphanumerics, drop empties and stop words —
    the engine's stand-in for Lucene's standard English analyzer."""
    c = F.col(col) if isinstance(col, str) else col
    raw = F.split(F.lower(c), "[^a-z0-9]+")
    stop_arr = F.array(*[F.lit(w) for w in sorted(stop_words)])
    return F.filter(raw, lambda x: (x != F.lit("")) & ~F.array_contains(stop_arr, x))


# --------------------------------------------------------------------------
# Search-expression parser: tiny recursive descent.
#   or_expr  := and_expr ((OR)? and_expr)*      juxtaposition = implicit OR
#   and_expr := unit (AND unit)*                AND binds tighter than OR
#   unit     := '(' or_expr ')' | '"phrase"' | '/regex/' | term['*']
# --------------------------------------------------------------------------


@dataclass
class _Node:
    kind: str  # 'term' | 'prefix' | 'phrase' | 'regex' | 'and' | 'or'
    value: str | None = None
    children: list["_Node"] | None = None
    slop: int = 0  # phrase proximity: '"w1 w2"~N' (0 = exact adjacency)


_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lparen>\()
      | (?P<rparen>\))
      | (?P<phrase>"(?:\\.|[^"])*"(?:~\d+)?)
      | (?P<regex>/(?:\\.|[^/])*/)
      | (?P<word>[^\s()]+)
    )""",
    re.VERBOSE,
)


def _lex(expr: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(expr):
        m = _TOKEN_RE.match(expr, pos)
        if not m or m.end() == pos:
            if expr[pos:].strip() == "":
                break
            raise ValueError(f"TEXT_MATCH: cannot lex {expr[pos:]!r}")
        pos = m.end()
        for kind in ("lparen", "rparen", "phrase", "regex", "word"):
            if m.group(kind) is not None:
                if kind == "word" and m.group(kind)[0] in '"/':
                    raise ValueError(
                        f"TEXT_MATCH: unterminated phrase/regex at {m.group(kind)!r}"
                    )
                out.append((kind, m.group(kind)))
                break
    return out


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def parse(self) -> _Node:
        node = self.or_expr()
        if self.i != len(self.toks):
            raise ValueError(f"TEXT_MATCH: trailing tokens {self.toks[self.i:]}")
        return node

    def or_expr(self) -> _Node:
        parts = [self.and_expr()]
        while True:
            kind, val = self.peek()
            if kind == "word" and val.upper() == "OR":
                self.i += 1
                parts.append(self.and_expr())
            elif kind in ("phrase", "regex", "lparen") or (
                kind == "word" and val.upper() not in ("AND", "OR")
            ):
                parts.append(self.and_expr())
            else:
                break
        return parts[0] if len(parts) == 1 else _Node("or", children=parts)

    def and_expr(self) -> _Node:
        parts = [self.unit()]
        while True:
            kind, val = self.peek()
            if kind == "word" and val.upper() == "AND":
                self.i += 1
                parts.append(self.unit())
            else:
                break
        return parts[0] if len(parts) == 1 else _Node("and", children=parts)

    def unit(self) -> _Node:
        kind, val = self.peek()
        if kind == "lparen":
            self.i += 1
            node = self.or_expr()
            k, _ = self.peek()
            if k != "rparen":
                raise ValueError("TEXT_MATCH: unbalanced parentheses")
            self.i += 1
            return node
        if kind == "phrase":
            self.i += 1
            slop = 0
            body = val
            if not body.endswith('"'):  # trailing ~N proximity suffix
                body, _, digits = body.rpartition("~")
                slop = int(digits)
            return _Node("phrase", value=body[1:-1].replace('\\"', '"'), slop=slop)
        if kind == "regex":
            self.i += 1
            return _Node("regex", value=val[1:-1].replace("\\/", "/"))
        if kind == "word":
            self.i += 1
            if val.endswith("*") and len(val) > 1:
                return _Node("prefix", value=val[:-1].lower())
            return _Node("term", value=val.lower())
        raise ValueError("TEXT_MATCH: empty expression")


def parse_text_expression(expr: str) -> _Node:
    return _Parser(_lex(expr)).parse()


def _norm_terms(text: str, stop_words: frozenset[str]) -> list[str]:
    return [t for t in re.split("[^a-z0-9]+", text.lower()) if t and t not in stop_words]


def _compile(node: _Node, tokens: Column, joined: Column, stop_words: frozenset[str]) -> Column:
    if node.kind == "and":
        out = _compile(node.children[0], tokens, joined, stop_words)
        for ch in node.children[1:]:
            out = out & _compile(ch, tokens, joined, stop_words)
        return out
    if node.kind == "or":
        out = _compile(node.children[0], tokens, joined, stop_words)
        for ch in node.children[1:]:
            out = out | _compile(ch, tokens, joined, stop_words)
        return out
    if node.kind == "term":
        # Query terms pass through the same analyzer as the indexed text
        # (Lucene analyzes query terms): 'C++' → token 'c',
        # 'multi-threading' → adjacent tokens 'multi' 'threading'.
        terms = _norm_terms(node.value, stop_words)
        if not terms:  # pure stop word — ignored by the index
            return F.lit(True)
        if len(terms) == 1:
            return F.array_contains(tokens, terms[0])
        return joined.contains(" " + " ".join(terms) + " ")
    if node.kind == "prefix":
        prefix = _norm_terms(node.value, frozenset())
        pref = prefix[-1] if prefix else node.value
        return F.exists(tokens, lambda t: t.startswith(pref))
    if node.kind == "phrase":
        terms = _norm_terms(node.value, stop_words)
        if not terms:
            return F.lit(True)
        if len(terms) == 1:
            return F.array_contains(tokens, terms[0])
        if node.slop > 0:
            return _sloppy_phrase(terms, node.slop, tokens)
        # Adjacency-in-order over the stop-word-filtered token stream:
        # substring match on the space-joined canonical form.
        return joined.contains(" " + " ".join(terms) + " ")
    if node.kind == "regex":
        # Lucene regex queries match whole (lowercased) tokens; keep the
        # documented behavior of '/.*Exception/' matching records containing
        # 'exception' by anchoring per-token, case-insensitively.
        pat = "(?i)^(?:" + node.value + ")$"
        return F.exists(tokens, lambda t: t.rlike(pat))
    raise AssertionError(node.kind)


def _sloppy_phrase(terms: list[str], slop: int, tokens: Column) -> Column:
    """Proximity phrase '"w1 … wk"~N' with Lucene's position-displacement
    semantics: the phrase matches iff each term can be assigned a DISTINCT
    token position p_i such that the displacements s_i = p_i - i fit in a
    window of width N (max(s) - min(s) <= N). In-order matches reduce to
    "span <= k-1+N" (s is monotone when positions increase), and
    out-of-order assignments cost >= 2 — so an adjacent transposition
    ('"a b"~2' over 'b a') matches exactly from slop 2 up, as in Lucene
    (round-8 fix: the earlier in-order-only reading rejected it;
    reference grammar: basics/indexing/text-search-support.md:34-40).
    For slop <= 1 the displacement window admits ONLY in-order matches,
    so the cheap anchored-window scan is used.

    JVM shape, slop <= 1: positions of the FIRST term (one transform +
    filter), then an rlike over the space-joined window of the next
    k-1+N tokens checking the remaining terms as an in-order subsequence.
    JVM shape, slop >= 2: per-term position arrays + nested EXISTS over
    the k-way assignment with the displacement-window and distinctness
    conditions — expression size O(k²), runtime O(prod occurrences)
    per row (phrase terms are selective; k is the phrase length)."""
    k = len(terms)
    if slop <= 1:
        span_after = k - 1 + slop  # window length after the anchor position
        sub_pat = " " + "(?: \\S+)* ".join(re.escape(t) for t in terms[1:]) + " "
        first_positions = F.filter(
            F.transform(tokens, lambda t, i: F.when(t == terms[0], i)),
            lambda p: p.isNotNull(),
        )
        return F.exists(
            first_positions,
            lambda p: F.concat(
                F.lit(" "),
                F.array_join(F.slice(tokens, p + 2, span_after), " "),
                F.lit(" "),
            ).rlike(sub_pat),
        )
    def _positions_of(term: str) -> Column:
        return F.filter(
            F.transform(tokens, lambda t, i: F.when(t == term, i)),
            lambda p: p.isNotNull(),
        )

    positions = [_positions_of(term) for term in terms]

    def assignment_ok(bound: list[Column]) -> Column:
        shifts = [p - i for i, p in enumerate(bound)]
        cond = F.greatest(*shifts) - F.least(*shifts) <= slop
        for i in range(k):
            for j in range(i + 1, k):
                cond = cond & (bound[i] != bound[j])
        return cond

    def search(i: int, bound: list[Column]) -> Column:
        if i == k:
            return assignment_ok(bound)
        return F.exists(positions[i], lambda p: search(i + 1, bound + [p]))

    return search(0, [])


def text_match(
    col: Column | str,
    expr: str,
    include_stop_words: set[str] | None = None,
    exclude_stop_words: set[str] | None = None,
    tokens: Column | None = None,
) -> Column:
    """Boolean Column implementing Pinot's TEXT_MATCH(col, expr).

    Pass ``tokens`` to reuse a materialized tokenized shadow column (the
    engine's text-index equivalent) instead of tokenizing inline.
    """
    stop = effective_stop_words(include_stop_words, exclude_stop_words)
    ast = parse_text_expression(expr)  # parse first: fail fast on bad syntax
    toks = tokens if tokens is not None else tokens_expr(col, stop)
    joined = F.concat(F.lit(" "), F.array_join(toks, " "), F.lit(" "))
    return _compile(ast, toks, joined, stop)


def text_contains(col: Column | str, pattern: str) -> Column:
    """TEXT_CONTAINS(col, pattern) — native-text-index predicate
    (native-text-index.md:33-55): a term, prefix wildcard "foo.*", or
    postfix wildcard ".*bar", standard regex semantics, matched against
    whole tokens case-insensitively."""
    toks = tokens_expr(col, frozenset())  # native index has no stop-word list documented
    pat = "(?i)^(?:" + pattern + ")$"
    return F.exists(toks, lambda t: t.rlike(pat))


# --------------------------------------------------------------------------
# SQL-string emitters — same parser + analyzer, but producing a Spark SQL
# boolean expression (used by the engine's SQL front-end, where the
# predicate must be spliced into arbitrary SQL text).
# --------------------------------------------------------------------------


def _sq(s: str) -> str:
    """Single-quote a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def tokens_sql(col_sql: str, stop_words: frozenset[str]) -> str:
    base = f"filter(split(lower({col_sql}), '[^a-z0-9]+'), x -> x != '')"
    if not stop_words:
        return base
    arr = "array(" + ", ".join(_sq(w) for w in sorted(stop_words)) + ")"
    return (
        f"filter(split(lower({col_sql}), '[^a-z0-9]+'), "
        f"x -> x != '' AND NOT array_contains({arr}, x))"
    )


def _emit_sql(node: _Node, toks: str, joined: str, stop_words: frozenset[str]) -> str:
    if node.kind in ("and", "or"):
        op = " AND " if node.kind == "and" else " OR "
        return "(" + op.join(_emit_sql(c, toks, joined, stop_words) for c in node.children) + ")"
    if node.kind in ("term", "phrase"):
        terms = _norm_terms(node.value, stop_words)
        if not terms:
            # stop words only: matches every row. Not a bare ``true``,
            # which text_match_sql's parentheses would turn into a table
            # alias column list after ``FROM t WHERE``.
            return "1 = 1"
        if len(terms) == 1:
            return f"array_contains({toks}, {_sq(terms[0])})"
        if node.kind == "phrase" and node.slop > 0:
            return _sloppy_phrase_sql(terms, node.slop, toks)
        return f"contains({joined}, {_sq(' ' + ' '.join(terms) + ' ')})"
    if node.kind == "prefix":
        prefix = _norm_terms(node.value, frozenset())
        pref = prefix[-1] if prefix else node.value
        return f"exists({toks}, t -> startswith(t, {_sq(pref)}))"
    if node.kind == "regex":
        pat = "(?i)^(?:" + node.value + ")$"
        return f"exists({toks}, t -> t RLIKE {_sq(pat)})"
    raise AssertionError(node.kind)


def _sloppy_phrase_sql(terms: list[str], slop: int, toks: str) -> str:
    """SQL-text twin of _sloppy_phrase (round 8 — the SQL front-end
    previously compiled '"a b"~N' as an EXACT phrase, silently dropping
    the slop). Same displacement-window semantics; always the assignment
    search (the SQL form has no anchored fast path — keeping one emitter
    shape keeps the twin obviously equal to the Column form)."""
    k = len(terms)
    pos = [
        f"filter(transform({toks}, (t, i) -> if(t = {_sq(term)}, i, null)), "
        "p -> p is not null)"
        for term in terms
    ]
    shifts = [f"(p{i} - {i})" for i in range(k)]
    conds = [f"greatest({', '.join(shifts)}) - least({', '.join(shifts)}) <= {slop}"]
    for i in range(k):
        for j in range(i + 1, k):
            conds.append(f"p{i} != p{j}")
    body = "(" + " AND ".join(conds) + ")"
    for i in range(k - 1, -1, -1):
        body = f"exists({pos[i]}, p{i} -> {body})"
    return body


def text_match_sql(
    col_sql: str,
    expr: str,
    include_stop_words: set[str] | None = None,
    exclude_stop_words: set[str] | None = None,
    tokens_column: str | None = None,
) -> str:
    """SQL-text form of text_match(col, expr) — splice into WHERE/SELECT.

    ``tokens_column`` names a materialized tokenized shadow column (the
    engine's text-index equivalent, written by ingest for
    ``textIndexColumns``): the predicate then reads the stored token array
    instead of re-tokenizing the raw text per row."""
    stop = effective_stop_words(include_stop_words, exclude_stop_words)
    ast = parse_text_expression(expr)
    toks = f"`{tokens_column}`" if tokens_column else tokens_sql(col_sql, stop)
    joined = f"concat(' ', array_join({toks}, ' '), ' ')"
    return "(" + _emit_sql(ast, toks, joined, stop) + ")"


def text_contains_sql(col_sql: str, pattern: str) -> str:
    toks = tokens_sql(col_sql, frozenset())
    pat = "(?i)^(?:" + pattern + ")$"
    return f"exists({toks}, t -> t RLIKE {_sq(pat)})"


# --------------------------------------------------------------------------
# Unicode normalization (the public normalize(str[, form]) transform —
# java.text.Normalizer semantics). No Spark builtin exists; a vectorized
# pandas UDF over Python's unicodedata (same Unicode normalization
# algorithm) serves it. Registered eagerly by PinotEngine.
# --------------------------------------------------------------------------
NORMALIZE_UDF = "pinot_normalize"


def register_normalize_udf(spark) -> None:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def pinot_normalize(s: pd.Series, form: pd.Series) -> pd.Series:
        import unicodedata

        f = form.iloc[0] if len(form) else "NFC"
        return s.map(
            lambda x: unicodedata.normalize(f, x) if x is not None else None
        )

    spark.udf.register(NORMALIZE_UDF, pinot_normalize)
