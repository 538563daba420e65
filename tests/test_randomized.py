"""Randomized differentials + hypothesis properties for the late-round
operators. Spark-side checks batch many random cases into ONE job
(per-entity isolation makes that sound); pure-Python invariants
(deterministic sketch guarantees, parsers) go through hypothesis."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from apache_pinot_spark.functions import freqitems as FI
from apache_pinot_spark.operators import funnel as FU
from apache_pinot_spark.operators import upsert as U
from tests.test_funnel_topk import _brute_max_step
import pytest


pytestmark = pytest.mark.slow  # excluded from the default driver-verify lane (see pytest.ini)

# --------------------------------------------------------------------------
# Batched Spark differentials (seeded random, one job for ~60 cases)
# --------------------------------------------------------------------------


def test_funnel_dp_vs_bruteforce_randomized(spark):
    """60 random event histories (dense timestamps, duplicate steps,
    simultaneous events) — every entity's DP answer must equal the
    exhaustive chain search."""
    rng = random.Random(42)
    n_steps, window = 3, 50
    rows, truth = [], {}
    for case in range(60):
        entity = f"e{case}"
        evs = [
            (rng.randrange(0, 200), rng.randrange(1, n_steps + 1))
            for _ in range(rng.randrange(1, 12))
        ]
        truth[entity] = _brute_max_step(evs, n_steps, window)
        rows += [(entity, ts, s) for ts, s in evs]
    df = spark.createDataFrame(rows, "e string, ts long, s int")
    steps = [F.col("s") == i for i in range(1, n_steps + 1)]
    got = {
        r["e"]: r["max_step"]
        for r in FU.funnel_max_step(df, "e", "ts", steps, window).collect()
    }
    # every generated event matches SOME step, so every entity appears —
    # including max_step 0 (funnel events but no step-1 entry)
    assert got == truth


def _ref_partial_merge(history, strategies):
    """Reference partial-upsert fold: apply each strategy over versions
    in comparison order (pure Python, independent of the Spark impl)."""
    out = {}
    ordered = sorted(history, key=lambda r: r["ts"])
    for col, strat in strategies.items():
        vals = [r[col] for r in ordered]
        if strat == "OVERWRITE":
            nn = [v for v in vals if v is not None]
            out[col] = nn[-1] if nn else None
        elif strat == "FORCE_OVERWRITE":
            out[col] = vals[-1]
        elif strat == "IGNORE":
            out[col] = vals[0]
        elif strat == "INCREMENT":
            nn = [v for v in vals if v is not None]
            out[col] = sum(nn) if nn else None  # SUM over no values is NULL
        elif strat == "MAX":
            nn = [v for v in vals if v is not None]
            out[col] = max(nn) if nn else None
        elif strat == "MIN":
            nn = [v for v in vals if v is not None]
            out[col] = min(nn) if nn else None
    return out


def test_partial_upsert_vs_reference_randomized(spark):
    """50 random version histories; every scalar merge strategy must
    match the pure-Python fold (distinct ts per key keeps order total)."""
    rng = random.Random(7)
    strategies = {
        "a": "OVERWRITE", "b": "FORCE_OVERWRITE", "c": "IGNORE",
        "d": "INCREMENT", "e": "MAX", "f": "MIN",
    }
    rows, truth = [], {}
    for k in range(50):
        key = f"k{k}"
        ts_values = rng.sample(range(1000), rng.randrange(1, 8))  # unique ts
        history = []
        for ts in ts_values:
            r = {"ts": ts}
            for col in strategies:
                r[col] = None if rng.random() < 0.3 else float(rng.randrange(-50, 50))
            history.append(r)
        truth[key] = _ref_partial_merge(history, strategies)
        rows += [
            (key, h["ts"], h["a"], h["b"], h["c"], h["d"], h["e"], h["f"])
            for h in history
        ]
    df = spark.createDataFrame(
        rows,
        "pk string, ts long, a double, b double, c double, d double, e double, f double",
    )
    cfg = U.UpsertConfig(
        primary_keys=["pk"], mode="PARTIAL", comparison_column="ts",
        partial_strategies=strategies,
    )
    for r in U.upsert_view(df, cfg).collect():
        want = truth[r["pk"]]
        for col in strategies:
            assert r[col] == want[col], (r["pk"], col, r[col], want[col])


# --------------------------------------------------------------------------
# Hypothesis: deterministic sketch invariants + parser robustness
# --------------------------------------------------------------------------


@given(st.lists(st.integers(0, 200), max_size=400), st.integers(4, 64))
@settings(max_examples=150, deadline=None)
def test_freq_sketch_guarantee_holds_for_any_stream(stream, m):
    """Misra-Gries invariants are DETERMINISTIC (not probabilistic):
    offset ≤ N/(m+1) and truth ∈ [lower_bound, estimate] for every item
    of every stream and every map size."""
    s = FI.FreqSketch.from_values(stream, m=m)
    assert s.max_error <= len(stream) // (m + 1)
    from collections import Counter

    for item, n in Counter(str(v) for v in stream).items():
        assert s.lower_bound(item) <= n <= s.estimate(item)


@given(
    st.lists(st.lists(st.integers(0, 300), max_size=200), min_size=1, max_size=5),
    st.integers(4, 32),
)
@settings(max_examples=60, deadline=None)
def test_freq_sketch_merge_guarantee(parts, m):
    merged = FI.merge_all([FI.FreqSketch.from_values(p, m=m) for p in parts])
    from collections import Counter

    total = Counter(str(v) for p in parts for v in p)
    for item, n in total.items():
        assert merged.lower_bound(item) <= n <= merged.estimate(item)
    assert merged.max_error <= sum(len(p) for p in parts) // (m + 1)
    # serde survives any merge result byte-exactly
    assert FI.serialize(FI.deserialize(FI.serialize(merged))) == FI.serialize(merged)


def test_theta_exact_mode_set_algebra_is_exact(spark):
    """While sketches stay in exact mode (k above the cardinality), the
    SQL set algebra IS set algebra — equality, not approximation. 30
    seeded-random pairs of integer sets, one grouped query."""
    from apache_pinot_spark.sqlfront import PinotEngine

    rng = random.Random(4321)
    pairs = []
    for _ in range(30):
        a = set(rng.sample(range(10_000), rng.randint(0, 300)))
        b = set(rng.sample(range(10_000), rng.randint(0, 300)))
        pairs.append((a, b))
    rows = [(i, side, v) for i, (a, b) in enumerate(pairs)
            for side, vals in (("a", a), ("b", b)) for v in vals]
    eng = PinotEngine(spark)
    eng.register("pairs", spark.createDataFrame(rows, "pair int, side string, v bigint"))
    legs = "'nominalEntries=4096', 'side = ''a''', 'side = ''b'''"
    got = {
        r["pair"]: (r["u"], r["i"], r["d"])
        for r in eng.sql(
            f"SELECT pair, DISTINCTCOUNTTHETASKETCH(v, {legs}, 'SET_UNION($1, $2)') AS u, "
            f"DISTINCTCOUNTTHETASKETCH(v, {legs}, 'SET_INTERSECT($1, $2)') AS i, "
            f"DISTINCTCOUNTTHETASKETCH(v, {legs}, 'SET_DIFF($1, $2)') AS d "
            "FROM pairs GROUP BY pair"
        ).collect()
    }
    want = {
        i: (len(a | b), len(a & b), len(a - b))
        for i, (a, b) in enumerate(pairs) if a or b
    }
    assert got == want


@given(st.text(max_size=60))
@settings(max_examples=200, deadline=None)
def test_set_expression_parser_never_crashes_unexpectedly(expr):
    """The theta set-expression compiler raises ValueError on junk, never
    anything else (and never hangs)."""
    from apache_pinot_spark.sqlfront import theta_set_sql

    try:
        theta_set_sql(expr, ["leg1"], 12)
    except ValueError:
        pass


@given(st.text(max_size=50))
@settings(max_examples=200, deadline=None)
def test_wkt_parsers_raise_value_error_only(s):
    from apache_pinot_spark.functions.geo import parse_wkt_point, parse_wkt_polygon

    for fn in (parse_wkt_point, parse_wkt_polygon):
        try:
            fn(s)
        except ValueError:
            pass


def test_rewriter_structural_fuzz_vs_duckdb(spark, duck):
    """Structural fuzz of the regex rewriter: 40 seeded-random queries
    combining nested predicate trees (=, <, >, IN, BETWEEN, AND/OR/NOT,
    parens), dialect aggregates, CASE branches, and OPTION suffixes over
    lineitem — each runs through PinotEngine AND (translated only where
    the dialect differs) DuckDB. Catches paren/quoting/nesting bugs in
    rewrite_calls that single-feature tests cannot."""
    import random

    from apache_pinot_spark.sqlfront import PinotEngine
    from tests.conftest import SF_CORRECTNESS

    rng = random.Random(1234)
    eng = PinotEngine(spark, SF_CORRECTNESS, tables=["lineitem"])

    num_cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    str_cols = ["l_returnflag", "l_linestatus"]

    def pred(depth: int) -> str:
        if depth <= 0 or rng.random() < 0.35:
            kind = rng.randrange(5)
            if kind == 0:
                return f"{rng.choice(num_cols)} > {rng.randint(0, 40)}"
            if kind == 1:
                return f"{rng.choice(num_cols)} BETWEEN {rng.randint(0, 10)} AND {rng.randint(20, 50)}"
            if kind == 2:
                vals = ", ".join(f"'{v}'" for v in rng.sample(["A", "N", "R", "F", "O"], k=2))
                return f"{rng.choice(str_cols)} IN ({vals})"
            if kind == 3:
                return f"{rng.choice(str_cols)} = '{rng.choice(['A', 'N', 'R', 'F', 'O'])}'"
            return f"NOT ({rng.choice(num_cols)} < {rng.randint(1, 30)})"
        op = rng.choice(["AND", "OR"])
        return f"({pred(depth - 1)} {op} {pred(depth - 1)})"

    for case in range(40):
        p = pred(rng.randint(1, 3))
        c = rng.choice(num_cols)
        agg_kind = rng.randrange(4)
        if agg_kind == 0:
            sel = f"COUNT(*) AS a, MIN({c}) AS b, MAX({c}) AS c2"
            duck_sel = sel
        elif agg_kind == 1:
            sel = f"DISTINCTCOUNT({c}) AS a, COUNT(*) AS b"
            duck_sel = f"COUNT(DISTINCT {c}) AS a, COUNT(*) AS b"
        elif agg_kind == 2:
            sel = (f"SUM(CASE WHEN {pred(1)} THEN 1 ELSE 0 END) AS a, "
                   f"COUNT(*) AS b")
            duck_sel = None  # same text (captured below)
        else:
            sel = f"MINMAXRANGE({c}) AS a, COUNT(*) AS b"
            duck_sel = f"MAX({c}) - MIN({c}) AS a, COUNT(*) AS b"
        if duck_sel is None:
            duck_sel = sel
        suffix = " OPTION(timeoutMs=30000)" if rng.random() < 0.3 else ""
        q = f"SELECT {sel} FROM lineitem WHERE {p}{suffix}"
        dq = f"SELECT {duck_sel} FROM lineitem WHERE {p}"
        got = eng.sql(q).collect()[0]
        want = duck.sql(dq).df().iloc[0]
        for col in ("a", "b"):
            g, w = got[col], want[col]
            assert (g is None and (w is None or w != w)) or float(g) == float(w), (
                f"case {case}: {q!r} -> {col}: {g} vs {w}"
            )
