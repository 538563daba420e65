"""Text analysis operators for corpus curation: token counting, quality
scoring, language ID, and document fingerprinting.

All pure JVM expressions (split/filter/aggregate/regexp) — these run inside
the parquet scan stage at 100 TB with zero shuffles; only the final
aggregations (if any) shuffle, with map-side partial aggregation."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from apache_pinot_spark.functions.text import DEFAULT_STOP_WORDS

# --------------------------------------------------------------------------
# Token counting
# --------------------------------------------------------------------------


def whitespace_tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != F.lit(""))


def token_count_expr(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(whitespace_tokens(col))


def bpe_ish_token_count_expr(col: Column | str) -> Column:
    """BPE-style subword estimate: alphanumeric runs + one token per
    punctuation character — the standard pre-tokenizer shape, a cheap
    deterministic proxy for tokenizer budget accounting. (regexp_extract_all
    rather than lookaround splits: portable to RE2-based engines.)"""
    c = F.col(col) if isinstance(col, str) else col
    runs = F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z0-9]+"), 0))
    punct = F.size(F.regexp_extract_all(c, F.lit(r"[^A-Za-z0-9\s]"), 0))
    return runs + punct


# --------------------------------------------------------------------------
# Quality scoring
# --------------------------------------------------------------------------


def stopword_count_expr(col: Column | str) -> Column:
    toks = whitespace_tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    stop_arr = F.array(*[F.lit(w) for w in sorted(DEFAULT_STOP_WORDS)])
    return F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))


def quality_score_expr(col: Column | str) -> Column:
    """Composite 0-100 heuristic: reward stopword presence (natural prose)
    and moderate token length; penalize digit soup. Deterministic integer/
    single-division arithmetic.

    Single-pass shape: ONE aggregate over the lowered token array carries
    (n_tokens, n_stopwords) as the accumulator; the finish lambda computes
    the full score — accumulator fields are lambda variables, so the many
    references cost nothing (a flat column formula would re-embed the
    tokenize into every ratio term). Char-level features (length, digit
    count) reference only the raw column, which is cheap."""
    c = F.col(col) if isinstance(col, str) else col
    stop_arr = F.array(*[F.lit(w) for w in sorted(DEFAULT_STOP_WORDS)])
    n_chars = F.length(c).cast("double")
    n_digits = (F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))).cast("double")

    def _finish(acc):
        nt = acc["nt"].cast("double")
        stop_ratio = acc["ns"].cast("double") / F.greatest(nt, F.lit(1.0))
        digit_ratio = n_digits / F.greatest(n_chars, F.lit(1.0))
        avg_tok_len = n_chars / F.greatest(nt, F.lit(1.0))
        score = (
            F.lit(50.0)
            + F.least(stop_ratio * 100, F.lit(25.0))
            + F.when((avg_tok_len >= 3) & (avg_tok_len <= 12), F.lit(25.0)).otherwise(
                F.lit(0.0)
            )
            - F.least(digit_ratio * 100, F.lit(50.0))
        )
        return F.greatest(F.least(score, F.lit(100.0)), F.lit(0.0))

    return F.aggregate(
        whitespace_tokens(F.lower(c)),
        F.struct(F.lit(0).alias("nt"), F.lit(0).alias("ns")),
        lambda acc, t: F.struct(
            (acc["nt"] + 1).alias("nt"),
            (acc["ns"] + F.array_contains(stop_arr, t).cast("int")).alias("ns"),
        ),
        _finish,
    )


# --------------------------------------------------------------------------
# Language ID (marker-word heuristic)
# --------------------------------------------------------------------------

# Distinctive high-frequency function words per language. A real system
# uses char n-gram profiles; the marker-set approach is the same decision
# rule (argmax of per-language evidence) with a portable SQL encoding.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in"],
    "fr": ["le", "la", "les", "et", "des"],
    "es": ["el", "los", "las", "y", "una"],
    "de": ["der", "die", "das", "und", "nicht"],
    "zh": ["de", "shi", "bu", "le", "wo"],
}


def lang_marker_counts_expr(col: Column | str) -> Column:
    """All marker counts in ONE pass: array<int>, one slot per language in
    sorted code order. Tokenizes once; per token, one membership check per
    language folded into the accumulator (zip_with over a 5-element array).
    The whole thing is a single linear expression tree — unlike a per-
    language when-chain, nothing is re-evaluated, so the per-row cost is
    O(tokens × languages) and survives any corpus size."""
    c = F.col(col) if isinstance(col, str) else col
    langs = sorted(LANG_MARKERS)
    marker_arrays = F.array(
        *[F.array(*[F.lit(m) for m in LANG_MARKERS[lang]]) for lang in langs]
    )
    return F.aggregate(
        whitespace_tokens(F.lower(c)),
        F.array_repeat(F.lit(0), len(langs)),
        lambda acc, t: F.zip_with(
            acc,
            F.transform(marker_arrays, lambda ms: F.array_contains(ms, t).cast("int")),
            lambda a, b: a + b,
        ),
    )


def lang_id_expr(col: Column | str, default: str = "und") -> Column:
    """argmax over marker counts; ties broken by language-code order
    (earliest wins); all-zero → default.

    Two linear passes, zero duplication: one aggregate over the token array
    producing the counts vector (lang_marker_counts_expr), then one
    aggregate over the 5-element counts array picking the argmax index,
    finished by a single element_at into the code list. (The previous
    incremental when-chain re-embedded every count — each a full tokenize +
    filter — into BOTH branches of every fold step: 2^langs expression
    blowup, ~1 ms/row measured. This shape is ~50× cheaper.)"""
    langs = sorted(LANG_MARKERS)
    counts = lang_marker_counts_expr(col)
    entries = F.zip_with(
        counts,
        F.sequence(F.lit(0), F.lit(len(langs) - 1)),
        lambda cnt, i: F.struct(cnt.alias("c"), i.alias("i")),
    )
    # acc starts at (c=0, i=len) → index len maps to the default slot; a
    # strict > keeps the earliest language on ties and rejects all-zero.
    lang_arr = F.array(*[F.lit(lang) for lang in langs], F.lit(default))
    best = F.aggregate(
        entries,
        F.struct(F.lit(0).alias("c"), F.lit(len(langs)).cast("int").alias("i")),
        lambda acc, e: F.when(e["c"] > acc["c"], e).otherwise(acc),
        lambda acc: F.element_at(lang_arr, acc["i"] + 1),
    )
    # NULL text → NULL token array → NULL fold: map to the default, the
    # way a CASE-chain oracle falls through its ELSE branch
    return F.coalesce(best, F.lit(default))


# --------------------------------------------------------------------------
# Document fingerprinting (winnowing-style)
# --------------------------------------------------------------------------


def winnow_fingerprints(
    df, text_col: str = "text", key_col: str = "doc_id", shingle_n: int = 4, keep: int = 4
):
    """(key, fp) rows: the `keep` smallest md5 shingle hashes per doc.

    Scale shape: explode to one row per shingle so md5 runs as a plain
    codegen'd column expression (not an interpreted HOF lambda), then a
    window top-k per doc. The shuffle carries (key, 32-char hash) rows —
    slim — and the input is spread across cores first (single-file
    parquet arrives as one partition)."""
    from pyspark.sql import Window

    from apache_pinot_spark.operators.dedup import _spread

    df = _spread(df)
    toks = whitespace_tokens(F.lower(F.col(text_col)))
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (shingle_n - 1), F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i, shingle_n), " "),
    )
    ex = df.select(F.col(key_col).alias("key"), F.explode(sh).alias("s"))
    hashed = ex.select("key", F.md5("s").alias("fp"))
    w = Window.partitionBy("key").orderBy("fp")
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= keep)
        .select("key", "fp")
    )


# --------------------------------------------------------------------------
# Character entropy (gibberish / boilerplate signal)
# --------------------------------------------------------------------------


def char_entropy(df, text_col: str = "text", key_col: str = "doc_id"):
    """(key, entropy) rows: Shannon entropy in bits over the per-document
    character distribution — low entropy flags repeated boilerplate,
    high entropy flags random/gibberish content; both are standard
    curation cut signals.

    Scale shape: explode to one (key, char) row per character (slim
    2-column rows), then rebalance THOSE slim rows across cores before
    the groupBy(key, char) count (single-file inputs arrive as one
    partition; repartitioning after the explode means only (key, char)
    pairs ride the rebalance shuffle, never the document text), map-side
    partial aggregation, then the entropy sum per key — a second tiny
    aggregate over at most |alphabet| rows per doc. NULL text yields no
    rows (no signal, matching the other per-doc operators)."""
    from pyspark.sql import functions as F

    chars = df.select(
        F.col(key_col).alias("key"),
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    chars = chars.repartition(df.sparkSession.sparkContext.defaultParallelism)
    counts = chars.groupBy("key", "ch").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy("key").agg(
        F.sum("c").alias("n"),
        # sum of c*log2(c) lets entropy come from ONE pass:
        # H = log2(n) - (1/n) * sum(c*log2(c))
        F.sum(F.col("c").cast("double") * F.log2(F.col("c"))).alias("clogc"),
    )
    return per_doc.select(
        "key",
        (F.log2(F.col("n")) - F.col("clogc") / F.col("n")).alias("entropy"),
    )


# --------------------------------------------------------------------------
# Repetition signals (round 7) — the public Gopher-rules repetition
# family (Rae et al. 2021, "Scaling Language Models", table of quality
# filters): fraction of duplicate lines, fraction of characters inside
# duplicate lines, and the character fraction covered by the most
# frequent word n-gram. All map-side higher-order-function arithmetic
# over the document's own lines/tokens — ZERO shuffle; filtering a
# 100 TB corpus on these signals is scan-cost only.
# --------------------------------------------------------------------------


def repetition_signals(col: Column | str) -> dict[str, Column]:
    """Per-document repetition features over ``col``:

      dup_line_frac       — duplicate lines / total non-empty lines
      dup_line_char_frac  — chars in duplicate lines / total line chars
      top_2gram_char_frac — chars covered by the most frequent word
                            2-gram / total token chars
      top_3gram_char_frac — same for 3-grams

    'Duplicate' counts every occurrence beyond a line's first (trimmed
    identity). Documents with no lines / too few tokens report 0.0 for
    the affected signals.
    """
    c = F.col(col) if isinstance(col, str) else col
    # Strip ALL edge whitespace (regexp, not F.trim) so the '\r' a
    # '\n'-split leaves on CRLF lines doesn't split one line identity
    # into two when a document mixes line endings.
    lines = F.filter(
        F.transform(
            F.split(c, "\n"),
            lambda x: F.regexp_replace(x, r"^\s+|\s+$", ""),
        ),
        lambda x: F.length(x) > 0,
    )
    distinct_lines = F.array_distinct(lines)
    n_lines = F.size(lines)
    dup_lines = n_lines - F.size(distinct_lines)
    line_chars = F.aggregate(
        lines, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    distinct_line_chars = F.aggregate(
        distinct_lines, F.lit(0), lambda acc, x: acc + F.length(x)
    )

    def _frac(num, den):
        return F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))

    toks = whitespace_tokens(F.lower(c))

    def _top_gram_char_frac(n: int) -> Column:
        from apache_pinot_spark.operators.dedup import shingles_expr

        grams = shingles_expr(toks, n)
        # mode of the gram array, map-side and LINEAR: sort the grams,
        # then one aggregate() pass tracks the longest run of equal
        # adjacent grams and its char cover — O(L log L) per document,
        # vs the quadratic distinct×grams nested filter, which stalls
        # on a single 50k-token crawl document. Cover counts TOKEN
        # characters only (gram length minus its n-1 joining spaces) so
        # numerator and the tok_chars denominator share units; like the
        # public Gopher implementations the ratio can still exceed 1.0
        # for self-overlapping grams ('a a a a'), which only strengthens
        # the repetition signal.
        sep = F.lit(n - 1)
        best = F.aggregate(
            F.array_sort(grams),
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    (
                        F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                            F.lit(1)
                        )
                    )
                    * (F.length(x) - sep),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
        tok_chars = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
        return F.when(
            (F.size(grams) > 0) & (tok_chars > 0),
            best.cast("double") / tok_chars,
        ).otherwise(F.lit(0.0))

    return {
        "dup_line_frac": _frac(dup_lines, n_lines),
        "dup_line_char_frac": _frac(line_chars - distinct_line_chars, line_chars),
        "top_2gram_char_frac": _top_gram_char_frac(2),
        "top_3gram_char_frac": _top_gram_char_frac(3),
    }


def normalize_corpus(
    df,
    text_col: str = "text",
    form: str = "NFC",
    strip_control: bool = True,
):
    """Unicode-normalize the corpus text in place — the prep step every
    tokenizer-facing pipeline runs BEFORE hashing/dedup (the same
    logical text must not exist as NFC and NFD variants, or exact dedup
    and n-gram decontamination silently miss): unicodedata normalization
    (NFC default; NFKC for tokenizer-compat folding), newline
    canonicalization (\\r\\n and \\r → \\n), and (by default) removal of
    control characters except \\n/\\t and of the zero-width/format
    characters (ZWSP/ZWNJ/ZWJ/BOM/bidi marks) that poison shingles.

    Arrow-vectorized mapInPandas pass (normalization has no JVM
    builtin); zero shuffle; NULLs pass through; all other columns ride
    through unchanged. The NFC leg replays in DuckDB as
    ``nfc_normalize`` (see tests/test_textanalysis_normalize.py)."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    do_strip = bool(strip_control)
    cols = list(df.columns)

    def run(batches):
        # r13 hot-loop rework (guide \u00a74.2): the old per-row closure ran
        # a per-CHARACTER Python loop (`category(c) != "Cc"` + join) \u2014
        # the single hottest spot in the gates bench slot (~5.9 s of an
        # ~11 s query at sf0.1, measured by stage-attribution A/B).
        # Now: unicodedata.normalize stays per-row (pyarrow 16's
        # utf8_normalize NFC does not compose \u2014 verified \u2014 and CPython's
        # normalize has the UAX#15 quick-check fast path, near-free on
        # the ASCII-dominant corpus), while the newline canonicalization
        # and BOTH strip classes run as Arrow kernels: two substring
        # replaces plus ONE merged RE2 character-class deletion
        # (zero-width/format marks \u222a every Cc except \n \t \u2014 deleting
        # the union in one pass is exactly the old two sequential
        # deletions; Cc is U+0000\u2013U+001F + U+007F\u2013U+009F, and \r is in
        # the class for byte-exactness even though the newline replace
        # has already consumed it).
        import unicodedata as _u

        import pyarrow as _pa
        import pyarrow.compute as _pc

        _strip_class = ("[\u200b\u200c\u200d\u2060\ufeff\u00ad"
                        "\u202a-\u202e\u2066-\u2069"
                        "\x00-\x08\x0b-\x1f\x7f-\x9f]")
        _norm = _u.normalize

        def vec(series):
            vals = [t if t is None else _norm(form, t) for t in series]
            arr = _pa.array(vals, type=_pa.string())
            arr = _pc.replace_substring(arr, pattern="\r\n",
                                        replacement="\n")
            arr = _pc.replace_substring(arr, pattern="\r",
                                        replacement="\n")
            if do_strip:
                arr = _pc.replace_substring_regex(
                    arr, pattern=_strip_class, replacement="")
            return arr.to_pandas()

        for pdf in batches:
            pdf[text_col] = vec(pdf[text_col])
            yield pdf[cols]

    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    # _spread first (the Arrow-pass convention, see substring_dedup):
    # per-row unicodedata work must fan out across cores on small-file
    # inputs, and — because a Python map is a predicate-pushdown
    # barrier — every JVM gate stacked ABOVE this pass (word blocklist,
    # Gopher composite) inherits the parallel partitioning instead of
    # sinking to a single-partition scan.
    from apache_pinot_spark.operators.dedup import _spread

    return _spread(df).mapInPandas(run, schema=schema)


def gopher_quality_expr(
    col,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top_2gram_char_frac: float = 0.20,
    max_top_3gram_char_frac: float = 0.18,
):
    """The published Gopher/MassiveText quality rules (Rae et al. 2021,
    arXiv:2112.11446 §A.1) as ONE boolean JVM expression — the named
    composite over signals this module already ships: word-count
    bounds, mean word length in [3, 10], the hash/ellipsis symbol-to-
    word ratio, the ≥80%-alphabetic-words rule, a stop-word floor, and
    the repetition caps (duplicate lines/chars, top n-gram coverage).
    Thresholds default to the paper's values; every knob is a keyword.

    Compose as ``docs.filter(gopher_quality_expr("text"))`` or as a
    column for audit-first pipelines. All scan-stage expressions —
    zero Python, zero shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.filter(F.split(c, r"\s+"), lambda w: w != F.lit(""))
    n_words = F.size(words)
    word_chars = F.aggregate(words, F.lit(0),
                             lambda a, w: a + F.length(w))
    mean_wl = word_chars / F.greatest(n_words, F.lit(1))
    n_hash = F.size(F.split(c, "#")) - 1
    n_ellipsis = (F.size(F.split(c, r"\.\.\.")) - 1) \
        + (F.size(F.split(c, "…")) - 1)
    symbol_ratio = (n_hash + n_ellipsis) / F.greatest(n_words, F.lit(1))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_frac = alpha_words / F.greatest(n_words, F.lit(1))
    stop_hits = stopword_count_expr(c)
    rep = repetition_signals(c)
    return (
        (n_words >= F.lit(min_words))
        & (n_words <= F.lit(max_words))
        & (mean_wl >= F.lit(min_mean_word_len))
        & (mean_wl <= F.lit(max_mean_word_len))
        & (symbol_ratio <= F.lit(max_symbol_word_ratio))
        & (alpha_frac >= F.lit(min_alpha_word_frac))
        & (stop_hits >= F.lit(min_stopword_hits))
        & (rep["dup_line_frac"] <= F.lit(max_dup_line_frac))
        & (rep["dup_line_char_frac"] <= F.lit(max_dup_line_char_frac))
        & (rep["top_2gram_char_frac"] <= F.lit(max_top_2gram_char_frac))
        & (rep["top_3gram_char_frac"] <= F.lit(max_top_3gram_char_frac))
    )


def gopher_quality_oracle_sql(
    col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top_2gram_char_frac: float = 0.20,
    max_top_3gram_char_frac: float = 0.18,
) -> str:
    """DuckDB boolean expression replaying ``gopher_quality_expr`` rule
    for rule (tests/test_gopher.py pins parity per violator) — every
    ratio is int counts + ONE double division on both engines, so the
    comparisons are bit-deterministic. The top-n-gram mode is the
    straightforward distinct×grams scan (quadratic per document — an
    oracle run at sf0.01 document lengths, not the engine's linear
    sorted-run fold)."""
    c = col
    ws = f"list_filter(regexp_split_to_array({c}, '\\s+'), x -> x <> '')"
    lws = f"list_filter(regexp_split_to_array(lower({c}), '\\s+'), x -> x <> '')"
    n_words = f"len({ws})"
    word_chars = f"coalesce(list_sum(list_transform({ws}, x -> length(x))), 0)"
    mean_wl = f"(CAST({word_chars} AS DOUBLE) / greatest({n_words}, 1))"
    n_hash = f"(len(string_split({c}, '#')) - 1)"
    n_ellipsis = (f"((len(regexp_split_to_array({c}, '\\.\\.\\.')) - 1)"
                  f" + (len(string_split({c}, '…')) - 1))")
    symbol_ratio = (f"(CAST({n_hash} + {n_ellipsis} AS DOUBLE)"
                    f" / greatest({n_words}, 1))")
    alpha_frac = (f"(CAST(len(list_filter({ws}, x -> regexp_matches(x, '[A-Za-z]')))"
                  f" AS DOUBLE) / greatest({n_words}, 1))")
    stop_sql = ",".join("'" + w + "'" for w in sorted(DEFAULT_STOP_WORDS))
    stop_hits = f"len(list_filter({lws}, x -> x IN ({stop_sql})))"
    lines = (f"list_filter(list_transform(string_split({c}, chr(10)), "
             f"x -> regexp_replace(x, '^\\s+|\\s+$', '', 'g')), "
             f"x -> length(x) > 0)")
    n_lines = f"len({lines})"
    dup_lines = f"({n_lines} - len(list_distinct({lines})))"
    line_chars = f"coalesce(list_sum(list_transform({lines}, x -> length(x))), 0)"
    dl_chars = (f"coalesce(list_sum(list_transform(list_distinct({lines}), "
                f"x -> length(x))), 0)")
    dup_line_frac = (f"(CASE WHEN {n_lines} > 0 THEN "
                     f"CAST({dup_lines} AS DOUBLE) / {n_lines} ELSE 0.0 END)")
    dup_line_char_frac = (f"(CASE WHEN {line_chars} > 0 THEN "
                          f"CAST({line_chars} - {dl_chars} AS DOUBLE) / {line_chars} "
                          f"ELSE 0.0 END)")

    def top_gram_frac(n: int) -> str:
        grams = (f"(CASE WHEN len({lws}) >= {n} THEN "
                 f"list_transform(range(1, len({lws}) - {n - 1} + 1), "
                 f"i -> array_to_string(({lws})[i:i+{n - 1}], ' ')) "
                 f"ELSE [] END)")
        tok_chars = f"coalesce(list_sum(list_transform({lws}, x -> length(x))), 0)"
        best = (f"coalesce(list_max(list_transform(list_distinct({grams}), "
                f"g -> len(list_filter({grams}, x -> x = g))"
                f" * (length(g) - {n - 1}))), 0)")
        return (f"(CASE WHEN len({grams}) > 0 AND {tok_chars} > 0 THEN "
                f"CAST({best} AS DOUBLE) / {tok_chars} ELSE 0.0 END)")

    return (
        f"(({n_words} >= {min_words}) AND ({n_words} <= {max_words})"
        f" AND ({mean_wl} >= {min_mean_word_len!r})"
        f" AND ({mean_wl} <= {max_mean_word_len!r})"
        f" AND ({symbol_ratio} <= {max_symbol_word_ratio!r})"
        f" AND ({alpha_frac} >= {min_alpha_word_frac!r})"
        f" AND ({stop_hits} >= {min_stopword_hits})"
        f" AND ({dup_line_frac} <= {max_dup_line_frac!r})"
        f" AND ({dup_line_char_frac} <= {max_dup_line_char_frac!r})"
        f" AND ({top_gram_frac(2)} <= {max_top_2gram_char_frac!r})"
        f" AND ({top_gram_frac(3)} <= {max_top_3gram_char_frac!r}))"
    )
