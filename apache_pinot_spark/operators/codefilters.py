"""Code-corpus curation filters — the published The Stack / StarCoder /
CodeParrot gates a modern pretraining mix applies to source-code files
(Kocetkov et al. 2022, arXiv:2211.15533; Li et al. 2023,
arXiv:2305.06161): line-length bounds, alphanumeric/alpha fractions,
comment-line ratio, auto-generated-file detection, and license-header
identification. Everything is ONE boolean JVM expression family over
the text column (the gopher_quality_expr house style —
textanalysis.py): zero Python, zero shuffle, scan-stage cost only at
100 TB.

Published default thresholds (The Stack v1.1 "near-deduplicated +
filtered" recipe, StarCoder appendix):
  * drop files with max line length > 1000 or mean line length > 100
  * drop files with < 25% alphabetic characters
  * drop likely auto-generated files (header markers)
  * comment-ratio bounds are corpus-tuning knobs (CodeParrot keeps
    files with SOME comments; both bounds default off here)

Comment detection is LINE-prefix based per language family (#, //, --,
;, %); block comments (/* */) are approximated by their conventional
continuation style (leading '*') — a cleaner, not a parser: a gate needs
only a per-file comment-line ratio, which line prefixes give without a
per-language grammar, exactly as the published recipes do.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: line-comment prefixes by language family; the DEFAULT set is their
#: union (crawled code corpora rarely carry reliable language labels
#: before classification)
COMMENT_PREFIXES: dict[str, tuple] = {
    "python": ("#",),
    "shell": ("#",),
    "ruby": ("#",),
    "perl": ("#",),
    "yaml": ("#",),
    "c": ("//", "*", "/*"),
    "cpp": ("//", "*", "/*"),
    "java": ("//", "*", "/*"),
    "javascript": ("//", "*", "/*"),
    "typescript": ("//", "*", "/*"),
    "go": ("//", "*", "/*"),
    "rust": ("//", "*", "/*"),
    "sql": ("--",),
    "lua": ("--",),
    "haskell": ("--",),
    "lisp": (";",),
    "matlab": ("%",),
}
DEFAULT_COMMENT_PREFIXES = ("#", "//", "--", ";", "%", "*", "/*")

#: markers the published recipes treat as "auto-generated, drop"
AUTOGEN_MARKERS = (
    "auto-generated", "autogenerated", "automatically generated",
    "generated by", "do not edit", "do not modify", "@generated",
)

#: SPDX + phrase → canonical license id, checked IN ORDER (first hit
#: wins); phrases are the standard header sentences
LICENSE_PATTERNS = (
    ("apache-2.0", r"apache license,? version 2\.0|apache-2\.0"),
    ("mit", r"mit license|permission is hereby granted, free of charge"),
    # the canonical header inserts "as published by the Free Software
    # Foundation" between the name and the version — allow up to 80
    # chars of gap
    ("gpl-3.0", r"gnu general public license.{0,80}version 3|gpl-?3"),
    ("gpl-2.0", r"gnu general public license.{0,80}version 2|gpl-?2"),
    ("lgpl", r"gnu lesser general public license"),
    ("agpl-3.0", r"gnu affero general public license"),
    ("bsd-3-clause", r"redistribution and use in source and binary forms|bsd 3-clause|bsd-3-clause"),
    ("bsd-2-clause", r"bsd 2-clause|bsd-2-clause"),
    ("mpl-2.0", r"mozilla public license,? v(ersion)?\.? ?2\.0|mpl-2\.0"),
    ("unlicense", r"this is free and unencumbered software"),
    ("cc0-1.0", r"cc0 1\.0|creativecommons\.org/publicdomain/zero"),
)


def _lines(c: Column) -> Column:
    return F.split(c, "\n")


def code_stats_exprs(col: Column | str,
                     comment_prefixes=DEFAULT_COMMENT_PREFIXES) -> dict:
    """Per-file code-quality signals as independent JVM expressions:

      n_lines, max_line_len, mean_line_len — over raw lines
      alpha_frac, alnum_frac             — character-class fractions
      comment_line_frac                  — lines whose lstrip starts
                                           with a comment prefix /
                                           non-empty lines
      is_autogen                         — header carries a marker
                                           (first 1500 chars, lowered)
    """
    c = F.col(col) if isinstance(col, str) else col
    lines = _lines(c)
    n_lines = F.size(lines)
    line_lens = F.transform(lines, lambda x: F.length(x))
    max_line = F.coalesce(F.array_max(line_lens), F.lit(0))
    total_chars = F.length(c)
    mean_line = total_chars.cast("double") / F.greatest(n_lines, F.lit(1))
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", ""))
    alnum = F.length(F.regexp_replace(c, r"[^0-9A-Za-z]", ""))
    alpha_frac = alpha.cast("double") / F.greatest(total_chars, F.lit(1))
    alnum_frac = alnum.cast("double") / F.greatest(total_chars, F.lit(1))
    stripped = F.transform(lines, lambda x: F.ltrim(x))
    nonempty = F.filter(stripped, lambda x: x != F.lit(""))

    def is_comment(x):
        cond = F.lit(False)
        for p in comment_prefixes:
            cond = cond | x.startswith(p)
        return cond

    n_comment = F.size(F.filter(nonempty, is_comment))
    comment_frac = (n_comment.cast("double")
                    / F.greatest(F.size(nonempty), F.lit(1)))
    head = F.lower(F.substring(c, 1, 1500))
    autogen = F.lit(False)
    for mk in AUTOGEN_MARKERS:
        autogen = autogen | head.contains(mk)
    return {
        "n_lines": n_lines,
        "max_line_len": max_line,
        "mean_line_len": mean_line,
        "alpha_frac": alpha_frac,
        "alnum_frac": alnum_frac,
        "comment_line_frac": comment_frac,
        "is_autogen": autogen,
    }


def license_expr(col: Column | str, scan_chars: int = 2000) -> Column:
    """Detected license id from the file header (first ``scan_chars``
    chars, SPDX tag first, then the standard phrases) — NULL when
    nothing matches. One when-chain of RLIKE probes, scan-stage cost."""
    c = F.col(col) if isinstance(col, str) else col
    head = F.lower(F.substring(c, 1, scan_chars))
    spdx = F.regexp_extract(head, r"spdx-license-identifier:\s*([0-9a-z.\-+]+)", 1)
    out = F.when(spdx != "", spdx)
    for lic, pat in LICENSE_PATTERNS:
        out = out.when(head.rlike(pat), F.lit(lic))
    return out.otherwise(F.lit(None).cast("string"))


def code_quality_expr(
    col: Column | str,
    max_line_len: int = 1000,
    max_mean_line_len: float = 100.0,
    min_alpha_frac: float = 0.25,
    max_alnum_frac: float = 1.0,
    min_comment_frac: float | None = None,
    max_comment_frac: float | None = None,
    drop_autogen: bool = True,
    comment_prefixes=DEFAULT_COMMENT_PREFIXES,
) -> Column:
    """The Stack/StarCoder composite as ONE boolean JVM expression —
    True = keep. Thresholds default to the published values; comment
    bounds default OFF (corpus-tuning knobs)."""
    s = code_stats_exprs(col, comment_prefixes)
    keep = (
        (s["max_line_len"] <= F.lit(int(max_line_len)))
        & (s["mean_line_len"] <= F.lit(float(max_mean_line_len)))
        & (s["alpha_frac"] >= F.lit(float(min_alpha_frac)))
        & (s["alnum_frac"] <= F.lit(float(max_alnum_frac)))
    )
    if min_comment_frac is not None:
        keep = keep & (s["comment_line_frac"] >= F.lit(float(min_comment_frac)))
    if max_comment_frac is not None:
        keep = keep & (s["comment_line_frac"] <= F.lit(float(max_comment_frac)))
    if drop_autogen:
        keep = keep & ~s["is_autogen"]
    return keep


def code_quality_oracle_sql(
    col: str,
    max_line_len: int = 1000,
    max_mean_line_len: float = 100.0,
    min_alpha_frac: float = 0.25,
    max_alnum_frac: float = 1.0,
    min_comment_frac: float | None = None,
    max_comment_frac: float | None = None,
    drop_autogen: bool = True,
    comment_prefixes=DEFAULT_COMMENT_PREFIXES,
) -> str:
    """DuckDB replay of ``code_quality_expr`` (tests pin parity per
    rule) — integer counts + single double divisions on both engines."""
    c = col
    lines = f"string_split({c}, chr(10))"
    n_lines = f"len({lines})"
    max_line = f"coalesce(list_max(list_transform({lines}, x -> length(x))), 0)"
    total = f"length({c})"
    mean_line = f"(CAST({total} AS DOUBLE) / greatest({n_lines}, 1))"
    alpha = f"length(regexp_replace({c}, '[^A-Za-z]', '', 'g'))"
    alnum = f"length(regexp_replace({c}, '[^0-9A-Za-z]', '', 'g'))"
    alpha_frac = f"(CAST({alpha} AS DOUBLE) / greatest({total}, 1))"
    alnum_frac = f"(CAST({alnum} AS DOUBLE) / greatest({total}, 1))"
    nonempty = (f"list_filter(list_transform({lines}, x -> ltrim(x)), "
                f"x -> x <> '')")
    pref = " OR ".join(
        f"starts_with(x, '{p}')" for p in comment_prefixes)
    n_comment = f"len(list_filter({nonempty}, x -> {pref}))"
    comment_frac = (f"(CAST({n_comment} AS DOUBLE)"
                    f" / greatest(len({nonempty}), 1))")
    head = f"lower(substr({c}, 1, 1500))"
    autogen = " OR ".join(
        f"contains({head}, '{mk}')" for mk in AUTOGEN_MARKERS)
    parts = [
        f"({max_line} <= {int(max_line_len)})",
        f"({mean_line} <= {float(max_mean_line_len)!r})",
        f"({alpha_frac} >= {float(min_alpha_frac)!r})",
        f"({alnum_frac} <= {float(max_alnum_frac)!r})",
    ]
    if min_comment_frac is not None:
        parts.append(f"({comment_frac} >= {float(min_comment_frac)!r})")
    if max_comment_frac is not None:
        parts.append(f"({comment_frac} <= {float(max_comment_frac)!r})")
    if drop_autogen:
        parts.append(f"(NOT ({autogen}))")
    return "(" + " AND ".join(parts) + ")"


#: The Stack's permissive set (the paper's selection criterion)
PERMISSIVE_LICENSES = ("mit", "apache-2.0", "bsd-3-clause", "bsd-2-clause",
                       "unlicense", "cc0-1.0", "isc", "artistic-2.0",
                       "0bsd", "mpl-2.0")


def license_filter(df, allowed=PERMISSIVE_LICENSES, text_col: str = "text",
                   keep_unknown: bool = False, scan_chars: int = 2000):
    """Keep files whose detected header license is in ``allowed`` — The
    Stack's permissive-license selection step, run BEFORE curation.
    ``keep_unknown`` decides the no-license-detected files (the paper
    DROPS them for the licensed variant). Adds a ``license`` column;
    pure JVM expressions, scan-stage cost."""
    lic = license_expr(text_col, scan_chars)
    out = df.withColumn("license", lic)
    allow = F.col("license").isin(*[a.lower() for a in allowed])
    if keep_unknown:
        allow = allow | F.col("license").isNull()
    return out.filter(allow)
