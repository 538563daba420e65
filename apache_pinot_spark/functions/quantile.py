"""Percentile-over-serialized-sketch columns (A7, SURVEY §2.3).

Reference: configuration-reference/schema.md:48 — BYTES metric columns
store "byte serialized version of the value" for TDigest-style percentile
state, merged directly by the aggregator.

Like functions/hll.py, the sketch is designed for CROSS-ENGINE
determinism rather than TDigest compatibility: a fixed-width equi-range
histogram (64 bins over a declared [lo, hi) range), hex-packed into a
BYTES value (8 hex chars = one 32-bit count per bin). Merging sketches is
element-wise integer ADDITION — associative and commutative, so any merge
tree over any segment partitioning yields exactly the full-scan
histogram, and every arithmetic step is integer + one final division:
bit-identical on any engine.

Accuracy: a percentile estimate is exact to one bin width
((hi-lo)/64 by default) — the classic fixed-histogram trade-off. TDigest
gives adaptive accuracy but its state is not reproducible across engines;
use PERCENTILE / PERCENTILETDIGEST over raw values when you can rescan.

Scale: sketch build is one map-side-combined hash aggregate (constant
64-int state per group); merge is a tiny aggregate over sketch rows.
"""

from __future__ import annotations

HIST_BINS = 64
_W = 8  # hex chars per bin (32-bit count)


def _bin_sql(col_sql: str, lo: float, hi: float, bins: int) -> str:
    # NULL must stay NULL (never counted in any bin): GREATEST/LEAST SKIP
    # null arguments in both Spark and DuckDB, so without the CASE guard a
    # NULL value silently lands in the clamp floor — bin 0 — and corrupts
    # the histogram with phantom low-end counts.
    width = (hi - lo) / bins
    return (
        f"CASE WHEN {col_sql} IS NULL THEN NULL ELSE "
        f"LEAST(GREATEST(CAST(FLOOR((CAST({col_sql} AS DOUBLE) - {lo!r}) / {width!r}) "
        f"AS INT), 0), {bins - 1}) END"
    )


def histogram_sketch_sql(
    col_sql: str, lo: float, hi: float, engine: str = "spark", bins: int = HIST_BINS
) -> str:
    """Aggregate expression building the BYTES histogram sketch: ``bins``
    32-bit big-endian counts, hex-packed then unhexed. Values are clamped
    into [lo, hi) edge bins (min/max sentinels land in bin 0 / bins-1)."""
    b = _bin_sql(col_sql, lo, hi, bins)
    if engine == "spark":
        parts = ", ".join(
            f"lpad(hex(COUNT(CASE WHEN {b} = {i} THEN 1 END)), {_W}, '0')"
            for i in range(bins)
        )
        return f"unhex(concat({parts}))"
    parts = ", ".join(
        f"lpad(to_hex(COUNT(CASE WHEN {b} = {i} THEN 1 END)), {_W}, '0')"
        for i in range(bins)
    )
    return f"from_hex(concat({parts}))"


def histogram_merge_sql(sketch_col_sql: str, engine: str = "spark", bins: int = HIST_BINS) -> str:
    """Aggregate expression merging BYTES sketches by element-wise count
    addition, yielding the merged sketch (same BYTES layout)."""
    hx = f"hex({sketch_col_sql})" if engine == "spark" else f"to_hex({sketch_col_sql})"
    if engine == "spark":
        parts = ", ".join(
            f"lpad(hex(SUM(CAST(CONV(substr({hx}, {_W * i + 1}, {_W}), 16, 10) AS BIGINT))), "
            f"{_W}, '0')"
            for i in range(bins)
        )
        return f"unhex(concat({parts}))"
    raise NotImplementedError("merge path is Spark-side; oracles recompute from raw rows")


def merged_counts_sql(sketch_col_sql: str, bins: int = HIST_BINS) -> str:
    """Aggregate expression merging BYTES sketches into an ARRAY<BIGINT>
    of bin counts (element-wise SUM — same merge tree freedom as
    histogram_merge_sql, skipping the re-pack into bytes). Spark-side
    only; oracles recompute counts from raw rows."""
    hx = f"hex({sketch_col_sql})"
    parts = ", ".join(
        f"SUM(CAST(CONV(substr({hx}, {_W * i + 1}, {_W}), 16, 10) AS BIGINT))"
        for i in range(bins)
    )
    return f"array({parts})"


def percentile_walk_sql(counts_sql: str, lo: float, hi: float, q: float, bins: int = HIST_BINS) -> str:
    """Scalar Spark-SQL expression: percentile ``q`` (0-100) from an
    ARRAY<BIGINT> of bin counts, with in-bin linear interpolation — the
    SQL twin of estimate_percentile(). Every arithmetic step (integer
    cumulative count, one multiply for the target rank, one divide for
    the in-bin fraction) is a single IEEE-754 op in a fixed order, so a
    DuckDB oracle doing the same walk over window cumulative sums
    reproduces the double bit-for-bit. The walk is a 64-element HOF fold
    over the (small) aggregated counts row — interpreted, but it runs
    once per output group, never per input row."""
    width = (hi - lo) / bins
    total = f"aggregate({counts_sql}, CAST(0 AS BIGINT), (a, x) -> a + x)"
    target = f"(({q!r} / 100.0) * CAST({total} AS DOUBLE))"
    pairs = (
        f"zip_with({counts_sql}, sequence(0, {bins - 1}), "
        f"(c, i) -> named_struct('c', c, 'i', i))"
    )
    step = (
        "(acc, x) -> IF(acc.ans IS NOT NULL, acc, "
        f"IF(x.c > 0 AND acc.cum + CAST(x.c AS DOUBLE) >= {target}, "
        "named_struct('cum', acc.cum + CAST(x.c AS DOUBLE), "
        f"'ans', {lo!r} + {width!r} * (CAST(x.i AS DOUBLE) + ({target} - acc.cum) / CAST(x.c AS DOUBLE))), "
        "named_struct('cum', acc.cum + CAST(x.c AS DOUBLE), 'ans', acc.ans)))"
    )
    return (
        f"aggregate({pairs}, "
        "named_struct('cum', CAST(0.0 AS DOUBLE), 'ans', CAST(NULL AS DOUBLE)), "
        f"{step}, acc -> acc.ans)"
    )


def percentile_walk_duckdb_sql(
    table_sql: str, col_sql: str, lo: float, hi: float, q: float, bins: int = HIST_BINS
) -> str:
    """DuckDB scalar subquery reproducing percentile_walk_sql's arithmetic
    from RAW rows (bin → window cumulative count → first qualifying bin →
    identical interpolation expression). NULL rows are filtered out to
    match the sketch side, where a NULL value never increments any bin —
    without the filter the NULL group's count would inflate `total` and
    shift the target rank."""
    width = (hi - lo) / bins
    b = _bin_sql(col_sql, lo, hi, bins)
    return f"""(
      SELECT {lo!r} + {width!r} * (CAST(bin AS DOUBLE)
               + (({q!r} / 100.0) * CAST(total AS DOUBLE) - CAST(cum - c AS DOUBLE))
                 / CAST(c AS DOUBLE))
      FROM (
        SELECT bin, c, SUM(c) OVER (ORDER BY bin) AS cum, SUM(c) OVER () AS total
        FROM (SELECT {b} AS bin, COUNT(*) AS c FROM {table_sql}
              WHERE {col_sql} IS NOT NULL GROUP BY 1)
      )
      WHERE c > 0 AND CAST(cum AS DOUBLE) >= ({q!r} / 100.0) * CAST(total AS DOUBLE)
      ORDER BY bin LIMIT 1
    )"""


def sketch_counts(sketch: bytes, bins: int = HIST_BINS) -> list[int]:
    """Decode a sketch's bin counts (driver-side, 64 ints)."""
    hx = sketch.hex()
    return [int(hx[_W * i : _W * (i + 1)], 16) for i in range(bins)]


def estimate_percentile(
    counts: list[int], lo: float, hi: float, q: float
) -> float:
    """Percentile from histogram counts with in-bin linear interpolation —
    pure integer walk + one division, deterministic everywhere. Exact to
    one bin width."""
    total = sum(counts)
    if total == 0:
        raise ValueError("empty sketch")
    target = q / 100.0 * total
    width = (hi - lo) / len(counts)
    cum = 0
    for i, c in enumerate(counts):
        if cum + c >= target and c > 0:
            frac = (target - cum) / c
            return lo + width * (i + frac)
        cum += c
    return hi


def histogram_sketch_grouped_query(
    col_sql: str,
    lo: float,
    hi: float,
    group_col_sql: str,
    src_table: str,
    bins: int = HIST_BINS,
    out_col: str = "sketch",
) -> str:
    """Full Spark SELECT producing (seg, sketch) per group via TWO-LEVEL
    aggregation: bin once per row, COUNT through groupBy(seg, bin)
    (map-side combined — at most ``bins`` rows per group ride the
    shuffle), then assemble the bins x 32-bit big-endian layout from the
    surviving rows (missing bins pack as zero counts). Byte-identical to
    histogram_sketch_sql's output; the single-level form re-expands the
    bin arithmetic inside ``bins`` COUNT(CASE) terms per row. Spark-
    dialect only (HOF assembly); oracles keep the direct per-row walk."""
    b = _bin_sql(col_sql, lo, hi, bins)
    return f"""
    SELECT seg, unhex(concat_ws('', transform(sequence(0, {bins - 1}),
             i -> lpad(hex(coalesce(element_at(m_, i), CAST(0 AS BIGINT))), {_W}, '0')))) AS {out_col}
    FROM (
      SELECT seg, map_from_entries(collect_list(struct(bin, c))) AS m_
      FROM (
        SELECT seg, bin, COUNT(*) AS c
        FROM (SELECT {group_col_sql} AS seg, {b} AS bin FROM {src_table})
        WHERE bin IS NOT NULL
        GROUP BY seg, bin
      )
      GROUP BY seg
    )
    """
