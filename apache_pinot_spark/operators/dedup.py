"""Deduplication operators — exact and near-duplicate, DataFrame-native.

Scale design (100 TB corpus, 1000 executors):
  * Exact dedup: fingerprint is computed map-side (md5/xxhash64 of the
    normalized text), the only shuffle is the groupBy on the fingerprint —
    AQE splits skewed fingerprints (e.g. empty documents).
  * MinHash signatures are pure per-row expressions (shingle → k hashes →
    array_min): zero shuffle, whole-stage codegen. LSH banding explodes to
    b rows/doc and shuffles on (band, band_hash) — the classic
    shingle→minhash→band→bucket-join pipeline; bucket sizes stay small by
    construction so the within-bucket self-join is bounded.
  * SimHash is an explode + 64 conditional sums + bit-pack: one shuffle on
    doc_id with map-side partial aggregation.
  * Candidate pairs are verified with exact n-gram Jaccard (array_intersect/
    array_union) before any destructive action.

Two hash flavors: xxhash64 (fast JVM path, default) and md5 (portable —
used by the driver-gate queries so a DuckDB oracle can reproduce results
bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_pinot_spark.functions.text import tokens_expr


def _plan_has_nodes(plan: str, names: tuple) -> bool:
    """True when any of ``names`` appears as a logical OPERATOR at the
    start of an analyzed-plan line (after the tree-drawing prefix
    ``+- :- |  `` etc.) — substring matching over the whole plan string
    false-positives on column names and string literals that happen to
    contain 'Join'/'Sort'/... (r9 ADVICE). Prefix (not word-boundary)
    matching is intentional: 'FlatMapCoGroups' must catch
    'FlatMapCoGroupsInPandas', 'Repartition' must catch
    'RepartitionByExpression'."""
    import re

    pat = re.compile(r"^[\s+:|-]*(?:" + "|".join(names) + ")", re.M)
    return bool(pat.search(plan))


def _spread(df: DataFrame) -> DataFrame:
    """Fan ``df`` out before a per-row-heavy pass (an Arrow/mapInPandas
    pass or a hash-heavy explode): small-file inputs arrive as ONE scan
    partition and would otherwise run the pass on one core.

    Sizing rule: the fan-out is a ``rebalance`` hint, so AQE's partition
    coalescing (on in ``session.RUNTIME_CONFS``) sizes the shuffle from
    the bytes that actually arrived: with the default parallelism-first
    mode each task gets about max(1 MiB, input bytes / defaultParallelism)
    and no more than the advisory partition size (64 MiB; larger
    partitions are split). A 500-vector input runs its pass as ONE task;
    a 100 TB input still fills the cluster. A fixed
    ``repartition(defaultParallelism)`` instead started one Python worker
    task per core whatever the input size, and each Python worker task
    costs 0.25-0.5 CPU-s before it touches a row (measured with PySpark
    4.1.2 on a 4-core host; most of it is worker start-up re-scanning
    ``pyspark.zip``): five such passes at 4 partitions each were 20 of
    the 36 Python tasks of one sim_ann_family call.

    An input that is already parallel is returned as is. The partition-
    count probe (`df.rdd.getNumPartitions()`) is metadata-only for
    NARROW plans (scan/filter/project), but on a plan with a shuffle
    upstream (join/aggregate/window) `.rdd` materializes the AQE query
    stages — a full extra execution of the upstream, thrown away
    (measured: +1.5 s per call at bench scale; a wasted corpus pass at
    100 TB). So shuffle-upstream plans skip the probe and always
    rebalance; narrow plans rebalance only when under-parallel."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        plan = ""
    shuffly = ("Join", "Aggregate", "Window", "Deduplicate", "Repartition",
               "Generate", "Union", "Sort", "Distinct", "Intersect",
               "Except", "Expand", "CoGroup", "FlatMapCoGroups",
               "Rebalance", "LateralJoin", "Unpivot")
    if (not _plan_has_nodes(plan, shuffly) and df.rdd.getNumPartitions()
            >= df.sparkSession.sparkContext.defaultParallelism):
        return df
    return df.hint("rebalance")

# --------------------------------------------------------------------------
# Shingling
# --------------------------------------------------------------------------


def shingles_expr(tokens: Column, n: int = 3) -> Column:
    """Word n-grams over a token array (map-side, no shuffle). Arrays
    shorter than ``n`` yield an EMPTY list — the guard matters because
    sequence(1, 0) is a DESCENDING [1, 0] in Spark, whose 0 start then
    blows up slice() (hit by short documents in ngram_contamination)."""
    return F.when(
        F.size(tokens) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
            lambda i: F.array_join(F.slice(tokens, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def fingerprint_expr(col: Column | str, prefix_tokens: int | None = None) -> Column:
    """md5 fingerprint of a text column (optionally of its first N tokens —
    catches boilerplate-prefix duplicates).

    NULL text gets a sentinel fingerprint (md5 of NULL is NULL, and NULL
    keys silently vanish from inner joins / lump into one group): NULL
    rows are NOT duplicates of anything, so callers treat the sentinel
    group as all-unique (excluded from duplicate groups, every row kept)."""
    c = F.col(col) if isinstance(col, str) else col
    if prefix_tokens is None:
        return F.coalesce(F.md5(c), F.lit(NULL_FINGERPRINT))
    toks = F.split(c, " ")
    return F.coalesce(
        F.md5(F.array_join(F.slice(toks, 1, prefix_tokens), " ")), F.lit(NULL_FINGERPRINT)
    )


NULL_FINGERPRINT = "__null_text__"


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id", prefix_tokens: int | None = None
) -> DataFrame:
    """Groups of exact (or prefix-exact) duplicates: fingerprint, group
    size, and the minimum key (the canonical survivor). NULL-text rows are
    never duplicates of each other — their sentinel group is excluded."""
    fp = fingerprint_expr(text_col, prefix_tokens)
    return (
        df.select(F.col(key_col), fp.alias("fp"))
        .filter(F.col("fp") != NULL_FINGERPRINT)
        .groupBy("fp")
        .agg(F.count("*").alias("group_size"), F.min(key_col).alias("keep_key"))
        .filter(F.col("group_size") > 1)
    )


def dedupe_exact(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id", prefix_tokens: int | None = None
) -> DataFrame:
    """Keep one row per fingerprint (the min-key row). Implemented as a
    window-free groupBy+join so AQE can broadcast the (small) survivor set
    when duplicates are rare. NULL-text rows (sentinel fingerprint, see
    fingerprint_expr) are kept unconditionally — they are not duplicates
    of anything."""
    keyed = df.withColumn("__fp", fingerprint_expr(text_col, prefix_tokens))
    non_null = keyed.filter(F.col("__fp") != NULL_FINGERPRINT)
    survivors = non_null.groupBy("__fp").agg(F.min(key_col).alias("__keep"))
    kept = (
        non_null.join(survivors, on="__fp", how="inner")
        .filter(F.col(key_col) == F.col("__keep"))
        .drop("__fp", "__keep")
    )
    null_rows = keyed.filter(F.col("__fp") == NULL_FINGERPRINT).drop("__fp")
    return kept.unionByName(null_rows)


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def minhash_signature_expr(
    shingles: Column, num_hashes: int = 16, portable: bool = False
) -> Column:
    """k-element MinHash signature as an array column.

    portable=False → xxhash64 (LONG mins, fast).
    portable=True  → md5 lexicographic mins (reproducible in any engine).
    Prefer minhash_bands for the portable path at scale — it shares md5
    work across hash functions via intermediate columns.
    """
    def hasher(seed: Column):
        # 1-arg lambda via closure: a default-arg lambda would be read by
        # PySpark as an (element, index) lambda and bind seed to the index.
        if portable:
            return lambda x: F.md5(F.concat(seed, x))
        return lambda x: F.xxhash64(F.concat(seed, x))

    elems = []
    for s in range(num_hashes):
        h = F.transform(shingles, hasher(F.lit(f"{s}|")))
        elems.append(F.array_min(h))
    return F.array(*elems)


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 2,
    shingle_n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(key, band, band_hash) rows — one per band per doc. Docs shorter
    than one shingle are dropped (no signal).

    Portable path cost model: one md5 per (shingle, seed) with only
    ceil(num_hashes/4) seeds — each 128-bit digest is sliced into four
    8-hex-char (32-bit) hash values. The md5 arrays are materialized as
    intermediate columns so the 4 substring-min passes per seed share one
    md5 pass (HOF lambdas are interpreted, not codegen'd — md5 count is
    the dominant term)."""
    df = _spread(df)
    toks = tokens_expr(text_col, frozenset())  # dedup keeps stop words: byte-level fidelity
    sh = shingles_expr(toks, shingle_n)
    if portable:
        ex = df.select(F.col(key_col).alias("key"), F.explode(sh).alias("s"))
        base = _portable_signatures(ex, num_hashes)
    else:
        sig = minhash_signature_expr(sh, num_hashes, portable)
        base = (
            df.select(F.col(key_col).alias("key"), sh.alias("sh"), sig.alias("sig"))
            .filter(F.size("sh") > 0)
        )
    return _band_rows(base, num_hashes, band_size)


def _portable_signatures(ex: DataFrame, num_hashes: int) -> DataFrame:
    """(key, sig) from an exploded (key, s) shingle frame. One row per
    shingle so md5 runs as a PLAIN column expression inside whole-stage
    codegen (HOF lambdas are interpreted — 5-10x slower per hash); one md5
    per (shingle, seed) with only ceil(num_hashes/4) seeds — each 128-bit
    digest is sliced into four 8-hex-char (32-bit) hash values. The
    per-doc mins come back via groupBy(key) with map-side partial
    aggregation, so the shuffle carries 1 row per doc, not per shingle."""
    num_seeds = (num_hashes + 3) // 4
    hashed = ex.select(
        "key",
        *[
            F.md5(F.concat(F.lit(f"{seed}|"), F.col("s"))).alias(f"__m{seed}")
            for seed in range(num_seeds)
        ],
    )
    sig_cols = [
        F.min(F.substring(F.col(f"__m{i // 4}"), 8 * (i % 4) + 1, 8)).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    per_doc = hashed.groupBy("key").agg(*sig_cols)
    return per_doc.select(
        "key", F.array(*[F.col(f"mh{i}") for i in range(num_hashes)]).alias("sig")
    )


def _band_rows(base: DataFrame, num_hashes: int, band_size: int) -> DataFrame:
    """(key, band, band_hash, sigh) rows from a (key, sig) signature frame.
    ``sigh`` is a 64-bit hash of the FULL signature — the exact-group key
    the oversized-bucket fallback collapses on (docs with identical
    signatures are candidates of each other by construction)."""
    bands = []
    for b in range(num_hashes // band_size):
        parts = [F.col("sig").getItem(b * band_size + i) for i in range(band_size)]
        bands.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", *[p.cast("string") for p in parts])).alias("band_hash"),
            )
        )
    sigh = F.xxhash64(F.concat_ws("|", F.col("sig").cast("array<string>")))
    return base.select(
        "key", sigh.alias("sigh"), F.explode(F.array(*bands)).alias("bb")
    ).select(
        "key",
        F.col("bb.band").alias("band"),
        F.col("bb.band_hash").alias("band_hash"),
        "sigh",
    )


DEFAULT_MAX_BUCKET_ROWS = 1024


def _capped_band_pairs(
    bands: DataFrame, max_bucket_rows: int, release_also: tuple = ()
) -> DataFrame:
    """Distinct (key_a < key_b) candidate pairs from (key, band, band_hash,
    sigh) band rows, with a HARD cap on the quadratic self-join.

    The plain within-bucket self-join emits K^2/2 pairs per bucket — fine
    for the honest LSH regime (buckets of a handful of docs) but fatal for
    DEGENERATE buckets: 10 M boilerplate-identical documents share every
    band hash, and 10 M^2 pairs is not a computable answer at any scale.

    Routing, per (band, band_hash) bucket (sizes from one map-side-combined
    groupBy of slim rows; the oversized-bucket set — EMPTY on honest
    corpora — broadcasts into anti/semi joins, so the band rows
    themselves never pay an extra shuffle or sort for the cap):
      * size <= max_bucket_rows → the exact K^2/2 self-join (unchanged
        semantics — at the default 1024 cap, honest corpora never leave
        this path, so gated results are bit-identical to the uncapped op).
      * size >  max_bucket_rows → exact-group fallback: rows collapse on
        ``sigh`` (the full-signature hash). Within a signature group every
        member links to the group's min key (a STAR — K-1 pairs instead of
        K^2/2; members share the whole signature, so connectivity through
        the representative preserves the duplicate cluster). Distinct
        group representatives then pair among themselves (their count is
        the number of DISTINCT signatures colliding on one band hash —
        small unless adversarial); if even the representatives exceed the
        cap, they star onto the bucket-min representative. Every shape is
        LINEAR in bucket size.
    Oversized buckets are observable via `oversized_bucket_stats` (the
    accounting surface — same band pipeline, no pair work).

    The fallback trades recall (a member pair whose signatures DIFFER yet
    share this one band is represented through two hops) for a bounded
    output; downstream Jaccard verification and connected components both
    operate on connectivity, which the star preserves for true duplicate
    groups. The persisted band rows and any `release_also` intermediates
    are released deterministically (lifecycle.materialize_release)."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from apache_pinot_spark.operators.lifecycle import materialize_release

    # PERSIST the band rows: the sizes aggregate, the small/big split and
    # the self-join otherwise recompute the whole shingle→hash→min
    # pipeline per subtree (exchange reuse does not fire across aliases —
    # measured). Cached rows are (key, band, band_hash, sigh) — a few
    # scalars per doc per band, negligible next to the corpus.
    bands = bands.persist(StorageLevel.MEMORY_AND_DISK)
    big_buckets = (
        bands.groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") > max_bucket_rows)
        .select("band", "band_hash")
    )
    # One scalar probe decides the regime (reads the just-persisted bands,
    # so the sig pipeline is paid once either way). Honest corpora take
    # the clean self-join plan with ZERO cap machinery in it — the lazy
    # alternative (anti-join + a 4-branch union whose 3 fallback branches
    # are empty) still costs ~2 s of scheduled empty stages per call.
    if big_buckets.isEmpty():
        a = bands.alias("a")
        # merge hint: SMJ spills its per-key match buffer to disk, where
        # the earlier shuffle_hash pick built an IN-MEMORY hash map per
        # task — measured OOM at 10M docs x 2 bands on the 8g heap (and a
        # non-starter at 100 TB). A broadcast pick would be worse still
        # (corpus-sized build through the driver).
        b = bands.alias("b").hint("merge")
        pairs = (
            a.join(b, on=["band", "band_hash"], how="inner")
            .filter(F.col("a.key") < F.col("b.key"))
            .select(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"))
            .distinct()
        )
        return materialize_release(pairs, bands, *release_also)
    small = bands.join(
        F.broadcast(big_buckets), on=["band", "band_hash"], how="left_anti"
    )
    a = small.alias("a")
    # merge hint: spill-safe SMJ (see the small-corpus branch above)
    b = small.alias("b").hint("merge")
    pairs_small = (
        a.join(b, on=["band", "band_hash"], how="inner")
        .filter(F.col("a.key") < F.col("b.key"))
        .select(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"))
    )
    big = bands.join(
        F.broadcast(big_buckets), on=["band", "band_hash"], how="left_semi"
    )
    wb = Window.partitionBy("band", "band_hash")
    wg = Window.partitionBy("band", "band_hash", "sigh")
    grouped = big.withColumn("rep", F.min("key").over(wg))
    star = grouped.filter(F.col("key") != F.col("rep")).select(
        F.col("rep").alias("key_a"), F.col("key").alias("key_b")
    )
    reps = (
        grouped.select("band", "band_hash", "rep")
        .distinct()
        .withColumn("_rn", F.count(F.lit(1)).over(wb))
        .withColumn("rep0", F.min("rep").over(wb))
    )
    rs = reps.filter(F.col("_rn") <= max_bucket_rows)
    ra = rs.alias("ra")
    rb = rs.alias("rb").hint("merge")
    rep_pairs = (
        ra.join(rb, on=["band", "band_hash"], how="inner")
        .filter(F.col("ra.rep") < F.col("rb.rep"))
        .select(F.col("ra.rep").alias("key_a"), F.col("rb.rep").alias("key_b"))
    )
    rep_star = reps.filter(
        (F.col("_rn") > max_bucket_rows) & (F.col("rep") != F.col("rep0"))
    ).select(F.col("rep0").alias("key_a"), F.col("rep").alias("key_b"))
    pairs = (
        pairs_small.unionByName(star).unionByName(rep_pairs).unionByName(rep_star)
        .distinct()
    )
    return materialize_release(pairs, bands, *release_also)


def oversized_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 2,
    shingle_n: int = 3,
    portable: bool = False,
    max_bucket_rows: int = DEFAULT_MAX_BUCKET_ROWS,
) -> DataFrame:
    """Fallback accounting for the LSH bucket cap: one row per OVERSIZED
    (band, band_hash) bucket with its population and the number of
    distinct full signatures it collapsed to. Empty ⇔ the capped pair
    output is bit-identical to the uncapped self-join."""
    bands = minhash_bands(
        df, text_col, key_col, num_hashes, band_size, shingle_n, portable
    )
    return (
        bands.groupBy("band", "band_hash")
        .agg(
            F.count(F.lit(1)).alias("bucket_size"),
            F.countDistinct("sigh").alias("distinct_signatures"),
        )
        .filter(F.col("bucket_size") > max_bucket_rows)
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 2,
    shingle_n: int = 3,
    portable: bool = False,
    max_bucket_rows: int = DEFAULT_MAX_BUCKET_ROWS,
) -> DataFrame:
    """Distinct candidate near-dup pairs (key_a < key_b) from LSH banding.
    The self-join shuffles on (band, band_hash); bucket sizes are small in
    the honest LSH regime, and buckets beyond ``max_bucket_rows`` (e.g.
    10 M boilerplate-identical docs — the 100 TB degenerate case) route to
    the linear exact-group fallback instead of the K^2 self-join (see
    `_capped_band_pairs`; audit with `oversized_bucket_stats`)."""
    bands = minhash_bands(
        df, text_col, key_col, num_hashes, band_size, shingle_n, portable
    )
    return _capped_band_pairs(bands, max_bucket_rows)


def jaccard_verify_pairs(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs (the verify stage after
    LSH). Joins are key-equi joins; the shingle sets ride along as array
    columns, set ops are JVM built-ins.

    The per-doc shingle-set projection is PERSISTED for the duration of the
    call: it feeds both the key_a and key_b joins, which would otherwise
    each recompute the tokenize+shingle pass over the full corpus (the two
    joins hash on different keys, so no exchange is shared). One cached row
    per doc, released deterministically before returning."""
    from pyspark import StorageLevel

    from apache_pinot_spark.operators.lifecycle import materialize_release

    toks = tokens_expr(text_col, frozenset())
    sh = (
        _spread(df).select(
            F.col(key_col).alias("key"),
            F.array_distinct(shingles_expr(toks, shingle_n)).alias("shset"),
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a = sh.withColumnRenamed("key", "key_a").withColumnRenamed("shset", "set_a")
    b = sh.withColumnRenamed("key", "key_b").withColumnRenamed("shset", "set_b")
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size(F.array_union("set_a", "set_b"))
    # BROADCAST THE PAIRS SIDE. Left to its own size estimates the planner
    # broadcasts the shingle-set frame (5000 rows of arrays fits under the
    # threshold at bench SF) — serializing the corpus-derived arrays
    # through the driver, which is both the slow path here and exactly the
    # plan that breaks at real scale, where the pair set is the small side
    # by LSH construction and the shingle frame is corpus-sized.
    verified = (
        F.broadcast(pairs).join(a, "key_a").join(b, "key_b")
        .select(
            "key_a",
            "key_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return materialize_release(verified, sh)


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    num_hashes: int = 16,
    band_size: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_rows: int = DEFAULT_MAX_BUCKET_ROWS,
) -> DataFrame:
    """End-to-end portable near-dup pipeline: MinHash+LSH candidates →
    exact n-gram Jaccard verification, sharing ONE tokenize+shingle pass.

    The per-doc distinct shingle set is computed and persisted once; the
    MinHash signatures are derived from it (mins are invariant under
    duplicate shingles, so banding off the distinct set matches
    minhash_bands(portable=True) exactly), and the same persisted frame
    feeds both sides of the Jaccard verify joins. Versus composing
    minhash_candidate_pairs + jaccard_verify_pairs, this removes two full
    corpus tokenize passes — at 100 TB the tokenizer IS the scan cost.
    Cached rows: one shingle-set array per doc (the corpus text itself
    never rides a shuffle) plus the sized band rows inside
    `_capped_band_pairs` — both released deterministically (lifecycle
    helper). Candidate enumeration is bucket-capped: buckets beyond
    ``max_bucket_rows`` (degenerate boilerplate corpora) route to the
    linear exact-group fallback instead of the K^2 self-join."""
    from pyspark import StorageLevel

    from apache_pinot_spark.operators.lifecycle import materialize_release

    toks = tokens_expr(text_col, frozenset())
    shset_df = (
        _spread(df).select(
            F.col(key_col).alias("key"),
            F.array_distinct(shingles_expr(toks, shingle_n)).alias("shset"),
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ex = shset_df.select("key", F.explode("shset").alias("s"))
    bands = _band_rows(_portable_signatures(ex, num_hashes), num_hashes, band_size)
    # capped candidate enumeration: buckets beyond max_bucket_rows route
    # to the linear exact-group fallback (see _capped_band_pairs); the
    # helper materializes the pairs and releases its own sized cache.
    pairs = _capped_band_pairs(bands, max_bucket_rows)
    sa = shset_df.withColumnRenamed("key", "key_a").withColumnRenamed("shset", "set_a")
    sb = shset_df.withColumnRenamed("key", "key_b").withColumnRenamed("shset", "set_b")
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size(F.array_union("set_a", "set_b"))
    # Broadcast the candidate pairs, stream the shingle-set frame from
    # cache: without the hint the planner broadcasts the corpus-derived
    # array frame through the driver (it fits the threshold at bench SF),
    # which measured 2x slower with multi-x run-to-run spikes and is the
    # wrong side at any real scale (see jaccard_verify_pairs).
    verified = (
        F.broadcast(pairs)
        .join(sa, "key_a")
        .join(sb, "key_b")
        .select("key_a", "key_b", (inter.cast("double") / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    return materialize_release(verified, shset_df)


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash64(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document (xxhash64 token hashes → per-bit ±1 sums
    → sign bits). Explode + one groupBy(key) with map-side partial sums."""
    toks = tokens_expr(text_col, frozenset())
    tok = (
        _spread(df).select(F.col(key_col).alias("key"), F.explode(toks).alias("t"))
        .withColumn("h", F.xxhash64("t"))
    )
    # bit 63 of a signed LONG is the sign bit: its mask must be the
    # two's-complement value -(1<<63) or F.lit overflows a Java long.
    sums = tok.groupBy("key").agg(
        *[
            F.sum(
                F.when(
                    F.col("h").bitwiseAND(
                        F.lit((1 << i) if i < 63 else -(1 << 63))
                    )
                    != 0,
                    1,
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    sim = None
    for i in range(64):
        # bit 63 of a signed LONG is the sign bit: 1<<63 must be expressed
        # as its two's-complement value or F.lit overflows.
        val = (1 << i) if i < 63 else -(1 << 63)
        bit = F.when(F.col(f"b{i}") > 0, F.lit(val)).otherwise(F.lit(0))
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return sums.select("key", sim.alias("simhash"))


def simhash16_portable(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id"
) -> DataFrame:
    """16-bit SimHash whose per-token hash bits are the high bits of the
    md5 hex nibbles — reproducible in any engine with md5+substring (used
    by the oracle-checked driver query)."""
    toks = tokens_expr(text_col, frozenset())
    tok = (
        _spread(df).select(F.col(key_col).alias("key"), F.explode(toks).alias("t"))
        .withColumn("m", F.md5("t"))
    )
    high = set("89abcdef")
    sums = tok.groupBy("key").agg(
        *[
            F.sum(
                F.when(F.substring("m", i + 1, 1).isin(*high), 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(16)
        ]
    )
    sim = None
    for i in range(16):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return sums.select("key", sim.cast("bigint").alias("simhash"))
