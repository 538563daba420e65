"""Embedding similarity search — brute-force exact top-k and LSH-bucketed
approximate variants over an array<float> column.

Scale design (100 TB / billions of vectors):
  * Brute-force: the query set is small and BROADCAST; the corpus scan is
    embarrassingly parallel (per-partition top-k via window). Cosine is a
    JVM fold (zip_with + aggregate in DOUBLE) — no Python in the loop.
  * Norms are precomputed once per side (map-side column), not per pair.
  * LSH (random hyperplanes): signature is sign-bit packing of h
    deterministic pseudo-projections (hash-derived weights, no RNG state
    to ship); candidates join on bucket id then exact-rescore. Recall is
    tunable via (num_planes, num_tables).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from apache_pinot_spark.operators.dedup import _spread
from apache_pinot_spark.session import local_frame


def _to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot_expr(a: Column, b: Column, dim: int | None = None) -> Column:
    """Sequential left-fold dot product in DOUBLE — deterministic and
    reproducible across engines (oracle parity).

    With ``dim`` given, the fold is unrolled into a left-associated chain
    of `a[i]*b[i]` adds — bit-identical summation order, but whole-stage
    codegen instead of an interpreted higher-order-function loop (~10x on
    all-pairs scoring). Pass dim for big all-pairs workloads (billions of
    scored pairs, where per-row speed dominates); leave it None for
    small/medium pair counts — the unrolled form costs ~2-3 s of Janino
    compilation per query, which the fold avoids. Both produce the exact
    same left-associated sum, so the choice never changes results."""
    if dim is not None:
        out = a.getItem(0) * b.getItem(0)
        for i in range(1, dim):
            out = out + a.getItem(i) * b.getItem(i)
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm_expr(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot_expr(a, a, dim))


def cosine_expr(
    a: Column,
    b: Column,
    a_norm: Column | None = None,
    b_norm: Column | None = None,
    dim: int | None = None,
) -> Column:
    an = a_norm if a_norm is not None else norm_expr(a, dim)
    bn = b_norm if b_norm is not None else norm_expr(b, dim)
    return dot_expr(a, b, dim) / (an * bn)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is broadcast (it's the small side by construction); the big
    corpus is scanned once, partition-parallel. Output:
    (query_id, neighbor_id, score, rank), score rounded to 6 decimals.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", norm_expr(F.col("qv"), dim))
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), _to_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", norm_expr(F.col("cv"), dim))
    joined = c.join(F.broadcast(q), how="cross")
    if exclude_self:
        joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        cosine_expr(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn"), dim).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
    )


# --------------------------------------------------------------------------
# LSH (random hyperplanes) — the scale path
# --------------------------------------------------------------------------


def _plane_weight(plane: int, dim: int, table: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1): derived from md5 so
    every executor (and any re-run) builds identical hyperplanes with no
    RNG state to broadcast — and so a SQL oracle can inline the exact same
    weights as literals."""
    import hashlib

    h = hashlib.md5(f"{table}:{plane}:{dim}".encode()).hexdigest()
    return (int(h[:8], 16) / 0x7FFFFFFF) - 1.0


def _plane_matrix(dim: int, num_planes: int, num_tables: int):
    """(num_tables, num_planes, dim) float64 hyperplane tensor."""
    import numpy as np

    return np.asarray(
        [
            [[_plane_weight(p, d, t) for d in range(dim)] for p in range(num_planes)]
            for t in range(num_tables)
        ],
        dtype=np.float64,
    )


def lsh_buckets(
    df: DataFrame,
    dim: int,
    num_planes: int,
    num_tables: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_name: str = "id",
    with_sigh: bool = False,
) -> DataFrame:
    """(id, tbl, bucket[, sigh]) LSH bucket assignments for every row — ALL
    tables in ONE Arrow-batched numpy GEMM pass. ``with_sigh`` threads a
    map-side xxhash64 of the full vector through the pass (the exact-group
    key for the oversized-bucket fallback — zero extra shuffle).

    This replaces the interpreted higher-order-function fold path (which
    evaluated num_tables × num_planes aggregate() lambdas per row — the
    round-1 profile's top scale cost): the projection is one
    (batch × dim) @ (dim × tables·planes) BLAS multiply per Arrow batch,
    then sign-bit packing. The plane tensor is deterministic
    (md5-derived, `_plane_weight`), so results are reproducible anywhere,
    including a SQL oracle evaluating the same dot products.

    Sign semantics: bit p set iff the projection is strictly > 0. (BLAS
    may sum in a different order than a sequential fold; a sign can only
    differ where |projection| is within last-ulp noise of 0 — probability
    ~1e-13 per projection on real-valued data, accepted.)
    """
    import numpy as np

    W = _plane_matrix(dim, num_planes, num_tables)  # (T, P, D)
    Wt = W.reshape(num_tables * num_planes, dim).T  # (D, T*P)
    bits = (1 << np.arange(num_planes, dtype=np.int64))
    id_type = dict(df.dtypes)[id_col]  # carry the native id dtype through
    out_schema = f"{id_name} {id_type}, tbl INT, bucket INT"
    if with_sigh:
        out_schema += ", sigh BIGINT"

    def run(batches):
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # .tolist() conversion is ~2x the per-cell list() comprehension
            V = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            proj = V @ Wt  # (N, T*P)
            signs = (proj > 0).reshape(len(pdf), num_tables, num_planes)
            buckets = (signs * bits).sum(axis=2).astype(np.int32)  # (N, T)
            ids = pdf["id"].to_numpy()
            out = {
                id_name: np.repeat(ids, num_tables),
                "tbl": np.tile(np.arange(num_tables, dtype=np.int32), len(pdf)),
                "bucket": buckets.reshape(-1),
            }
            if with_sigh:
                out["sigh"] = np.repeat(pdf["sigh"].to_numpy(), num_tables)
            yield _pd.DataFrame(out)

    cols = [F.col(id_col).alias("id"), _to_double(F.col(vec_col)).alias("v")]
    if with_sigh:
        # map-side exact-group key: hash of the full vector (identical
        # embeddings — the degenerate-bucket population — share it)
        cols.append(F.xxhash64(_to_double(F.col(vec_col))).alias("sigh"))
    v = _spread(df).select(*cols)
    return v.mapInPandas(run, schema=out_schema)


def lsh_candidate_pairs(
    corpus: DataFrame,
    dim: int,
    num_planes: int = 12,
    num_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Candidate pairs sharing an LSH bucket in ANY of num_tables tables.
    Shuffles on (table, bucket); bucket population ~ N / 2^num_planes.

    Only (id, tbl, bucket) rides through the self-join — vectors stay out
    of the shuffle/broadcast (rescoring rejoins them by id if needed); the
    signature GEMM (one Arrow pass, see lsh_buckets) is computed once into
    the helper's cache and released deterministically.

    Bucket cap (default `dedup.DEFAULT_MAX_BUCKET_ROWS`): a degenerate
    bucket — e.g. millions of zero or boilerplate-identical embeddings
    landing in one hypercube cell — would make the self-join quadratic at
    100 TB. Buckets beyond the cap route to the linear exact-group
    fallback of `dedup._capped_band_pairs`, grouping on a hash of the
    FULL vector (identical embeddings star onto one representative;
    distinct ones pair at the representative level)."""
    from apache_pinot_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET_ROWS,
        _capped_band_pairs,
    )

    if max_bucket_rows is None:
        max_bucket_rows = DEFAULT_MAX_BUCKET_ROWS
    sigs = lsh_buckets(
        corpus, dim, num_planes, num_tables, id_col, vec_col, with_sigh=True
    )
    bands = sigs.select(
        F.col("id").alias("key"),
        F.col("tbl").alias("band"),
        F.col("bucket").cast("string").alias("band_hash"),
        "sigh",
    )
    pairs = _capped_band_pairs(bands, max_bucket_rows)
    return pairs.select(
        F.col("key_a").alias("id_a"), F.col("key_b").alias("id_b")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 10,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 65536,
) -> DataFrame:
    """Approximate top-k: bucket-join queries to corpus in num_tables LSH
    tables, exact-rescore candidates, take top-k. Same output schema as
    brute_force_topk (so recall is directly measurable).

    The QUERY side's buckets are computed driver-side: the query set is
    small by contract (bounded at ``max_query_rows``, raising past it —
    same fence as ivf_topk), and an in-process GEMM against the identical
    deterministic plane tensor replaces a whole Spark mapInPandas pass
    whose fixed cost (shuffle + Arrow round trip) dwarfed three rows of
    work. Sign semantics are bit-identical: same float64 `V @ Wt > 0`."""
    import numpy as np

    qrows = (
        queries.select(
            F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
        )
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"lsh_topk query set exceeds max_query_rows={max_query_rows}; "
            "chunk the queries or raise the bound explicitly"
        )
    W = _plane_matrix(dim, num_planes, num_tables)  # (T, P, D)
    Wt = W.reshape(num_tables * num_planes, dim).T
    bits = 1 << np.arange(num_planes, dtype=np.int64)
    qmat = np.asarray([list(r["qv"]) for r in qrows], dtype=np.float64)
    q_rows = []
    if len(qmat):
        proj = qmat @ Wt
        signs = (proj > 0).reshape(len(qmat), num_tables, num_planes)
        buckets = (signs * bits).sum(axis=2).astype(np.int32)
        for i, r in enumerate(qrows):
            for t in range(num_tables):
                q_rows.append((r["query_id"], int(t), int(buckets[i, t])))
    qs = local_frame(
        queries.sparkSession,
        q_rows,
        schema=f"query_id {dict(queries.dtypes)[id_col]}, tbl INT, bucket INT",
    )
    # Slim (id, tbl, bucket) rows via the GEMM bucket pass — vectors do NOT
    # ride the bucket join; they are rejoined by id for the rescore stage.
    cs = lsh_buckets(corpus, dim, num_planes, num_tables, id_col, vec_col, "neighbor_id")
    cand = (
        cs.join(F.broadcast(qs), on=["tbl", "bucket"], how="inner")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), _to_double(F.col(vec_col)).alias("cv")
    )
    scored = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_expr(F.col("qv"), F.col("cv")).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
    )


# --------------------------------------------------------------------------
# Blocked all-pairs (GEMM) — the exact-similarity scale path
# --------------------------------------------------------------------------


def _gemm_pairs_worker(threshold: float):
    """mapInPandas worker over block-pair rows (blk_a/ids_a/vecs_a ×
    blk_b/ids_b/vecs_b): BLAS GEMM prefilter with a small margin, then an
    exact sequential-fold rescore of survivors (bit-identical to the
    JVM/oracle left fold). Emits each unordered pair once (id_a < id_b);
    same-block rows (blk_a == blk_b) take only the strict upper triangle."""
    thr = float(threshold)

    def run(batches):
        import numpy as _np
        import pandas as _pd

        def seq_dot(A, B):
            # sequential left-fold across dims, vectorized across pairs —
            # bit-identical to the engine/oracle per-pair fold
            acc = A[:, 0] * B[:, 0]
            for i in range(1, A.shape[1]):
                acc = acc + A[:, i] * B[:, i]
            return acc

        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                if len(row.ids_a) == 0:
                    continue  # hash gap: block empty on the A side
                ids_a = _np.asarray(row.ids_a, dtype=_np.int64)
                A = _np.asarray([list(x) for x in row.vecs_a], dtype=_np.float64)
                na = _np.sqrt(seq_dot(A, A))
                if row.blk_a == row.blk_b:
                    # diagonal block pair: self-GEMM on the A side (the
                    # pair-row builder ships each vector once here)
                    ids_b, B, nb = ids_a, A, na
                else:
                    if len(row.ids_b) == 0:
                        continue  # hash gap: counterpart block empty
                    ids_b = _np.asarray(row.ids_b, dtype=_np.int64)
                    B = _np.asarray([list(x) for x in row.vecs_b], dtype=_np.float64)
                    nb = _np.sqrt(seq_dot(B, B))
                approx = (A @ B.T) / _np.outer(na, nb)
                ai, bi = _np.nonzero(approx >= thr - 1e-9)
                if row.blk_a == row.blk_b:
                    keep = ids_a[ai] < ids_b[bi]
                else:
                    keep = _np.ones(len(ai), dtype=bool)
                ai, bi = ai[keep], bi[keep]
                if len(ai) == 0:
                    continue
                exact = seq_dot(A[ai], B[bi]) / (na[ai] * nb[bi])
                m = exact >= thr
                # no rounding here: numpy rounds half-even, Spark/DuckDB
                # half-up — the caller rounds JVM-side for oracle parity
                ia, ib, sc = ids_a[ai[m]], ids_b[bi[m]], exact[m]
                swap = ia > ib
                ia2 = _np.where(swap, ib, ia)
                ib2 = _np.where(swap, ia, ib)
                outs.append(_pd.DataFrame({"id_a": ia2, "id_b": ib2, "score": sc}))
            yield _pd.concat(outs) if outs else _pd.DataFrame(
                {"id_a": _pd.Series(dtype="int64"), "id_b": _pd.Series(dtype="int64"),
                 "score": _pd.Series(dtype="float64")}
            )

    return run


def _parallelism_floor_blocks(parallelism: int, groups: int = 1) -> int:
    """Smallest block count B such that `groups` independent groups each
    holding B(B+1)/2 block-pair GEMM tasks total ~2·parallelism tasks —
    enough to fill the cluster even when the data would fit one block."""
    import math

    return max(1, math.ceil(math.sqrt(4 * parallelism / max(1, groups))))


def _stats_row_count(df: DataFrame) -> int | None:
    """Driver-side row-count UPPER BOUND from parquet footers — zero Spark
    jobs (inputFiles() is a metadata call; footers are a few KB each).
    Returns None when the plan has no file sources, a footer is
    unreadable (non-local filesystem without pyarrow support, etc.), or
    the plan contains a row-MULTIPLYING operator (join / generate /
    union / chunk-explode) between the scan and the caller — in that
    case the footer total would be an UNDER-estimate, the derived block
    count too small, and the collected block rows could exceed the task
    memory bound.  Callers fall back to a real ``count()`` (or an
    explicit ``num_blocks``) when this returns None.

    With the multiplier guard, a non-None return is a true upper bound:
    the remaining plan shapes (filter / project / repartition) only
    shrink or preserve the real count, so the derived block count can
    only be too HIGH — smaller blocks, same output (blocking is
    internal)."""
    from apache_pinot_spark.operators.dedup import _plan_has_nodes

    try:
        qe = df._jdf.queryExecution()
        # analyzed plan: one line per logical operator, stable node names;
        # matched at line starts so column names / literals containing
        # these words can't flip the check (r9 ADVICE), and including the
        # full multiplying-node set (Expand from grouping sets / some
        # distinct-aggregate rewrites, cogroups, lateral joins, unpivot)
        plan = qe.analyzed().toString()
        multipliers = ("Join", "Generate", "Union", "FlatMapCoGroups",
                       "CoGroup", "Expand", "LateralJoin", "Unpivot",
                       "Intersect", "Except")
        if _plan_has_nodes(plan, multipliers):
            return None
        # a CACHED relation hides its file source from inputFiles(); its
        # materialized Catalyst stats carry the EXACT row count instead
        # (InMemoryRelation accumulators — defined only after the cache is
        # built, which is exactly when a caller would hit this path)
        rc = qe.optimizedPlan().stats().rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
        files = df.inputFiles()
        if not files:
            return None
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            if f.startswith("file:"):
                f = f[len("file:"):]
                while f.startswith("//"):
                    f = f[1:]
            total += pq.ParquetFile(f).metadata.num_rows
        return total
    except Exception:
        return None


def _per_cluster_blocks(
    assigned: DataFrame, max_block_rows: int, min_blocks: int
) -> DataFrame:
    """Add `blk` and `nblk` columns sized from each cluster's ACTUAL
    population: a lazy per-cluster count is broadcast-joined back and the
    block count is ceil(actual/max_block_rows), floored at ``min_blocks``.
    A cluster holding 10x the mean gets 10x the blocks, so collected block
    rows stay ~max_block_rows regardless of cluster skew (round-7 defect:
    sizing from the MEAN population let skewed clusters blow the ~4 MB
    task bound). No eager action: the count subtree rides the downstream
    job as a broadcast build side."""
    sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("_csz"))
    return (
        assigned.join(F.broadcast(sizes), "cluster")
        .withColumn(
            "nblk",
            F.greatest(
                F.ceil(F.col("_csz") / F.lit(max_block_rows)), F.lit(min_blocks)
            ).cast("int"),
        )
        .withColumn(
            "blk",
            F.pmod(F.xxhash64(F.col("id").cast("string")), F.col("nblk")).cast("int"),
        )
        .drop("_csz")
    )


def _block_pair_rows(v: DataFrame, group_cols: list[str]) -> DataFrame:
    """Fan each vector out to every block PAIR it participates in and
    collect both sides with ONE hash shuffle — the all-pairs enumeration
    that scales.

    Input needs (id, v, blk, nblk) plus ``group_cols`` scope columns
    (e.g. cluster). A vector in block k joins pairs (k, j) for j >= k as
    side A and (i, k) for i < k as side B — exactly B copies per vector,
    i.e. O(N·B) rows through a single groupBy((scope, blk_a, blk_b))
    shuffle. Diagonal pairs (k, k) carry only side A; the GEMM worker
    self-pairs them (upper triangle).
    The earlier shape (groupBy-collect blocks, non-equi self-join on
    blk_a <= blk_b, repartition) moved the same O(N·B) bytes but needed
    THREE exchanges, and the non-equi join planned as a broadcast
    nested-loop whose build side was the ENTIRE blocked corpus — fine at
    test scale, impossible at 100 TB. Here every exchange is a plain
    hash partition of slim rows and no side is ever broadcast."""
    exploded = v.withColumn(
        "other", F.explode(F.sequence(F.lit(0), F.col("nblk") - 1))
    )
    is_a = F.col("other") >= F.col("blk")
    tagged = exploded.select(
        *group_cols,
        F.when(is_a, F.col("blk")).otherwise(F.col("other")).alias("blk_a"),
        F.when(is_a, F.col("other")).otherwise(F.col("blk")).alias("blk_b"),
        is_a.alias("_is_a"),
        "id",
        "v",
    )
    return tagged.groupBy(*group_cols, "blk_a", "blk_b").agg(
        F.collect_list(F.when(F.col("_is_a"), F.col("id"))).alias("ids_a"),
        F.collect_list(F.when(F.col("_is_a"), F.col("v"))).alias("vecs_a"),
        F.collect_list(F.when(~F.col("_is_a"), F.col("id"))).alias("ids_b"),
        F.collect_list(F.when(~F.col("_is_a"), F.col("v"))).alias("vecs_b"),
    )


def near_duplicate_pairs_blocked(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int | None = None,
    max_block_rows: int = 8192,
) -> DataFrame:
    """All pairs with cosine >= threshold via blocked matrix multiply.

    Design (the way you'd do exact all-pairs at billions of vectors):
    vectors are hash-grouped into blocks of BOUNDED size; every block PAIR
    (i <= j) becomes one row carrying both blocks' vectors; an Arrow-
    batched mapInPandas worker runs BLAS GEMM per block pair and emits
    only pairs above threshold. Work is O(B²/2) tasks of O((N/B)²·dim)
    flops — embarrassingly parallel, no driver collect, and the shuffle
    volume is O(N·B) vector copies, not O(N²) pairs.

    Row-size bound: the number of blocks is derived from the corpus count
    so the EXPECTED block population is ``max_block_rows``; block
    assignment hashes the id (xxhash64 — ids need not be dense or
    numeric), so populations concentrate tightly around the mean and a
    collected block row stays ~max_block_rows·dim·8 bytes (default ≈ 4 MB
    at dim 64) — far under Spark's 2 GB single-value and Arrow batch
    limits at ANY corpus size, which the round-1 `id % num_blocks`
    single-row-per-block scheme was not. Pass ``num_blocks`` explicitly
    to override (e.g. from table stats).

    Parallelism floor: the block count never drops below
    ceil(sqrt(4·cores)), so even a corpus smaller than one block yields
    ~2·cores GEMM tasks instead of ONE serial task (round-7 regression:
    2k vectors → num_blocks=1 → the whole GEMM on one core). Blocking is
    internal, so the floor never changes the output.

    The derived count launches NO Spark job: it reads the scan's parquet
    footers driver-side (`_stats_row_count` — an upper bound, which can
    only make blocks smaller), falling back to one count() for file-less
    sources (in-memory relations, views over generators) and for plans
    containing row-multiplying operators (join/explode/union), where the
    footer total would UNDER-count and blocks could blow the task bound.

    Exactness: GEMM prefilters with a small margin, then survivors are
    re-scored with a SEQUENTIAL left-fold over dims (a 64-step vectorized
    loop across candidate pairs) — bit-identical to the JVM/oracle fold,
    so thresholds and rounded scores match exactly. Blocking is internal:
    the output is the same all-pairs set whatever the block count.
    """
    par = corpus.sparkSession.sparkContext.defaultParallelism
    if num_blocks is None:
        n = _stats_row_count(corpus)
        if n is None:
            n = corpus.count()
        num_blocks = max(
            -(-n // max_block_rows) if n else 1, _parallelism_floor_blocks(par)
        )
    v = (
        corpus.select(F.col(id_col).alias("id"), _to_double(F.col(vec_col)).alias("v"))
        .withColumn(
            "blk",
            F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(num_blocks)).cast("int"),
        )
        .withColumn("nblk", F.lit(num_blocks))
    )
    pairs = _block_pair_rows(v, [])

    idt = dict(v.dtypes)["id"]  # carry the native id dtype through
    out_schema = f"id_a {idt}, id_b {idt}, score DOUBLE"

    return pairs.mapInPandas(_gemm_pairs_worker(threshold), schema=out_schema).select(
        "id_a", "id_b", F.round("score", 6).alias("score")
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — cluster-partitioned approximate top-k
# --------------------------------------------------------------------------


def _assign_to_centroids(v: DataFrame, cmat, cnorm) -> DataFrame:
    """One corpus pass: numpy GEMM cosine argmax against the (tiny)
    centroid matrix shipped in the closure. Ties go to the lowest
    centroid index (numpy argmax first-hit)."""
    out_schema = f"id {dict(v.dtypes)['id']}, v ARRAY<DOUBLE>, cluster INT"

    def run(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            V = _np.asarray(pdf["v"].tolist(), dtype=_np.float64)
            if len(V) == 0:
                yield _pd.DataFrame({"id": [], "v": [], "cluster": []})
                continue
            vn = _np.sqrt((V * V).sum(axis=1))
            sim = (V @ cmat.T) / _np.outer(vn, cnorm)
            yield _pd.DataFrame(
                {
                    # pass the id column through untouched — the schema
                    # carries the input's native dtype (an astype("int64")
                    # here broke string-keyed corpora, r10)
                    "id": pdf["id"],
                    "v": pdf["v"],
                    "cluster": _np.argmax(sim, axis=1).astype("int32"),
                }
            )

    return v.mapInPandas(run, schema=out_schema)


def ivf_assign(
    corpus: DataFrame,
    dim: int,
    num_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iterations: int = 0,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Assign every vector to its nearest of ``num_clusters`` centroids.

    Centroids are chosen deterministically: the ``num_clusters`` vectors
    with the smallest md5(id) — a hash-order sample, uniformly spread over
    the corpus with no RNG state, identical on every run/executor, and
    reproducible in any SQL engine (ORDER BY md5(CAST(id AS VARCHAR)), id
    LIMIT k). Selection is ONE top-k scan (Spark TakeOrderedAndProject —
    no full sort, no separate count() pass).

    ``kmeans_iterations`` optionally refines with spherical Lloyd steps:
    assign (one GEMM corpus pass) → centroid = per-cluster mean (one
    map-side-combined aggregate of 64 AVGs) → repeat. Deterministic given
    the deterministic seed; empty clusters keep their previous centroid.
    The default 0 keeps the SQL-oracle-reproducible hash-sample behavior
    (the declared correctness query uses it); refined centroids trade
    oracle parity for recall (measured table in SCALE.md) — use for
    production indexes. Returns (assigned_df with a `cluster` column,
    centroid list).

    Lifecycle: with iterations > 0 the (id, v) projection is read by
    every Lloyd pass, so it is persisted for the loop and swapped for the
    materialized final assignment via materialize_release — without this
    each pass re-ran the corpus scan + Arrow decode from scratch and the
    refinement cost grew with lineage instead of staying one GEMM pass
    per iteration. The 0-iteration path stays fully lazy (no persist, no
    checkpoint): one assign pass fused into the downstream plan."""
    import numpy as np

    from apache_pinot_spark.operators.lifecycle import materialize_release

    v = _spread(corpus).select(
        F.col(id_col).alias("id"), _to_double(F.col(vec_col)).alias("v")
    )
    if kmeans_iterations > 0:
        v = v.persist()
    cent_rows = (
        v.withColumn("__h", F.md5(F.col("id").cast("string")))
        .orderBy("__h", "id")
        .limit(num_clusters)
        .collect()
    )
    cmat = np.asarray([list(r["v"]) for r in cent_rows], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))

    for _ in range(kmeans_iterations):
        assigned = _assign_to_centroids(v, cmat, cnorm)
        means = (
            assigned.groupBy("cluster")
            .agg(*[F.avg(F.col("v").getItem(i)).alias(f"m{i}") for i in range(dim)])
            .collect()
        )
        new = cmat.copy()
        for r in means:
            new[r["cluster"]] = [r[f"m{i}"] for i in range(dim)]
        cmat = new
        cnorm = np.sqrt((cmat * cmat).sum(axis=1))
        cnorm[cnorm == 0] = 1.0

    centroids = [(i, list(cmat[i])) for i in range(len(cmat))]
    final = _assign_to_centroids(v, cmat, cnorm)
    if kmeans_iterations > 0:
        final = materialize_release(final, v)
    return final, centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_clusters: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 65536,
    kmeans_iterations: int = 0,
    assignment: tuple | None = None,
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` clusters nearest each
    query (classic IVF). Work scales as nprobe/num_clusters of brute
    force; recall is tunable via nprobe. Candidates are exact-rescored
    with the codegen'd sequential dot, so scores match brute force
    bit-for-bit on the pairs IVF retrieves (same output schema →
    directly measurable recall).

    The query set is collected to the driver to compute probe targets
    (cheap: nprobe ranking against a tiny centroid matrix) and then
    re-broadcast — correct for the intended small-query-set regime, and
    BOUNDED: more than ``max_query_rows`` queries raises instead of
    silently materializing an unbounded collect (batch big query sets
    through lsh_topk, or chunk them).

    ``assignment`` optionally supplies a prebuilt (assigned_df,
    centroids) pair from ivf_assign — callers serving several index
    tiers off one coarse quantizer (e.g. IVF and IVF+PQ side by side)
    persist the assignment once instead of re-running the GEMM pass per
    tier."""
    import numpy as np

    assigned, centroids = assignment if assignment is not None else ivf_assign(
        corpus, dim, num_clusters, id_col, vec_col, kmeans_iterations
    )
    cmat = np.asarray([c for _, c in centroids], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))

    qrows = (
        queries.select(
            F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
        )
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"ivf_topk query set exceeds max_query_rows={max_query_rows}; "
            "chunk the queries or raise the bound explicitly"
        )
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["qv"], dtype=np.float64)
        sim = (cmat @ qv) / (cnorm * np.sqrt(qv @ qv))
        for c in np.argsort(-sim)[:nprobe]:
            probe_rows.append((r["query_id"], qv.tolist(), int(c)))
    spark = corpus.sparkSession
    # query_id carries the queries frame's native id dtype (r10: a pinned
    # BIGINT here broke string-keyed corpora)
    probes = local_frame(
        spark,
        probe_rows,
        schema=f"query_id {dict(queries.dtypes)[id_col]}, qv ARRAY<DOUBLE>, "
               "cluster INT",
    )

    cand = assigned.join(F.broadcast(probes), on="cluster").filter(
        F.col("id") != F.col("query_id")
    )
    # Rescore with the HOF fold (dim=None): the candidate set is nprobe/
    # num_clusters of the corpus per query — small enough that the ~2-3 s
    # Janino compile of an unrolled dot would dominate. Same left fold,
    # identical scores.
    scored = cand.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        cosine_expr(F.col("qv"), F.col("v")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
    )


# --------------------------------------------------------------------------
# SemDeDup — semantic (embedding-space) deduplication
# --------------------------------------------------------------------------


def semantic_dedup_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float,
    num_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iterations: int = 0,
    max_block_rows: int = 8192,
) -> DataFrame:
    """Within-cluster near-duplicate pairs — the candidate step of the
    published SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540):
    cluster the embeddings, then score pairs ONLY inside each cluster, so
    total work is ~K · (N/K)² instead of N² while catching the semantic
    duplicates that land in the same cluster.

    Scale design mirrors near_duplicate_pairs_blocked: inside each
    cluster, vectors hash into bounded blocks sized from the cluster's
    ACTUAL population (`_per_cluster_blocks` — a skewed cluster gets
    proportionally more blocks, so collected block rows stay ~4 MB
    regardless of skew), with a parallelism floor so small inputs still
    fan out to ~2·cores GEMM tasks. Every same-cluster block pair becomes
    one row into the GEMM worker. Shuffle is O(N·B_within_cluster) vector
    copies; no driver collect of vectors (only ivf_assign's num_clusters
    centroid rows). The assignment is persisted — the per-cluster count
    (broadcast stats side) and the block build both read it within ONE
    downstream action — and released by the lifecycle sweep when the
    returned frame dies (operators/lifecycle.release_on_death; the result
    stays lazy, no checkpoint job).

    Determinism: centroid choice is the md5-hash-order sample and
    assignment ties go to the lowest centroid index (see ivf_assign), so
    a SQL oracle reproduces the clustering exactly; survivor scores are
    the exact sequential fold. Returns (id_a, id_b, score) with
    id_a < id_b, cosine >= threshold, both in the same cluster."""
    from apache_pinot_spark.operators.lifecycle import release_on_death

    assigned, _ = ivf_assign(
        corpus, dim, num_clusters, id_col, vec_col, kmeans_iterations
    )
    par = corpus.sparkSession.sparkContext.defaultParallelism
    assigned = assigned.persist()
    v = _per_cluster_blocks(
        assigned, max_block_rows, _parallelism_floor_blocks(par, num_clusters)
    )
    pairs = _block_pair_rows(v, ["cluster"])
    idt = dict(assigned.dtypes)["id"]  # carry the native id dtype through
    out_schema = f"id_a {idt}, id_b {idt}, score DOUBLE"
    out = pairs.mapInPandas(_gemm_pairs_worker(threshold), schema=out_schema).select(
        "id_a", "id_b", F.round("score", 6).alias("score")
    )
    return release_on_death(out, assigned)


def semantic_dedup(
    corpus: DataFrame,
    dim: int,
    threshold: float,
    num_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iterations: int = 0,
    max_block_rows: int = 8192,
) -> DataFrame:
    """SemDeDup survivors: drop every vector that has a same-cluster
    near-duplicate (cosine >= threshold) with a SMALLER id; keep the rest.

    The keep-lowest-id rule is the deterministic exemplar choice (the
    paper keeps one random example per duplicate group; hash/id order is
    the reproducible equivalent, same policy as dedup.py's exact path).
    It is oracle-expressible without transitive closure: x is dropped iff
    some pair (y, x) with y < x exists, i.e. iff x appears as id_b —
    NOT EXISTS in SQL. For transitive-group canonicalization over the
    pair graph use operators/components.dedup_keep_canonical on the
    semantic_dedup_pairs output instead.

    Plan: candidate pairs as above (bounded per-cluster blocked GEMM),
    distinct dropped ids (slim BIGINT rows), then ONE left-anti hash join
    back to the untouched input — survivors keep every original column.
    The dropped side is a distinct-aggregated id set, tiny relative to
    the corpus, so AQE picks a broadcast anti-join at scale."""
    pairs = semantic_dedup_pairs(
        corpus, dim, threshold, num_clusters, id_col, vec_col,
        kmeans_iterations, max_block_rows,
    )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return corpus.join(dropped, on=id_col, how="left_anti")
