"""IVF+PQ — product-quantized approximate nearest neighbor, the
standard billion-scale ANN layout (Jégou et al. 2011, "Product
Quantization for Nearest Neighbor Search"): vectors compress to ``m``
one-byte codes (64-dim float64 → 8 bytes at m=8, a 64x index shrink),
queries score candidates through per-query lookup tables (ADC), and a
small exact-rescore refinement restores brute-force-identical scores on
the survivors.

This is the third ANN tier next to operators/similarity.py's
brute-force and IVF: same coarse quantizer (`ivf_assign`'s
deterministic hash-order centroids + optional spherical Lloyd steps),
but the probed candidates are scored from the COMPRESSED index — at
100 TB the full-precision vectors never ride the candidate join.

Scale shape:
  * Codebook training is bounded AND corpus-size independent (r9): a
    deterministic md5 hash-order sample of <= max_train_rows vectors
    rides ONE TakeOrdered collect, and the Lloyd iterations run
    in-process over that sample (the FAISS recipe — codebook quality
    saturates far below corpus size). Driver state is the sample matrix
    (~8 MB at defaults) + m·ksub·dsub codebook doubles.
  * The PQ index is (id, cluster, codes: array<smallint>) — the base
    vectors stay in the base table. Candidate generation joins the slim
    index against broadcast probes; ADC scoring is an Arrow pass whose
    per-batch state is one m×ksub table per distinct query in the batch.
  * Refinement joins only the top refine_factor·k survivors per query
    back to the base table (broadcast-eligible by construction) and
    rescores with the SAME codegen'd cosine fold as brute force — the
    emitted scores are bit-identical to brute_force_topk on every pair
    IVF+PQ retrieves, so recall is directly measurable (tests pin it).
  * Corpus vectors are unit-normalized before encoding, so cosine
    reduces to inner product and the ADC table is a plain GEMV per
    subspace.

Determinism: centroid init is hash-ordered, Lloyd means are
fixed-iteration-count, ADC ties break by neighbor id — identical output
on every run and partitioning (tests pin this), though the PQ
approximation itself is float and NOT SQL-oracle-reproducible; the
correctness story is the exact-rescore parity + recall differentials,
the same stance as the IVF recall table (SCALE.md §13).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from apache_pinot_spark.operators.dedup import _spread
from apache_pinot_spark.operators.similarity import (
    _to_double,
    cosine_expr,
    ivf_assign,
)
from apache_pinot_spark.session import local_frame


@dataclass(frozen=True)
class PQCodebooks:
    """m sub-codebooks, each ksub x dsub (plain nested lists so the
    object ships cleanly in UDF closures); dim = m * dsub."""

    m: int
    ksub: int
    dsub: int
    books: list  # [m][ksub][dsub] floats


def _unit_rows(X):
    """Row-normalize a (n, dim) float64 matrix in place-safe numpy (zero
    rows keep themselves). Normalization lives in the numpy workers, NOT
    in a Spark HOF: `transform(v, x -> x / norm(v))` re-evaluates the
    O(dim) interpreted norm fold PER ELEMENT — O(dim^2) per row, measured
    as ~100 s of the 1M-vector index build before this change."""
    import numpy as np

    n = np.sqrt((X * X).sum(axis=1))
    n[n == 0] = 1.0
    return X / n[:, None]


def pq_train(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 256,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_rows: int = 16384,
) -> PQCodebooks:
    """Per-subspace k-means codebooks over a bounded, deterministic,
    UNIT-NORMALIZED training sample — the standard PQ training shape
    (FAISS trains codebooks on a sample of ~10-100k vectors, never the
    full corpus): codebook quality saturates far below corpus size, and
    sampling makes training cost INDEPENDENT of corpus size.

    One Spark job total: the ``max_train_rows`` smallest-md5(id) vectors
    ride a TakeOrdered collect (a single corpus pass emitting only the
    sample — bounded at 16384 x dim float64 ≈ 8 MB at dim 64). Init =
    the first ksub sample vectors (their j-th subvectors seed subspace
    j), then ``iterations`` Lloyd steps run in-process over the sample
    matrix; empty codes keep their previous centroid.

    Determinism: the sample is hash-ordered (md5(id), id) so it is
    identical on every run and partitioning, and the in-process Lloyd is
    sequential numpy — bit-stable. (The round-8 form ran each Lloyd step
    as a full distributed corpus pass: iterations+1 jobs and a
    corpus-sized cost per step for codebooks a sample trains equally
    well.)"""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if not 1 <= ksub <= 32768:  # codes are SMALLINT
        raise ValueError(f"ksub must be in [1, 32768], got {ksub}")
    if max_train_rows < ksub:
        raise ValueError(
            f"max_train_rows ({max_train_rows}) must be >= ksub ({ksub})"
        )
    dsub = dim // m
    v = _spread(corpus).select(
        F.col(id_col).alias("id"), _to_double(F.col(vec_col)).alias("v")
    )
    sample_rows = (
        v.withColumn("__h", F.md5(F.col("id").cast("string")))
        .orderBy("__h", "id")
        .limit(max_train_rows)
        .collect()
    )
    X = _unit_rows(np.asarray([list(r["v"]) for r in sample_rows],
                              dtype=np.float64))
    init = X[:ksub]
    if len(init) < ksub:  # tiny corpora: pad by cycling the sample
        reps = ksub // max(len(init), 1) + 1
        init = np.concatenate([init] * reps)[:ksub]
    books = init.reshape(ksub, m, dsub).transpose(1, 0, 2).copy()  # m,ksub,dsub

    sub = X.reshape(len(X), m, dsub) if len(X) else None
    for _ in range(iterations if sub is not None else 0):
        new = books.copy()
        for j in range(m):
            d = (
                (sub[:, j, :] ** 2).sum(1)[:, None]
                - 2.0 * sub[:, j, :] @ books[j].T
                + (books[j] ** 2).sum(1)[None, :]
            )
            code = d.argmin(1)
            for c in np.unique(code):
                # mean rounds to 9 decimals — same partition-invariance
                # convention as the distributed form it replaced (1e-9 on
                # unit-vector components is far below quantizer noise)
                new[j, c] = np.round(sub[code == c, j, :].mean(axis=0), 9)
        books = new
    return PQCodebooks(m=m, ksub=ksub, dsub=dsub, books=books.tolist())


def pq_encode(
    corpus: DataFrame,
    codebooks: PQCodebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """(id, codes array<smallint>[, extra_cols]) — the compressed index
    rows. Map-side Arrow pass, zero shuffle; the closure carries only
    the m·ksub·dsub codebook floats."""
    import numpy as np

    m, dsub, ksub = codebooks.m, codebooks.dsub, codebooks.ksub
    bks = np.asarray(codebooks.books, dtype=np.float64)
    extra = list(extra_cols or [])
    src = _spread(corpus).select(
        F.col(id_col).alias("id"),
        _to_double(F.col(vec_col)).alias("v"),
        *extra,
    )

    # SELF-CONTAINED worker (gated path — the driver may run from a
    # non-repo cwd where executors cannot import this package): the
    # row-normalize is inlined rather than imported (_unit_rows).
    def enc(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            X = _np.asarray(pdf["v"].tolist(), dtype=_np.float64)
            nrm = _np.sqrt((X * X).sum(axis=1))
            nrm[nrm == 0] = 1.0
            X = X / nrm[:, None]
            sub = X.reshape(len(X), m, dsub)
            codes = _np.empty((len(X), m), dtype=_np.int32)
            for j in range(m):
                d = (
                    (sub[:, j, :] ** 2).sum(1)[:, None]
                    - 2.0 * sub[:, j, :] @ bks[j].T
                    + (bks[j] ** 2).sum(1)[None, :]
                )
                codes[:, j] = d.argmin(1)
            out = {"id": pdf["id"], "codes": list(codes.astype("int16"))}
            for c in extra:
                out[c] = pdf[c]
            yield _pd.DataFrame(out)

    schema = f"id {dict(src.dtypes)['id']}, codes ARRAY<SMALLINT>"
    for c in extra:
        schema += f", {c} {dict(src.dtypes)[c].upper()}"
    return src.mapInPandas(enc, schema=schema)


@dataclass(frozen=True)
class IVFPQIndex:
    """A reusable compressed ANN index: the slim (id, cluster, codes)
    frame, the coarse centroids, the PQ codebooks, and a handle to the
    base table for exact refinement. Build ONCE with ``ivfpq_index``
    (the expensive part — at scale this is the offline index job),
    query many times with ``ivfpq_query``."""

    index: DataFrame  # (id, cluster, codes array<smallint>)
    centroids: list  # [(cluster_id, [float])]
    codebooks: PQCodebooks
    base: DataFrame  # (id, v array<double>) — true vectors for refine
    dim: int


def ivfpq_index(
    corpus: DataFrame,
    dim: int,
    num_clusters: int = 16,
    m: int = 8,
    ksub: int = 256,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iterations: int = 0,
    materialize: bool = True,
    assignment: tuple | None = None,
) -> IVFPQIndex:
    """Build the compressed index: coarse IVF assignment + PQ codebooks
    + codes. With ``materialize`` (default) the slim code frame is
    localCheckpoint-materialized so repeated queries never re-run the
    assign/encode passes — the index-reuse contract a serving layer
    needs (pass False to keep it lazy for one-shot pipelines).
    ``assignment`` optionally reuses a prebuilt (assigned_df, centroids)
    pair so sibling tiers share one coarse quantizer pass (see
    similarity.ivf_topk)."""
    from apache_pinot_spark.operators.lifecycle import materialize_release

    assigned, centroids = assignment if assignment is not None else ivf_assign(
        corpus, dim, num_clusters, id_col, vec_col, kmeans_iterations
    )
    codebooks = pq_train(corpus, dim, m, ksub, iterations, id_col, vec_col)
    index = pq_encode(
        assigned.select(
            F.col("id").alias("vec_id"), F.col("v").alias(vec_col), "cluster"
        ),
        codebooks,
        id_col="vec_id",
        vec_col=vec_col,
        extra_cols=["cluster"],
    )
    if materialize:
        index = materialize_release(index)
    base = corpus.select(
        F.col(id_col).alias("id"), _to_double(F.col(vec_col)).alias("v")
    )
    return IVFPQIndex(
        index=index, centroids=centroids, codebooks=codebooks, base=base, dim=dim
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    num_clusters: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 256,
    iterations: int = 1,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 65536,
    kmeans_iterations: int = 0,
    assignment: tuple | None = None,
) -> DataFrame:
    """One-shot convenience: build the index (lazy — nothing is cached
    beyond the call) and query it. For repeated query batches build once
    with ``ivfpq_index`` and call ``ivfpq_query``."""
    idx = ivfpq_index(
        corpus, dim, num_clusters, m, ksub, iterations, id_col, vec_col,
        kmeans_iterations, materialize=False, assignment=assignment,
    )
    return ivfpq_query(
        idx, queries, k, nprobe, refine_factor, id_col, vec_col, max_query_rows
    )


def ivfpq_query(
    idx: IVFPQIndex,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 65536,
) -> DataFrame:
    """IVF coarse probe + PQ/ADC candidate scoring + exact top-k
    refinement against a prebuilt index. Output schema and score
    semantics match ivf_topk / brute_force_topk (query_id, neighbor_id,
    score, rank): the final scores come from the SAME exact cosine fold
    over the base table's true vectors — only WHICH candidates survive
    is approximate."""
    import numpy as np

    cmat = np.asarray([c for _, c in idx.centroids], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    cnorm[cnorm == 0] = 1.0
    bks = np.asarray(idx.codebooks.books, dtype=np.float64)
    m, dsub = idx.codebooks.m, idx.codebooks.dsub
    index = idx.index

    # derive id dtypes from the inputs (r9 ADVICE: pq_encode/lsh_buckets
    # accept native id dtypes; the probe/adc/refine schemas must follow,
    # or string-keyed corpora fail here and nowhere else)
    q_id_type = dict(queries.dtypes)[id_col]
    idx_id_type = dict(index.dtypes)["id"]
    qrows = (
        queries.select(
            F.col(id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("qv")
        )
        .limit(max_query_rows + 1)
        .collect()
    )
    if len(qrows) > max_query_rows:
        raise ValueError(
            f"ivfpq query set exceeds max_query_rows={max_query_rows}; "
            "chunk the queries or raise the bound explicitly"
        )
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r["qv"], dtype=np.float64)
        qn = qv / (np.sqrt(qv @ qv) or 1.0)
        sim = (cmat @ qn) / cnorm
        for c in np.argsort(-sim)[:nprobe]:
            probe_rows.append((r["query_id"], qn.tolist(), int(c)))
    spark = queries.sparkSession
    probes = local_frame(
        spark, probe_rows, schema=f"query_id {q_id_type}, qn ARRAY<DOUBLE>, cluster INT"
    )

    cand = index.join(F.broadcast(probes), on="cluster").filter(
        F.col("id") != F.col("query_id")
    )

    def adc(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            # per-batch cache: one m x ksub table per distinct query in THIS
            # batch.  Rebuilding per batch bounds worker memory to
            # (distinct queries in one Arrow batch) x m x ksub doubles
            # instead of (all queries seen by the partition) — at the
            # default 65536-query ceiling the latter could reach ~1 GB.
            tables: dict = {}  # query_id -> m x ksub inner-product table
            scores = _np.empty(len(pdf), dtype=_np.float64)
            codes = _np.asarray(pdf["codes"].tolist(), dtype=_np.int64)
            qids = pdf["query_id"].to_numpy()
            for qid in _np.unique(qids):
                tab = tables.get(qid)
                if tab is None:
                    row = pdf.loc[pdf["query_id"] == qid, "qn"].iloc[0]
                    qn = _np.asarray(row, dtype=_np.float64).reshape(m, dsub)
                    # table[j][c] = qn_j . codebook[j][c]
                    tab = _np.einsum("jd,jkd->jk", qn, bks)
                    tables[qid] = tab
                sel = qids == qid
                scores[sel] = tab[_np.arange(m)[None, :], codes[sel]].sum(1)
            yield _pd.DataFrame(
                {"query_id": pdf["query_id"], "id": pdf["id"], "ascore": scores}
            )

    approx = cand.mapInPandas(
        adc, schema=f"query_id {q_id_type}, id {idx_id_type}, ascore DOUBLE"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("ascore"), F.asc("id"))
    survivors = (
        approx.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= refine_factor * k)
        .select("query_id", "id")
    )

    # exact refinement: survivors (<= refine_factor*k per query) are the
    # broadcast side; the base table supplies true vectors once
    base = idx.base
    qdf = local_frame(
        spark,
        [(r["query_id"], list(map(float, r["qv"]))) for r in qrows],
        schema=f"query_id {q_id_type}, qv ARRAY<DOUBLE>",
    )
    exact = (
        base.join(F.broadcast(survivors), on="id")
        .join(F.broadcast(qdf), on="query_id")
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            cosine_expr(F.col("qv"), F.col("v")).alias("score"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    out = (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("score", 6).alias("score"), "rank")
    )
    # a materialized index's localCheckpoint blocks back this lazy plan:
    # tie the index's lifetime to the result the caller holds
    out._ivfpq_index_keepalive = idx
    return out
