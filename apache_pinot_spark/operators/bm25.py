"""BM25 corpus search (Robertson/Spärck-Jones Okapi BM25) — ranked
retrieval over the documents table as pure DataFrame operations.

Why a ranker in a curation engine: corpus builders run retrieval
constantly — "which documents mention this eval prompt" (retrieval-
based contamination checks beyond the n-gram gate), "pull the docs
about X for audit", near-dup triage. Pinot's own TEXT_MATCH (P10) is a
boolean predicate; BM25 adds the SCORED retrieval tier on the same
tokenizer the curation family uses (operators/dsir._tokens — lowercase,
non-alphanumeric split), so scores are consistent with every other
text operator and replayable in DuckDB (the oracle uses the family's
pinned `regexp_split_to_array` twin).

Spark shape, scale-first:
  * query terms are a driver-side constant (a query is words, not
    data) → the per-term explode filters to the query's terms BEFORE
    the shuffle, so the keyed aggregate sees O(matching tokens), not
    O(corpus tokens);
  * ONE pass computes corpus stats (N, avgdl) as a broadcastable
    1-row aggregate; document frequencies ride the same filtered
    explode (grouped twice: per (doc, term) then per term);
  * scoring is a groupBy(doc) sum over ≤ |query| rows per doc; top-k
    is an orderBy-limit (Spark's TakeOrdered — no full sort at the
    driver).

Determinism: score ties break by ascending doc id (pinned), so top-k
is stable across partitionings and engines.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_pinot_spark.operators.dedup import _spread
from apache_pinot_spark.operators.dsir import _tokens
from apache_pinot_spark.session import local_frame


def query_terms(query: str) -> list[str]:
    """The corpus tokenizer applied to the query, driver-side (distinct,
    order-preserving)."""
    toks = [t for t in re.split(r"[^a-z0-9]+", query.lower()) if t]
    seen: dict[str, None] = {}
    for t in toks:
        seen.setdefault(t, None)
    return list(seen)


def bm25_scores(
    corpus: DataFrame,
    query: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """(id_col, score, n_matched_terms) — the BM25 top-k for one query.
    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (the Lucene-standard
    non-negative form); tf saturates with k1, length-normalized by b
    against the corpus mean document length."""
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no tokens under the corpus tokenizer")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    toks = _tokens(F.col(text_col))
    base = _spread(corpus).select(
        F.col(id_col).alias("id"),
        toks.alias("toks"),
    ).select("id", F.size("toks").alias("dl"), "toks")

    # corpus constants: one tiny aggregate, folded into literals
    stats = base.agg(F.count("*").alias("n"),
                     F.avg("dl").alias("avgdl")).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 0.0)
    if n_docs == 0:
        raise ValueError("empty corpus")

    hits = (base
            .select("id", "dl", F.explode("toks").alias("term"))
            .where(F.col("term").isin(*terms))
            .groupBy("id", "dl", "term")
            .agg(F.count("*").alias("tf")))

    # document frequency per term (over the already-filtered hits),
    # then idf as a broadcast-joined tiny frame
    df_per_term = (hits.groupBy("term")
                   .agg(F.countDistinct("id").alias("df")))
    idf = df_per_term.select(
        "term",
        F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
              / (F.col("df") + 0.5)).alias("idf"))

    scored = (hits.join(F.broadcast(idf), "term")
              .withColumn(
                  "part",
                  F.col("idf") * (F.col("tf") * (k1 + 1))
                  / (F.col("tf") + k1 * (1 - b + b * F.col("dl")
                                         / F.lit(avgdl))))
              .groupBy("id")
              .agg(F.sum("part").alias("score"),
                   F.count("*").alias("n_matched_terms")))
    return (scored
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(top_k)
            .withColumnRenamed("id", id_col))


def bm25_oracle_sql(query: str, *, k1: float = 1.2, b: float = 0.75,
                    top_k: int = 10, table: str = "documents",
                    id_col: str = "doc_id") -> str:
    """DuckDB replay of bm25_scores — the family's pinned tokenizer
    twin, the same idf/tf arithmetic, the same tie-break."""
    terms = query_terms(query)
    in_list = ", ".join(f"'{t}'" for t in terms)
    ltoks = ("list_filter(regexp_split_to_array(lower(text), "
             "'[^a-z0-9]+'), x -> x <> '')")
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {ltoks} AS toks,
         len({ltoks}) AS dl
  FROM {table}
), consts AS (
  SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM base
), hits AS (
  SELECT id, dl, t.term, COUNT(*) AS tf
  FROM base, UNNEST(toks) AS t(term)
  WHERE t.term IN ({in_list})
  GROUP BY id, dl, t.term
), idf AS (
  SELECT term,
         ln(1.0 + (consts.n - COUNT(DISTINCT id) + 0.5)
                 / (COUNT(DISTINCT id) + 0.5)) AS idf
  FROM hits, consts
  GROUP BY term, consts.n
)
SELECT h.id AS {id_col},
       SUM(i.idf * (h.tf * ({k1} + 1))
           / (h.tf + {k1} * (1 - {b} + {b} * h.dl / c.avgdl))) AS score,
       COUNT(*) AS n_matched_terms
FROM hits h JOIN idf i USING (term), consts c
GROUP BY h.id
ORDER BY score DESC, h.id ASC
LIMIT {top_k}
"""


def bm25_scores_multi(
    corpus: DataFrame,
    queries,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """(query_id, id_col, score, n_matched_terms, rank) — per-query
    BM25 top-k for MANY queries in ONE corpus pass (contamination
    triage runs thousands of eval prompts, not one; a per-query job
    per prompt re-scans the corpus a thousand times).

    ``queries``: dict query_id → query string, or a list (ids are the
    list indexes as strings). Scale shape: the union of all query
    terms filters the explode BEFORE the shuffle (the single-query
    contract, batched); document frequencies and idf are computed once
    per TERM (query-independent, so they equal the single-query path's
    values term-for-term); the (query_id, term) map is a broadcast;
    per-query top-k is one row_number window partitioned by query_id.
    Ties break by ascending doc id — same pin as ``bm25_scores``."""
    from pyspark.sql import Window

    if isinstance(queries, (list, tuple)):
        queries = {str(i): q for i, q in enumerate(queries)}
    if not queries:
        raise ValueError("no queries")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    qt = []
    for qid, q in queries.items():
        terms = query_terms(q)
        if not terms:
            raise ValueError(
                f"query {qid!r} has no tokens under the corpus tokenizer")
        qt.extend((str(qid), t) for t in terms)
    all_terms = sorted({t for _, t in qt})

    toks = _tokens(F.col(text_col))
    base = _spread(corpus).select(
        F.col(id_col).alias("id"), toks.alias("toks"),
    ).select("id", F.size("toks").alias("dl"), "toks")
    stats = base.agg(F.count("*").alias("n"),
                     F.avg("dl").alias("avgdl")).collect()[0]
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"] or 0.0)
    if n_docs == 0:
        raise ValueError("empty corpus")

    hits = (base
            .select("id", "dl", F.explode("toks").alias("term"))
            .where(F.col("term").isin(*all_terms))
            .groupBy("id", "dl", "term")
            .agg(F.count("*").alias("tf")))
    df_per_term = (hits.groupBy("term")
                   .agg(F.countDistinct("id").alias("df")))
    idf = df_per_term.select(
        "term",
        F.log(F.lit(1.0) + (F.lit(float(n_docs)) - F.col("df") + 0.5)
              / (F.col("df") + 0.5)).alias("idf"))
    spark = corpus.sparkSession
    qmap = local_frame(spark, qt, "query_id string, term string")

    scored = (hits.join(F.broadcast(idf), "term")
              .join(F.broadcast(qmap), "term")
              .withColumn(
                  "part",
                  F.col("idf") * (F.col("tf") * (k1 + 1))
                  / (F.col("tf") + k1 * (1 - b + b * F.col("dl")
                                         / F.lit(avgdl))))
              .groupBy("query_id", "id")
              .agg(F.sum("part").alias("score"),
                   F.count("*").alias("n_matched_terms")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k)
            .withColumnRenamed("id", id_col))
