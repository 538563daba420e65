"""Model-based document quality classification — the fastText-shaped
linear classifier modern curation pipelines (fineweb-edu, DataComp-LM,
Dolma) put between the heuristic quality gate and expensive selection:
logistic regression over hashed 1..n-gram features, trained ON the
cluster with bounded driver state, scored as one broadcast join.

Shares the curation family's tokenizer and hashed-bucket convention
(operators/dsir.py: lower → split non-alphanumeric → 1..n-grams →
md5-prefix buckets, with the same xxhash64 engine fast path), so a SQL
oracle can replay SCORING verbatim and features line up with the DSIR
importance tier.

Training (``train_quality_classifier``) is full-batch gradient descent
with L2, expressed as Spark jobs:
  * one tokenize/explode pass builds (doc, bucket, tf) with tf =
    count/doc_len (fastText's mean-of-embeddings normalization),
    persisted hash-partitioned by doc so every iteration's window
    reuses the layout
  * per iteration: margin = window-sum over the doc partition of
    tf·w(bucket) after a BROADCAST join with the ≤B-row weight table
    (no corpus re-shuffle); residual σ(margin+b)−y rides every feature
    row, so the gradient is ONE map-side-combined groupBy(bucket) —
    the collected gradient is B rows, corpus-size-INDEPENDENT (the
    bounded-fenced-collect discipline of the IVF/PQ trainers)
  * driver applies w ← w − lr·(∇/N + λw); weights re-broadcast next
    iteration

At 100 TB you train on a sample (``sample_fraction``) — the classifier
needs 10⁵-10⁶ labeled docs, not the corpus — and score the full corpus
with the one-broadcast-join pass. Labels come from the caller or from
``weak_labels_from_sources`` (the fineweb recipe: a curated source as
positive, the open crawl as negative).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from apache_pinot_spark.operators.dedup import _spread
from apache_pinot_spark.operators.dsir import _buckets
from apache_pinot_spark.session import local_frame

_SCORE_DECIMAL = "DECIMAL(38,12)"


@dataclass
class QualityModel:
    """Trained classifier: hashed-bucket weights + bias, with the
    feature config scoring must replay exactly."""

    weights: dict            # bucket key (str|int) -> float
    bias: float
    n: int = 2
    hash_chars: int = 3
    bucket_hash: str = "md5"
    train_loss: list = field(default_factory=list)  # per-iteration log-loss

    def weights_df(self, spark) -> DataFrame:
        key_type = "string" if self.bucket_hash == "md5" else "bigint"
        rows = [(k, float(v)) for k, v in self.weights.items()]
        return local_frame(spark, rows, f"bucket {key_type}, w double")


def _tf_features(df: DataFrame, text_col: str, id_col: str, n: int,
                 hash_chars: int, bucket_hash: str) -> DataFrame:
    """(id, bucket, tf): per-document hashed-gram frequencies summing to
    1 — one explode + one map-side-combined groupBy(id, bucket)."""
    grams = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(_buckets(F.col(text_col), n, hash_chars, bucket_hash)).alias("bucket"),
    )
    counts = grams.groupBy("id", "bucket").agg(F.count("*").alias("cnt"))
    doc_len = F.sum("cnt").over(Window.partitionBy("id"))
    return counts.select("id", "bucket",
                         (F.col("cnt") / doc_len).alias("tf"))


def train_quality_classifier(
    docs: DataFrame,
    labels: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    n: int = 2,
    hash_chars: int = 3,
    bucket_hash: str = "md5",
    iters: int = 40,
    # tf features are mean-normalized (each doc's sum to 1), so per-
    # bucket gradients are small; full-batch logistic is stable at
    # step sizes this large
    lr: float = 20.0,
    l2: float = 1e-6,
    sample_fraction: float | None = None,
    seed: int = 7,
) -> QualityModel:
    """Fit the classifier on ``docs`` ⋈ ``labels`` (label ∈ {0,1}).
    Driver state is O(B) = O(16**hash_chars) floats — never corpus-sized;
    each iteration is one Spark job over the persisted feature frame."""
    import numpy as np

    spark = docs.sparkSession
    joined = docs.join(labels.select(F.col(id_col).alias("id"),
                                     F.col(label_col).alias("y")),
                       docs[id_col] == F.col("id"), "inner") \
                 .select(F.col("id"), F.col("y").cast("double").alias("y"),
                         F.col(text_col))
    if sample_fraction is not None:
        joined = joined.sample(fraction=sample_fraction, seed=seed)
    feats = _tf_features(joined, text_col, "id", n, hash_chars, bucket_hash)
    rows = (
        feats.join(joined.select("id", "y"), on="id")
        # window partitioning below hashes on id; persisting the frame
        # ALREADY partitioned by id makes every iteration sort-only
        .repartition("id")
        .persist()
    )
    try:
        w: dict = {}
        bias = 0.0
        model = QualityModel(weights=w, bias=bias, n=n,
                             hash_chars=hash_chars, bucket_hash=bucket_hash)
        win = Window.partitionBy("id")
        for _ in range(iters):
            if w:
                wdf = F.broadcast(model.weights_df(spark))
                cur = rows.join(wdf, on="bucket", how="left")
            else:
                cur = rows.withColumn("w", F.lit(0.0))
            wtf = F.col("tf") * F.coalesce(F.col("w"), F.lit(0.0))
            margin = F.sum(wtf).over(win) + F.lit(bias)
            prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
            res = prob - F.col("y")
            # doc-level terms divided by the doc's feature-row count so
            # their groupBy(bucket) sums telescope to per-DOC sums — the
            # bias gradient and loss come from the same B-row collect
            nrow = F.count("*").over(win)
            per_doc_loss = -(
                F.col("y") * F.log(F.greatest(prob, F.lit(1e-12)))
                + (1 - F.col("y")) * F.log(F.greatest(1 - prob, F.lit(1e-12)))
            )
            g = (
                cur.select(
                    "bucket",
                    (F.col("tf") * res).alias("gw"),
                    (res / nrow).alias("gb"),
                    (per_doc_loss / nrow).alias("ls"),
                    (F.lit(1.0) / nrow).alias("nd"),
                )
                .groupBy("bucket")
                .agg(F.sum("gw").alias("gw"), F.sum("gb").alias("gb"),
                     F.sum("ls").alias("ls"), F.sum("nd").alias("nd"))
                .toPandas()
            )
            n_docs = float(g["nd"].sum())
            if n_docs == 0:
                raise ValueError("no labeled documents to train on")
            model.train_loss.append(float(g["ls"].sum()) / n_docs)
            gb = float(g["gb"].sum()) / n_docs
            keys = g["bucket"].tolist()
            gw = g["gw"].to_numpy(dtype="float64") / n_docs
            cur_w = np.array([w.get(k, 0.0) for k in keys])
            new_w = cur_w - lr * (gw + l2 * cur_w)
            w.clear()
            w.update({k: float(v) for k, v in zip(keys, new_w) if v != 0.0})
            bias -= lr * gb
            model.bias = bias
    finally:
        rows.unpersist()
    return model


def score_quality(
    docs: DataFrame,
    model: QualityModel,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, margin, quality_prob) for every document — the full-
    corpus pass: one explode, one BROADCAST join with the ≤B-row weight
    table, one groupBy(id). Zero-feature docs score σ(bias). Replayable
    verbatim in SQL on the md5 bucket convention (the weight table +
    the same tokenize/hash chain — see tests/test_quality_clf.py)."""
    spark = docs.sparkSession
    # One shuffle (r13): Σ_b tf_b·w_b == (Σ over gram INSTANCES of
    # w(bucket)) / L with L the doc's total gram count, so the margin
    # comes straight off the exploded gram rows — broadcast LEFT join
    # the weight table (map-side; unmatched grams carry w NULL and
    # still count toward L), then ONE map-side-combined groupBy(id) of
    # sum(w) and count(*). This replaces groupBy(id, bucket) + a
    # window-sum over id + an inner join — three corpus-scale exchanges
    # down to one — and is the exact arithmetic the DuckDB replay test
    # uses (COALESCE(SUM(w),0)/COUNT(*)); float summation order changes
    # at the ulp level only, within every gate's decision margin.
    grams = _spread(docs).select(
        F.col(id_col).alias("id"),
        F.explode(_buckets(F.col(text_col), model.n, model.hash_chars,
                           model.bucket_hash)).alias("bucket"),
    )
    margins = (
        grams.join(F.broadcast(model.weights_df(spark)), on="bucket",
                   how="left")
        .groupBy("id")
        .agg((F.coalesce(F.sum("w"), F.lit(0.0))
              / F.count(F.lit(1))).alias("m"))
    )
    margin = F.coalesce(F.col("m"), F.lit(0.0)) + F.lit(model.bias)
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(margins, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            margin.alias("margin"),
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))).alias("quality_prob"),
        )
    )


def weak_labels_from_sources(
    docs: DataFrame,
    positive_sources,
    negative_sources=None,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """(id_col, label) weak labels by provenance — the fineweb recipe:
    docs from curated sources are positive; ``negative_sources`` (or
    everything else when None) negative."""
    pos = F.col(source_col).isin(list(positive_sources))
    if negative_sources is None:
        lab = pos.cast("int")
        keep = F.lit(True)
    else:
        neg = F.col(source_col).isin(list(negative_sources))
        lab = F.when(pos, 1).when(neg, 0)
        keep = pos | neg
    return docs.filter(keep).select(F.col(id_col), lab.alias("label"))
