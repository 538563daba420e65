"""Connected components over a pair graph — the step that turns
near-duplicate PAIRS (operators/dedup.lsh_verified_pairs) into
deduplication DECISIONS: every transitive cluster of near-dups keeps one
canonical document.

Algorithm: min-label propagation ("hash-to-min"). Every node starts
labeled with its own key; each iteration every node takes the minimum
label among itself and its neighbors; at fixpoint each component is
labeled by its minimum member key. Spark mapping per iteration:

  * ONE shuffle join (labels onto the symmetrized edge list) + ONE
    groupBy(key).min(label) with map-side combine — both keyed on the
    node id, so AQE skew-splits hot nodes.
  * Lineage is truncated every iteration (localCheckpoint via the
    lifecycle helper) — iterative Spark without truncation grows an
    exponential plan tree.
  * Convergence is detected from a MONOTONE aggregate: labels only ever
    decrease, so sum(label) strictly decreases iff any node changed —
    one cheap scalar aggregate per iteration instead of a join-and-count
    of changed rows. The sum is exact (DECIMAL(38,0)).

Iteration count is bounded by the graph DIAMETER. Near-dup similarity
clusters are dense (quasi-cliques: members pairwise over the Jaccard
threshold), so diameters are tiny and 3-5 iterations typically converge.
For adversarial long-chain graphs the right tool is the
large-star/small-star algorithm (O(log^2 n) rounds); this module raises
after ``max_iter`` rather than silently returning partial components —
raise the bound for chain-shaped graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_pinot_spark.session import local_frame


def connected_components(
    edges: DataFrame,
    src: str = "key_a",
    dst: str = "key_b",
    max_iter: int = 25,
    small_graph_edges: int = 200_000,
) -> DataFrame:
    """(key, component) for every node appearing in ``edges``;
    ``component`` is the minimum key reachable from the node. Nodes with
    no edges do not appear (their component is themselves by
    definition). Keys must be non-null and orderable (the canonical
    member is the MIN key).

    Small-graph fast path: a near-dup pair graph is tiny relative to the
    corpus by LSH construction, and the distributed loop pays ~4 Spark
    jobs PER ITERATION in fixed overhead. When the edge count is at most
    ``small_graph_edges`` (a few MB driver-side; count is cheap — callers
    pass already-materialized pair frames), the edges are collected and
    union-find runs in-process — identical output (min-key component
    labels), one job instead of a dozen. Pass 0 to force the distributed
    path (the 5M-edge probe in SCALE §14 exercises it)."""
    from pyspark.sql import types as T

    from apache_pinot_spark.operators.lifecycle import materialize_release

    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if small_graph_edges and e.count() <= small_graph_edges:
        rows = e.collect()
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for r in rows:
            a, b = r["a"], r["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so the representative is the min key
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(k, find(k)) for k in parent]
        spark = edges.sparkSession
        key_type = e.schema["a"].dataType.simpleString()
        return local_frame(
            spark, out, schema=f"key {key_type}, component {key_type}"
        )
    sym = materialize_release(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    )
    labels = (
        sym.select(F.col("a").alias("key"))
        .distinct()
        .select("key", F.col("key").alias("component"))
    )
    labels = materialize_release(labels)
    # Convergence detection dispatches on the key type: integral keys use
    # the monotone exact-sum trick (one scalar aggregate — labels only
    # decrease, so an unchanged sum means fixpoint); strings/doubles/etc.
    # fall back to an exact changed-row count (one extra self-join per
    # round — a sum of hashes is not monotone, and float sums can mask
    # sub-ulp label changes).
    integral_keys = isinstance(
        labels.schema["component"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DecimalType),
    )
    prev_sum = None
    for _ in range(max_iter):
        neighbor = (
            sym.join(labels, sym["b"] == labels["key"], "inner")
            .select(F.col("a").alias("key"), "component")
        )
        new_labels = (
            labels.unionByName(neighbor)
            .groupBy("key")
            .agg(F.min("component").alias("component"))
        )
        new_labels = materialize_release(new_labels)
        if integral_keys:
            cur_sum = new_labels.agg(
                F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
            ).collect()[0]["s"]
            converged = prev_sum is not None and cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "key")
                .where(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            converged = changed == 0
        labels = new_labels
        if converged:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations — "
        "the graph diameter exceeds the bound; raise max_iter (near-dup "
        "clusters converge in a handful; long chains need ~diameter)"
    )


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str = "doc_id",
    src: str = "key_a",
    dst: str = "key_b",
    max_iter: int = 25,
) -> DataFrame:
    """Deduplicate ``df`` against a near-dup pair graph: every connected
    component keeps only its minimum-key member; documents in no pair
    survive untouched. The drop set (non-canonical members) is usually a
    small fraction of the corpus — it rides a broadcast-able semi-join
    side, the corpus streams."""
    comp = connected_components(pairs, src, dst, max_iter)
    drop = comp.where(F.col("key") != F.col("component")).select("key")
    out = df.join(
        drop.withColumnRenamed("key", key_col), key_col, "left_anti"
    )
    # The returned plan references comp's localCheckpoint blocks. comp's
    # PYTHON handle would die here, and the next lifecycle sweep would
    # then unpersist those blocks out from under this lazy plan
    # (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND on the eventual action — hit by
    # the round-8 curation pipeline). Tie comp's lifetime to the frame
    # the caller actually holds.
    out._cc_labels_keepalive = comp
    return out
