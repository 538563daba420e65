"""Unit tests for the training-data pipeline operators beyond what the
oracle-checked suite covers: LSH recall, multimodal plumbing, dedup
behavior on known duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_pinot_spark.operators.multimodal import image_decoder
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    from apache_pinot_spark.catalog import load_tables

    return load_tables(spark, SF_SMOKE, ["documents"])["documents"].cache()


@pytest.fixture(scope="module")
def emb(spark):
    from apache_pinot_spark.catalog import load_tables

    return load_tables(spark, SF_SMOKE, ["embeddings"])["embeddings"].cache()


def test_dedupe_exact_removes_known_duplicates(spark):
    from apache_pinot_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "hello world foo"), (2, "hello world foo"), (3, "unique text here")],
        ["doc_id", "text"],
    )
    kept = dedup.dedupe_exact(df)
    assert sorted(r[0] for r in kept.select("doc_id").collect()) == [1, 3]
    groups = dedup.exact_duplicate_groups(df).collect()
    assert len(groups) == 1 and groups[0]["group_size"] == 2 and groups[0]["keep_key"] == 1


def test_dedupe_exact_null_text_rows_pass_through(spark):
    """NULL text is not a duplicate of anything: every NULL-text row
    survives dedupe, and the sentinel group never shows up as duplicates."""
    from apache_pinot_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, None), (5, "other")],
        "doc_id INT, text STRING",
    )
    kept = sorted(r[0] for r in dedup.dedupe_exact(df).select("doc_id").collect())
    assert kept == [1, 3, 4, 5]
    groups = dedup.exact_duplicate_groups(df).collect()
    assert len(groups) == 1 and groups[0]["keep_key"] == 1  # no NULL group


def test_blocked_near_dup_block_rows_bounded(emb):
    """The blocked-GEMM path must never materialize more than
    ~max_block_rows vectors in one collected block row (the 2 GB
    single-value / Arrow-batch hazard at scale)."""
    from apache_pinot_spark.operators import dedup  # noqa: F401
    from apache_pinot_spark.operators import similarity

    budget = 64
    n = emb.count()
    num_blocks = max(1, -(-n // budget))
    sizes = (
        emb.select(
            F.pmod(F.xxhash64(F.col("vec_id").cast("string")), F.lit(num_blocks)).alias("blk")
        )
        .groupBy("blk")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    # hashed assignment concentrates near the mean: allow 2x slack
    assert sizes <= 2 * budget
    # and the operator's output is identical whatever the block size
    small = similarity.near_duplicate_pairs_blocked(
        emb, threshold=0.40, dim=64, max_block_rows=budget
    )
    big = similarity.near_duplicate_pairs_blocked(
        emb, threshold=0.40, dim=64, max_block_rows=100_000
    )
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, big.collect()))


def test_minhash_finds_planted_near_dup(spark):
    from apache_pinot_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base.replace("lazy", "sleepy")
    far = "completely different content about databases and query engines " * 3
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], ["doc_id", "text"]
    )
    pairs = dedup.minhash_candidate_pairs(df, num_hashes=16, band_size=2).collect()
    got = {(r["key_a"], r["key_b"]) for r in pairs}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got
    verified = dedup.jaccard_verify_pairs(
        dedup.minhash_candidate_pairs(df, num_hashes=16, band_size=2), df, threshold=0.5
    ).collect()
    assert {(r["key_a"], r["key_b"]) for r in verified} == {(1, 2)}
    assert all(0.5 <= r["jaccard"] <= 1.0 for r in verified)


def test_simhash_similar_docs_close(spark):
    from apache_pinot_spark.operators import dedup

    base = "spark sql query engine with columnar storage and vectorized execution " * 4
    near = base.replace("vectorized", "pipelined")
    far = "poems about the sea and the moon and lonely sailors at dusk " * 4
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["doc_id", "text"])
    rows = {r["key"]: r["simhash"] for r in dedup.simhash64(df).collect()}

    def hamming(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert hamming(rows[1], rows[2]) < hamming(rows[1], rows[3])


def test_lsh_topk_recall(emb):
    """LSH approximate top-k must recover a solid fraction of the exact
    top-k. This corpus has weak neighbors (max cosine ~0.5 → per-plane
    agreement ~0.67), so few planes + more tables: expected per-pair
    recall 1-(1-0.67^3)^8 ≈ 0.94."""
    from apache_pinot_spark.operators import similarity

    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.lsh_topk(emb, queries, dim=64, k=5, num_planes=3, num_tables=8)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"LSH recall too low: {recall}"


def test_lsh_candidates_subset_of_all_pairs(emb):
    from apache_pinot_spark.operators import similarity

    n = emb.count()
    cand = similarity.lsh_candidate_pairs(emb, dim=64, num_planes=12, num_tables=3).count()
    assert 0 < cand < n * (n - 1) / 2  # bucketing actually prunes


def test_multimodal_feature_extraction(spark):
    from apache_pinot_spark.operators import multimodal

    rows = [(i, bytes([i]) * (10 + i), ("png", 8, 8)) for i in range(5)]
    df = spark.createDataFrame(rows, multimodal.IMAGE_SCHEMA)
    # stub pinned: this test is about plumbing + determinism of the
    # sha-derived features (the oracle-reproducible path)
    out = multimodal.extract_image_features(df, decode_stub=True).orderBy("media_id").collect()
    assert len(out) == 5
    assert out[0]["n_bytes"] == 10 and out[4]["n_bytes"] == 14
    assert all(len(r["features"]) == 8 for r in out)
    assert all(0.0 <= f < 1.0 for r in out for f in r["features"])
    # deterministic: same content → same digest/features
    again = multimodal.extract_image_features(df, decode_stub=True).orderBy("media_id").collect()
    assert [r["digest"] for r in again] == [r["digest"] for r in out]


@pytest.mark.skipif(
    image_decoder() is not None,
    reason="PIL present: garbage goes to the reject stream "
    "(test_multimodal_decode::test_image_real_decode_thumbnail_features)",
)
def test_multimodal_real_path_rejects_garbage(spark):
    """Without an image decoder, decode_stub=False raises the "no decoder"
    NotImplementedError at the plug point, for features and resize alike,
    before any job runs."""
    from apache_pinot_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, b"xx", ("png", 4, 4))], multimodal.IMAGE_SCHEMA
    )
    with pytest.raises(NotImplementedError, match="no decoder"):
        multimodal.extract_image_features(df, decode_stub=False)
    with pytest.raises(NotImplementedError, match="no decoder"):
        multimodal.resize_images(df, 8, 8, decode_stub=False)


def test_video_frame_sampling(spark):
    from apache_pinot_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, 10.0, 30.0), (2, 0.5, 24.0)], ["media_id", "duration_s", "fps"]
    )
    out = multimodal.sample_video_frames(df, every_n_seconds=2.5).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append((r["timestamp_s"], r["frame_index"]))
    assert len(by_id[1]) == 5  # t = 0, 2.5, 5, 7.5, 10
    assert (5.0, 150) in by_id[1]
    assert len(by_id[2]) == 1  # only t = 0


def test_quality_score_ranges(docs):
    from apache_pinot_spark.operators import textanalysis as tx

    stats = docs.select(tx.quality_score_expr("text").alias("q")).agg(
        F.min("q"), F.max("q")
    ).collect()[0]
    assert 0.0 <= stats[0] <= stats[1] <= 100.0


def test_lang_id_on_clear_markers(spark):
    from apache_pinot_spark.operators import textanalysis as tx

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and looked to the sky"),
            (2, "le chat et la lune et les etoiles"),
            (3, "der hund und die katze und das haus nicht"),
            (4, "xyzzy qwerty plugh"),
        ],
        ["id", "text"],
    )
    got = {r["id"]: r["g"] for r in df.select("id", tx.lang_id_expr("text").alias("g")).collect()}
    assert got == {1: "en", 2: "fr", 3: "de", 4: "und"}


def test_ivf_topk_recall(emb):
    """IVF with nprobe=half the clusters should recover most brute-force
    neighbors; with nprobe=num_clusters it IS brute force."""
    from apache_pinot_spark.operators import similarity
    from pyspark.sql import functions as F

    corpus = emb
    queries = corpus.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(corpus, queries, k=5, dim=64).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            corpus, queries, dim=64, k=5, num_clusters=8, nprobe=8
        ).collect()
    }
    assert full == exact  # probing every cluster = exact
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            corpus, queries, dim=64, k=5, num_clusters=8, nprobe=4
        ).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.5


def test_audio_feature_extraction(spark):
    from apache_pinot_spark.operators import multimodal

    rows = [(i, bytes(range(i, i + 64)), ("wav", 16000, 16000 * 4)) for i in range(4)]
    df = spark.createDataFrame(rows, multimodal.AUDIO_SCHEMA)
    # stub pinned: deterministic byte-profile features on any machine
    out = (
        multimodal.extract_audio_features(df, decode_stub=True, n_bands=8)
        .orderBy("media_id")
        .collect()
    )
    assert len(out) == 4
    assert all(len(r["band_energy"]) == 8 for r in out)
    assert all(0.0 <= e <= 1.0 for r in out for e in r["band_energy"])
    again = (
        multimodal.extract_audio_features(df, decode_stub=True, n_bands=8)
        .orderBy("media_id")
        .collect()
    )
    assert [r["band_energy"] for r in again] == [r["band_energy"] for r in out]
    # real decode (stdlib wave is always importable): garbage bytes are a
    # reject stream — NULL band_energy, never a crash
    real = (
        multimodal.extract_audio_features(df, decode_stub=False, n_bands=8)
        .orderBy("media_id")
        .collect()
    )
    assert all(r["band_energy"] is None for r in real)
    assert [r["n_bytes"] for r in real] == [64] * 4


def test_audio_chunking_plan(spark):
    from apache_pinot_spark.operators import multimodal

    # 2.5 s at 16 kHz → three 1 s chunks, last one short
    df = spark.createDataFrame(
        [(1, b"", ("wav", 16000, 40000))], multimodal.AUDIO_SCHEMA
    )
    out = multimodal.chunk_audio(df, chunk_seconds=1.0).orderBy("chunk_index").collect()
    assert [(r["chunk_index"], r["start_sample"], r["end_sample"]) for r in out] == [
        (0, 0, 16000), (1, 16000, 32000), (2, 32000, 40000)
    ]
    assert abs(out[-1]["end_s"] - 2.5) < 1e-9


def test_salted_aggregate_matches_direct(spark):
    from apache_pinot_spark.operators import skew

    df = spark.createDataFrame(
        [("hot", i % 7) for i in range(5000)] + [("cold", i) for i in range(50)],
        "k STRING, v INT",
    )
    out = {
        r["k"]: (r["cnt"], r["sv"], r["mx"])
        for r in skew.salted_aggregate(
            df, ["k"],
            {"cnt": F.count("*"), "sv": F.sum("v"), "mx": F.max("v")},
            salt_buckets=8,
        ).collect()
    }
    direct = {
        r["k"]: (r["cnt"], r["sv"], r["mx"])
        for r in df.groupBy("k").agg(
            F.count("*").alias("cnt"), F.sum("v").alias("sv"), F.max("v").alias("mx")
        ).collect()
    }
    assert out == direct


def test_salt_join_matches_direct(spark):
    from apache_pinot_spark.operators import skew

    big = spark.createDataFrame(
        [("hot", i) for i in range(3000)] + [("k2", i) for i in range(10)],
        "k STRING, v INT",
    )
    small = spark.createDataFrame([("hot", "H"), ("k2", "K")], "k STRING, tag STRING")
    out = skew.salt_join(big, small, on="k", salt_buckets=4)
    assert out.count() == big.count()
    direct = big.join(small, "k")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, direct.collect()))


def test_ivf_kmeans_refinement_improves_objective(emb):
    """Spherical Lloyd iterations must not worsen the clustering
    objective (mean cosine of each vector to its assigned centroid)."""
    import numpy as np

    from apache_pinot_spark.operators import similarity

    def objective(iters):
        assigned, cents = similarity.ivf_assign(
            emb, dim=64, num_clusters=8, kmeans_iterations=iters
        )
        cmat = np.asarray([c for _, c in cents])
        cn = np.sqrt((cmat * cmat).sum(axis=1))
        rows = assigned.collect()
        sims = []
        for r in rows:
            v = np.asarray(r["v"])
            c = r["cluster"]
            sims.append(float(v @ cmat[c] / (np.linalg.norm(v) * cn[c])))
        return sum(sims) / len(sims)

    base, refined = objective(0), objective(3)
    assert refined >= base - 1e-9, (base, refined)
    # the refined index still answers top-k with decent recall
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            emb, queries, dim=64, k=5, num_clusters=8, nprobe=4, kmeans_iterations=2
        ).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.5


def test_ivf_refined_centroids_recall_at_least_baseline(emb):
    """The production pin behind SCALE.md's recall table: spherical-Lloyd
    refinement must not lose recall vs the hash-sample centroids at the
    same probe budget. Fully deterministic (hash-order seed + Lloyd), so
    this is a stable inequality, not a flaky statistical bound."""
    from apache_pinot_spark.operators import similarity

    queries = emb.filter(F.col("vec_id") < 50)
    truth: dict[int, set[int]] = {}
    for r in similarity.brute_force_topk(emb, queries, k=10, dim=64).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(iters: int, nprobe: int) -> float:
        got: dict[int, set[int]] = {}
        for r in similarity.ivf_topk(
            emb, queries, dim=64, k=10, num_clusters=8, nprobe=nprobe,
            kmeans_iterations=iters,
        ).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(got.get(q, set()) & t) / len(t) for q, t in truth.items()) / len(truth)

    for nprobe in (2, 4):
        base, refined = recall(0, nprobe), recall(3, nprobe)
        assert refined >= base, (nprobe, base, refined)


def test_char_entropy_matches_python(spark):
    import math

    from apache_pinot_spark.operators.textanalysis import char_entropy

    cases = {
        1: "aaaa",            # zero entropy
        2: "abab",            # 1 bit
        3: "abcd",            # 2 bits
        4: "hello world",     # mixed
        5: None,              # no signal → absent
    }
    df = spark.createDataFrame(list(cases.items()), "doc_id INT, text STRING")
    got = {r["key"]: r["entropy"] for r in char_entropy(df).collect()}

    def h(s):
        from collections import Counter

        c = Counter(s)
        n = len(s)
        return -sum(v / n * math.log2(v / n) for v in c.values())

    assert set(got) == {1, 2, 3, 4}
    for k in got:
        assert abs(got[k] - h(cases[k])) < 1e-9


def test_materialize_release_reliable_survives_unpersist_all(spark):
    """reliable=True materializes to the warehouse, so a cluster-mode
    cache wipe (executor loss, unpersist-all) cannot invalidate the
    result — re-reading it works where localCheckpoint blocks would be
    gone (operators/lifecycle.py)."""
    from pyspark.sql import functions as F

    from apache_pinot_spark.operators.lifecycle import materialize_release

    src = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    ).persist()
    agg = src.groupBy("k").agg(F.count("*").alias("cnt"))
    out = materialize_release(agg, src, reliable=True)
    # simulate total cache loss
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        it.next()._2().unpersist(False)
    rows = {r["k"]: r["cnt"] for r in out.collect()}
    assert rows == {i: (143 if i < 6 else 142) for i in range(7)}


def test_materialize_release_sweep_frees_dead_results(spark):
    """Results of prior calls whose Python handle died are unpersisted on
    the next call (weakref sweep) — dead blocks must not wait for a JVM
    GC (the round-5 spike root cause was storage pressure from exactly
    these lingering blocks)."""
    from pyspark.sql import functions as F

    from apache_pinot_spark.operators import lifecycle

    def live_tracked():
        lifecycle._sweep_dead_results()
        return len(lifecycle._live_results)

    base = live_tracked()
    out1 = materialized = lifecycle.materialize_release(
        spark.range(100).select(F.col("id"))
    )
    assert live_tracked() == base + 1
    del out1, materialized
    out2 = lifecycle.materialize_release(spark.range(50).select(F.col("id")))
    # out1's entry was swept during the out2 call (or by live_tracked now)
    assert live_tracked() == base + 1
    assert out2.count() == 50


def test_lsh_bucket_cap_bounds_degenerate_corpus(spark):
    """10k identical shingle sets — the degenerate regime where every doc
    shares every band hash. Uncapped, the self-join would emit ~50M pairs;
    with the cap the fallback stars each bucket's members onto the min-key
    representative: exactly N-1 distinct pairs, all (min_key, other)."""
    from apache_pinot_spark.operators import dedup

    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated across every document").alias(
            "text"
        ),
    )
    pairs = dedup.minhash_candidate_pairs(
        df, num_hashes=16, band_size=2, max_bucket_rows=100
    )
    rows = pairs.collect()
    assert len(rows) == n - 1  # linear, not quadratic
    assert all(r["key_a"] == 0 and r["key_b"] > 0 for r in rows)
    # accounting surfaces the oversized buckets (8 bands, one bucket each)
    stats = dedup.oversized_bucket_stats(
        df, num_hashes=16, band_size=2, max_bucket_rows=100
    ).collect()
    assert len(stats) == 8
    assert all(r["bucket_size"] == n and r["distinct_signatures"] == 1 for r in stats)
    # end-to-end verified pipeline inherits the cap: members are identical
    # (jaccard 1.0) so every star pair survives verification
    verified = dedup.lsh_verified_pairs(df, max_bucket_rows=100, threshold=0.9)
    assert verified.count() == n - 1


def test_lsh_bucket_cap_noop_below_cap(spark):
    """An honest corpus (every bucket under the cap) produces pairs
    BIT-IDENTICAL to the uncapped self-join — the gate queries stay
    hash-green with the cap in place."""
    from apache_pinot_spark.operators import dedup

    docs = []
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    for i in range(40):
        docs.append((2 * i, base.replace("lazy", f"w{i}")))
        docs.append((2 * i + 1, base.replace("lazy", f"w{i}") + " tail"))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    capped = dedup.minhash_candidate_pairs(df, max_bucket_rows=1024)
    uncapped = dedup.minhash_candidate_pairs(df, max_bucket_rows=10**9)
    assert sorted(map(tuple, capped.collect())) == sorted(
        map(tuple, uncapped.collect())
    )


def test_lsh_bucket_cap_mixed_regime(spark):
    """A corpus holding BOTH a degenerate cluster (400 identical docs) and
    honest near-dup pairs: the honest pairs still surface exactly, the
    degenerate cluster contributes linear star pairs, and the two regimes
    don't cross-contaminate."""
    from apache_pinot_spark.operators import dedup

    rows = [(i, "identical boilerplate body shared by the degenerate flock")
            for i in range(400)]
    base = "genuine document about distributed query planning and execution " * 3
    rows.append((1000, base))
    rows.append((1001, base.replace("query", "stream")))
    rows.append((1002, "entirely unrelated prose regarding cooking recipes " * 3))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["key_a"], r["key_b"])
        for r in dedup.minhash_candidate_pairs(df, max_bucket_rows=50).collect()
    }
    assert (1000, 1001) in got
    assert all(not (a >= 1000 and b >= 1000) for a, b in got - {(1000, 1001)})
    flock = {(a, b) for a, b in got if b < 1000}
    assert flock == {(0, i) for i in range(1, 400)}  # linear star


def test_vector_lsh_bucket_cap_degenerate_embeddings(spark):
    """5k identical embeddings land in one bucket per table; the cap
    routes them to the linear star fallback (N-1 pairs) instead of the
    ~12.5M-pair self-join. A distinct planted pair still surfaces."""
    from apache_pinot_spark.operators import similarity

    n = 5_000
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)]
    rows.append((n, [-1.0, -2.0, -3.0, -4.0]))
    rows.append((n + 1, [-1.0, -2.0, -3.0, -4.01]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = similarity.lsh_candidate_pairs(
        df, dim=4, num_planes=8, num_tables=2, max_bucket_rows=64
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (n, n + 1) in got
    flock = {(a, b) for a, b in got if b < n}
    assert flock == {(0, i) for i in range(1, n)}  # linear star, not K^2


def test_embedding_operators_accept_string_ids(spark):
    """id schemas carry the input's native dtype (round-9 fix: several
    Arrow-pass schemas pinned BIGINT): string vec_ids flow through
    LSH buckets/pairs, brute-force top-k, and PQ encode."""
    from apache_pinot_spark.operators import similarity
    from apache_pinot_spark.operators.pq import pq_encode, pq_train

    rows = [(f"doc-{i}", [float((i * 7 + d) % 5) for d in range(8)])
            for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id STRING, embedding ARRAY<DOUBLE>")
    q = df.filter(F.col("vec_id") == "doc-1")
    top = similarity.brute_force_topk(df, q, k=3).collect()
    assert len(top) == 3 and all(isinstance(r.neighbor_id, str) for r in top)
    pairs = similarity.lsh_candidate_pairs(df, dim=8, num_planes=4, num_tables=2)
    assert dict(pairs.dtypes)["id_a"] == "string"
    books = pq_train(df, dim=8, m=4, ksub=4, iterations=1)
    enc = pq_encode(df, books)
    assert dict(enc.dtypes)["id"] == "string" and enc.count() == 30
    # r10 (ADVICE): the full IVF+PQ query path too — probe/adc/refine
    # schemas derive the id dtype instead of pinning BIGINT
    from apache_pinot_spark.operators.pq import ivfpq_topk

    res = ivfpq_topk(df, q, dim=8, k=3, num_clusters=2, nprobe=2,
                     m=4, ksub=4, iterations=1, refine_factor=8)
    got = res.collect()
    assert len(got) == 3 and all(isinstance(r.neighbor_id, str) for r in got)
    assert all(isinstance(r.query_id, str) for r in got)
    # parity with brute force under full refinement
    assert {r.neighbor_id for r in got} == {r.neighbor_id for r in top}
    ivf = similarity.ivf_topk(df, q, dim=8, k=3, num_clusters=2, nprobe=2)
    assert all(isinstance(r.query_id, str) for r in ivf.collect())


def test_plan_node_matching_anchors_at_line_start(spark):
    """r9 ADVICE: _spread / _stats_row_count must key on logical OPERATOR
    nodes, not substrings — a column literally named 'Join' or a literal
    containing 'Sort' must not trigger the shuffle-upstream branch, while
    Expand (grouping sets) must count as a row multiplier."""
    from apache_pinot_spark.operators.dedup import _plan_has_nodes
    from apache_pinot_spark.operators.similarity import _stats_row_count

    narrow = spark.range(10).selectExpr(
        "id AS Join", "'Sort by Union' AS note")
    plan = narrow._jdf.queryExecution().analyzed().toString()
    assert not _plan_has_nodes(
        plan, ("Join", "Sort", "Union", "Aggregate", "Window"))
    joined = spark.range(10).join(spark.range(5), "id")
    jplan = joined._jdf.queryExecution().analyzed().toString()
    assert _plan_has_nodes(jplan, ("Join",))
    # Expand (grouping sets) multiplies rows -> footer total would be an
    # under-estimate -> must return None (fallback to a real count)
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.parquet")
        spark.range(100).selectExpr("id", "id % 3 AS k", "id % 5 AS j") \
            .write.parquet(p)
        t = spark.read.parquet(p)
        assert _stats_row_count(t) == 100
        cube = t.cube("k", "j").count()
        assert _stats_row_count(cube) is None
