"""KLL doubles wire interop (functions/kll_wire.py): parse + quantile
rule golden-tested against the REAL datasketches-java KllDoublesSketch,
weighted-sample merge bounds, validation, and the PERCENTILEKLL SQL
surface over migrated BYTES columns."""

from __future__ import annotations

import random
import struct

import numpy as np
import pytest

from apache_pinot_spark.functions import kll_wire as KW

pytestmark = pytest.mark.slow  # excluded from the default driver-verify lane (see pytest.ini)

_RANKS = (0.0, 0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)


def _kll(spark):
    jvm = spark._jvm
    try:
        jvm.org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(8)
    except Exception:
        pytest.skip("datasketches-java not on the Spark classpath")
    return jvm.org.apache.datasketches.kll.KllDoublesSketch


def test_parse_and_quantiles_match_library_exactly(spark):
    """Every rank (extremes included) of a library-built sketch must
    answer IDENTICALLY here — exact mode and the compacted estimation
    regime, default and non-default k."""
    K = _kll(spark)
    rng = random.Random(7)
    for n, k in [(1, 200), (5, 200), (100, 200), (10_000, 200),
                 (50_000, 160), (3, 8)]:
        sk = K.newHeapInstance(k)
        for _ in range(n):
            sk.update(rng.uniform(-1000, 1000))
        blob = bytes(x & 0xFF for x in sk.toByteArray())
        p = KW.parse_kll_doubles(blob)
        assert (p.n, p.k) == (n, k)
        assert int(p.weights.sum()) == n  # exact-weight invariant
        for r in _RANKS:
            assert KW.kll_quantile(blob, r) == sk.getQuantile(r), (n, k, r)
    # empty sketch parses to n=0 and quantile raises (library throws too)
    empty = bytes(x & 0xFF for x in K.newHeapInstance(200).toByteArray())
    assert KW.parse_kll_doubles(empty).n == 0
    with pytest.raises(ValueError, match="empty"):
        KW.kll_quantile(empty, 0.5)


def test_weighted_sample_merge_is_a_valid_estimator(spark):
    """Merging blobs in weighted-sample space: deterministic, and the
    estimates stay within the per-sketch normalized-rank error bound of
    the true quantiles (KLL k=200 ≈ 1.65% rank error; allow the summed
    two-sketch budget)."""
    K = _kll(spark)
    rng = random.Random(13)
    all_vals = []
    blobs = []
    for seg in range(3):
        sk = K.newHeapInstance(200)
        vals = [rng.gauss(seg * 10, 50) for _ in range(40_000)]
        for v in vals:
            sk.update(v)
        all_vals += vals
        blobs.append(bytes(x & 0xFF for x in sk.toByteArray()))
    all_vals.sort()
    n = len(all_vals)
    for r in (0.1, 0.5, 0.9):
        est = KW.kll_quantile(blobs, r)
        # normalized rank of the estimate in the true data
        true_rank = np.searchsorted(all_vals, est) / n
        assert abs(true_rank - r) < 0.05, (r, est, true_rank)
    assert KW.kll_quantile(blobs, 0.0) == min(all_vals)
    assert KW.kll_quantile(blobs, 1.0) == max(all_vals)


def test_hostile_blob_validation():
    with pytest.raises(ValueError, match="too short"):
        KW.parse_kll_doubles(b"\x05")
    with pytest.raises(ValueError, match="family"):
        KW.parse_kll_doubles(struct.pack("<BBBBHBB", 5, 1, 3, 0, 200, 8, 0))
    with pytest.raises(ValueError, match="serial version"):
        KW.parse_kll_doubles(struct.pack("<BBBBHBB", 5, 9, 15, 0, 200, 8, 0))
    with pytest.raises(ValueError, match="k="):
        KW.parse_kll_doubles(struct.pack("<BBBBHBB", 5, 1, 15, 0, 2, 8, 0))
    # full preamble with absurd level count
    head = struct.pack("<BBBBHBB", 5, 1, 15, 0, 200, 8, 0)
    head += struct.pack("<QHBB", 10, 200, 99, 0)
    with pytest.raises(ValueError, match="levels=99"):
        KW.parse_kll_doubles(head + b"\x00" * 64)
    # weights-vs-n mismatch caught (claims n=10, carries one weight-1 item)
    bad = struct.pack("<BBBBHBB", 5, 1, 15, 0, 200, 8, 0)
    bad += struct.pack("<QHBB", 10, 200, 1, 0) + struct.pack("<I", 0)
    bad += struct.pack("<dd", 0.0, 1.0) + struct.pack("<d", 0.5)
    with pytest.raises(ValueError, match="weights sum"):
        KW.parse_kll_doubles(bad)


def test_percentilekll_sql_over_migrated_bytes_columns(spark):
    """The migration scenario: per-segment KLL blobs built by the real
    library, registered as a BYTES column — PERCENTILEKLL merges and
    estimates; raw numeric columns keep the deterministic fallback;
    PERCENTILERAWKLL returns a deterministic merged wire blob that the
    library heapifies."""
    from apache_pinot_spark.sqlfront import PinotEngine

    K = _kll(spark)
    rng = random.Random(3)
    rows = []
    all_vals = []
    for seg in range(4):
        sk = K.newHeapInstance(200)
        vals = [rng.uniform(0, 1000) for _ in range(5000)]
        for v in vals:
            sk.update(v)
        all_vals += vals
        rows.append((seg, bytes(x & 0xFF for x in sk.toByteArray())))
    eng = PinotEngine(spark)
    eng.register("seg_kll", spark.createDataFrame(rows, "seg int, lat binary"))
    eng.apply_sketch_columns({"lat": "kll"})
    got = eng.sql(
        "SELECT PERCENTILEKLL(lat, 95) AS p95 FROM seg_kll"
    ).collect()[0]["p95"]
    all_vals.sort()
    true_rank = np.searchsorted(all_vals, got) / len(all_vals)
    assert abs(true_rank - 0.95) < 0.05
    # raw-column fallback still parses and runs
    eng.register("nums", spark.range(101).selectExpr("CAST(id AS DOUBLE) v"))
    assert eng.sql(
        "SELECT PERCENTILEKLL(v, 50) AS m FROM nums"
    ).collect()[0]["m"] == pytest.approx(50.0, abs=1.0)
    # RAW form over the registered column: merged blob, loadable by the
    # real library, with the full merged n
    raw_hex = eng.sql(
        "SELECT PERCENTILERAWKLL(lat, 95) AS blob FROM seg_kll"
    ).collect()[0]["blob"]
    merged = KW.parse_kll_doubles(bytes.fromhex(raw_hex))
    assert merged.n == len(all_vals)
    h = K.heapify(
        spark._jvm.org.apache.datasketches.memory.Memory.wrap(
            bytearray(bytes.fromhex(raw_hex))
        )
    )
    assert h.getN() == len(all_vals)
    assert abs(h.getQuantile(0.95) - all_vals[int(0.95 * len(all_vals))]) < 50
    # RAW over a raw numeric column: deterministic build, same contract
    raw2 = eng.sql(
        "SELECT PERCENTILERAWKLL(v, 50) AS blob FROM nums"
    ).collect()[0]["blob"]
    built = KW.parse_kll_doubles(bytes.fromhex(raw2))
    assert built.n == 101 and built.min_item == 0.0 and built.max_item == 100.0


def test_all_null_or_empty_group_returns_null(spark):
    from apache_pinot_spark.sqlfront import PinotEngine

    K = _kll(spark)
    empty = bytes(x & 0xFF for x in K.newHeapInstance(200).toByteArray())
    eng = PinotEngine(spark)
    eng.register(
        "kll_holes",
        spark.createDataFrame([(1, None), (1, empty)], "g int, lat binary"),
    )
    eng.apply_sketch_columns({"lat": "kll"})
    got = eng.sql(
        "SELECT PERCENTILEKLL(lat, 50) AS p FROM kll_holes GROUP BY g LIMIT 1"
    ).collect()[0]["p"]
    assert got is None  # NULL, not a failed job


def test_deterministic_build_heapifies_in_library(spark):
    """WRITE side: blobs built by the deterministic compactor must load
    in datasketches-java with the exact n/min/max and quantiles inside
    the sketch envelope — across empty/single/sub-k/compacted regimes —
    and be byte-identical run-to-run (the de-randomization's point)."""
    K = _kll(spark)
    jvm = spark._jvm
    rng = np.random.default_rng(3)
    for n in (0, 1, 5, 199, 200, 201, 5000, 100_000):
        vals = rng.normal(50, 10, n)
        blob = KW.build_kll_doubles(vals, k=200)
        assert blob == KW.build_kll_doubles(vals.copy(), k=200)
        p = KW.parse_kll_doubles(blob)
        assert p.n == n
        if n:
            assert int(p.weights.sum()) == n
        h = K.heapify(
            jvm.org.apache.datasketches.memory.Memory.wrap(bytearray(blob))
        )
        assert h.getN() == n
        if n:
            assert h.getMinItem() == vals.min()
            assert h.getMaxItem() == vals.max()
            for q in (0.1, 0.5, 0.9):
                true = np.quantile(vals, q, method="inverted_cdf")
                assert abs(h.getQuantile(q) - true) <= max(
                    2.0, 0.08 * abs(true)
                )


def test_deterministic_merge_of_library_blobs(spark):
    """Merged blob of REAL library sketches: level-wise stack + the
    deterministic compactor → valid loadable state with the summed n,
    global min/max, and a java-side merge accepting it."""
    K = _kll(spark)
    jvm = spark._jvm
    rng = np.random.default_rng(11)
    blobs, allv = [], []
    for seg in range(5):
        sk = K.newHeapInstance(200)
        vs = rng.normal(seg * 10, 5, 20_000)
        for v in vs:
            sk.update(float(v))
        allv.append(vs)
        blobs.append(bytes(x & 0xFF for x in sk.toByteArray()))
    merged = KW.merge_kll_blobs(blobs)
    assert merged == KW.merge_kll_blobs(list(blobs))  # deterministic
    av = np.concatenate(allv)
    h = K.heapify(
        jvm.org.apache.datasketches.memory.Memory.wrap(bytearray(merged))
    )
    assert h.getN() == av.size
    assert h.getMinItem() == av.min() and h.getMaxItem() == av.max()
    assert abs(h.getQuantile(0.5) - np.quantile(av, 0.5)) < 2.0
    tgt = K.newHeapInstance(200)
    tgt.merge(h)
    assert tgt.getN() == av.size
    # k follows the library's merge rule: min of the inputs
    small = KW.build_kll_doubles(np.arange(1000, dtype=float), k=128)
    m2 = KW.parse_kll_doubles(KW.merge_kll_blobs(blobs + [small]))
    assert m2.k == 128


def test_builder_properties_no_jvm():
    """Jar-free invariants of the deterministic builder: weights sum to
    n, every level obeys its exact capacity, quantiles stay within the
    KLL normalized-rank envelope, and merge determinism holds."""
    rng = np.random.default_rng(23)
    for n in (2, 17, 333, 4_096, 60_000):
        vals = rng.uniform(-100, 100, n)
        blob = KW.build_kll_doubles(vals, k=200)
        p = KW.parse_kll_doubles(blob)
        assert p.n == n and int(p.weights.sum()) == n
        assert p.min_item == vals.min() and p.max_item == vals.max()
        sv = np.sort(vals)
        for r in (0.25, 0.5, 0.75):
            est = KW.kll_quantile(blob, r)
            true_rank = np.searchsorted(sv, est) / n
            # ±1/n slack covers rank discreteness at tiny n (with two
            # weight-1 items the 25th percentile IS the first item)
            assert abs(true_rank - r) <= max(0.05, 1.0 / n), (n, r)
    # level-capacity rule: rebuild level structure from weights and
    # check each level against the exact intCapAux arithmetic
    blob = KW.build_kll_doubles(rng.uniform(0, 1, 100_000), k=200)
    p = KW.parse_kll_doubles(blob)
    lv = np.log2(p.weights.astype(np.float64)).astype(np.int64)
    num_levels = int(lv.max()) + 1
    for level in range(num_levels):
        size = int((lv == level).sum())
        assert size <= KW._level_capacity(200, num_levels, level), level
