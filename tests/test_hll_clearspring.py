"""Clearspring HLL wire interop (functions/hll_clearspring.py):
byte-identical serialization vs the REAL stream-lib jar (stream-2.9.8
on Spark's classpath — the library the reference serializes
DISTINCTCOUNTHLL sketch columns with), exact cardinality parity,
merges across the boundary, the Spark build path, and the
DISTINCTCOUNTHLL SQL surface over migrated BYTES columns."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from apache_pinot_spark.functions import hll_clearspring as C

pytestmark = pytest.mark.slow  # excluded from the default driver-verify lane (see pytest.ini)

# goldens recorded from stream-2.9.8 (com.clearspring.analytics.hash.
# MurmurHash) so the hash contract holds even where the jar is absent
_HASH_GOLDENS = [
    (b"foo", 1741070284), (b"a", 713507990), (b"ab", -1797532438),
    (b"abc", -1465591341), (b"abcd", 1555318719),
    (b"abcdefgh", 2027089043), (b"hello world!x", 2023627637),
]
_LONG_GOLDENS = [(0, 0), (42, 1348420172), (-7, -1995426631),
                 (2**40 + 123, 1342493519)]


def _signed32(u: int) -> int:
    return u - (1 << 32) if u >= (1 << 31) else u


def test_murmur2_scalar_matches_recorded_goldens():
    for data, want in _HASH_GOLDENS:
        assert C.murmur2_32(data) == want, data
    for v, want in _LONG_GOLDENS:
        assert C.hash_long(v) == want, v


def test_vectorized_hashing_matches_scalar():
    rng = np.random.default_rng(3)
    datas = [rng.bytes(int(n)) for n in rng.integers(0, 40, 300)]
    got = C.hash_bytes_batch(datas)
    want = np.array([C.murmur2_32(d) & 0xFFFFFFFF for d in datas], np.uint32)
    assert np.array_equal(got, want)
    longs = rng.integers(-(2**62), 2**62, 500)
    got_l = C.hash_longs_batch(longs)
    want_l = np.array([C.hash_long(int(v)) & 0xFFFFFFFF for v in longs], np.uint32)
    assert np.array_equal(got_l, want_l)


def test_serde_round_trip_and_validation():
    s = C.ClearspringHLL(8)
    s.offer_values(pd.Series([f"v{i}" for i in range(100)]))
    blob = s.serialize()
    back = C.ClearspringHLL.deserialize(blob)
    assert back.log2m == 8 and np.array_equal(back.registers, s.registers)
    assert back.serialize() == blob
    with pytest.raises(ValueError, match="too short"):
        C.ClearspringHLL.deserialize(b"\x00\x00")
    with pytest.raises(ValueError, match="log2m"):
        C.ClearspringHLL.deserialize(b"\x00\x00\x00\x63" + b"\x00" * 8)
    with pytest.raises(ValueError, match="size"):
        C.ClearspringHLL.deserialize(b"\x00\x00\x00\x08\x00\x00\x00\x04" + b"\x00" * 4)
    with pytest.raises(ValueError, match="different sizes"):
        C.ClearspringHLL(4).merge(C.ClearspringHLL(8))


def _stream_lib(spark):
    jvm = spark._jvm
    try:
        jvm.com.clearspring.analytics.stream.cardinality.HyperLogLog(4)
    except Exception:
        pytest.skip("stream-lib not on the Spark classpath")
    return jvm


def test_wire_interop_with_stream_lib(spark):
    """Sketches built HERE serialize byte-identically to sketches built
    by the real library over the same values, across sizes and value
    types — which proves hash, offer pipeline, register packing, AND
    estimate inputs all match; cardinalities agree exactly."""
    jvm = _stream_lib(spark)
    HLL = jvm.com.clearspring.analytics.stream.cardinality.HyperLogLog
    cases = [
        (4, []),
        (4, ["a", "b", "c"]),
        (8, [f"user{i}" for i in range(50)]),
        (12, list(range(1000))),
        (12, [f"k{i}" for i in range(100_000)]),  # estimation regime
        (11, [float(i) * 1.5 for i in range(500)]),
    ]
    for log2m, values in cases:
        jh = HLL(log2m)
        for v in values:
            jh.offer(v)
        mine = C.ClearspringHLL(log2m)
        mine.offer_values(pd.Series(values))
        assert bytes(x & 0xFF for x in jh.getBytes()) == mine.serialize(), (
            log2m, len(values),
        )
        assert mine.cardinality() == jh.cardinality()


def test_merge_across_the_boundary(spark):
    """A library-built blob merges with an engine-built sketch; the
    merged blob re-loads in the library with the right cardinality."""
    jvm = _stream_lib(spark)
    HLL = jvm.com.clearspring.analytics.stream.cardinality.HyperLogLog
    jh = HLL(10)
    for i in range(0, 600):
        jh.offer(f"u{i}")
    theirs = C.ClearspringHLL.deserialize(bytes(x & 0xFF for x in jh.getBytes()))
    mine = C.ClearspringHLL(10)
    mine.offer_values(pd.Series([f"u{i}" for i in range(400, 1000)]))
    merged = theirs.merge(mine)
    Builder = jvm.com.clearspring.analytics.stream.cardinality.HyperLogLog.Builder
    back = Builder.build(bytearray(merged.serialize()))
    assert back.cardinality() == merged.cardinality()
    truth = 1000
    assert abs(merged.cardinality() - truth) / truth < 0.1


def test_spark_build_and_sql_surface(spark):
    """The migration scenario end-to-end: a table with a clearspring
    BYTES sketch column (as a Pinot segment would ship it), registered
    as such — DISTINCTCOUNTHLL merges in the clearspring domain and
    matches the per-type exact distinct; DISTINCTCOUNTRAWHLL returns a
    wire blob the real library can load."""
    from apache_pinot_spark.catalog import load_tables
    from apache_pinot_spark.sqlfront import PinotEngine
    from tests.conftest import SF_SMOKE

    ev = load_tables(spark, SF_SMOKE)["events"]
    sk = C.clearspring_hll_sketch(ev, ["event_type"], "user_id", log2m=12)
    rows = {r["event_type"]: bytes(r["hll"]) for r in sk.collect()}
    from pyspark.sql import functions as F

    exact = {
        r["event_type"]: r["u"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("u"))
        .collect()
    }
    for et, blob in rows.items():
        # log2m=12 over ≤15 users: exact via linear counting
        assert C.ClearspringHLL.deserialize(blob).cardinality() == exact[et]

    eng = PinotEngine(spark)
    eng.register("hll_by_type", sk)
    eng.apply_sketch_columns({"hll": "hll_clearspring"})
    got = eng.sql(
        "SELECT DISTINCTCOUNTHLL(hll) AS u FROM hll_by_type"
    ).collect()[0]["u"]
    total = ev.select("user_id").distinct().count()
    assert got == total
    raw = eng.sql(
        "SELECT DISTINCTCOUNTRAWHLL(hll) AS blob FROM hll_by_type"
    ).collect()[0]["blob"]
    merged = C.ClearspringHLL.deserialize(bytes.fromhex(raw))
    assert merged.cardinality() == total
    jvm = spark._jvm
    try:
        Builder = jvm.com.clearspring.analytics.stream.cardinality.HyperLogLog.Builder
        jback = Builder.build(bytearray(bytes.fromhex(raw)))
        assert jback.cardinality() == total
    except Exception:
        pass  # jar absent: the recorded-golden tests still pin the format


def test_java_built_blobs_queryable_in_sql(spark):
    """BYTES columns holding sketches built by the REAL library (the
    literal migration artifact) answer DISTINCTCOUNTHLL correctly."""
    from apache_pinot_spark.sqlfront import PinotEngine

    jvm = _stream_lib(spark)
    HLL = jvm.com.clearspring.analytics.stream.cardinality.HyperLogLog

    def jblob(users):
        h = HLL(12)
        for u in users:
            h.offer(u)
        return bytes(x & 0xFF for x in h.getBytes())

    segs = [[f"u{i}" for i in range(0, 60)],
            [f"u{i}" for i in range(40, 110)],
            [f"u{i}" for i in range(100, 130)]]
    df = spark.createDataFrame(
        [(i, jblob(s)) for i, s in enumerate(segs)], "seg int, hll binary"
    )
    eng = PinotEngine(spark)
    eng.register("seg_hll", df)
    eng.apply_sketch_columns({"hll": "hll_clearspring"})
    got = eng.sql("SELECT DISTINCTCOUNTHLL(hll) AS u FROM seg_hll").collect()[0]["u"]
    assert got == 130  # linear-counting regime: exact


def test_object_dtype_float_dispatch_matches_library(spark):
    """Object-dtype Series mixing strings and floats must still hash
    floats through hashLong(raw double bits) — byte-identical sketches
    vs the library over the same mixed values (review finding)."""
    jvm = _stream_lib(spark)
    HLL = jvm.com.clearspring.analytics.stream.cardinality.HyperLogLog
    jh = HLL(10)
    for v in ["a", 2.5, "b", -0.0, 7]:
        jh.offer(v)
    mine = C.ClearspringHLL(10)
    mine.offer_values(pd.Series(["a", 2.5, "b", -0.0, 7], dtype=object))
    assert bytes(x & 0xFF for x in jh.getBytes()) == mine.serialize()


def test_all_null_group_returns_null_not_error(spark):
    from apache_pinot_spark.sqlfront import PinotEngine

    eng = PinotEngine(spark)
    eng.register(
        "holes",
        spark.createDataFrame(
            [(1, C.ClearspringHLL(8).serialize()), (2, None)],
            "g int, hll binary",
        ),
    )
    eng.apply_sketch_columns({"hll": "hll_clearspring"})
    got = {
        r["g"]: r["u"]
        for r in eng.sql(
            "SELECT g, DISTINCTCOUNTHLL(hll) AS u FROM holes GROUP BY g LIMIT 10"
        ).collect()
    }
    assert got == {1: 0, 2: None}  # NULL group → NULL, job survives


def test_high_register_regimes_match_library(spark):
    """Crafted register states across the reachable range (and the
    large-estimate regime) must estimate identically to the jar; the
    rho=31-saturated state is the documented unreachable divergence
    (stream-lib's 1<<31 overflow) and is NOT asserted equal."""
    jvm = _stream_lib(spark)
    Builder = jvm.com.clearspring.analytics.stream.cardinality.HyperLogLog.Builder
    rng = np.random.default_rng(3)
    for regs in (
        rng.integers(24, 30, 4096).astype(np.uint8),  # est >> 2^32/30
        rng.integers(8, 14, 4096).astype(np.uint8),
        rng.integers(0, 29, 4096).astype(np.uint8),   # includes zeros
    ):
        mine = C.ClearspringHLL(12, regs)
        back = Builder.build(bytearray(mine.serialize()))
        assert back.cardinality() == mine.cardinality()
