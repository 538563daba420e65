"""HyperLogLogPlus wire interop (functions/hllplus_wire.py):
byte-identical serialization vs the REAL stream-lib jar across sparse /
conversion / normal / bias-corrected regimes, exact cardinality parity,
merges across the boundary, Java toString hashing dispatch (including
Double rendering), hostile blobs, and the DISTINCTCOUNTHLLPLUS SQL
surface over migrated BYTES columns."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from apache_pinot_spark.functions import hllplus_wire as W

pytestmark = pytest.mark.slow  # excluded from the default driver-verify lane (see pytest.ini)


def _stream_lib(spark):
    jvm = spark._jvm
    try:
        jvm.com.clearspring.analytics.stream.cardinality.HyperLogLogPlus(14, 25)
    except Exception:
        pytest.skip("stream-lib not on the Spark classpath")
    return jvm


def test_byte_parity_and_cardinality_all_regimes(spark):
    """empty / sparse / the sparse→normal conversion threshold / pure
    normal (sp=0) / linear-counting and bias-corrected estimation — all
    byte-identical to the library with equal cardinalities."""
    jvm = _stream_lib(spark)
    HLLP = jvm.com.clearspring.analytics.stream.cardinality.HyperLogLogPlus
    cases = [(14, 25, 0), (14, 25, 3), (14, 25, 50), (14, 25, 5000),
             (14, 25, 13_000),  # crosses sparseSetThreshold (12288)
             (14, 25, 40_000), (12, 0, 10), (12, 0, 5000),
             (11, 17, 300), (11, 17, 100_000)]
    for p, sp, n in cases:
        jh = HLLP(p, sp)
        vals = [f"user{i}" for i in range(n)]
        for v in vals:
            jh.offer(v)
        mine = W.HyperLogLogPlusSketch(p, sp)
        mine.offer_values(pd.Series(vals, dtype=object))
        assert bytes(x & 0xFF for x in jh.getBytes()) == mine.serialize(), (
            p, sp, n,
        )
        assert mine.cardinality() == jh.cardinality(), (p, sp, n)
        # round trip through our own serde too
        back = W.HyperLogLogPlusSketch.deserialize(mine.serialize())
        assert back.serialize() == mine.serialize()


def test_numeric_values_hash_via_java_tostring(spark):
    """stream-lib hash64(Object) renders non-String values with Java
    toString. Ints: exact on every JVM. Doubles: exact wherever the
    JVM's Double.toString equals the modern (Ryū, JDK 19+) shortest
    form java_double_str pins — the legacy FloatingDecimal extra-digit
    quirk (JDK-4511638) is the documented divergence, asserted rare."""
    jvm = _stream_lib(spark)
    HLLP = jvm.com.clearspring.analytics.stream.cardinality.HyperLogLogPlus
    D = jvm.java.lang.Double
    rng = random.Random(5)
    ints = [rng.randrange(-10**12, 10**12) for _ in range(300)]
    jh = HLLP(13, 25)
    for v in ints:
        jh.offer(v)  # py4j ships Python ints as Long
    mine = W.HyperLogLogPlusSketch(13, 25)
    mine.offer_values(pd.Series(ints, dtype="int64"))
    assert bytes(x & 0xFF for x in jh.getBytes()) == mine.serialize()

    dbls = (
        [rng.uniform(-1e9, 1e9) for _ in range(150)]
        + [rng.random() * 10**rng.randrange(-20, 21) for _ in range(150)]
        + [0.0, -0.0, 1e7, 9999999.0, 0.001, 0.0001, 1.5e-5, float(10**23)]
    )
    agree = [v for v in dbls if D.toString(float(v)) == W.java_double_str(v)]
    # the legacy-JVM divergence class must stay a small tail
    assert len(agree) >= 0.9 * len(dbls)
    jh2 = HLLP(13, 25)
    for v in agree:
        jh2.offer(float(v))
    mine2 = W.HyperLogLogPlusSketch(13, 25)
    mine2.offer_values(pd.Series(agree, dtype="float64"))
    assert bytes(x & 0xFF for x in jh2.getBytes()) == mine2.serialize()


def _java_build(spark, blob: bytes):
    """HyperLogLogPlus.Builder.build(byte[]) via java.lang.reflect —
    py4j's member resolution trips over this nested class's generic
    bridge methods, so the direct dotted call raises Py4JError."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    cls = jvm.java.lang.Class.forName(
        "com.clearspring.analytics.stream.cardinality.HyperLogLogPlus$Builder"
    )
    types = gw.new_array(jvm.java.lang.Class, 1)
    types[0] = jvm.java.lang.Class.forName("[B")
    m = cls.getMethod("build", types)
    args = gw.new_array(jvm.java.lang.Object, 1)
    args[0] = bytearray(blob)
    return m.invoke(None, args)


def test_merge_across_the_boundary(spark):
    """Library blobs merged HERE re-load in the library; sparse+sparse
    staying sparse and mixed sparse/normal both work."""
    jvm = _stream_lib(spark)
    HLLP = jvm.com.clearspring.analytics.stream.cardinality.HyperLogLogPlus

    def jblob(lo, hi):
        h = HLLP(14, 25)
        for i in range(lo, hi):
            h.offer(f"u{i}")
        return bytes(x & 0xFF for x in h.getBytes())

    a, b = jblob(0, 500), jblob(300, 900)
    merged = W.merge_blobs([a, b])
    back = _java_build(spark, merged.serialize())
    assert back.cardinality() == merged.cardinality()
    assert abs(merged.cardinality() - 900) / 900 < 0.05
    # mixed: one big (normal) + one small (sparse)
    big = jblob(0, 20_000)
    mixed = W.merge_blobs([big, b])
    back2 = _java_build(spark, mixed.serialize())
    assert back2.cardinality() == mixed.cardinality()
    truth = 20_000  # b's range is inside big's
    assert abs(mixed.cardinality() - truth) / truth < 0.05


def test_hostile_blob_validation():
    import struct

    with pytest.raises(ValueError, match="version marker"):
        W.HyperLogLogPlusSketch.deserialize(b"\x00" * 8)
    with pytest.raises(ValueError, match="precisions out of range"):
        W.HyperLogLogPlusSketch.deserialize(struct.pack(">i", -2) + bytes([40, 0, 0]))
    with pytest.raises(ValueError, match="truncated in varint"):
        W.HyperLogLogPlusSketch.deserialize(struct.pack(">i", -2) + bytes([14, 25]))
    with pytest.raises(ValueError, match="register bytes"):
        W.HyperLogLogPlusSketch.deserialize(
            struct.pack(">i", -2) + bytes([12, 0, 0, 4]) + b"\x00" * 4
        )
    with pytest.raises(ValueError, match="format"):
        W.HyperLogLogPlusSketch.deserialize(
            struct.pack(">i", -2) + bytes([12, 0, 7, 0])
        )
    with pytest.raises(ValueError, match="no HLL\\+\\+ blobs"):
        W.merge_blobs([None])
    with pytest.raises(ValueError, match="different precisions"):
        W.HyperLogLogPlusSketch(12, 0).merge(W.HyperLogLogPlusSketch(14, 25))


def test_sql_surface_over_migrated_columns(spark):
    from apache_pinot_spark.sqlfront import PinotEngine

    jvm = _stream_lib(spark)
    HLLP = jvm.com.clearspring.analytics.stream.cardinality.HyperLogLogPlus

    def jblob(users):
        h = HLLP(14, 25)
        for u in users:
            h.offer(u)
        return bytes(x & 0xFF for x in h.getBytes())

    segs = [[f"u{i}" for i in range(0, 60)],
            [f"u{i}" for i in range(40, 110)],
            [f"u{i}" for i in range(100, 130)]]
    df = spark.createDataFrame(
        [(i, jblob(s)) for i, s in enumerate(segs)] + [(9, None)],
        "seg int, hllp binary",
    )
    eng = PinotEngine(spark)
    eng.register("seg_hllp", df)
    eng.apply_sketch_columns({"hllp": "hllplus"})
    got = eng.sql(
        "SELECT DISTINCTCOUNTHLLPLUS(hllp) AS u FROM seg_hllp"
    ).collect()[0]["u"]
    assert got == 130  # sparse linear-counting regime: exact
    # raw columns keep the Spark-native fast path
    eng.register("nums", spark.range(500).selectExpr("id AS v"))
    approx = eng.sql(
        "SELECT DISTINCTCOUNTHLLPLUS(v) AS u FROM nums"
    ).collect()[0]["u"]
    assert abs(approx - 500) / 500 < 0.1
    # all-NULL group → NULL
    eng.register("holes", spark.createDataFrame([(1, None)], "g int, hllp binary"))
    assert eng.sql(
        "SELECT DISTINCTCOUNTHLLPLUS(hllp) AS u FROM holes GROUP BY g LIMIT 1"
    ).collect()[0]["u"] is None


def test_rawhllplus_and_smart_forms(spark):
    """DISTINCTCOUNTRAWHLLPLUS emits WIRE blobs (merge over registered
    columns, build over raw columns — both load in the library);
    DISTINCTCOUNTSMARTHLL / PERCENTILESMARTTDIGEST take the exact/
    deterministic branches of their threshold contracts."""
    from apache_pinot_spark.sqlfront import PinotEngine

    jvm = _stream_lib(spark)
    eng = PinotEngine(spark)  # HLL++ UDFs register eagerly
    eng.register("vals", spark.range(300).selectExpr("id AS v", "id % 3 AS g"))
    hexblob = eng.sql(
        "SELECT DISTINCTCOUNTRAWHLLPLUS(v) AS s FROM vals"
    ).collect()[0]["s"]
    mine = W.HyperLogLogPlusSketch.deserialize(bytes.fromhex(hexblob))
    assert mine.cardinality() == 300  # sparse linear counting: exact
    back = _java_build(spark, bytes.fromhex(hexblob))
    assert back.cardinality() == 300
    # merged RAW over a registered BYTES column
    HLLP = jvm.com.clearspring.analytics.stream.cardinality.HyperLogLogPlus

    def jblob(lo, hi):
        h = HLLP(14, 25)
        for i in range(lo, hi):
            h.offer(i)
        return bytes(x & 0xFF for x in h.getBytes())

    eng.register(
        "segs", spark.createDataFrame(
            [(0, jblob(0, 100)), (1, jblob(50, 200))], "seg int, hp binary"
        )
    )
    eng.apply_sketch_columns({"hp": "hllplus"})
    raw = eng.sql("SELECT DISTINCTCOUNTRAWHLLPLUS(hp) AS s FROM segs").collect()[0]["s"]
    assert _java_build(spark, bytes.fromhex(raw)).cardinality() == 200
    # SMART forms: exact distinct / deterministic percentile
    row = eng.sql(
        "SELECT DISTINCTCOUNTSMARTHLL(v, 1000) AS d, "
        "PERCENTILESMARTTDIGEST(v, 50) AS p FROM vals"
    ).collect()[0]
    assert row["d"] == 300
    assert abs(row["p"] - 149.5) <= 1.0


def test_rawhllplus_jvm_rendering_and_guards(spark):
    """The build path renders values with the JVM's own toString (CAST
    to STRING), so nullable int columns hash identically to non-null
    ones (review finding: Arrow float64 coercion) and doubles match the
    running JVM exactly; undeclared BYTES columns raise instead of
    silently sketching blobs."""
    from apache_pinot_spark.sqlfront import PinotEngine

    jvm = _stream_lib(spark)
    HLLP = jvm.com.clearspring.analytics.stream.cardinality.HyperLogLogPlus
    eng = PinotEngine(spark)
    eng.register(
        "with_null",
        spark.createDataFrame([(1,), (2,), (None,)], "v long"),
    )
    eng.register("no_null", spark.createDataFrame([(1,), (2,)], "v long"))
    b1 = eng.sql("SELECT DISTINCTCOUNTRAWHLLPLUS(v) AS s FROM with_null").collect()[0]["s"]
    b2 = eng.sql("SELECT DISTINCTCOUNTRAWHLLPLUS(v) AS s FROM no_null").collect()[0]["s"]
    assert b1 == b2  # NULL presence must not change the hash domain
    jh = HLLP(14, 25)
    jh.offer(1)
    jh.offer(2)
    assert bytes.fromhex(b1) == bytes(x & 0xFF for x in jh.getBytes())
    # doubles render via the JVM: parity with offers of the same Doubles
    eng.register(
        "dbls", spark.createDataFrame([(1.5,), (0.25e-9,), (1e23,)], "v double")
    )
    b3 = eng.sql("SELECT DISTINCTCOUNTRAWHLLPLUS(v) AS s FROM dbls").collect()[0]["s"]
    jd = HLLP(14, 25)
    for v in (1.5, 0.25e-9, 1e23):
        jd.offer(float(v))
    assert bytes.fromhex(b3) == bytes(x & 0xFF for x in jd.getBytes())
    # undeclared BYTES columns: loud error, not a sketch of blobs
    eng.register("blobs", spark.createDataFrame([(b"\x01\x02",)], "b binary"))
    import pytest as _pt
    with _pt.raises(ValueError, match="sketchColumns"):
        eng.rewrite("SELECT DISTINCTCOUNTHLLPLUS(b) FROM blobs")
    with _pt.raises(ValueError, match="sketchColumns"):
        eng.rewrite("SELECT DISTINCTCOUNTRAWHLLPLUS(b) FROM blobs")


def test_sparse_same_index_dedup_keeps_max_rho(spark):
    """Same-idx flag-entry collisions dedup keeping the max-rho (min-k)
    encoding — byte parity at p=20/sp=25 where collisions actually
    occur (review finding origin)."""
    import pandas as pd

    jvm = _stream_lib(spark)
    HLLP = jvm.com.clearspring.analytics.stream.cardinality.HyperLogLogPlus
    jh = HLLP(20, 25)
    vals = [f"user{i}" for i in range(200_000)]
    for v in vals:
        jh.offer(v)
    mine = W.HyperLogLogPlusSketch(20, 25)
    mine.offer_values(pd.Series(vals, dtype=object))
    assert bytes(x & 0xFF for x in jh.getBytes()) == mine.serialize()
    assert mine.cardinality() == jh.cardinality()


def test_small_p_and_above_table_range_cardinality(spark):
    """p=4/5/6 alpha special cases and the p>18 bias-0 branch (review
    findings): exact cardinality parity at the precision extremes."""
    import pandas as pd

    jvm = _stream_lib(spark)
    HLLP = jvm.com.clearspring.analytics.stream.cardinality.HyperLogLogPlus
    for p, sp, n in [(4, 0, 500), (5, 0, 500), (6, 0, 300),
                     (19, 0, 300_000), (20, 25, 150_000)]:
        jh = HLLP(p, sp)
        vals = [f"k{i}" for i in range(n)]
        for v in vals:
            jh.offer(v)
        mine = W.HyperLogLogPlusSketch(p, sp)
        mine.offer_values(pd.Series(vals, dtype=object))
        assert mine.cardinality() == jh.cardinality(), (p, sp, n)
        assert bytes(x & 0xFF for x in jh.getBytes()) == mine.serialize()


def test_hostile_sparse_blobs_rejected():
    import struct

    # SPARSE format claiming sp=0
    with pytest.raises(ValueError, match="SPARSE format with sp=0"):
        W.HyperLogLogPlusSketch.deserialize(
            struct.pack(">i", -2) + bytes([14, 0, 1, 2, 1, 1])
        )
    # sparse count beyond 2^sp
    with pytest.raises(ValueError, match="sparse count"):
        W.HyperLogLogPlusSketch.deserialize(
            struct.pack(">i", -2) + bytes([4, 10, 1, 0x90, 0x20])
        )
