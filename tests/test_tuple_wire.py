"""DataSketches integer-summary TUPLE sketch wire interop: logical
identity both directions vs the REAL datasketches-java jar (entries,
summaries, theta, estimate), exact-regime build/union parity, hostile
blob rejection, and the DISTINCTCOUNTTUPLESKETCH SQL family over
registered BYTES columns.

Java's compact tuple form stores entries in hash-table order, so (as in
the library's own cross-language contract) the pinned property is
heapify-equivalence, not byte equality.  Recorded goldens pin OUR
serialized layout so the format holds even where the jar is absent."""

from __future__ import annotations

import numpy as np
import pytest

from apache_pinot_spark.functions import tuple_wire as TW


def _mode(jvm):
    return jvm.org.apache.datasketches.tuple.aninteger.IntegerSummary.Mode


def _jsketch(jvm, pairs, lg=14):
    sk = jvm.org.apache.datasketches.tuple.aninteger.IntegerSketch(
        lg, _mode(jvm).Sum
    )
    for k, v in pairs:
        sk.update(k, v)
    return sk


def _jblob(sk) -> bytes:
    return bytes(x & 0xFF for x in sk.compact().toByteArray())


def _heapify(jvm, blob: bytes):
    mem = jvm.org.apache.datasketches.memory.Memory.wrap(bytearray(blob))
    return jvm.org.apache.datasketches.tuple.Sketches.heapifySketch(
        mem, jvm.org.apache.datasketches.tuple.aninteger.IntegerSummaryDeserializer()
    )


def test_recorded_golden_no_jvm():
    """Layout golden recorded from the datasketches-java-6.2.0 jar: an
    IntegerSketch(lgK=4, Sum) holding key 0 value 10 serializes to this
    exact blob (single-item preamble, flags RO|COMPACT, seed hash for
    9001, entry = hash | int32 10 | mode Sum)."""
    golden = bytes.fromhex("01030901000acc93e56b61eec88044200a00000000")
    s = TW.deserialize(golden)
    assert s.hashes.size == 1 and s.cut == TW.LONG_MAX
    assert s.values[0] == 10 and s.mode == TW.MODE_SUM
    mine = TW.IntegerTupleSketch.from_longs(
        np.array([0]), np.array([10]), k=16
    )
    assert TW.serialize(mine) == golden
    # empty golden, also recorded from the jar
    empty = bytes.fromhex("01030901000ecc93")
    e = TW.deserialize(empty)
    assert e.hashes.size == 0
    assert TW.serialize(TW.IntegerTupleSketch.empty()) == empty


def test_build_modes_and_duplicate_keys():
    keys = np.array([1, 2, 1, 3, 2, 1])
    vals = np.array([5, 7, 6, 1, 3, 9])
    s = TW.IntegerTupleSketch.from_longs(keys, vals)
    assert s.hashes.size == 3
    assert s.sum_values() == vals.sum()
    mn = TW.IntegerTupleSketch.from_longs(keys, vals, mode=TW.MODE_MIN)
    assert sorted(mn.values.tolist()) == [1, 3, 5]
    mx = TW.IntegerTupleSketch.from_longs(keys, vals, mode=TW.MODE_MAX)
    assert sorted(mx.values.tolist()) == [1, 7, 9]
    one = TW.IntegerTupleSketch.from_longs(keys, vals, mode=TW.MODE_ALWAYS_ONE)
    assert one.values.tolist() == [1, 1, 1]
    with pytest.raises(ValueError):
        s.union(mn)  # mode mismatch must not merge


def test_union_exact_and_trim():
    a = TW.IntegerTupleSketch.from_longs(
        np.arange(0, 800), np.full(800, 3, np.int64)
    )
    b = TW.IntegerTupleSketch.from_longs(
        np.arange(400, 1200), np.full(800, 5, np.int64)
    )
    u = a.union(b)
    assert u.hashes.size == 1200
    assert u.sum_values() == 800 * 3 + 800 * 5  # overlap sums to 8 per key
    # estimation regime: trim to k, estimate within the sketch envelope
    big = TW.IntegerTupleSketch.from_longs(
        np.arange(100_000), np.ones(100_000, np.int64), k=4096
    )
    assert big.hashes.size == 4096
    assert big.estimate() == pytest.approx(100_000, rel=0.05)
    # round-trip keeps everything
    rt = TW.deserialize(TW.serialize(big), k=4096)
    assert rt.cut == big.cut and np.array_equal(rt.hashes, big.hashes)
    assert np.array_equal(rt.values, big.values)


def test_hostile_blobs_rejected():
    good = TW.serialize(
        TW.IntegerTupleSketch.from_longs(np.arange(10), np.ones(10, np.int64))
    )
    with pytest.raises(ValueError):
        TW.deserialize(b"\x01\x03")  # too short
    with pytest.raises(ValueError):
        TW.deserialize(b"\x01\x03\x08" + good[3:])  # wrong family
    with pytest.raises(ValueError):
        TW.deserialize(good[:1] + b"\x02" + good[2:])  # bad serial version
    with pytest.raises(ValueError):
        TW.deserialize(good[:-5])  # truncated entries
    bad_seed = bytearray(good)
    bad_seed[6] ^= 0xFF
    with pytest.raises(ValueError):
        TW.deserialize(bytes(bad_seed))  # seed-hash mismatch
    # inconsistent mode bytes across entries
    mixed = bytearray(good)
    mixed[8 + 8 + 12] = 2  # second entry's mode byte
    with pytest.raises(ValueError):
        TW.deserialize(bytes(mixed))
    # estimation blob with theta = 0
    est = bytearray(
        TW.serialize(
            TW.IntegerTupleSketch.from_longs(
                np.arange(100_000), np.ones(100_000, np.int64), k=256
            )
        )
    )
    est[16:24] = b"\x00" * 8
    with pytest.raises(ValueError):
        TW.deserialize(bytes(est))


def test_wire_interop_with_datasketches_java(spark):
    jvm = spark._jvm
    try:
        _jsketch(jvm, [])
    except Exception:
        pytest.skip("datasketches-java not on the Spark classpath")
    # java -> us across regimes (incl. estimation-mode trim parity)
    for n, lg in [(0, 12), (1, 12), (3, 12), (100, 12), (20_000, 10)]:
        jsk = _jsketch(jvm, [(i, (i % 7) + 1) for i in range(n)], lg)
        jc = jsk.compact()
        ours = TW.deserialize(_jblob(jsk), k=1 << lg)
        assert ours.hashes.size == jc.getRetainedEntries()
        assert ours.cut == int(jc.getThetaLong())
        assert ours.estimate() == pytest.approx(jc.getEstimate(), rel=1e-12)
        if n and ours.cut == TW.LONG_MAX:
            mine = TW.IntegerTupleSketch.from_longs(
                np.arange(n), (np.arange(n) % 7) + 1, k=1 << lg
            )
            assert np.array_equal(ours.hashes, mine.hashes)
            assert np.array_equal(ours.values, mine.values)
    # us -> java: heapify, identical logical state
    mine = TW.IntegerTupleSketch.from_longs(
        np.arange(50_000), np.ones(50_000, np.int64), k=4096
    )
    jsk = _heapify(jvm, TW.serialize(mine))
    assert jsk.getEstimate() == pytest.approx(mine.estimate(), rel=1e-12)
    assert int(jsk.getThetaLong()) == mine.cut
    it, tot, cnt = jsk.iterator(), 0, 0
    while it.next():
        tot += it.getSummary().getValue()
        cnt += 1
    assert cnt == mine.hashes.size and tot == mine.sum_values()
    # java Union(java sketch, our blob) == our union, exact regime
    Mode = _mode(jvm)
    ops = jvm.org.apache.datasketches.tuple.aninteger.IntegerSummarySetOperations(
        Mode.Sum, Mode.Sum
    )
    ju = jvm.org.apache.datasketches.tuple.Union(16384, ops)
    ja = _jsketch(jvm, [(i, 3) for i in range(800)])
    ju.union(ja.compact())
    ju.union(_heapify(jvm, TW.serialize(
        TW.IntegerTupleSketch.from_longs(
            np.arange(400, 1200), np.full(800, 5, np.int64)
        )
    )))
    jres = ju.getResult()
    mu = TW.deserialize(_jblob(ja)).union(
        TW.IntegerTupleSketch.from_longs(
            np.arange(400, 1200), np.full(800, 5, np.int64)
        )
    )
    assert jres.getRetainedEntries() == mu.hashes.size == 1200
    it, jtot = jres.iterator(), 0
    while it.next():
        jtot += it.getSummary().getValue()
    assert jtot == mu.sum_values() == 800 * 3 + 800 * 5


def test_tuple_sql_surface(spark):
    """DISTINCTCOUNTTUPLESKETCH / SUMVALUES / AVGVALUE / RAW over a
    migrated BYTES column of per-segment sketches; exact regime so the
    answers are oracle-checkable from the raw rows."""
    import pandas as pd

    from apache_pinot_spark.sqlfront import PinotEngine

    segs = []
    for seg in range(4):
        keys = np.arange(seg * 500, seg * 500 + 1000)  # overlapping ranges
        vals = np.full(1000, seg + 1, np.int64)
        segs.append(
            ("g0" if seg < 2 else "g1",
             TW.serialize(TW.IntegerTupleSketch.from_longs(keys, vals)))
        )
    df = spark.createDataFrame(
        pd.DataFrame(segs, columns=["g", "user_engagement_sketch"])
    )
    eng = PinotEngine(spark)
    eng.register("tuple_t", df)
    eng.apply_sketch_columns({"user_engagement_sketch": "tuple"})
    row = eng.sql(
        "SELECT DISTINCTCOUNTTUPLESKETCH(user_engagement_sketch) AS dc, "
        "SUMVALUESINTEGERSUMTUPLESKETCH(user_engagement_sketch) AS sv, "
        "AVGVALUEINTEGERSUMTUPLESKETCH(user_engagement_sketch) AS av "
        "FROM tuple_t"
    ).collect()[0]
    # keys 0..2499 distinct; every per-segment value lands in the sum
    assert row["dc"] == 2500
    assert row["sv"] == 1000 * (1 + 2 + 3 + 4)
    assert row["av"] == pytest.approx(row["sv"] / 2500)
    raw_hex = eng.sql(
        "SELECT DISTINCTCOUNTRAWINTEGERSUMTUPLESKETCH(user_engagement_sketch)"
        " AS blob FROM tuple_t WHERE g = 'g0'"
    ).collect()[0]["blob"]
    merged = TW.deserialize(bytes.fromhex(raw_hex))
    assert merged.hashes.size == 1500  # keys 0..1499
    assert merged.sum_values() == 1000 * 1 + 1000 * 2
    # raw (unregistered) column: exact distinct stance
    eng.register("plain_t", spark.range(100).withColumnRenamed("id", "uid"))
    assert (
        eng.sql(
            "SELECT DISTINCTCOUNTTUPLESKETCH(uid) AS dc FROM plain_t"
        ).collect()[0]["dc"]
        == 100
    )
    with pytest.raises(ValueError):
        eng.rewrite("SELECT SUMVALUESINTEGERSUMTUPLESKETCH(uid) FROM plain_t")
