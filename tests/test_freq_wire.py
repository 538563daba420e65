"""DataSketches frequencies wire interop (functions/freq_wire.py):
parse/estimates/bounds/top-k pinned against the REAL library, merged
blobs heapify back in it, hostile-blob validation, and the
FREQUENT*SKETCH SQL surface over migrated BYTES columns."""

from __future__ import annotations

import struct

import pytest

from apache_pinot_spark.functions import freq_wire as FW


def _jvm(spark):
    jvm = spark._jvm
    try:
        jvm.org.apache.datasketches.frequencies.LongsSketch(8)
    except Exception:
        pytest.skip("datasketches-java not on the Spark classpath")
    return jvm


def test_parse_matches_library_estimates(spark):
    """Every stored item's estimate / lower / upper and the
    NO_FALSE_POSITIVES list must match the library exactly, in the
    purged (offset > 0) regime too."""
    jvm = _jvm(spark)
    LS = jvm.org.apache.datasketches.frequencies.LongsSketch
    sk = LS(8)
    for v in list(range(100)) * 2:
        sk.update(v)
    sk.update(7, 500)
    blob = bytes(x & 0xFF for x in sk.toByteArray())
    mine = FW.parse_longs_sketch(blob)
    assert mine.stream_length == sk.getStreamLength()
    assert mine.offset == sk.getMaximumError()
    for item in list(mine.counts) + [999_999]:
        assert mine.estimate(item) == sk.getEstimate(item)
        assert mine.lower_bound(item) == sk.getLowerBound(item)
        assert mine.upper_bound(item) == sk.getUpperBound(item)
    ET = jvm.org.apache.datasketches.frequencies.ErrorType
    jrows = sk.getFrequentItems(ET.NO_FALSE_POSITIVES)
    want = [(r.getItem(), r.getEstimate(), r.getLowerBound(), r.getUpperBound())
            for r in jrows]
    assert FW.parse_longs_sketch(blob).frequent_items(True) == want


def test_strings_sketch_round_trip_with_library(spark):
    jvm = _jvm(spark)
    IS = jvm.org.apache.datasketches.frequencies.ItemsSketch
    serde = jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()
    sk = IS(64)
    for v in ["a"] * 5 + ["b"] * 3 + ["c", "naïve✓"]:  # non-ASCII too
        sk.update(v)
    blob = bytes(x & 0xFF for x in sk.toByteArray(serde))
    mine = FW.parse_strings_sketch(blob)
    assert mine.counts == {"a": 5, "b": 3, "c": 1, "naïve✓": 1}
    for item in ["a", "b", "naïve✓", "zzz"]:
        assert mine.estimate(item) == sk.getEstimate(item)
    # our re-serialization heapifies in the library with equal answers
    Mem = jvm.org.apache.datasketches.memory.Memory
    back = IS.getInstance(Mem.wrap(bytearray(FW.serialize_strings_sketch(mine))), serde)
    for item in ["a", "b", "c", "naïve✓", "zzz"]:
        assert back.getEstimate(item) == sk.getEstimate(item)


def test_merged_blob_heapifies_in_library(spark):
    """Segment blobs built by the library, merged HERE (count-space, no
    re-purge), re-serialized — the library loads the merged blob and
    answers with our (tighter-or-equal) counts; bounds stay valid
    against the true stream."""
    jvm = _jvm(spark)
    LS = jvm.org.apache.datasketches.frequencies.LongsSketch
    true_counts: dict[int, int] = {}
    blobs = []
    for seg in range(3):
        sk = LS(16)
        vals = [seg * 3 + (i % (10 + seg)) for i in range(300)] + [42] * 100
        for v in vals:
            sk.update(v)
            true_counts[v] = true_counts.get(v, 0) + 1
        blobs.append(bytes(x & 0xFF for x in sk.toByteArray()))
    merged = FW.merge_blobs(blobs, "longs")
    assert merged.stream_length == sum(true_counts.values())
    for item, true in true_counts.items():
        assert merged.lower_bound(item) <= true <= merged.upper_bound(item)
    # 42 is the global heavy hitter and must head the NFP list
    top = merged.frequent_items(True)
    assert top and top[0][0] == 42
    Mem = jvm.org.apache.datasketches.memory.Memory
    back = LS.getInstance(Mem.wrap(bytearray(FW.serialize_longs_sketch(merged))))
    assert back.getStreamLength() == merged.stream_length
    assert back.getEstimate(42) == merged.estimate(42)


def test_hostile_blob_validation():
    with pytest.raises(ValueError, match="too short"):
        FW.parse_longs_sketch(b"\x04")
    with pytest.raises(ValueError, match="family"):
        FW.parse_longs_sketch(struct.pack("<BBBBBBH", 4, 1, 3, 6, 3, 0, 0))
    with pytest.raises(ValueError, match="serial version"):
        FW.parse_longs_sketch(struct.pack("<BBBBBBH", 4, 9, 10, 6, 3, 0, 0))
    neg = struct.pack("<BBBBBBH", 4, 1, 10, 6, 3, 0, 0) + struct.pack(
        "<iiqq", -1, 0, 5, 0
    )
    with pytest.raises(ValueError, match="negative"):
        FW.parse_longs_sketch(neg)
    trunc = struct.pack("<BBBBBBH", 4, 1, 10, 6, 3, 0, 0) + struct.pack(
        "<iiqq", 4, 0, 5, 0
    )
    with pytest.raises(ValueError, match="truncated"):
        FW.parse_longs_sketch(trunc)
    # string item with absurd length
    bad = struct.pack("<BBBBBBH", 4, 1, 10, 6, 3, 0, 0)
    bad += struct.pack("<iiqq", 1, 0, 1, 0) + struct.pack("<q", 1)
    bad += struct.pack("<i", 1 << 30)
    with pytest.raises(ValueError, match="truncated in item"):
        FW.parse_strings_sketch(bad)
    with pytest.raises(ValueError, match="no frequencies blobs"):
        FW.merge_blobs([None], "longs")


def test_sql_surface_over_migrated_columns(spark):
    """FREQUENTSTRINGSSKETCH over a registered wire BYTES column merges
    and returns a WIRE blob (hex) the reference library can load —
    existing client code keeps working after migration."""
    from apache_pinot_spark.sqlfront import PinotEngine

    jvm = _jvm(spark)
    IS = jvm.org.apache.datasketches.frequencies.ItemsSketch
    serde = jvm.org.apache.datasketches.common.ArrayOfStringsSerDe()

    def jblob(values):
        sk = IS(64)
        for v in values:
            sk.update(v)
        return bytes(x & 0xFF for x in sk.toByteArray(serde))

    segs = [["x"] * 9 + ["y"] * 2, ["x"] * 4 + ["z"], ["y"] * 3]
    df = spark.createDataFrame(
        [(i, jblob(s)) for i, s in enumerate(segs)], "seg int, fi binary"
    )
    eng = PinotEngine(spark)
    eng.register("seg_fi", df)
    eng.apply_sketch_columns({"fi": "freq_strings"})
    hexblob = eng.sql(
        "SELECT FREQUENTSTRINGSSKETCH(fi) AS s FROM seg_fi"
    ).collect()[0]["s"]
    merged = FW.parse_strings_sketch(bytes.fromhex(hexblob))
    assert merged.counts == {"x": 13, "y": 5, "z": 1}
    Mem = jvm.org.apache.datasketches.memory.Memory
    back = IS.getInstance(Mem.wrap(bytearray(bytes.fromhex(hexblob))), serde)
    assert back.getEstimate("x") == 13 and back.getEstimate("y") == 5
    with pytest.raises(ValueError, match="unknown sketch kind"):
        eng.apply_sketch_columns({"fi": "freq_floats"})


def test_all_null_group_returns_null(spark):
    from apache_pinot_spark.sqlfront import PinotEngine

    eng = PinotEngine(spark)
    eng.register(
        "fi_holes",
        spark.createDataFrame([(1, None)], "g int, fi binary"),
    )
    eng.apply_sketch_columns({"fi": "freq_strings"})
    got = eng.sql(
        "SELECT FREQUENTSTRINGSSKETCH(fi) AS s FROM fi_holes LIMIT 1"
    ).collect()[0]["s"]
    assert got is None
