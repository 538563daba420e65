"""Pinot IdSet wire interop (functions/idset_wire.py): the type-tagged
ID_SET carrier — EMPTY / ROARING_BITMAP / ROARING_64_NAVIGABLE_MAP —
with the Roaring64NavigableMap layout byte-validated against the
RoaringBitmap-1.3.0 jar, the bloom type an explicit documented no, and
the ID_SET → IN_ID_SET SQL round trip emitting/accepting the Pinot
carrier for integer columns."""

from __future__ import annotations

import base64

import numpy as np
import pytest

from apache_pinot_spark.functions import idset_wire as IW


def _jser64(jvm, vals) -> bytes:
    bm = jvm.org.roaringbitmap.longlong.Roaring64NavigableMap()
    for v in vals:
        bm.addLong(v)
    baos = jvm.java.io.ByteArrayOutputStream()
    bm.serialize(jvm.java.io.DataOutputStream(baos))
    return bytes(x & 0xFF for x in baos.toByteArray())


def test_idset_carriers_roundtrip():
    # empty
    assert IW.parse_idset(IW.serialize_idset(np.zeros(0, np.int64))).size == 0
    assert IW.serialize_idset(np.zeros(0, np.int64)) == b"\x00"
    # int32 range -> type 1 (roaring32), negatives wrap and come back
    vals = np.array([-5, 0, 7, 2**31 - 1, -(2**31)], np.int64)
    blob = IW.serialize_idset(vals)
    assert blob[0] == IW.TYPE_ROARING
    assert set(IW.parse_idset(blob).tolist()) == set(vals.tolist())
    # beyond int32 -> type 2 (roaring64), signed round trip
    vals64 = np.array([-7, 3, 2**40, -(2**40), 2**33 + 1], np.int64)
    blob64 = IW.serialize_idset(vals64)
    assert blob64[0] == IW.TYPE_ROARING64
    got = IW.parse_idset(blob64)
    assert set(got.tolist()) == set(vals64.tolist())


def test_hostile_idset_payloads():
    with pytest.raises(ValueError):
        IW.parse_idset(b"")
    with pytest.raises(ValueError):
        IW.parse_idset(b"\x00\x01")  # EMPTY with trailing bytes
    with pytest.raises(ValueError, match="BLOOM_FILTER"):
        IW.parse_idset(b"\x03somebloomstate")
    with pytest.raises(ValueError, match="unknown IdSet type"):
        IW.parse_idset(b"\x09")
    with pytest.raises(ValueError):
        IW.parse_idset(b"\x02\x00\xff\xff\xff\xff")  # negative bucket count
    # trailing garbage after the last roaring64 bucket
    good = IW.serialize_idset(np.array([2**40], np.int64))
    with pytest.raises(ValueError, match="trailing"):
        IW.parse_idset(good + b"\x00")


def test_roaring64_byte_parity_with_java(spark):
    jvm = spark._jvm
    try:
        jvm.org.roaringbitmap.longlong.Roaring64NavigableMap()
    except Exception:
        pytest.skip("RoaringBitmap jar not on the Spark classpath")
    import random

    r = random.Random(5)
    cases = [
        [0],
        [1, 2, 1 << 40],
        [-5, 7],
        [2**33, 2**33 + 1],
        sorted(r.randrange(-(2**62), 2**62) for _ in range(500)),
        list(range(10_000)) + [2**50 + i for i in range(200)],
    ]
    for vals in cases:
        mine = IW.serialize_roaring64(np.array(vals, np.int64))
        assert mine == _jser64(jvm, vals), vals[:4]
        got = IW.parse_roaring64(mine)
        assert set(got.tolist()) == set(vals)


def test_id_set_sql_emits_pinot_carrier_for_ints(spark):
    """ID_SET over an integer column must produce a blob a real Pinot
    deployment's IN_ID_SET could consume (type-tagged roaring wire),
    and our IN_ID_SET must accept both that and a blob generated BY
    Pinot (simulated with the Java libraries)."""
    import pandas as pd

    from apache_pinot_spark.sqlfront import PinotEngine

    eng = PinotEngine(spark)
    eng.register(
        "ids_t",
        spark.createDataFrame(
            pd.DataFrame({"uid": [1, 2, 3, 2, 1, 40, -7], "big": [2**40 + i for i in range(7)]})
        ),
    )
    blob = eng.sql("SELECT ID_SET(uid) AS s FROM ids_t").collect()[0]["s"]
    raw = base64.b64decode(blob)
    assert raw[0] == IW.TYPE_ROARING
    assert set(IW.parse_idset(raw).tolist()) == {1, 2, 3, 40, -7}
    n = eng.sql(
        f"SELECT COUNT(*) AS c FROM ids_t WHERE IN_ID_SET(uid, '{blob}')"
    ).collect()[0]["c"]
    assert n == 7
    # long column -> type 2
    blob64 = eng.sql("SELECT ID_SET(big) AS s FROM ids_t").collect()[0]["s"]
    assert base64.b64decode(blob64)[0] == IW.TYPE_ROARING64
    assert (
        eng.sql(
            f"SELECT COUNT(*) AS c FROM ids_t WHERE IN_ID_SET(big, '{blob64}')"
        ).collect()[0]["c"]
        == 7
    )
    # a foreign (java-built) idset filters here too
    try:
        jvm = spark._jvm
        jblob = bytes([IW.TYPE_ROARING64]) + _jser64(jvm, [1, 40])
    except Exception:
        jblob = bytes([IW.TYPE_ROARING64]) + IW.serialize_roaring64(
            np.array([1, 40], np.int64)
        )
    foreign = base64.b64encode(jblob).decode()
    assert (
        eng.sql(
            f"SELECT COUNT(*) AS c FROM ids_t WHERE IN_ID_SET(uid, '{foreign}')"
        ).collect()[0]["c"]
        == 3  # uid values 1, 1, 40
    )
    # malformed bloom payloads fail at REWRITE time, not in tasks
    bloom = base64.b64encode(b"\x03xxxx").decode()
    with pytest.raises(ValueError, match="bloom"):
        eng.rewrite(f"SELECT COUNT(*) FROM ids_t WHERE IN_ID_SET(uid, '{bloom}')")


_OUTSIDE_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from apache_pinot_spark.session import get_spark, local_frame
from apache_pinot_spark.sqlfront import PinotEngine
if {vanilla}:
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.driver.memory", "1g").getOrCreate())
else:
    spark = get_spark("id-set-outside-repo", cpus=1)
eng = PinotEngine(spark)
eng.register("t", local_frame(spark, [(1,), (2,), (2,), (40,)], "uid bigint"))
print(eng.sql("SELECT ID_SET(uid) AS s FROM t").collect()[0]["s"])
spark.stop()
"""


@pytest.mark.parametrize("vanilla", [False, True], ids=["get_spark", "vanilla"])
def test_id_set_runs_from_outside_the_repo(tmp_path, vanilla):
    """A driver that finds the package on its own ``sys.path`` and runs
    from another directory: the ID_SET pandas UDF imports the package
    inside the Python worker, which starts in that directory, so the
    session has to put the package on the worker path — whether
    ``get_spark`` built it or the driver did."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(IW.__file__).resolve().parents[2])
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and Path(p).resolve() != Path(repo))
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_SCRIPT.format(repo=repo, vanilla=vanilla)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    blob = out.stdout.strip().splitlines()[-1]
    assert set(IW.parse_idset(base64.b64decode(blob)).tolist()) == {1, 2, 40}


@pytest.mark.parametrize("col", ["uid", "name"])
def test_in_id_set_compared_to_one_and_zero(spark, col):
    """Pinot documents the filter as ``IN_ID_SET(col, '<blob>') = 1``
    (``= 0`` for non-members); both comparisons and the bare predicate
    work on the integer carrier (``uid``) and the JSON carrier
    (``name``). A NULL key matches neither ``= 1`` nor ``= 0``, against
    an empty set too: ``= 0`` keeps SQL's three-valued logic, like
    ``col NOT IN (...)``."""
    from apache_pinot_spark.session import local_frame
    from apache_pinot_spark.sqlfront import PinotEngine

    eng = PinotEngine(spark)
    eng.register(
        "idset_cmp_t",
        local_frame(spark, [(1, "a"), (2, "b"), (3, "c"), (None, None)],
                    "uid bigint, name string"),
    )
    blob = eng.sql(
        f"SELECT ID_SET({col}) AS s FROM idset_cmp_t WHERE uid < 3"
    ).collect()[0]["s"]
    lead = base64.b64decode(blob)[:1]
    assert lead == (bytes([IW.TYPE_ROARING]) if col == "uid" else b"[")

    def uids(where):
        rows = eng.sql(f"SELECT uid FROM idset_cmp_t WHERE {where}").collect()
        return sorted(r.uid for r in rows)

    call = f"IN_ID_SET({col}, '{blob}')"
    assert uids(call) == [1, 2]
    assert uids(f"{call} = 1") == [1, 2]
    assert uids(f"{call}=0") == [3]  # the NULL key is in neither result
    assert uids(f"{call} = 0 OR uid = 1") == [1, 3]
    empty_blob = base64.b64encode(b"\x00" if col == "uid" else b"[]").decode()
    empty = f"IN_ID_SET({col}, '{empty_blob}')"
    assert uids(empty) == [] and uids(f"{empty} = 0") == [1, 2, 3]
    hits = eng.sql(
        f"SELECT uid, {call} = 1 AS hit FROM idset_cmp_t"
    ).collect()
    assert {r.uid: r.hit for r in hits} == {1: True, 2: True, 3: False, None: None}


def test_id_set_int_column_with_nulls_keeps_wire_carrier(spark):
    """Regression: Arrow ships an int64 column containing NULLs to the
    grouped-agg UDF as float64 — the dispatch must follow typeof(), not
    the pandas dtype, or the carrier silently flips to JSON with
    '1.0'-formatted values that match nothing."""
    import base64

    from apache_pinot_spark.sqlfront import PinotEngine

    eng = PinotEngine(spark)
    eng.register(
        "ids_nulls",
        spark.createDataFrame(
            [(1,), (2,), (None,), (2,)], "uid bigint"
        ),
    )
    blob = eng.sql("SELECT ID_SET(uid) AS s FROM ids_nulls").collect()[0]["s"]
    raw = base64.b64decode(blob)
    assert raw[0] == IW.TYPE_ROARING  # wire carrier despite the NULL
    assert set(IW.parse_idset(raw).tolist()) == {1, 2}
    n = eng.sql(
        f"SELECT COUNT(*) AS c FROM ids_nulls WHERE IN_ID_SET(uid, '{blob}')"
    ).collect()[0]["c"]
    assert n == 3  # the NULL row does not match; 1,2,2 do


def test_bloom_idset_guava_parity_and_sql(spark):
    """BLOOM_FILTER IdSets (type 3): membership parity with the REAL
    Guava BloomFilter on Spark's classpath — identical mightContain
    verdicts for members AND a probe range of non-members (false
    positives included) — plus the approximate IN_ID_SET SQL path."""
    jvm = spark._jvm
    try:
        funnel = jvm.com.google.common.hash.Funnels.longFunnel()
        bf = jvm.com.google.common.hash.BloomFilter.create(funnel, 500, 0.03)
    except Exception:
        pytest.skip("guava not on the Spark classpath")
    # py4j re-boxes small java.lang.Long back to Integer, which the
    # long funnel rejects — use values outside int32 so boxing stays
    # Long on the wire (the hash path under test is identical)
    base = 1 << 40
    members = [base + 3, base + 41, base + 500_000, 2**50 + 7, -base - 9]
    for v in members:
        bf.put(v)
    baos = jvm.java.io.ByteArrayOutputStream()
    bf.writeTo(baos)
    payload = bytes([IW.TYPE_BLOOM]) + bytes(
        x & 0xFF for x in baos.toByteArray()
    )
    probes = members + [base + i for i in range(1000, 1300)] + [-(2**35), 2**51]
    ours = IW.bloom_might_contain(payload, np.array(probes, np.int64))
    theirs = [bool(bf.mightContain(v)) for v in probes]
    assert ours.tolist() == theirs  # exact verdict parity, FPs included
    assert all(ours[: len(members)])  # never a false negative
    # SQL path: approximate filter through IN_ID_SET
    import base64 as _b64

    from apache_pinot_spark.sqlfront import PinotEngine

    eng = PinotEngine(spark)
    eng.register(
        "bloom_t",
        spark.createDataFrame([(v,) for v in probes], "uid long"),
    )
    b64 = _b64.b64encode(payload).decode()
    got = {
        r["uid"]
        for r in eng.sql(
            f"SELECT uid FROM bloom_t WHERE IN_ID_SET(uid, '{b64}')"
        ).collect()
    }
    want = {v for v, hit in zip(probes, theirs) if hit}
    assert got == want
    # hostile: wrong strategy ordinal / truncated payload
    with pytest.raises(ValueError, match="strategy"):
        IW.parse_bloom(b"\x02\x03" + b"\x00" * 12)
    with pytest.raises(ValueError):
        IW.parse_bloom(b"\x01\x03\x00\x00\x00\x02" + b"\x00" * 9)


def test_bloom_build_byte_parity_and_fallback(spark):
    """WRITE side of the bloom fallback: build_bloom must be
    byte-identical to Guava create(longFunnel, n, fpp) + put* + writeTo
    for the same inserts (the sizing formulas and hash path are
    deterministic), and ID_SET with a small sizeThresholdInBytes must
    emit a type-3 blob that IN_ID_SET then serves approximately."""
    import base64 as _b64

    jvm = spark._jvm
    try:
        funnel = jvm.com.google.common.hash.Funnels.longFunnel()
    except Exception:
        pytest.skip("guava not on the Spark classpath")
    base = 1 << 40
    vals = np.array([base + i * 7 for i in range(1, 400)], np.int64)
    for n, fpp in ((500, 0.03), (1000, 0.01), (100, 0.2)):
        jbf = jvm.com.google.common.hash.BloomFilter.create(funnel, n, float(fpp))
        for v in vals:
            jbf.put(int(v))
        baos = jvm.java.io.ByteArrayOutputStream()
        jbf.writeTo(baos)
        jbytes = bytes(x & 0xFF for x in baos.toByteArray())
        ours = IW.build_bloom(vals, n, fpp)
        assert ours == bytes([IW.TYPE_BLOOM]) + jbytes, (n, fpp)
    # SQL: a tiny threshold forces the bloom fallback; members always
    # match through IN_ID_SET (no false negatives)
    from apache_pinot_spark.sqlfront import PinotEngine

    eng = PinotEngine(spark)
    eng.register(
        "bloom_build_t",
        spark.createDataFrame([(int(v),) for v in vals], "uid long"),
    )
    blob = eng.sql(
        "SELECT ID_SET(uid, 'sizeThresholdInBytes=64;"
        "expectedInsertions=1000;fpp=0.01') AS s FROM bloom_build_t"
    ).collect()[0]["s"]
    assert _b64.b64decode(blob)[0] == IW.TYPE_BLOOM
    n = eng.sql(
        f"SELECT COUNT(*) AS c FROM bloom_build_t WHERE IN_ID_SET(uid, '{blob}')"
    ).collect()[0]["c"]
    assert n == len(vals)  # every member matches
    # default threshold: stays exact
    blob2 = eng.sql("SELECT ID_SET(uid) AS s FROM bloom_build_t").collect()[0]["s"]
    assert _b64.b64decode(blob2)[0] == IW.TYPE_ROARING64
    with pytest.raises(ValueError, match="unknown option"):
        eng.rewrite("SELECT ID_SET(uid, 'bogus=1') FROM bloom_build_t")


def test_precision_beyond_2_53_with_nulls(spark):
    """Regression (review finding, reproduced live): a null-bearing
    bigint batch reaches pandas as float64, rounding values beyond 2^53
    — the STRING transport keeps ID_SET carriers and bloom membership
    EXACT for values like 2^60 + 1."""
    import base64 as _b64

    from apache_pinot_spark.sqlfront import PinotEngine

    big = (1 << 60) + 1
    eng = PinotEngine(spark)
    eng.register(
        "big_nulls",
        spark.createDataFrame([(big,), (None,), (big + 2,)], "uid bigint"),
    )
    blob = eng.sql("SELECT ID_SET(uid) AS s FROM big_nulls").collect()[0]["s"]
    got = set(IW.parse_idset(_b64.b64decode(blob)).tolist())
    assert got == {big, big + 2}  # exact, not 2^60 / 2^60+2
    n = eng.sql(
        f"SELECT COUNT(*) AS c FROM big_nulls WHERE IN_ID_SET(uid, '{blob}')"
    ).collect()[0]["c"]
    assert n == 2
    # bloom path: member with NULL in the batch still matches
    bloom = _b64.b64encode(IW.build_bloom(
        np.array([big], np.int64), 100, 0.01
    )).decode()
    rows = {
        r["uid"]: r["hit"]
        for r in eng.sql(
            f"SELECT uid, IN_ID_SET(uid, '{bloom}') AS hit FROM big_nulls"
        ).collect()
    }
    assert rows[big] is True  # no false negative
    assert rows[None] is None  # NULL stays NULL, like the exact path


def test_vectorized_murmur_matches_scalar_reference():
    from apache_pinot_spark.functions.theta_wire import murmur3_x64_128
    import struct as _s

    rng = np.random.default_rng(31)
    vals = rng.integers(-(2**63), 2**63 - 1, 500, dtype=np.int64)
    h1v, h2v = IW._murmur_pair_longs(vals)
    for i in (0, 1, 7, 499):
        h1, h2 = murmur3_x64_128(_s.pack("<q", int(vals[i])), 0)
        assert int(h1v[i]) == h1 and int(h2v[i]) == h2
