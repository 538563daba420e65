"""End-to-end migration drill: ONE table carrying every sketch-column
kind a migrating Pinot user could hold — built by the REAL producing
libraries where they exist in this container (datasketches-java,
RoaringBitmap, Spark's native theta_sketch_agg and hll_sketch_agg) and by
the byte-golden builders elsewhere — declared in ONE sketchColumns
config, queried together (the pandas-UDF kinds in one statement, the two
native kinds in another), every answer checked against the exact ground
truth.

This is MIGRATION.md's fidelity table as a single executable check."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from apache_pinot_spark.sqlfront import PinotEngine

pytestmark = pytest.mark.slow  # excluded from the default driver-verify lane (see pytest.ini)

N_SEG = 4
PER_SEG = 2_000
OVERLAP = 500  # consecutive segments share this many users


def _seg_users(seg: int) -> np.ndarray:
    start = seg * (PER_SEG - OVERLAP)
    return np.arange(start, start + PER_SEG)


@pytest.fixture(scope="module")
def drill(spark):
    from apache_pinot_spark.functions import bitmap_wire as BW
    from apache_pinot_spark.functions import hll_clearspring as CS
    from apache_pinot_spark.functions import kll_wire as KW
    from apache_pinot_spark.functions import tuple_wire as TW

    jvm = spark._jvm
    try:
        jvm.org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(8)
        have_jars = True
    except Exception:
        have_jars = False

    rng = np.random.default_rng(7)
    rows = []
    lats = []
    for seg in range(N_SEG):
        users = _seg_users(seg)
        lat = rng.normal(100 + seg, 10, users.size)
        # tuple: engagement=1 per user
        tuple_b = TW.serialize(
            TW.IntegerTupleSketch.from_longs(users, np.ones(users.size, np.int64))
        )
        # bitmap: byte-exact roaring
        bitmap_b = BW.serialize(BW.RoaringBitmap32.from_values(users))
        # kll over latencies: REAL library sketch when jars exist
        if have_jars:
            sk = jvm.org.apache.datasketches.kll.KllDoublesSketch.newHeapInstance(200)
            for v in lat:
                sk.update(float(v))
            kll_b = bytes(x & 0xFF for x in sk.toByteArray())
        else:
            kll_b = KW.build_kll_doubles(lat, 200)
        # clearspring HLL: our byte-identical builder
        cs = CS.ClearspringHLL(log2m=11)
        cs.offer_values(pd.Series(users))
        cs_b = cs.serialize()
        rows.append((seg, tuple_b, bitmap_b, kll_b, cs_b))
        lats.append(lat)
    pdf = pd.DataFrame(
        rows,
        columns=["seg", "u_tuple", "u_bitmap", "lat_kll", "u_cshll"],
    )
    df = spark.createDataFrame(pdf)
    # theta and ds_hll built by Spark's own native aggregates from the
    # raw users (theta_sketch_agg writes the compressed serial-4 blob)
    raw = spark.createDataFrame(
        pd.DataFrame(
            [(seg, int(u)) for seg in range(N_SEG) for u in _seg_users(seg)],
            columns=["seg", "uid"],
        )
    )
    ds = raw.groupBy("seg").agg(
        F.expr("theta_sketch_agg(uid)").alias("u_theta"),
        F.expr("hll_sketch_agg(uid)").alias("u_dshll"),
    )
    eng = PinotEngine(spark)
    eng.register("drill", df.join(ds, "seg"))
    eng.apply_sketch_columns(
        {
            "u_theta": "theta",
            "u_tuple": "tuple",
            "u_bitmap": "bitmap",
            "lat_kll": "kll",
            "u_cshll": "hll_clearspring",
            "u_dshll": "datasketches_hll",
        }
    )
    truth_users = np.unique(np.concatenate([_seg_users(s) for s in range(N_SEG)]))
    truth_lat = np.concatenate(lats)
    return eng, truth_users.size, truth_lat, have_jars


def test_every_kind_in_one_statement(drill):
    eng, n_users, lat, _ = drill
    # all pandas-UDF-served kinds together in ONE statement; the two
    # native-aggregate kinds, theta and ds_hll, together in another
    # (Spark does not allow grouped-agg pandas UDFs and native
    # aggregates in one SELECT — noted on the datasketches_hll entry of
    # sqlfront.SKETCH_KINDS)
    row = eng.sql(
        "SELECT DISTINCTCOUNTTUPLESKETCH(u_tuple) AS tp, "
        "SUMVALUESINTEGERSUMTUPLESKETCH(u_tuple) AS sv, "
        "DISTINCTCOUNTBITMAP(u_bitmap) AS bm, "
        "PERCENTILEKLL(lat_kll, 50) AS p50, "
        "DISTINCTCOUNTHLL(u_cshll) AS cs "
        "FROM drill"
    ).collect()[0]
    assert row["tp"] == n_users  # tuple default nominal 16384: exact
    # every per-segment engagement lands in the sum (overlap users twice)
    assert row["sv"] == N_SEG * PER_SEG
    assert row["bm"] == n_users  # bitmap is exact by construction
    true_p50 = float(np.quantile(lat, 0.5, method="inverted_cdf"))
    assert row["p50"] == pytest.approx(true_p50, abs=2.0)
    assert row["cs"] == pytest.approx(n_users, rel=0.05)
    native = eng.sql(
        "SELECT DISTINCTCOUNTTHETASKETCH(u_theta) AS t, "
        "DISTINCTCOUNTHLL(u_dshll) AS ds FROM drill"
    ).collect()[0]
    # theta's default nominal (4096) < 6500 distinct -> estimation mode
    assert native["t"] == pytest.approx(n_users, rel=0.03)
    assert native["ds"] == pytest.approx(n_users, rel=0.05)


def test_raw_forms_reload_everywhere(drill, spark):
    """The RAW merged blobs keep working downstream: theta re-estimates
    via Spark's own theta_sketch_estimate, bitmap re-parses, kll
    heapifies in the library."""
    from apache_pinot_spark.functions import bitmap_wire as BW
    from apache_pinot_spark.functions import kll_wire as KW

    eng, n_users, lat, have_jars = drill
    t = eng.sql("SELECT DISTINCTCOUNTRAWTHETASKETCH(u_theta) AS t FROM drill").collect()[0]["t"]
    row = eng.sql(
        "SELECT DISTINCTCOUNTRAWBITMAP(u_bitmap) AS bm, "
        "PERCENTILERAWKLL(lat_kll) AS kl "
        "FROM drill"
    ).collect()[0]
    est = spark.sql(f"SELECT theta_sketch_estimate(unhex('{t}'))").collect()[0][0]
    assert est == pytest.approx(n_users, rel=0.03)
    assert BW.deserialize(bytes.fromhex(row["bm"])).cardinality() == n_users
    merged = KW.parse_kll_doubles(bytes.fromhex(row["kl"]))
    assert merged.n == lat.size
    if have_jars:
        # jar present: a heapify failure here is a REAL wire regression
        jvm = spark._jvm
        mem = jvm.org.apache.datasketches.memory.Memory.wrap(
            bytearray(bytes.fromhex(row["kl"]))
        )
        h = jvm.org.apache.datasketches.kll.KllDoublesSketch.heapify(mem)
        assert h.getN() == lat.size
