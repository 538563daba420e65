"""DataSketches CPC wire interop (functions/cpc_wire.py) — golden-tested
against datasketches-java 6.2.0 on Spark's classpath:

  * the embedded constant tables equal the library's (and our DERIVED
    decoding tables equal the library's derived ones),
  * estimates are library-exact (HIP and ICON) across every flavor
    (EMPTY / SPARSE / HYBRID / PINNED / SLIDING) and lgK extremes,
  * our re-serialized merged blobs are BYTE-IDENTICAL to the jar's own
    CpcUnion results and heapify in the jar,
  * unions (incl. cross-lgK downsampling) match the jar's estimates,
  * the DISTINCTCOUNTCPCSKETCH / DISTINCTCOUNTRAWCPCSKETCH SQL surface
    merges registered BYTES columns end-to-end.
"""

from __future__ import annotations

import pytest

from apache_pinot_spark.functions import cpc_wire as W

pytestmark = pytest.mark.slow  # excluded from the default driver-verify lane (see pytest.ini)

LGKS = (4, 10, 11)
SIZES = (0, 1, 3, 17, 120, 600, 900, 1500, 5000, 60000)


def _ds(spark):
    return spark._jvm.org.apache.datasketches


def _jsketch(spark, n, lgk=11, start=0):
    sk = _ds(spark).cpc.CpcSketch(lgk)
    for i in range(start, start + n):
        sk.update(i)
    return sk


def _heapify(spark, blob: bytes):
    mem = _ds(spark).memory.Memory.wrap(bytearray(blob))
    return _ds(spark).cpc.CpcSketch.heapify(mem)


def _jar_union_blob(spark, sketches, lgk):
    u = _ds(spark).cpc.CpcUnion(lgk)
    for sk in sketches:
        u.update(sk)
    return bytes(u.getResult().toByteArray()), u.getResult().getEstimate()


def test_constant_tables_match_library(spark):
    """The embedded tables are the library's own; the decoding tables we
    DERIVE from the encoding tables equal the ones the library derives."""
    jvm = spark._jvm
    cls = jvm.java.lang.Class.forName("org.apache.datasketches.cpc.CompressionData")
    fields = {}
    for f in cls.getDeclaredFields():
        f.setAccessible(True)
        fields[f.getName()] = f.get(None)
    from apache_pinot_spark.functions import _cpc_tables as T

    def u16(rows):  # java shorts are signed; the embedded tables unsigned
        return [[x & 0xFFFF for x in t] for t in rows]

    assert u16(fields["encodingTablesForHighEntropyByte"]) == u16(
        T.ENCODING_TABLES_FOR_HIGH_ENTROPY_BYTE
    )
    assert [x & 0xFFFF for x in fields["lengthLimitedUnaryEncodingTable65"]] == [
        x & 0xFFFF for x in T.LENGTH_LIMITED_UNARY_ENCODING_TABLE_65
    ]
    assert [list(t) for t in fields["columnPermutationsForEncoding"]] == [
        list(t) for t in T.COLUMN_PERMUTATIONS_FOR_ENCODING
    ]
    # derived inverses == the library's own derived tables
    assert u16(fields["decodingTablesForHighEntropyByte"]) == u16(
        T.DECODING_TABLES_FOR_HIGH_ENTROPY_BYTE
    )
    assert [x & 0xFFFF for x in fields["lengthLimitedUnaryDecodingTable65"]] == [
        x & 0xFFFF for x in T.LENGTH_LIMITED_UNARY_DECODING_TABLE_65
    ]
    assert [list(t) for t in fields["columnPermutationsForDecoding"]] == [
        list(t) for t in T.COLUMN_PERMUTATIONS_FOR_DECODING
    ]
    icls = jvm.java.lang.Class.forName(
        "org.apache.datasketches.cpc.IconPolynomialCoefficients"
    )
    for f in icls.getDeclaredFields():
        f.setAccessible(True)
        if f.getName() == "iconPolynomialCoefficents":
            assert list(f.get(None)) == T.ICON_POLYNOMIAL_COEFFICIENTS


@pytest.mark.parametrize("lgk", LGKS)
def test_estimates_library_exact_across_flavors(spark, lgk):
    seen = set()
    for n in SIZES:
        sk = _jsketch(spark, n, lgk)
        st = W.parse(bytes(sk.toByteArray()))
        seen.add(st.flavor)
        # exact float equality: HIP read from the preamble, ICON shared math
        assert W.estimate(st) == sk.getEstimate(), (lgk, n, st.flavor)
        # the reconstructed coupon matrix carries exactly numCoupons bits
        assert (
            sum(r.bit_count() for r in W.to_bit_matrix(st)) == st.num_coupons
        ), (lgk, n)
    assert "SPARSE" in seen and "SLIDING" in seen  # the sweep covers flavors


@pytest.mark.parametrize("lgk", LGKS)
def test_merged_blob_byte_identical_to_jar_union(spark, lgk):
    for n in SIZES:
        sk = _jsketch(spark, n, lgk)
        matrix = W.to_bit_matrix(W.parse(bytes(sk.toByteArray())))
        ours = W.serialize(W.matrix_to_state(matrix, lgk))
        jref, jest = _jar_union_blob(spark, [sk], lgk)
        assert ours == jref, (lgk, n)
        assert _heapify(spark, ours).getEstimate() == jest


def test_multi_union_and_cross_lgk(spark):
    a = _jsketch(spark, 600, 11)
    b = _jsketch(spark, 50000, 11, start=500)
    blobs = [bytes(a.toByteArray()), bytes(b.toByteArray())]
    jblob, jest = _jar_union_blob(spark, [a, b], 11)
    assert W.merge_estimate(blobs) == jest
    assert W.merge_blobs(blobs) == jblob
    # cross-lgK: the union downsamples to the smaller K
    c = _jsketch(spark, 3000, 10)
    jblob2, jest2 = _jar_union_blob(spark, [a, c], 11)
    ours2 = W.merge_blobs([bytes(a.toByteArray()), bytes(c.toByteArray())])
    assert ours2 == jblob2
    assert W.merge_estimate([bytes(a.toByteArray()), bytes(c.toByteArray())]) == jest2


def test_single_unmerged_blob_keeps_hip_estimate(spark):
    sk = _jsketch(spark, 1234, 11)
    blob = bytes(sk.toByteArray())
    assert W.merge_estimate([blob]) == sk.getEstimate()  # HIP, not ICON


def test_hostile_blobs_raise(spark):
    sk = _jsketch(spark, 10, 11)
    blob = bytearray(sk.toByteArray())
    with pytest.raises(ValueError, match="too short"):
        W.parse(b"\x00\x01")
    bad = bytes(blob[:2]) + b"\x0f" + bytes(blob[3:])  # family != 16
    with pytest.raises(ValueError, match="family"):
        W.parse(bad)
    bad = bytes(blob[:6]) + b"\xff\xff"  # seed hash
    with pytest.raises(ValueError, match="seed hash"):
        W.parse(bad)


def test_sql_surface_registered_cpc_column(spark):
    """DISTINCTCOUNTCPCSKETCH over a registered BYTES column merges and
    estimates; the RAW form's hex blob heapifies in the jar with the
    same estimate; unregistered columns fall through to exact count."""
    from apache_pinot_spark.sqlfront import PinotEngine

    a = _jsketch(spark, 800, 11)  # grp 0
    b = _jsketch(spark, 1200, 11, start=400)  # grp 1 (single blob)
    c = _jsketch(spark, 50, 11, start=300)  # grp 0
    blobs = [
        (0, bytearray(bytes(a.toByteArray()))),
        (1, bytearray(bytes(b.toByteArray()))),
        (0, bytearray(bytes(c.toByteArray()))),
    ]
    df = spark.createDataFrame(blobs, "grp INT, cpc BINARY")
    eng = PinotEngine(spark)
    eng.register("cpc_tbl", df)
    eng.apply_sketch_columns({"cpc": "cpc"})
    rows = eng.sql(
        "SELECT grp, DISTINCTCOUNTCPCSKETCH(cpc) AS est, "
        "DISTINCTCOUNTRAWCPCSKETCH(cpc) AS raw "
        "FROM cpc_tbl GROUP BY grp ORDER BY grp"
    ).collect()
    assert len(rows) == 2
    # grp 0 (two blobs): estimate == the jar's own union estimate; the RAW
    # blob is byte-identical to the jar's union result
    jblob0, jest0 = _jar_union_blob(spark, [a, c], 11)
    assert rows[0].est == jest0
    assert bytes.fromhex(rows[0].raw) == jblob0
    # grp 1 (one blob): HIP parity with the original sketch — like the
    # library, only an actual union switches the estimator to ICON; the
    # RAW blob still heapifies with the union-of-one ICON estimate
    assert rows[1].est == b.getEstimate()
    jblob1, jest1 = _jar_union_blob(spark, [b], 11)
    assert bytes.fromhex(rows[1].raw) == jblob1
    assert _heapify(spark, bytes.fromhex(rows[1].raw)).getEstimate() == jest1


def test_sketch_columns_config_routes_cpc(spark):
    from apache_pinot_spark.sqlfront import PinotEngine

    sk = _jsketch(spark, 77, 11)
    df = spark.createDataFrame(
        [(1, bytearray(bytes(sk.toByteArray())))], "k INT, c BINARY"
    )
    eng = PinotEngine(spark)
    eng.register("cpc_cfg_tbl", df)
    eng.apply_sketch_columns({"c": "cpc"})
    row = eng.sql(
        "SELECT DISTINCTCOUNTCPCSKETCH(c) AS est FROM cpc_cfg_tbl"
    ).collect()[0]
    assert row.est == sk.getEstimate()


def test_all_null_group_yields_null_union_and_zero_estimate(spark):
    """A group whose CPC column is entirely NULL must not error: the
    union is NULL (no state) and the estimate is 0.0 — parity with
    datasketches-java's CpcUnion with no updates (empty sketch, est 0)
    and with the sibling hllplus_wire convention."""
    from apache_pinot_spark.functions.cpc_wire import register_cpc_udfs

    sk = _jsketch(spark, 25, 11)
    df = spark.createDataFrame(
        [(0, bytearray(bytes(sk.toByteArray()))), (1, None), (1, None)],
        "grp INT, cpc BINARY",
    )
    register_cpc_udfs(spark)
    df.createOrReplaceTempView("cpc_null_tbl")
    rows = spark.sql(
        "SELECT grp, pinot_cpc_union(cpc) AS u, pinot_cpc_estimate(cpc) AS est "
        "FROM cpc_null_tbl GROUP BY grp ORDER BY grp"
    ).collect()
    assert rows[0].u is not None and rows[0].est == sk.getEstimate()
    assert rows[1].u is None and rows[1].est == 0.0
