"""TDigest BYTES interop (A7; configuration-reference/schema.md:48 names
TDigest as the canonical BYTES percentile payload).

Covers: the wire layout byte-for-byte (golden), serialize/deserialize
round-trip, the merge-equals-rebuild property (rank-space accuracy, the
actual t-digest guarantee), the two-phase Spark build, and the
PERCENTILETDIGEST SQL path over a BYTES digest column with an oracle
that recomputes from raw rows.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from apache_pinot_spark.functions.tdigest import (
    TDigest,
    deserialize,
    merge_blobs,
    serialize,
    tdigest_sketch,
)


def test_wire_layout_golden():
    # pin the MergingDigest VERBOSE layout byte-for-byte: int32 code=1,
    # f64 min/max/compression, int32 n, weights block, means block — all
    # big-endian (Java ByteBuffer default)
    d = TDigest(np.array([1.5, 4.0]), np.array([2.0, 3.0]), 1.0, 5.0, 100.0)
    blob = serialize(d)
    expect = (
        struct.pack(">i", 1)
        + struct.pack(">d", 1.0)
        + struct.pack(">d", 5.0)
        + struct.pack(">d", 100.0)
        + struct.pack(">i", 2)
        + struct.pack(">2d", 2.0, 3.0)  # weights first...
        + struct.pack(">2d", 1.5, 4.0)  # ...then means
    )
    assert blob == expect
    assert len(blob) == 4 + 8 * 3 + 4 + 16 * 2


def test_roundtrip():
    rng = np.random.RandomState(7)
    d = TDigest.from_values(rng.lognormal(size=5000))
    back = deserialize(serialize(d))
    assert np.array_equal(back.mean, d.mean)
    assert np.array_equal(back.weight, d.weight)
    assert (back.min, back.max, back.compression) == (d.min, d.max, d.compression)


def test_avltree_verbose_layout_accepted():
    """The other tdunning class's VERBOSE layout (means block then int32
    counts block, 32+12n bytes) — distinguished from MergingDigest's
    32+16n by the declared centroid count."""
    avl = (
        struct.pack(">i", 1)
        + struct.pack(">d", 1.0)
        + struct.pack(">d", 5.0)
        + struct.pack(">d", 100.0)
        + struct.pack(">i", 2)
        + struct.pack(">2d", 1.5, 4.0)  # means block...
        + struct.pack(">2i", 2, 3)      # ...then int32 counts
    )
    d = deserialize(avl)
    assert d.mean.tolist() == [1.5, 4.0]
    assert d.weight.tolist() == [2.0, 3.0]
    assert (d.min, d.max, d.compression) == (1.0, 5.0, 100.0)
    # truncated below the AVL size is still an error
    with pytest.raises(ValueError, match="truncated"):
        deserialize(avl[:-5])


def test_small_encoding_rejected():
    with pytest.raises(ValueError, match="SMALL encoding"):
        deserialize(struct.pack(">i", 2) + b"\x00" * 40)
    with pytest.raises(ValueError, match="unknown"):
        deserialize(struct.pack(">i", 9) + b"\x00" * 40)


def test_compression_bounds_centroids():
    v = np.random.RandomState(3).normal(size=50_000)
    d = TDigest.from_values(v, compression=100.0)
    # MergingDigest keeps ~<= 2*compression centroids after a full merge
    assert d.mean.size <= 2 * 100
    assert d.total_weight == 50_000
    # weighted centroid means preserve the exact sum of inputs
    assert np.isclose(float((d.mean * d.weight).sum()), float(v.sum()))


def _rank_error(values: np.ndarray, estimate: float, q: float) -> float:
    """Distance from q to the estimate's empirical-rank interval — the
    t-digest accuracy metric. Duplicated values occupy a rank interval
    [left, right]; an estimate equal to the duplicated value has zero
    error for any q inside it."""
    sv = np.sort(values)
    lo = np.searchsorted(sv, estimate, side="left") / sv.size
    hi = np.searchsorted(sv, estimate, side="right") / sv.size
    if lo <= q <= hi:
        return 0.0
    return min(abs(q - lo), abs(q - hi))


def test_quantile_accuracy_rank_space():
    rng = np.random.RandomState(11)
    v = rng.lognormal(size=40_000)
    d = TDigest.from_values(v, compression=100.0)
    for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
        assert _rank_error(v, d.quantile(q), q) < 0.02, q
    # tails are where t-digest concentrates accuracy
    for q in (0.001, 0.999):
        assert _rank_error(v, d.quantile(q), q) < 0.005, q
    assert d.quantile(0.0) == pytest.approx(v.min())
    assert d.quantile(1.0) == pytest.approx(v.max())


@settings(max_examples=25, deadline=None)
@given(
    data=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
        min_size=1,
        max_size=2000,
    ),
    n_chunks=st.integers(min_value=1, max_value=8),
)
def test_merge_equals_rebuild_property(data, n_chunks):
    """Split → per-chunk digest → serialized merge ≈ one digest over all
    rows: same total weight and min/max exactly, quantiles within the
    rank-accuracy envelope of each other."""
    v = np.asarray(data)
    chunks = np.array_split(v, n_chunks)
    blobs = [serialize(TDigest.from_values(c)) for c in chunks if c.size]
    merged = merge_blobs(blobs)
    rebuilt = TDigest.from_values(v)
    assert merged.total_weight == rebuilt.total_weight == v.size
    assert merged.min == rebuilt.min and merged.max == rebuilt.max
    tol = max(0.06, 2.0 / v.size)  # rank granularity floor for tiny inputs
    for q in (0.1, 0.5, 0.9):
        m, r = merged.quantile(q), rebuilt.quantile(q)
        # both within rank tolerance of the true quantile
        assert _rank_error(v, m, q) <= tol
        assert _rank_error(v, r, q) <= tol


def test_cdf_quantile_inverse():
    rng = np.random.RandomState(5)
    d = TDigest.from_values(rng.normal(size=10_000))
    for q in (0.05, 0.3, 0.5, 0.7, 0.95):
        assert d.cdf(d.quantile(q)) == pytest.approx(q, abs=0.01)


# -- Spark paths -----------------------------------------------------------
def test_tdigest_sketch_two_phase(spark):
    from apache_pinot_spark.catalog import load_tables

    li = load_tables(spark, "/root/testdata/sf0.001", ["lineitem"])["lineitem"]
    sk = tdigest_sketch(li, ["l_returnflag"], "l_quantity")
    rows = {r["l_returnflag"]: bytes(r["tdigest"]) for r in sk.collect()}
    raw = {
        r["l_returnflag"]: r["vs"]
        for r in li.groupBy("l_returnflag")
        .agg(__import__("pyspark.sql.functions", fromlist=["collect_list"]).collect_list("l_quantity").alias("vs"))
        .collect()
    }
    assert rows.keys() == raw.keys()
    for flag, blob in rows.items():
        d = deserialize(blob)
        v = np.asarray(raw[flag], dtype=np.float64)
        assert d.total_weight == v.size
        assert d.min == v.min() and d.max == v.max()
        for q in (0.5, 0.95):
            assert _rank_error(v, d.quantile(q), q) < 0.03


def test_percentiletdigest_sql_over_bytes_column(spark):
    """The migrating-user path: a table whose BYTES column holds real
    serialized t-digests (one per segment), queried with
    PERCENTILETDIGEST through the dialect; oracle recomputes the
    percentile from raw rows and the estimate must sit within the
    digest's rank-accuracy envelope."""
    import pyspark.sql.functions as F

    from apache_pinot_spark.sqlfront import PinotEngine
    from apache_pinot_spark.catalog import load_tables

    li = load_tables(spark, "/root/testdata/sf0.001", ["lineitem"])["lineitem"]
    segments = tdigest_sketch(
        li.withColumn("seg", F.pmod("l_orderkey", F.lit(8))),
        ["seg"],
        "l_extendedprice",
        out_col="price_digest",
    )
    eng = PinotEngine(spark)
    eng.register("price_segments", segments)
    eng.apply_sketch_columns({"price_digest": "tdigest"})
    row = eng.sql(
        "SELECT PERCENTILETDIGEST(price_digest, 50) AS p50, "
        "PERCENTILETDIGEST(price_digest, 95) AS p95 "
        "FROM price_segments"
    ).collect()[0]
    v = np.asarray(
        [r[0] for r in li.select("l_extendedprice").collect()], dtype=np.float64
    )
    assert _rank_error(v, row["p50"], 0.50) < 0.02
    assert _rank_error(v, row["p95"], 0.95) < 0.02
