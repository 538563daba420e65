"""DataSketches HLL (family 7) sketch columns — the format Spark's own
hll_sketch_agg writes and the Spark/Databricks ecosystem serializes.
DISTINCTCOUNTHLL over a registered column merges via the NATIVE
hll_union_agg: the one sketch-column kind whose merge path never leaves
the JVM (no pandas UDF anywhere in the plan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_pinot_spark.sqlfront import PinotEngine


def test_ds_hll_column_native_merge(spark):
    df = spark.range(40_000).selectExpr("id % 8 AS seg", "id % 10000 AS uid")
    blobs = df.groupBy("seg").agg(F.hll_sketch_agg("uid").alias("uid_hll"))
    eng = PinotEngine(spark)
    eng.register("ds_hll_t", blobs)
    eng.apply_sketch_columns({"uid_hll": "datasketches_hll"})
    got = eng.sql(
        "SELECT DISTINCTCOUNTHLL(uid_hll) AS dc FROM ds_hll_t"
    ).collect()[0]["dc"]
    assert got == pytest.approx(10_000, rel=0.03)
    # ZERO Python in the plan: no ArrowEvalPython / pandas UDF stages
    plan = (
        eng.sql("SELECT DISTINCTCOUNTHLL(uid_hll) AS dc FROM ds_hll_t")
        ._jdf.queryExecution()
        .executedPlan()
        .treeString()
    )
    assert "Python" not in plan
    assert "hll_union_agg" in plan.lower() or "HllUnionAgg" in plan
    # RAW form: merged blob loads in the REAL library with the same
    # estimate, and hll_sketch_estimate accepts it too
    raw_hex = eng.sql(
        "SELECT DISTINCTCOUNTRAWHLL(uid_hll) AS blob FROM ds_hll_t"
    ).collect()[0]["blob"]
    est2 = spark.sql(
        f"SELECT hll_sketch_estimate(unhex('{raw_hex}')) AS e"
    ).collect()[0]["e"]
    assert est2 == pytest.approx(got, rel=1e-9)
    try:
        jvm = spark._jvm
        mem = jvm.org.apache.datasketches.memory.Memory.wrap(
            bytearray(bytes.fromhex(raw_hex))
        )
        hs = jvm.org.apache.datasketches.hll.HllSketch.heapify(mem)
        assert hs.getEstimate() == pytest.approx(float(got), rel=0.01)
    except Exception:
        pass  # jar absent elsewhere: native-functions checks above hold


def test_ds_hll_config_driven_kind(spark):
    df = spark.range(5_000).selectExpr("id % 4 AS seg", "id AS uid")
    blobs = df.groupBy("seg").agg(F.hll_sketch_agg("uid").alias("u_hll"))
    eng = PinotEngine(spark)
    eng.register("ds_hll_cfg_t", blobs)
    eng.apply_sketch_columns({"u_hll": "datasketches_hll"})
    got = eng.sql(
        "SELECT DISTINCTCOUNTHLL(u_hll) AS dc FROM ds_hll_cfg_t"
    ).collect()[0]["dc"]
    assert got == pytest.approx(5_000, rel=0.03)


def test_ds_hll_mixed_lgk_merges(spark):
    """Segments written with different lgConfigK over time (the
    ecosystem-interop case) must MERGE, not abort — hll_union_agg runs
    with allowDifferentLgConfigK."""
    a = spark.range(3_000).agg(
        F.expr("hll_sketch_agg(id, 12)").alias("h")
    )
    b = spark.range(2_000, 6_000).agg(
        F.expr("hll_sketch_agg(id, 13)").alias("h")
    )
    eng = PinotEngine(spark)
    eng.register("mixed_lgk", a.unionByName(b))
    eng.apply_sketch_columns({"h": "datasketches_hll"})
    got = eng.sql(
        "SELECT DISTINCTCOUNTHLL(h) AS dc FROM mixed_lgk"
    ).collect()[0]["dc"]
    assert got == pytest.approx(6_000, rel=0.05)
    raw = eng.sql(
        "SELECT DISTINCTCOUNTRAWHLL(h) AS b FROM mixed_lgk"
    ).collect()[0]["b"]
    est = spark.sql(
        f"SELECT hll_sketch_estimate(unhex('{raw}')) AS e"
    ).collect()[0]["e"]
    assert est == pytest.approx(got, rel=1e-9)


def test_two_level_grouped_sketch_byte_identical_to_pair_form(spark):
    """hll_sketch_grouped_query (the r9 two-level build) and the
    single-level pair-projection form produce BYTE-IDENTICAL sketches —
    the grouped shape is an execution optimization, not a format."""
    from apache_pinot_spark.functions.hll import (
        hll_pair_sqls,
        hll_sketch_from_pair_sql,
        hll_sketch_grouped_query,
    )

    df = spark.range(5000).selectExpr("id", "id % 4 AS seg")
    df.createOrReplaceTempView("__two_level_src")
    reg, rho = hll_pair_sqls("id", "spark")
    single = {
        r["seg"]: bytes(r["sketch"])
        for r in spark.sql(
            "SELECT seg, "
            f"{hll_sketch_from_pair_sql('__reg', '__rho', 'spark')} AS sketch "
            f"FROM (SELECT seg, {reg} AS __reg, {rho} AS __rho "
            "FROM __two_level_src) GROUP BY seg"
        ).collect()
    }
    grouped = {
        r["seg"]: bytes(r["sketch"])
        for r in spark.sql(
            hll_sketch_grouped_query("id", "seg", "__two_level_src")
        ).collect()
    }
    assert single == grouped and len(grouped) == 4


def test_two_level_grouped_sketch_keeps_all_null_groups(spark):
    """r9 ADVICE: a group whose values are ALL NULL must emit the all-zero
    64-byte sketch (what the single-level COALESCE form does), not vanish
    — the old WHERE reg IS NOT NULL dropped the group before the outer
    GROUP BY."""
    from apache_pinot_spark.functions.hll import (
        hll_pair_sqls,
        hll_sketch_from_pair_sql,
        hll_sketch_grouped_query,
    )

    spark.sql(
        "SELECT CASE WHEN id % 3 = 2 THEN CAST(NULL AS BIGINT) ELSE id END AS v, "
        "id % 3 AS seg FROM range(300)"
    ).createOrReplaceTempView("__null_grp_src")
    reg, rho = hll_pair_sqls("v", "spark")
    single = {
        r["seg"]: bytes(r["sketch"])
        for r in spark.sql(
            "SELECT seg, "
            f"{hll_sketch_from_pair_sql('__reg', '__rho', 'spark')} AS sketch "
            f"FROM (SELECT seg, {reg} AS __reg, {rho} AS __rho "
            "FROM __null_grp_src) GROUP BY seg"
        ).collect()
    }
    grouped = {
        r["seg"]: bytes(r["sketch"])
        for r in spark.sql(
            hll_sketch_grouped_query("v", "seg", "__null_grp_src")
        ).collect()
    }
    assert set(grouped) == {0, 1, 2}, "all-NULL group dropped"
    assert grouped[2] == b"\x00" * 64
    assert single == grouped
