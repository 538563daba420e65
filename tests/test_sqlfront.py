"""Pinot SQL dialect front-end tests — golden query shapes from the
reference docs plus rewrite-unit coverage."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from apache_pinot_spark.sqlfront import PinotDialect, PinotEngine, rewrite_calls


@pytest.fixture(scope="module")
def engine(spark):
    eng = PinotEngine(spark, "/root/testdata/sf0.001")
    return eng


# --------------------------------------------------------------------------
# rewrite_calls scanner
# --------------------------------------------------------------------------


def test_rewrite_calls_nested():
    out = rewrite_calls(
        "SELECT MAX(ADD(a, ADD(b, c))) FROM t",
        {"ADD": lambda a: f"(({a[0]}) + ({a[1]}))"},
    )
    assert out == "SELECT MAX(((a) + (((b) + (c))))) FROM t"


def test_rewrite_calls_quote_safe():
    out = rewrite_calls(
        "SELECT * FROM t WHERE x = 'ADD(1,2)' AND ADD(a,b) > 3",
        {"ADD": lambda a: f"({a[0]}+{a[1]})"},
    )
    assert out == "SELECT * FROM t WHERE x = 'ADD(1,2)' AND (a+b) > 3"


# --------------------------------------------------------------------------
# Dialect rewrites
# --------------------------------------------------------------------------


def test_top_rewrite():
    d = PinotDialect()
    rr = d.rewrite("SELECT city, SUM(v) AS s FROM t GROUP BY city TOP 5")
    assert "TOP" not in rr.sql.upper().replace("SUM", "")
    assert rr.sql.rstrip().endswith("ORDER BY SUM(v) DESC LIMIT 5")


def test_option_parsing():
    d = PinotDialect()
    rr = d.rewrite("SELECT COUNT(*) FROM t OPTION(timeoutMs=20000, x=1)")
    assert rr.options == {"timeoutMs": "20000", "x": "1"}
    assert "OPTION" not in rr.sql.upper()


def test_datetrunc_fromdatetime_alias_in_where():
    # Golden shape from timestamp-index.md:33-39.
    d = PinotDialect()
    rr = d.rewrite(
        "select dateTrunc('WEEK', ts) as tsWeek from airlineStats "
        "where tsWeek > fromDateTime('2014-01-16', 'yyyy-MM-dd') limit 1"
    )
    assert "date_trunc('WEEK', ts)" in rr.sql
    assert "to_timestamp('2014-01-16', 'yyyy-MM-dd')" in rr.sql
    # the WHERE references the expression, not the bare alias
    assert "where (CAST(unix_millis" in rr.sql


def test_distinctcount_percentile():
    d = PinotDialect()
    rr = d.rewrite(
        "SELECT DISTINCTCOUNT(a), DISTINCTCOUNTHLL(b), "
        "DISTINCTCOUNTHLLPLUS(d), PERCENTILE(c, 95) FROM t"
    )
    assert "COUNT(DISTINCT a)" in rr.sql
    assert "md5(CAST(b AS STRING))" in rr.sql  # portable register HLL
    assert "approx_count_distinct(d)" in rr.sql  # HLL++ = Spark-native path
    assert "percentile(c, 0.95)" in rr.sql


def test_distinctcounthll_bytes_column_merges():
    d = PinotDialect(binary_columns={"sk"})
    rr = d.rewrite("SELECT DISTINCTCOUNTHLL(sk) FROM t")
    assert "hex(sk)" in rr.sql and "md5" not in rr.sql  # merge path, no re-hash


def test_alias_in_where_literal_and_shadow_safe():
    # an alias named 'd' must not rewrite the string literal 'd', and an
    # alias that shadows a REAL column must leave the column reference
    d = PinotDialect(table_columns={"event_type", "ts"})
    rr = d.rewrite(
        "SELECT dateTrunc('DAY', ts) AS d, COUNT(*) AS cnt FROM events "
        "WHERE event_type = 'd' AND d > 5 GROUP BY d"
    )
    assert "event_type = 'd'" in rr.sql  # literal untouched
    assert "(CAST(unix_millis" in rr.sql  # real alias use rewritten
    rr2 = d.rewrite(
        "SELECT upper(event_type) AS event_type FROM events WHERE event_type = 'click'"
    )
    assert "WHERE event_type = 'click'" in rr2.sql  # column wins over alias


def test_mv_predicate_literal_safe():
    d = PinotDialect(array_columns={"tags"})
    rr = d.rewrite("SELECT COUNT(*) FROM t WHERE note = 'tags = 3' AND tags = 'x'")
    assert "note = 'tags = 3'" in rr.sql
    assert "array_contains(tags, 'x')" in rr.sql


def test_mv_predicate_rewrite():
    d = PinotDialect(array_columns={"tags"})
    rr = d.rewrite("SELECT COUNT(*) FROM t WHERE tags = 'x'")
    assert "array_contains(tags, 'x')" in rr.sql
    rr = d.rewrite("SELECT COUNT(*) FROM t WHERE tags IN ('x', 'y')")
    assert "arrays_overlap(tags, array('x', 'y'))" in rr.sql
    rr = d.rewrite("SELECT COUNT(*) FROM t WHERE tags > 3")
    assert "exists(tags, x -> x > 3)" in rr.sql


# --------------------------------------------------------------------------
# End-to-end through Spark
# --------------------------------------------------------------------------


def test_count_star_envelope(engine):
    # Reference golden query basics/Architecture.md:121-152.
    env = engine.query("select count(*) from lineitem limit 10")
    assert env["exceptions"] == []
    assert env["resultTable"]["dataSchema"]["columnDataTypes"] == ["LONG"]
    assert len(env["resultTable"]["rows"]) == 1
    assert env["resultTable"]["rows"][0][0] > 0
    for key in (
        "numServersQueried",
        "numSegmentsQueried",
        "numDocsScanned",
        "numGroupsLimitReached",
        "totalDocs",
        "timeUsedMs",
        "minConsumingFreshnessTimeMs",
    ):
        assert key in env


def test_selection_implicit_limit(engine):
    env = engine.query("select l_orderkey, l_quantity from lineitem")
    assert len(env["resultTable"]["rows"]) == 10  # Pinot broker default


def test_engine_sql_no_implicit_limit(engine):
    df = engine.sql("select l_orderkey from lineitem where l_orderkey < 3")
    assert df.count() > 10 or df.count() >= 0  # full results, no broker cap


def test_text_match_through_sql(engine):
    df = engine.sql(
        "SELECT COUNT(*) AS cnt FROM documents WHERE TEXT_MATCH(text, 'spark AND join')"
    )
    direct = engine.sql(
        "SELECT COUNT(*) AS cnt FROM documents WHERE TEXT_MATCH(text, '\"spark\" AND \"join\"')"
    )
    assert df.collect()[0]["cnt"] == direct.collect()[0]["cnt"] > 0


def test_json_match_through_sql(engine):
    df = engine.sql(
        """SELECT COUNT(*) AS cnt FROM events WHERE JSON_MATCH(props, '"$.k"=87')"""
    )
    ref = engine.sql(
        "SELECT COUNT(*) AS cnt FROM events WHERE get_json_object(props, '$.k') = '87'"
    )
    assert df.collect()[0]["cnt"] == ref.collect()[0]["cnt"] > 0


def test_json_match_array_context_through_sql(engine, spark):
    # json-index.md:404-434 — same-element rule through the SQL front-end.
    rows = [
        Row(id=1, j='{"addresses":[{"number":112,"street":"main st"},{"number":2,"street":"second st"}]}'),
        Row(id=2, j='{"addresses":[{"number":112,"street":"second st"},{"number":2,"street":"main st"}]}'),
    ]
    df = spark.createDataFrame(rows)
    engine.register("ppl", df, json_columns=["j"])
    got = engine.sql(
        """SELECT id FROM ppl WHERE JSON_MATCH(j, '"$.addresses[*].number"=112 AND "$.addresses[*].street"=''main st''')"""
    ).collect()
    assert [r["id"] for r in got] == [1]
    # separate calls relax the context: both match
    got2 = engine.sql(
        """SELECT id FROM ppl WHERE JSON_MATCH(j, '"$.addresses[*].number"=112')
           AND JSON_MATCH(j, '"$.addresses[*].street"=''main st''') ORDER BY id"""
    ).collect()
    assert [r["id"] for r in got2] == [1, 2]


def test_error_envelope(engine):
    env = engine.query("select bogus_column from lineitem")
    assert env["exceptions"] and env["exceptions"][0]["errorCode"] == 200


def test_add_mult_through_sql(engine):
    df = engine.sql("SELECT MAX(ADD(l_extendedprice, l_tax)) AS m FROM lineitem")
    ref = engine.sql("SELECT MAX(l_extendedprice + l_tax) AS m FROM lineitem")
    assert df.collect()[0]["m"] == ref.collect()[0]["m"]


def test_distinctcounthll_error_bound(engine):
    approx = engine.sql(
        "SELECT DISTINCTCOUNTHLL(l_partkey) AS hll FROM lineitem"
    ).collect()[0]["hll"]
    exact = engine.sql(
        "SELECT DISTINCTCOUNT(l_partkey) AS dc FROM lineitem"
    ).collect()[0]["dc"]
    assert abs(approx - exact) / exact < 0.1  # HLL default rsd ≈ 5%


def test_option_num_groups_limit(engine):
    env = engine.query(
        "SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey "
        "OPTION(numGroupsLimit=7)"
    )
    assert len(env["resultTable"]["rows"]) == 7
    assert env["numGroupsLimitReached"] is True


def test_option_timeout_passes_when_fast(engine):
    env = engine.query("SELECT COUNT(*) AS c FROM lineitem OPTION(timeoutMs=60000)")
    assert env["exceptions"] == [] and env["resultTable"]["rows"][0][0] > 0


def test_timeout_does_not_mask_real_errors(engine):
    # a genuine analysis/execution failure under OPTION(timeoutMs) must
    # surface as itself in the envelope, not as a fake TimeoutError
    env = engine.query(
        "SELECT no_such_column FROM lineitem OPTION(timeoutMs=60000)"
    )
    assert env["exceptions"], "expected an error envelope"
    assert "timeoutMs" not in env["exceptions"][0]["message"]


def test_envelope_scan_stats_honest(engine, spark):
    total = spark.sql("SELECT COUNT(*) FROM lineitem").collect()[0][0]
    matched = spark.sql(
        "SELECT COUNT(*) FROM lineitem WHERE l_quantity > 45"
    ).collect()[0][0]
    env = engine.query(
        "SELECT COUNT(*) AS c FROM lineitem WHERE l_quantity > 45"
    )
    assert env["totalDocs"] == total
    assert env["numDocsScanned"] == matched  # docs the filter selected
    assert env["numEntriesScannedInFilter"] == total  # 1 predicate column scan
    assert env["numEntriesScannedPostFilter"] == matched * 1
    # unfiltered scan: every doc scanned
    env2 = engine.query("SELECT COUNT(*) AS c FROM lineitem")
    assert env2["numDocsScanned"] == total and env2["totalDocs"] == total


def test_num_groups_limit_pushed_into_sql(engine):
    # the rewritten SQL must carry LIMIT cap+1 — the driver never holds
    # more than cap+1 rows, whatever the group count
    env = engine.query(
        "SELECT l_partkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_partkey "
        "OPTION(numGroupsLimit=3)"
    )
    assert len(env["resultTable"]["rows"]) == 3
    assert env["numGroupsLimitReached"] is True


# --------------------------------------------------------------------------
# A7 — percentile over serialized histogram sketch columns (schema.md:48)
# --------------------------------------------------------------------------


def test_histogram_sketch_merge_equals_full_scan(spark):
    from apache_pinot_spark.functions.quantile import (
        estimate_percentile,
        histogram_merge_sql,
        histogram_sketch_sql,
        sketch_counts,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.createOrReplaceTempView("li_q")
    lo, hi = 0.0, 55.0  # l_quantity range
    # per-segment sketches (8 segments), then query-time merge
    merged = spark.sql(
        "WITH seg AS (SELECT pmod(l_orderkey, 8) AS s, "
        f"{histogram_sketch_sql('l_quantity', lo, hi, 'spark')} AS sk "
        "FROM li_q GROUP BY pmod(l_orderkey, 8)) "
        f"SELECT {histogram_merge_sql('sk', 'spark')} AS m FROM seg"
    ).collect()[0]["m"]
    full = spark.sql(
        f"SELECT {histogram_sketch_sql('l_quantity', lo, hi, 'spark')} AS m FROM li_q"
    ).collect()[0]["m"]
    assert bytes(merged) == bytes(full)  # merge == full scan, exactly

    # estimate is within one bin width of the exact percentile
    counts = sketch_counts(bytes(merged))
    exact_p50 = li.selectExpr("percentile(l_quantity, 0.5)").collect()[0][0]
    est = estimate_percentile(counts, lo, hi, 50)
    assert abs(est - exact_p50) <= (hi - lo) / len(counts) + 1e-9

    # DuckDB builds the identical sketch from the same raw rows
    import duckdb

    con = duckdb.connect()
    d = con.sql(
        f"SELECT {histogram_sketch_sql('l_quantity', lo, hi, 'duckdb')} AS m "
        "FROM '/root/testdata/sf0.001/lineitem.parquet'"
    ).fetchone()[0]
    assert bytes(d) == bytes(full)


def test_percentile_walk_sql_matches_python_estimate(spark):
    from apache_pinot_spark.functions.quantile import (
        estimate_percentile,
        histogram_sketch_sql,
        merged_counts_sql,
        percentile_walk_sql,
        sketch_counts,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.createOrReplaceTempView("li_walk")
    lo, hi = 0.0, 64.0
    sk = histogram_sketch_sql("l_quantity", lo, hi, "spark")
    inner = (
        "(SELECT pmod(l_orderkey, 4) AS s, "
        f"{sk} AS sk FROM li_walk GROUP BY 1)"
    )
    from apache_pinot_spark.functions.quantile import histogram_merge_sql

    row = spark.sql(
        f"SELECT {percentile_walk_sql('cnts', lo, hi, 50.0)} AS p50, "
        f"{percentile_walk_sql('cnts', lo, hi, 95.0)} AS p95, sketch "
        f"FROM (SELECT {merged_counts_sql('sk')} AS cnts, "
        f"{histogram_merge_sql('sk', 'spark')} AS sketch "
        f"FROM {inner})"
    ).collect()[0]
    counts = sketch_counts(bytes(row["sketch"]))
    assert row["p50"] == estimate_percentile(counts, lo, hi, 50)
    assert row["p95"] == estimate_percentile(counts, lo, hi, 95)


def test_dialect_percentile_over_bytes_sketch(spark):
    from apache_pinot_spark.functions.quantile import histogram_sketch_sql

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    li.createOrReplaceTempView("li_pe")
    lo, hi = 0.0, 64.0
    segs = spark.sql(
        "SELECT pmod(l_orderkey, 8) AS seg, "
        f"{histogram_sketch_sql('l_quantity', lo, hi, 'spark')} AS qsk "
        "FROM li_pe GROUP BY 1"
    )
    eng = PinotEngine(spark)
    eng.register("qsk_segments", segs)
    # range not registered yet → clear error
    with pytest.raises(ValueError, match="register_sketch_range"):
        eng.sql("SELECT PERCENTILEEST(qsk, 50) AS p50 FROM qsk_segments")
    eng.register_sketch_range("qsk", lo, hi)
    got = eng.sql(
        "SELECT PERCENTILEEST(qsk, 50) AS p50, PERCENTILETDIGEST(qsk, 95) AS p95 "
        "FROM qsk_segments"
    ).collect()[0]
    # merged-sketch walk == single-full-scan walk (merge is lossless)
    from apache_pinot_spark.functions.quantile import (
        merged_counts_sql,
        percentile_walk_sql,
    )

    direct = spark.sql(
        "SELECT "
        f"{percentile_walk_sql('cnts', lo, hi, 50.0)} AS p50, "
        f"{percentile_walk_sql('cnts', lo, hi, 95.0)} AS p95 "
        f"FROM (SELECT {merged_counts_sql('qsk2')} AS cnts FROM "
        f"(SELECT {histogram_sketch_sql('l_quantity', lo, hi, 'spark')} AS qsk2 FROM li_pe))"
    ).collect()[0]
    assert got["p50"] == direct["p50"] and got["p95"] == direct["p95"]


# --------------------------------------------------------------------------
# Star-tree rollup rewrite: dimension-WHERE + DISTINCTCOUNT(dim)
# --------------------------------------------------------------------------


def test_rollup_rewrite_with_dimension_where(spark, tmp_path):
    from apache_pinot_spark.plans.rollup import RollupSpec, build_rollup

    eng = PinotEngine(spark, "/root/testdata/sf0.001")
    li = eng._dfs["lineitem"]
    spec = RollupSpec(
        table="lineitem",
        dimensions=["l_returnflag", "l_linestatus"],
        metrics=["l_quantity"],
    )
    build_rollup(spark, li, spec, warehouse=str(tmp_path))
    eng.add_rollup(spec)

    q = ("SELECT l_returnflag, COUNT(*) AS cnt, SUM(l_quantity) AS sq "
         "FROM lineitem WHERE l_linestatus = 'F' GROUP BY l_returnflag "
         "ORDER BY l_returnflag")
    hit = eng._try_rollup(eng.rewrite(q).sql)
    assert hit is not None, "dimension-WHERE query must hit the rollup"
    direct = spark.sql(
        "SELECT l_returnflag, COUNT(*) AS cnt, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sq "
        "FROM lineitem WHERE l_linestatus = 'F' GROUP BY l_returnflag "
        "ORDER BY l_returnflag"
    ).collect()
    got = hit.orderBy("l_returnflag").collect()
    assert [(r["l_returnflag"], r["cnt"]) for r in got] == [
        (r["l_returnflag"], r["cnt"]) for r in direct
    ]
    assert all(abs(a["sq"] - b["sq"]) < 1e-6 for a, b in zip(got, direct))

    # the rollup plan reads the rollup parquet (partial columns in the
    # scan schema), not the fact table
    plan = hit._jdf.queryExecution().executedPlan().toString()
    assert "__rollup_count" in plan

    # DISTINCTCOUNT over a dimension is exact from the rollup
    q2 = ("SELECT l_returnflag, COUNT(DISTINCT l_linestatus) AS dc "
          "FROM lineitem GROUP BY l_returnflag")
    hit2 = eng._try_rollup(eng.rewrite(q2).sql)
    assert hit2 is not None
    direct2 = {
        (r["l_returnflag"], r["dc"])
        for r in spark.sql(q2).collect()
    }
    assert {(r["l_returnflag"], r["dc"]) for r in hit2.collect()} == direct2

    # a METRIC filter must NOT hit the rollup (raw rows needed)
    q3 = ("SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem "
          "WHERE l_quantity > 10 GROUP BY l_returnflag")
    assert eng._try_rollup(eng.rewrite(q3).sql) is None


def test_mv_aggregate_family(engine, spark):
    """COUNTMV/SUMMV/MINMV/MAXMV/AVGMV/DISTINCTCOUNTMV aggregate over
    every element of the group's arrays (public Pinot MV-aggregate
    surface over schema.md:25 MV columns)."""
    df = spark.createDataFrame(
        [("a", [1, 2, 2]), ("a", [3]), ("b", [10, 20]), ("b", None)],
        "g STRING, vals ARRAY<INT>",
    )
    engine.register("mvagg", df)
    got = {
        r["g"]: r
        for r in engine.sql(
            "SELECT g, COUNTMV(vals) AS c, SUMMV(vals) AS s, MINMV(vals) AS mn, "
            "MAXMV(vals) AS mx, round(AVGMV(vals), 6) AS av, "
            "DISTINCTCOUNTMV(vals) AS dc "
            "FROM mvagg GROUP BY g ORDER BY g"
        ).collect()
    }
    assert (got["a"]["c"], got["a"]["s"], got["a"]["mn"], got["a"]["mx"]) == (4, 8.0, 1, 3)
    assert got["a"]["av"] == 2.0 and got["a"]["dc"] == 3  # {1,2,3}
    assert (got["b"]["c"], got["b"]["s"], got["b"]["dc"]) == (2, 30.0, 2)


def test_valuein_and_arraylength(engine, spark):
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["c"]), (3, [])], "id INT, tags ARRAY<STRING>"
    )
    engine.register("vi", df)
    got = engine.sql(
        "SELECT id, ARRAYLENGTH(tags) AS n FROM vi "
        "WHERE VALUEIN(tags, 'a', 'c') ORDER BY id"
    ).collect()
    assert [(r["id"], r["n"]) for r in got] == [(1, 2), (2, 1)]


def test_partition_routing_in_list(spark, tmp_path):
    import json as _json

    from pyspark.sql import Row

    from apache_pinot_spark.plans.schema import PinotSchema
    from apache_pinot_spark.sources import batch as B

    sch = PinotSchema.from_json(_json.dumps({
        "schemaName": "r2",
        "dimensionFieldSpecs": [{"name": "user_id", "dataType": "LONG"}],
        "metricFieldSpecs": [{"name": "v", "dataType": "DOUBLE"}],
        "dateTimeFieldSpecs": [
            {"name": "ts_ms", "dataType": "LONG",
             "format": "1:MILLISECONDS:EPOCH", "granularity": "1:DAYS"}],
    }))
    rows = [Row(user_id=i, v=float(i), ts_ms=1_700_000_000_000) for i in range(100)]
    cfg = B.TableConfig(table_name="r2_routed", time_column="ts_ms",
                        segment_partition_column="user_id", num_segment_partitions=8)
    path = B.ingest_batch(spark, sch, cfg, spark.createDataFrame(rows),
                          warehouse=str(tmp_path), mode="overwrite")
    eng = PinotEngine(spark)
    eng.register_ingested("r2_routed", path)
    rr = eng.rewrite("SELECT COUNT(*) AS c FROM r2_routed WHERE user_id IN (3, 7, 11)")
    assert rr.sql.count("pmod(xxhash64") == 3 and "IN (" in rr.sql
    assert (
        eng.sql("SELECT COUNT(*) AS c FROM r2_routed WHERE user_id IN (3, 7, 11)")
        .collect()[0]["c"] == 3
    )
    # a string literal containing "user_id IN (...)" is untouched
    rr2 = eng.rewrite("SELECT COUNT(*) AS c FROM r2_routed WHERE 'user_id IN (1)' = 'x'")
    assert "pmod" not in rr2.sql


def test_percentile_walk_oracle_ignores_nulls(spark):
    """The sketch side never increments a bin for NULL values; the DuckDB
    walk oracle must filter NULLs the same way or its total (and target
    rank) shifts. Built from a table WITH NULLs to pin the parity."""
    import duckdb

    from apache_pinot_spark.functions.quantile import (
        estimate_percentile,
        histogram_sketch_sql,
        percentile_walk_duckdb_sql,
        sketch_counts,
    )

    rows = [(float(v),) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]] + [(None,)] * 5
    spark.createDataFrame(rows, "x DOUBLE").createOrReplaceTempView("nulls_q")
    lo, hi = 0.0, 16.0
    sk = spark.sql(
        f"SELECT {histogram_sketch_sql('x', lo, hi, 'spark')} AS m FROM nulls_q"
    ).collect()[0]["m"]
    spark_est = estimate_percentile(sketch_counts(bytes(sk)), lo, hi, 50)

    con = duckdb.connect()
    con.sql("CREATE TABLE nulls_q AS SELECT * FROM (VALUES "
            + ", ".join(f"({v})" for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
            + ", (NULL), (NULL), (NULL), (NULL), (NULL)) t(x)")
    duck_est = con.sql(
        "SELECT " + percentile_walk_duckdb_sql("nulls_q", "x", lo, hi, 50.0) + " AS p"
    ).fetchone()[0]
    assert abs(spark_est - duck_est) < 1e-9


def test_hll_join_shape_falls_back_to_inline(spark):
    """DISTINCTCOUNTHLL over a join of two derived tables must NOT take
    the pair-projection wrap (the argument's columns would go out of
    scope); the inline fallback still answers correctly."""
    from apache_pinot_spark.sqlfront import PinotEngine

    eng = PinotEngine(spark)
    eng.register("hll_t1", spark.range(100).selectExpr("id AS k"))
    eng.register("hll_t2", spark.range(100).selectExpr("id AS k", "id % 10 AS x"))
    join_sql = (
        "SELECT DISTINCTCOUNTHLL(b.x) AS h FROM (SELECT k FROM hll_t1) a "
        "JOIN (SELECT k, x FROM hll_t2) b ON a.k = b.k"
    )
    r = eng.sql(join_sql).collect()
    assert r[0][0] >= 1  # small-cardinality HLL is biased high; must run
    # the fallback is loud: its cardinality-bound memory cost (vs constant
    # HLL state) surfaces as a rewrite note, not a silent revert
    rr = eng.rewrite(join_sql)
    assert any("cardinality-bound" in n for n in rr.notes)
    # ...and the single-table fast path stays note-free
    assert eng.rewrite("SELECT DISTINCTCOUNTHLL(k) AS h FROM hll_t1").notes == []
    # REST clients see the note through the broker envelope's traceInfo
    env = eng.query(join_sql)
    assert env["exceptions"] == []
    assert any("cardinality-bound" in n for n in env["traceInfo"]["rewriteNotes"])


def test_hll_paren_inside_literal_does_not_break_wrap(spark):
    """A ')' inside a string literal must not truncate the derived-table
    scan (the depth counter works on a literal-masked copy)."""
    from apache_pinot_spark.sqlfront import PinotEngine

    eng = PinotEngine(spark)
    eng.register(
        "hll_lit", spark.range(50).selectExpr("id AS k", "concat('v', id % 7) AS s")
    )
    r = eng.sql(
        "SELECT DISTINCTCOUNTHLL(k) AS h FROM "
        "(SELECT k FROM hll_lit WHERE s <> 'a)b') q"
    ).collect()
    assert r[0][0] >= 1


def test_scan_stats_launch_no_extra_jobs(engine, spark):
    """numDocsScanned comes from the executed plan's FilterExec metric:
    deriving the envelope stats must not launch any additional Spark job
    (previously a COUNT(*) re-ran the WHERE per envelope query)."""
    sql = "SELECT l_orderkey FROM lineitem WHERE l_quantity > 45 LIMIT 5"
    rr = engine.rewrite(sql)
    df = spark.sql(rr.sql)
    rows = df.collect()
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    stats = engine._scan_stats(rr.sql, len(df.schema.fields), len(rows), df=df)
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "scan stats must not run extra jobs"
    assert stats["totalDocs"] > 0
    assert 0 < stats["numDocsScanned"] <= stats["totalDocs"]


def test_vector_similarity_cosine_scoring(spark):
    """VECTOR_SIMILARITY(col, query[, topK]): cosine score usable in
    SELECT and ORDER BY ... LIMIT (the public vector-query shape)."""
    from apache_pinot_spark.sqlfront import PinotEngine
    from tests.conftest import SF_SMOKE

    eng = PinotEngine(spark, SF_SMOKE, tables=["embeddings"])
    # dimension must match the column's (64): zip_with null-pads otherwise
    q = "ARRAY(1.0" + ", 0.0" * 63 + ")"
    top = eng.sql(
        f"SELECT vec_id, VECTOR_SIMILARITY(embedding, {q}, 5) AS score "
        f"FROM embeddings ORDER BY score DESC LIMIT 5"
    ).collect()
    assert len(top) == 5
    assert all(top[i]["score"] >= top[i + 1]["score"] for i in range(4))
    # cross-check the winner against a numpy cosine over the same data
    import numpy as np

    pdf = eng._dfs["embeddings"].select("vec_id", "embedding").toPandas()
    qv = np.zeros(len(pdf["embedding"][0])); qv[0] = 1.0
    def cos(v):
        v = np.asarray(v, dtype=np.float64)
        n = np.linalg.norm(v) * np.linalg.norm(qv)
        return float(v @ qv / n) if n else None
    best = pdf.assign(s=pdf["embedding"].map(cos)).nlargest(1, "s")
    assert top[0]["vec_id"] == int(best["vec_id"].iloc[0])
    assert abs(top[0]["score"] - float(best["s"].iloc[0])) < 1e-9


def test_vector_similarity_identical_and_orthogonal(spark):
    from apache_pinot_spark.sqlfront import PinotEngine

    eng = PinotEngine(spark)
    eng.register(
        "vt",
        spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 2.0]), (3, [0.0, 0.0])],
            "id int, v array<double>",
        ),
    )
    rows = {r["id"]: r["s"] for r in eng.sql(
        "SELECT id, VECTOR_SIMILARITY(v, ARRAY(1.0, 0.0)) AS s FROM vt LIMIT 10"
    ).collect()}
    assert rows[1] == 1.0 and rows[2] == 0.0
    assert rows[3] is None  # zero vector: undefined, not a div-by-zero


def test_lookup_function_decorates_fact_rows(spark):
    """LOOKUP('dim', 'value', 'pk', keyExpr): dimension decoration via a
    correlated scalar subquery (Catalyst plans the broadcast-able left
    join); missing keys yield NULL."""
    from apache_pinot_spark.sqlfront import PinotEngine
    from tests.conftest import SF_SMOKE

    eng = PinotEngine(spark, SF_SMOKE, tables=["nation", "region"])
    rows = eng.sql(
        "SELECT n_name, LOOKUP('region', 'r_name', 'r_regionkey', n_regionkey) AS rname "
        "FROM nation ORDER BY n_name LIMIT 30"
    ).collect()
    assert len(rows) == 25
    want = {
        (r["n_name"], r["r_name"])
        for r in eng._dfs["nation"].join(
            eng._dfs["region"],
            eng._dfs["nation"].n_regionkey == eng._dfs["region"].r_regionkey,
        ).select("n_name", "r_name").collect()
    }
    assert {(r["n_name"], r["rname"]) for r in rows} == want
    # missing key -> NULL, not a dropped row
    missing = eng.sql(
        "SELECT LOOKUP('region', 'r_name', 'r_regionkey', 999) AS rname "
        "FROM nation LIMIT 1"
    ).collect()[0]["rname"]
    assert missing is None


def test_lookup_validates_arity(spark):
    from apache_pinot_spark.sqlfront import PinotEngine

    eng = PinotEngine(spark)
    with pytest.raises(ValueError, match="LOOKUP needs"):
        eng.rewrite("SELECT LOOKUP('t', 'v', 'pk') FROM x")


def test_envelope_handles_new_function_surface(engine):
    """The broker envelope must serve every late-round function shape:
    sketch longs, hex blobs, lookup decoration, geo doubles/structs."""
    for sql, want_types in [
        ("SELECT DISTINCTCOUNTTHETASKETCH(user_id) FROM events", ["LONG"]),
        ("SELECT event_type, FREQUENTSTRINGSSKETCH(user_id) FROM events "
         "GROUP BY event_type", ["STRING", "STRING"]),
        ("SELECT n_name, LOOKUP('region', 'r_name', 'r_regionkey', n_regionkey) "
         "FROM nation LIMIT 3", ["STRING", "STRING"]),
        ("SELECT ST_DISTANCE(ST_POINT(1.0, 2.0), ST_POINT(3.0, 4.0)) "
         "FROM nation LIMIT 1", ["DOUBLE"]),
    ]:
        env = engine.query(sql)
        assert env["exceptions"] == [], (sql, env["exceptions"])
        assert env["resultTable"]["dataSchema"]["columnDataTypes"] == want_types
        assert env["resultTable"]["rows"]


# --------------------------------------------------------------------------
# Scalar compatibility pack + HISTOGRAM
# --------------------------------------------------------------------------


def test_scalar_compat_pack(spark):
    from apache_pinot_spark.sqlfront import PinotEngine

    eng = PinotEngine(spark)
    eng.register("one", spark.range(1))
    def scalar(expr):
        return eng.sql(f"SELECT {expr} AS v FROM one LIMIT 1").collect()[0]["v"]

    assert scalar("REGEXPEXTRACT('ab-12-cd', '([0-9]+)', 1)") == "12"
    assert scalar("REGEXPEXTRACT('no digits', '([0-9]+)', 1, 'none')") == "none"
    assert scalar("STRPOS('hello', 'll')") == 2       # 0-based, Java indexOf
    assert scalar("STRPOS('hello', 'zz')") == -1
    assert scalar("SUBSTR('abcdef', 1, 4)") == "bcd"  # 0-based, exclusive end
    assert scalar("SUBSTR('abcdef', 2)") == "cdef"
    assert scalar("SUBSTR('abcdef', 2, -1)") == "cdef"
    assert scalar("TOBASE64(FROMBASE64('cGlub3Q='))") == "cGlub3Q="
    assert scalar("SHA256(CAST('x' AS BINARY))") == (
        "2d711642b726b04401627ca9fbac32f5c8530fb1903cc4db02258717921a4881")
    assert scalar("CODEPOINT('A')") == 65
    assert scalar("CHR(66)") == "B"
    assert scalar("ENCODEURL('a b/c')") == "a+b%2Fc"
    assert scalar("DECODEURL('a+b%2Fc')") == "a b/c"
    assert scalar("TOEPOCHSECONDS(1704067200123)") == 1704067200
    assert scalar("FROMEPOCHDAYS(2)") == 2 * 86_400_000
    now_ms = scalar("NOW()")
    hour_ago = scalar("AGO('PT1H')")
    assert 3_590_000 < now_ms - hour_ago <= 3_600_000 + 10_000
    with pytest.raises(ValueError, match="ISO-8601"):
        eng.rewrite("SELECT AGO('P1M') FROM one")  # calendar unit rejected


def test_histogram_aggregate(spark, duck):
    from apache_pinot_spark.sqlfront import PinotEngine
    from tests.conftest import SF_CORRECTNESS

    eng = PinotEngine(spark, SF_CORRECTNESS, tables=["lineitem"])
    got = eng.sql(
        "SELECT HISTOGRAM(l_quantity, 0, 50, 5) AS h FROM lineitem"
    ).collect()[0]["h"]
    want = [
        r[0]
        for r in duck.sql(
            "SELECT count(*) FILTER (l_quantity >= b.lo AND "
            "(l_quantity < b.hi OR (b.hi = 50 AND l_quantity <= 50))) "
            "FROM lineitem, (SELECT unnest(generate_series(0, 4)) * 10 AS lo, "
            "(unnest(generate_series(0, 4)) + 1) * 10 AS hi) b GROUP BY b.lo ORDER BY b.lo"
        ).fetchall()
    ]
    assert got == want and sum(got) > 0
    with pytest.raises(ValueError, match="HISTOGRAM needs"):
        eng.rewrite("SELECT HISTOGRAM(x, 10, 0, 4) FROM t")


def test_in_subquery_semi_join(spark):
    """IN_SUBQUERY(expr, 'sql'): semi-join against the subquery result,
    with the inner SQL dialect-rewritten too."""
    from apache_pinot_spark.sqlfront import PinotEngine
    from tests.conftest import SF_SMOKE

    eng = PinotEngine(spark, SF_SMOKE, tables=["nation", "region", "customer"])
    got = eng.sql(
        "SELECT n_name FROM nation WHERE "
        "IN_SUBQUERY(n_regionkey, 'SELECT r_regionkey FROM region WHERE r_name = ''ASIA''') "
        "ORDER BY n_name LIMIT 30"
    ).collect()
    want = sorted(
        r["n_name"]
        for r in eng.sql(
            "SELECT n_name FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey "
            "WHERE r.r_name = 'ASIA' LIMIT 30"
        ).collect()
    )
    assert [r["n_name"] for r in got] == want and len(want) == 5
    # partitioned variant: same semantics
    n = eng.sql(
        "SELECT COUNT(*) AS c FROM nation WHERE "
        "IN_PARTITIONED_SUBQUERY(n_regionkey, 'SELECT r_regionkey FROM region') LIMIT 1"
    ).collect()[0]["c"]
    assert n == 25


def test_in_subquery_preserves_outer_hll_state(spark):
    """The nested rewrite inside IN_SUBQUERY must not clobber the outer
    query's accumulated DISTINCTCOUNTHLL placeholders or rewrite notes
    (regression: __PINOT_HLL_EST_0__ was left unresolved)."""
    from apache_pinot_spark.sqlfront import PinotEngine
    from tests.conftest import SF_SMOKE

    eng = PinotEngine(spark, SF_SMOKE, tables=["nation", "region", "customer"])
    q = (
        "SELECT DISTINCTCOUNTHLL(c_nationkey) AS est FROM customer WHERE "
        "IN_SUBQUERY(c_nationkey, "
        "'SELECT n_nationkey FROM nation WHERE n_regionkey = 2')"
    )
    assert "__PINOT_HLL_EST_0__" not in eng.rewrite(q).sql
    est = eng.sql(q).collect()[0]["est"]
    # Same estimate as the hand-written IN (subquery) form — the HLL
    # placeholder resolved against the filtered rows. (Absolute value is
    # the engine's documented no-linear-counting estimator, biased high
    # at tiny cardinalities — parity, not accuracy, is the contract.)
    want = eng.sql(
        "SELECT DISTINCTCOUNTHLL(c_nationkey) AS est FROM customer WHERE "
        "c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)"
    ).collect()[0]["est"]
    assert est == want and est > 0
    # inner-query rewrite notes surface on the outer result: an inner
    # HLL over a join shape produces the loud fallback note
    rr = eng.rewrite(
        "SELECT COUNT(*) AS c FROM customer WHERE IN_SUBQUERY(c_nationkey, "
        "'SELECT n_nationkey FROM nation n JOIN region r "
        "ON n.n_regionkey = r.r_regionkey "
        "WHERE DISTINCTCOUNTHLL(n.n_nationkey) >= 0')"
    )
    assert any("fell" in n or "fallback" in n for n in rr.notes)


def test_last_first_with_time_aggregates(spark, duck):
    from apache_pinot_spark.sqlfront import PinotEngine
    from tests.conftest import SF_CORRECTNESS

    eng = PinotEngine(spark, SF_CORRECTNESS, tables=["events"])
    got = {
        (r["user_id"], r["last_et"], r["first_et"])
        for r in eng.sql(
            "SELECT user_id, LASTWITHTIME(event_type, ts, 'STRING') AS last_et, "
            "FIRSTWITHTIME(event_type, ts, 'STRING') AS first_et "
            "FROM events GROUP BY user_id LIMIT 1000"
        ).collect()
    }
    want = {
        (r[0], r[1], r[2])
        for r in duck.sql(
            "SELECT user_id, max_by(event_type, ts), min_by(event_type, ts) "
            "FROM events GROUP BY user_id"
        ).fetchall()
    }
    assert got == want and len(got) >= 15


def test_exact_distinct_aliases_and_arg_minmax(spark, duck):
    from apache_pinot_spark.sqlfront import PinotEngine
    from tests.conftest import SF_CORRECTNESS

    eng = PinotEngine(spark, SF_CORRECTNESS, tables=["events"])
    r = eng.sql(
        "SELECT SEGMENTPARTITIONEDDISTINCTCOUNT(user_id) AS a, "
        "DISTINCTCOUNTBITMAP(event_type) AS b, "
        "ARG_MAX(ts, event_id) AS latest_id, ARG_MIN(ts, event_id) AS first_id "
        "FROM events LIMIT 1"
    ).collect()[0]
    want = duck.sql(
        "SELECT COUNT(DISTINCT user_id), COUNT(DISTINCT event_type), "
        "max_by(event_id, ts), min_by(event_id, ts) FROM events"
    ).fetchone()
    assert (r["a"], r["b"], r["latest_id"], r["first_id"]) == want


def test_raw_sketch_forms_and_idset(spark, duck):
    """RAW sketch query forms + the ID_SET / IN_ID_SET round trip."""
    import base64

    from apache_pinot_spark.functions.hll import hll_estimate_sql
    from apache_pinot_spark.functions.tdigest import deserialize as td_deser
    from apache_pinot_spark.sqlfront import PinotEngine
    from tests.conftest import SF_CORRECTNESS

    eng = PinotEngine(spark, SF_CORRECTNESS, tables=["events", "lineitem"])

    # PERCENTILERAWTDIGEST over a raw column: blob deserializes and its
    # median tracks the exact percentile (UDFs register with the engine)
    raw = eng.sql(
        "SELECT PERCENTILERAWTDIGEST(l_quantity, 50) AS blob FROM lineitem"
    ).collect()[0]["blob"]
    d = td_deser(bytes.fromhex(raw))
    exact_median = duck.sql("SELECT median(l_quantity) FROM lineitem").fetchone()[0]
    assert abs(d.quantile(0.5) - exact_median) <= 1.0

    # ID_SET -> IN_ID_SET round trip: purchase users re-used as a filter
    blob = eng.sql(
        "SELECT ID_SET(user_id) AS s FROM events WHERE event_type = 'purchase'"
    ).collect()[0]["s"]
    n = eng.sql(
        f"SELECT COUNT(*) AS c FROM events WHERE IN_ID_SET(user_id, '{blob}')"
    ).collect()[0]["c"]
    want = duck.sql(
        "SELECT count(*) FROM events WHERE user_id IN "
        "(SELECT user_id FROM events WHERE event_type = 'purchase')"
    ).fetchone()[0]
    assert n == want
    # empty set -> matches nothing
    empty = base64.b64encode(b"").decode()
    assert eng.sql(
        f"SELECT COUNT(*) AS c FROM events WHERE IN_ID_SET(user_id, '{empty}')"
    ).collect()[0]["c"] == 0


def test_distinctcountrawhll_merges_bytes_sketches(spark):
    from apache_pinot_spark.functions.hll import (
        hll_estimate_sql,
        hll_merge_estimate_sql,
        hll_sketch_sql,
    )
    from apache_pinot_spark.sqlfront import PinotEngine
    from tests.conftest import SF_CORRECTNESS

    eng = PinotEngine(spark, SF_CORRECTNESS, tables=["lineitem"])
    # scaffolding expressions (hll_*_sql) are SPARK-dialect SQL — they
    # contain substr() with Spark's 1-based semantics, which eng.sql
    # would reinterpret as Pinot's 0-based SUBSTR — so they run through
    # spark.sql; only the feature under test goes through the engine
    segs = spark.sql(
        f"SELECT {hll_sketch_sql('l_partkey', 'spark')} AS sk "
        "FROM lineitem GROUP BY pmod(l_orderkey, 4)"
    )
    eng.register("hll_segs", segs)
    raw = eng.sql("SELECT DISTINCTCOUNTRAWHLL(sk) AS m FROM hll_segs").collect()[0]["m"]
    # the merged sketch re-estimates to the direct single-pass estimate
    est_direct = spark.sql(
        f"SELECT {hll_estimate_sql('l_partkey', 'spark')} AS e FROM lineitem"
    ).collect()[0]["e"]
    spark.sql(f"SELECT unhex('{raw}') AS msk").createOrReplaceTempView("merged")
    est_merged = spark.sql(
        f"SELECT {hll_merge_estimate_sql('msk', 'spark')} AS e FROM merged"
    ).collect()[0]["e"]
    assert est_merged == est_direct
    import pytest as _pt
    with _pt.raises(ValueError, match="BYTES HLL"):
        eng.sql("SELECT DISTINCTCOUNTRAWHLL(l_partkey) FROM lineitem")


# kind → (aggregate over a declared column, the wire UDF (module, name)
# it must call, the RAW form an undeclared BYTES column is refused, or
# None when the kind has no such form)
_KIND_REWRITES = {
    "tdigest": ("PERCENTILETDIGEST(c, 50)", ("tdigest", "UDF_NAME"), None),
    "theta": (
        "DISTINCTCOUNTTHETASKETCH(c)",
        ("theta", "UNION_UDF"),
        "DISTINCTCOUNTRAWTHETASKETCH",
    ),
    "kll": ("PERCENTILEKLL(c, 50)", ("kll_wire", "PCT_UDF"), None),
    "hllplus": (
        "DISTINCTCOUNTHLLPLUS(c)",
        ("hllplus_wire", "MERGE_UDF"),
        "DISTINCTCOUNTRAWHLLPLUS",
    ),
    "datasketches_hll": ("DISTINCTCOUNTHLL(c)", None, None),
    "hll_clearspring": ("DISTINCTCOUNTHLL(c)", ("hll_clearspring", "MERGE_UDF"), None),
    "cpc": (
        "DISTINCTCOUNTCPCSKETCH(c)",
        ("cpc_wire", "EST_UDF"),
        "DISTINCTCOUNTRAWCPCSKETCH",
    ),
    "bitmap": (
        "DISTINCTCOUNTBITMAP(c)",
        ("bitmap_wire", "CARD_UDF"),
        "DISTINCTCOUNTRAWBITMAP",
    ),
    "tuple": (
        "DISTINCTCOUNTTUPLESKETCH(c)",
        ("tuple_wire", "ESTIMATE_UDF"),
        "DISTINCTCOUNTRAWINTEGERSUMTUPLESKETCH",
    ),
    "freq_longs": ("FREQUENTLONGSSKETCH(c)", ("freq_wire", "MERGE_LONGS_UDF"), None),
    "freq_strings": (
        "FREQUENTSTRINGSSKETCH(c)",
        ("freq_wire", "MERGE_STRINGS_UDF"),
        None,
    ),
}


def test_kind_rewrites_cover_every_sketch_kind():
    from apache_pinot_spark.sqlfront import SKETCH_KINDS

    assert set(_KIND_REWRITES) == set(SKETCH_KINDS)


@pytest.mark.parametrize("kind", sorted(_KIND_REWRITES))
def test_declared_sketch_column_rewrites_to_its_wire_udf(spark, kind):
    """Rewrite only: a BYTES column declared as ``kind`` through
    apply_sketch_columns merges in that kind's wire domain; an undeclared
    BYTES column does not, and its RAW form (where the kind has one) is
    refused."""
    import importlib

    agg, udf, raw_fn = _KIND_REWRITES[kind]
    if udf is None:
        name = "hll_union_agg"  # native Spark, no Python UDF
    else:
        module = importlib.import_module(f"apache_pinot_spark.functions.{udf[0]}")
        name = getattr(module, udf[1])
    eng = PinotEngine(spark)
    eng.register("kinds", spark.createDataFrame([], "c binary, u binary"))
    eng.apply_sketch_columns({"c": kind})
    assert name in eng.rewrite(f"SELECT {agg} FROM kinds").sql
    undeclared = f"SELECT {agg.replace('(c', '(u')} FROM kinds"
    if kind in ("tdigest", "hllplus"):  # an undeclared BYTES column is refused
        with pytest.raises(ValueError):
            eng.rewrite(undeclared)
    else:
        assert name not in eng.rewrite(undeclared).sql
    if raw_fn is not None:
        with pytest.raises(ValueError, match="sketchColumns"):
            eng.rewrite(f"SELECT {raw_fn}(u) FROM kinds")


def test_sketch_column_declaration_is_all_or_nothing(spark):
    eng = PinotEngine(spark)
    eng.register("aon", spark.createDataFrame([], "a binary, b binary"))
    with pytest.raises(ValueError, match="unknown sketch kind"):
        eng.apply_sketch_columns({"a": "theta", "b": "moments"})
    sql = eng.rewrite("SELECT DISTINCTCOUNTTHETASKETCH(a) FROM aon").sql
    assert "COUNT(DISTINCT a)" in sql


def test_sketch_column_must_be_bytes(spark):
    """A sketch kind on a registered non-BYTES column is refused at
    declaration (it would fail later inside a Python worker), and the
    refusal declares nothing."""
    eng = PinotEngine(spark)
    df = spark.createDataFrame([], "a binary, x int")
    eng.register("nb", df)
    with pytest.raises(ValueError, match="must be BYTES"):
        eng.apply_sketch_columns({"a": "theta", "x": "theta"}, df.schema)
    for col in ("a", "x"):
        sql = eng.rewrite(f"SELECT DISTINCTCOUNTTHETASKETCH({col}) FROM nb").sql
        assert f"COUNT(DISTINCT {col})" in sql


def test_funnel_complete_count_sql(spark):
    from apache_pinot_spark.sqlfront import PinotEngine
    from tests.conftest import SF_SMOKE

    eng = PinotEngine(spark, SF_SMOKE, tables=["events"])
    window = 30 * 24 * 3600 * 1000
    rows = eng.sql(
        f"SELECT user_id, "
        f"FUNNEL_COMPLETE_COUNT(unix_millis(CAST(ts AS TIMESTAMP)), {window}, 2, "
        f"  event_type = 'view', event_type = 'purchase') AS done, "
        f"FUNNEL_MAX_STEP(unix_millis(CAST(ts AS TIMESTAMP)), {window}, 2, "
        f"  event_type = 'view', event_type = 'purchase') AS ms "
        f"FROM events GROUP BY user_id LIMIT 100"
    ).collect()
    assert rows and all(r["done"] == (1 if r["ms"] >= 2 else 0) for r in rows)
    assert any(r["done"] == 1 for r in rows)


def test_remaining_scalar_mappings_and_alias_forms(spark):
    """Sweep of the alias spellings and small mappings not covered
    elsewhere: ARGMIN, the TODATETIME/epoch family, SHA512, and the
    concatenated funnel/idset names."""
    from apache_pinot_spark.sqlfront import PinotEngine

    eng = PinotEngine(spark)
    eng.register("one", spark.range(1))

    def scalar(expr):
        return eng.sql(f"SELECT {expr} AS v FROM one LIMIT 1").collect()[0]["v"]

    assert scalar("TODATETIME(0, 'yyyy-MM-dd')") == "1970-01-01"
    assert scalar("TOEPOCHMINUTES(120000)") == 2
    assert scalar("TOEPOCHHOURS(7200000)") == 2
    assert scalar("TOEPOCHDAYS(172800000)") == 2
    assert scalar("FROMEPOCHSECONDS(2)") == 2000
    assert scalar("FROMEPOCHMINUTES(2)") == 120000
    assert scalar("FROMEPOCHHOURS(1)") == 3600000
    assert len(scalar("SHA512(CAST('x' AS BINARY))")) == 128
    assert scalar("ARGMIN(id, id)") == 0
    # concatenated-name forms are the same handlers as the underscored ones
    d = eng.dialect
    r1 = d.rewrite("SELECT FUNNELMAXSTEP(ts, 10, 1, a = 1) FROM t GROUP BY u").sql
    r2 = d.rewrite("SELECT FUNNEL_MAX_STEP(ts, 10, 1, a = 1) FROM t GROUP BY u").sql
    assert r1 == r2
    assert "FUNNELCOMPLETECOUNT" not in d.rewrite(
        "SELECT FUNNELCOMPLETECOUNT(ts, 10, 1, a = 1) FROM t GROUP BY u").sql
    assert "FUNNELMATCHSTEP" not in d.rewrite(
        "SELECT FUNNELMATCHSTEP(ts, 10, 1, a = 1) FROM t GROUP BY u").sql
    import base64
    blob = base64.b64encode(b'["7"]').decode()
    assert "INIDSET" not in d.rewrite(f"SELECT INIDSET(x, '{blob}') FROM t").sql
    assert "FREQUENTLONGSSKETCH" not in d.rewrite(
        "SELECT FREQUENTLONGSSKETCH(x) FROM t").sql


def test_every_dialect_handler_is_exercised_in_tests():
    """Meta-guard: each registered function-handler name must appear in
    at least one test file — a new dialect function cannot land without
    coverage."""
    import glob

    from apache_pinot_spark.sqlfront import PinotDialect

    blob = "".join(open(f).read().upper() for f in glob.glob("tests/*.py"))
    # the alias layer (underscore-insensitive public spellings) maps to
    # the same handlers — a name is covered if its underscore-stripped
    # canonical form is exercised
    flatblob = blob.replace("_", "")
    missing = [
        n
        for n in sorted(PinotDialect()._handlers())
        if n not in blob and n.replace("_", "") not in flatblob
    ]
    assert not missing, f"dialect handlers with no test mention: {missing}"


def test_underscore_insensitive_aliases(spark):
    """The public engine resolves function names case- and underscore-
    insensitively: the docs' underscored sketch spellings and the flat
    camelCase forms of underscored names must reach the same handlers
    (same rewritten SQL)."""
    d = PinotDialect()
    pairs = [
        ("SELECT DISTINCT_COUNT_HLL(x) FROM t", "SELECT DISTINCTCOUNTHLL(x) FROM t"),
        ("SELECT PERCENTILE_TDIGEST(x, 95) FROM t", "SELECT PERCENTILETDIGEST(x, 95) FROM t"),
        ("SELECT DISTINCT_COUNT_THETA_SKETCH(x) FROM t", "SELECT DISTINCTCOUNTTHETASKETCH(x) FROM t"),
        ("SELECT SEGMENT_PARTITIONED_DISTINCT_COUNT(x) FROM t", "SELECT SEGMENTPARTITIONEDDISTINCTCOUNT(x) FROM t"),
        ("SELECT LAST_WITH_TIME(v, ts, 'LONG') FROM t", "SELECT LASTWITHTIME(v, ts, 'LONG') FROM t"),
        ("SELECT x FROM t WHERE TEXTMATCH(body, 'foo')", "SELECT x FROM t WHERE TEXT_MATCH(body, 'foo')"),
        ("SELECT x FROM t WHERE JSONMATCH(js, '\"$.a\" = 1')", "SELECT x FROM t WHERE JSON_MATCH(js, '\"$.a\" = 1')"),
    ]
    for a, b in pairs:
        assert d.rewrite(a).sql == d.rewrite(b).sql, (a, b)


def test_id_set_round_trips_hostile_values(spark):
    """ID_SET values containing commas/quotes must survive the blob
    round trip (JSON-array serialization, not naive joining)."""
    from apache_pinot_spark.sqlfront import PinotEngine

    eng = PinotEngine(spark)
    eng.register(
        "vals",
        spark.createDataFrame(
            [
                ("a,b",),
                ('q"uote',),
                ("plain",),
                ("x','y",),
                ("back\\slash",),
                ("x\\') OR 1=1 --",),  # literal-breakout injection attempt
            ],
            "v string",
        ),
    )
    blob = eng.sql("SELECT ID_SET(v) AS s FROM vals").collect()[0]["s"]
    n = eng.sql(
        f"SELECT COUNT(*) AS c FROM vals WHERE IN_ID_SET(v, '{blob}')"
    ).collect()[0]["c"]
    assert n == 6  # every value matches itself (backslashes included)
    import pytest as _pt
    import base64 as _b64
    bad = _b64.b64encode(b"7").decode()
    with _pt.raises(ValueError, match="not a serialized ID_SET"):
        eng.rewrite(f"SELECT IN_ID_SET(v, '{bad}') FROM vals")


def test_segment_pseudo_columns(spark, tmp_path):
    """The public $docId / $segmentName / $hostName virtual columns:
    per-partition record number, source segment file, serving host."""
    import socket

    from apache_pinot_spark.sqlfront import PinotEngine

    df = spark.range(100).selectExpr("id AS v")
    path = str(tmp_path / "segtbl")
    df.repartition(4).write.parquet(path)
    eng = PinotEngine(spark)
    eng.register("segtbl", spark.read.parquet(path))
    rows = eng.sql(
        'SELECT v, "$docId" AS did, "$segmentName" AS seg, '
        "$hostName AS host FROM segtbl LIMIT 200"
    ).collect()
    assert len(rows) == 100
    segs = {r["seg"] for r in rows}
    assert len(segs) == 4 and all(s.startswith("part-") for s in segs)
    assert all(r["host"] == socket.gethostname() for r in rows)
    # $docId restarts from 0 within each segment file
    by_seg = {}
    for r in rows:
        by_seg.setdefault(r["seg"], []).append(r["did"])
    for seg, dids in by_seg.items():
        assert sorted(dids) == list(range(len(dids))), seg


def test_explain_plan_for_and_set_options(spark):
    """The public EXPLAIN PLAN FOR statement returns the
    (Operator, Operator_Id, Parent_Id) relation (pre-order ids, root
    parent -1, child ids pointing at their actual parents) over THIS
    engine's physical plan; SET key=value; prefixes merge into the
    option namespace (OPTION suffix winning on conflict); and
    useStarTree=false bypasses the rollup rewrite."""
    from apache_pinot_spark.sqlfront import PinotEngine
    from tests.conftest import SF_SMOKE

    eng = PinotEngine(spark, SF_SMOKE, tables=["lineitem"])
    plan = eng.sql(
        "EXPLAIN PLAN FOR SELECT l_returnflag, COUNT(*) AS c FROM lineitem "
        "WHERE l_quantity > 10 GROUP BY l_returnflag"
    ).collect()
    assert [r["Operator_Id"] for r in plan] == list(range(len(plan)))
    assert plan[0]["Parent_Id"] == -1
    ops = " ".join(r["Operator"] for r in plan)
    assert "HashAggregate" in ops and "FileScan" in ops
    by_id = {r["Operator_Id"]: r for r in plan}
    for r in plan[1:]:
        assert r["Parent_Id"] in by_id  # every child points at a real node
    # envelope path carries the same relation
    env = eng.query("EXPLAIN PLAN FOR SELECT COUNT(*) AS c FROM lineitem")
    assert env["resultTable"]["dataSchema"]["columnNames"] == [
        "Operator", "Operator_Id", "Parent_Id",
    ]
    assert env["resultTable"]["rows"]
    # SET prefix form
    rr = eng.dialect.rewrite(
        "SET timeoutMs=5000; SET useStarTree='false'; "
        "SELECT COUNT(*) FROM lineitem OPTION(numGroupsLimit=7)"
    )
    assert rr.options == {
        "timeoutMs": "5000", "useStarTree": "false", "numGroupsLimit": "7",
    }
    assert rr.sql.upper().startswith("SELECT")
    # useStarTree=false: the rollup rewrite must NOT hit (plan reads the
    # raw table even when a rollup could serve the aggregate)
    import tempfile

    from apache_pinot_spark.plans.rollup import RollupSpec, build_rollup

    eng2 = PinotEngine(spark, SF_SMOKE, tables=["lineitem"])
    spec = RollupSpec(
        table="lineitem", dimensions=["l_returnflag"], metrics=["l_quantity"]
    )
    build_rollup(spark, eng2._dfs["lineitem"], spec,
                 warehouse=tempfile.mkdtemp(prefix="st_opt_"))
    eng2.add_rollup(spec)
    q = "SELECT l_returnflag, SUM(l_quantity) AS s FROM lineitem GROUP BY l_returnflag"
    with_st = eng2.sql(q)
    without = eng2.sql(f"SET useStarTree='false'; {q}")
    assert "rollup" in with_st._jdf.queryExecution().executedPlan().treeString().lower()
    assert "rollup" not in without._jdf.queryExecution().executedPlan().treeString().lower()
    # answers agree either way
    a = {(r["l_returnflag"], round(r["s"], 2)) for r in with_st.collect()}
    b = {(r["l_returnflag"], round(r["s"], 2)) for r in without.collect()}
    assert a == b


def test_envelope_rollup_and_percentilerawest(spark, tmp_path):
    """The broker-envelope path gets the same rollup acceleration as
    sql() (same answers, rollup scan in the plan) and honors
    useStarTree=false; PERCENTILERAWEST rejects with guidance (the
    QuantileDigest wire format has no public library to validate
    against)."""
    from apache_pinot_spark.plans.rollup import RollupSpec, build_rollup

    eng = PinotEngine(spark, "/root/testdata/sf0.001", tables=["lineitem"])
    spec = RollupSpec(
        table="lineitem", dimensions=["l_returnflag"], metrics=["l_quantity"]
    )
    build_rollup(spark, eng._dfs["lineitem"], spec, warehouse=str(tmp_path))
    eng.add_rollup(spec)
    q = ("SELECT l_returnflag, SUM(l_quantity) AS s FROM lineitem "
         "GROUP BY l_returnflag ORDER BY l_returnflag")
    env = eng.query(q)
    direct = spark.sql(
        "SELECT l_returnflag, SUM(l_quantity) AS s FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag"
    ).collect()
    got = {tuple(r) for r in env["resultTable"]["rows"]}
    want = {(r["l_returnflag"], r["s"]) for r in direct}
    assert {(a, round(float(b), 2)) for a, b in got} == {
        (a, round(float(b), 2)) for a, b in want
    }
    env2 = eng.query(f"SET useStarTree='false'; {q}")
    got2 = {(a, round(float(b), 2)) for a, b in env2["resultTable"]["rows"]}
    assert got2 == {(a, round(float(b), 2)) for a, b in want}
    with pytest.raises(ValueError, match="PERCENTILERAWEST"):
        eng.rewrite("SELECT PERCENTILERAWEST(l_quantity, 50) FROM lineitem")


def test_ansi_passthrough_shapes_survive_rewrite(spark, duck):
    """The regex rewriter must leave plain ANSI shapes intact: CASE WHEN
    (incl. dialect functions inside the branches), WITH CTEs whose names
    must NOT be resolved as tables, and scalar subqueries in WHERE — the
    forms a migrating user writes constantly. Each is DuckDB-checked."""
    from apache_pinot_spark.sqlfront import PinotEngine
    from tests.conftest import SF_CORRECTNESS

    eng = PinotEngine(spark, SF_CORRECTNESS, tables=["orders", "lineitem"])

    got = eng.sql(
        "SELECT o_orderstatus, SUM(CASE WHEN o_totalprice > 100000 THEN 1 "
        "ELSE 0 END) AS big FROM orders GROUP BY o_orderstatus "
        "ORDER BY o_orderstatus"
    ).collect()
    want = duck.sql(
        "SELECT o_orderstatus, SUM(CASE WHEN o_totalprice > 100000 THEN 1 "
        "ELSE 0 END) AS big FROM orders GROUP BY o_orderstatus "
        "ORDER BY o_orderstatus"
    ).fetchall()
    assert [(r[0], r[1]) for r in got] == [(r[0], r[1]) for r in want]

    got = eng.sql(
        "WITH t AS (SELECT o_orderstatus s, COUNT(*) c FROM orders "
        "GROUP BY o_orderstatus) SELECT s, c FROM t ORDER BY s"
    ).collect()
    want = duck.sql(
        "WITH t AS (SELECT o_orderstatus s, COUNT(*) c FROM orders "
        "GROUP BY o_orderstatus) SELECT s, c FROM t ORDER BY s"
    ).fetchall()
    assert [(r[0], r[1]) for r in got] == [(r[0], r[1]) for r in want]

    # scalar subquery in WHERE, with a DIALECT aggregate inside it
    got = eng.sql(
        "SELECT COUNT(*) AS c FROM lineitem WHERE l_quantity > "
        "(SELECT PERCENTILE(l_quantity, 90) FROM lineitem)"
    ).collect()[0]["c"]
    want = duck.sql(
        "SELECT COUNT(*) AS c FROM lineitem WHERE l_quantity > "
        "(SELECT quantile_cont(l_quantity, 0.90) FROM lineitem)"
    ).fetchone()[0]
    assert got == want

    # dialect functions inside CASE branches rewrite in place
    got = eng.sql(
        "SELECT SUM(CASE WHEN dateTrunc('DAY', l_shipdate) >= "
        "fromDateTime('1996-01-01','yyyy-MM-dd') THEN 1 ELSE 0 END) AS c "
        "FROM lineitem"
    ).collect()[0]["c"]
    want = duck.sql(
        "SELECT SUM(CASE WHEN date_trunc('day', l_shipdate) >= "
        "TIMESTAMP '1996-01-01' THEN 1 ELSE 0 END) AS c FROM lineitem"
    ).fetchone()[0]
    assert got == want


def test_reference_function_surface_fully_handled(spark):
    """Automated parity sweep: every function-shaped token in the
    reference docs mirror (ALL-CAPS or camelCase followed by an open
    paren) resolves to a dialect handler or a Spark built-in. Guards
    against silently dropping a public function the docs name."""
    import glob
    import os
    import re

    ref = "/root/reference"
    if not os.path.isdir(ref):
        import pytest as _pt

        _pt.skip("reference docs mirror not present")
    toks = set()
    for p in glob.glob(f"{ref}/**/*.md", recursive=True):
        txt = open(p, encoding="utf-8", errors="replace").read()
        for m in re.finditer(r"\b([A-Za-z][A-Za-z0-9_]{3,})\s*\(", txt):
            t = m.group(1)
            if t.upper() == t or any(c.isupper() for c in t[1:]):
                toks.add(t)
    from apache_pinot_spark.sqlfront import PinotDialect

    handled = {h.upper() for h in PinotDialect()._handlers()}
    builtins = {r.function.upper() for r in spark.sql("SHOW FUNCTIONS").collect()}
    known_non_functions = {"BYTES", "WHERE"}  # type name / keyword followed by (
    missing = sorted(
        t for t in toks
        if t.upper() not in handled
        and t.upper() not in builtins
        and t.upper() not in known_non_functions
    )
    assert missing == [], f"reference names functions with no handler: {missing}"


def test_constant_folded_match_predicates_stay_predicates(spark):
    """TEXT_MATCH on stop words only matches every row; a JSON_MATCH
    conjunction across two arrays under disableCrossArrayUnnest, and
    IN_ID_SET against an empty set, match none. All fold to constants, and
    Spark parses a parenthesized bare constant after ``FROM t WHERE`` as a
    table alias column list; the emitted predicates must filter, on tables
    of one column and of two."""
    import base64

    from apache_pinot_spark.functions.json import JsonIndexConfig

    eng = PinotEngine(spark)
    bodies = ["the cat sat", "a dog ran"]
    eng.register("tm_const_one", spark.createDataFrame([(b,) for b in bodies], ["body"]))
    eng.register(
        "tm_const_two", spark.createDataFrame(list(enumerate(bodies, 1)), ["id", "body"])
    )
    one = eng.sql("SELECT * FROM tm_const_one WHERE TEXT_MATCH(body, 'the')")
    assert one.columns == ["body"]
    assert sorted(r["body"] for r in one.collect()) == sorted(bodies)
    two = eng.sql("SELECT id FROM tm_const_two WHERE TEXT_MATCH(body, 'the') ORDER BY id")
    assert [r["id"] for r in two.collect()] == [1, 2]
    for blob in (b"[]", b"\x00"):  # empty JSON and empty typed ID_SET
        empty = base64.b64encode(blob).decode()
        one = eng.sql(f"SELECT * FROM tm_const_one WHERE (IN_ID_SET(body, '{empty}'))")
        assert one.columns == ["body"]
        assert one.collect() == []

    doc = '{"p": [{"x": 1}], "q": [{"y": 2}]}'
    eng.register("jm_const_one", spark.createDataFrame([(doc,)], ["j"]), json_columns=["j"])
    eng.register(
        "jm_const_two", spark.createDataFrame([(1, doc)], ["id", "j"]), json_columns=["j"]
    )
    eng.set_json_index_config("j", JsonIndexConfig(disable_cross_array_unnest=True))
    cross = """JSON_MATCH(j, '"$.p[*].x"=1 AND "$.q[*].y"=2')"""
    one = eng.sql(f"SELECT * FROM jm_const_one WHERE {cross}")
    assert one.columns == ["j"]
    assert one.collect() == []
    assert eng.sql(f"SELECT id FROM jm_const_two WHERE {cross}").collect() == []
