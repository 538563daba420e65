"""Schema compiler + batch ingestion + maintenance jobs (SURVEY §2.1
S1/S3/S7/S8, §1.2 sentinel semantics)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from apache_pinot_spark.plans.schema import INT_MIN, LONG_MIN, DateTimeFormat, PinotSchema
from apache_pinot_spark.sources import batch as B

SCHEMA_DOC = {
    "schemaName": "transcript",
    "dimensionFieldSpecs": [
        {"name": "studentID", "dataType": "INT"},
        {"name": "firstName", "dataType": "STRING"},
        {"name": "gender", "dataType": "STRING"},
        {"name": "subjects", "dataType": "STRING", "singleValueField": False},
    ],
    "metricFieldSpecs": [{"name": "score", "dataType": "FLOAT"}],
    "dateTimeFieldSpecs": [
        {
            "name": "timestampInEpoch",
            "dataType": "LONG",
            "format": "1:MILLISECONDS:EPOCH",
            "granularity": "1:DAYS",
        }
    ],
}


@pytest.fixture(scope="module")
def schema():
    return PinotSchema.from_json(json.dumps(SCHEMA_DOC))


def test_schema_compiles(schema):
    st = schema.struct_type
    assert st["studentID"].dataType.simpleString() == "int"
    assert st["subjects"].dataType.simpleString() == "array<string>"
    assert st["score"].dataType.simpleString() == "float"
    assert schema.primary_time_column == "timestampInEpoch"


def test_sentinel_defaults(schema, spark):
    # configuration-reference/schema.md:29-38 (dims) and :53-60 (metrics)
    df = spark.createDataFrame(
        [(None, None, "f", None, None, 1_700_000_000_000)],
        schema="studentID INT, firstName STRING, gender STRING, "
               "subjects ARRAY<STRING>, score FLOAT, timestampInEpoch LONG",
    )
    out = schema.apply_sentinels(schema.apply_types(df)).collect()[0]
    assert out["studentID"] == INT_MIN
    assert out["firstName"] == "null"
    assert out["subjects"] == ["null"]  # MV default = [sentinel] (schema.md:25)
    assert out["score"] == 0.0  # metric default, not -inf


def test_dim_long_and_double_sentinels(spark):
    sch = PinotSchema.from_json(
        {
            "schemaName": "s",
            "dimensionFieldSpecs": [
                {"name": "l", "dataType": "LONG"},
                {"name": "d", "dataType": "DOUBLE"},
                {"name": "b", "dataType": "BOOLEAN"},
            ],
        }
    )
    df = spark.createDataFrame([(None, None, None)], schema="l LONG, d DOUBLE, b BOOLEAN")
    out = sch.apply_sentinels(sch.apply_types(df)).collect()[0]
    assert out["l"] == LONG_MIN
    assert out["d"] == float("-inf")
    assert out["b"] is False


def test_datetime_format_parse():
    f = DateTimeFormat.parse("1:DAYS:SIMPLE_DATE_FORMAT:yyyyMMdd")
    assert (f.size, f.unit, f.fmt, f.pattern) == (1, "DAYS", "SIMPLE_DATE_FORMAT", "yyyyMMdd")
    e = DateTimeFormat.parse("1:HOURS:EPOCH")
    assert (e.size, e.unit, e.fmt) == (1, "HOURS", "EPOCH")


def test_epoch_hours_normalization(spark):
    sch = PinotSchema.from_json(
        {
            "schemaName": "s",
            "dateTimeFieldSpecs": [
                {"name": "h", "dataType": "INT", "format": "1:HOURS:EPOCH",
                 "granularity": "1:HOURS"}
            ],
        }
    )
    df = spark.createDataFrame([Row(h=473354)])  # hours since epoch
    ts = df.select(sch.normalized_time(df, "h").alias("ts")).collect()[0]["ts"]
    assert ts.year == 2024 and ts.minute == 0


@pytest.fixture(scope="module")
def ingested(spark, tmp_path_factory, schema):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    rows = [
        Row(studentID=i, firstName=f"s{i}", gender="mf"[i % 2],
            subjects=["math", "cs"] if i % 3 else None,
            score=float(i), timestampInEpoch=1_700_000_000_000 + i * 43_200_000)
        for i in range(20)
    ]
    cfg = B.TableConfig(
        table_name="transcript",
        time_column="timestampInEpoch",
        partition_granularity="1:DAYS",
        sorted_column="studentID",
        bloom_filter_columns=["firstName"],
        timestamp_index_granularities={"timestampInEpoch": ["DAY"]},
    )
    path = B.ingest_batch(spark, schema, cfg, spark.createDataFrame(rows), warehouse=wh)
    return spark, path, cfg


def test_ingest_partitions_and_meta(ingested):
    spark, path, cfg = ingested
    segs = B.list_segments(path)
    assert len(segs) > 1  # 20 rows over 12h steps → multiple day buckets
    meta = B.read_table_meta(path)
    assert meta["config"]["sortedColumn"] == "studentID"
    df = spark.read.parquet(path)
    assert df.count() == 20
    assert "$timestampInEpoch$DAY" in df.columns  # timestamp-index column


def test_ingest_partition_pruning(ingested):
    spark, path, cfg = ingested
    df = spark.read.parquet(path)
    buckets = sorted(r[B.TIME_BUCKET_COL] for r in df.select(B.TIME_BUCKET_COL).distinct().collect())
    plan = df.filter(F.col(B.TIME_BUCKET_COL) == buckets[0])._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan (no full-table read)
    assert "PartitionFilters: [isnotnull" in plan or f"{B.TIME_BUCKET_COL}" in plan


def test_purge(ingested):
    spark, path, cfg = ingested
    purge = spark.createDataFrame([Row(studentID=3), Row(studentID=7)])
    n = B.purge_records(spark, path, purge, "studentID")
    assert n == 2
    left = spark.read.parquet(path)
    assert left.filter(F.col("studentID").isin(3, 7)).count() == 0
    assert left.count() == 18


def test_purge_key_set_is_bounded(ingested):
    """The driver-side key materialization is bounded-or-raise (same
    stance as ivf_topk.max_query_rows) — an oversized key frame must
    raise, not risk a silent driver OOM."""
    spark, path, cfg = ingested
    big = spark.range(10).withColumnRenamed("id", "studentID")
    with pytest.raises(ValueError, match="max_purge_keys"):
        B.purge_records(spark, path, big, "studentID", max_purge_keys=5)


def test_reload_with_layout(ingested, schema, tmp_path_factory):
    spark, path, cfg = ingested
    wh = os.path.dirname(path)
    new_cfg = B.TableConfig(
        table_name="transcript",
        time_column="timestampInEpoch",
        sorted_column="score",
        text_index_columns=[],
        timestamp_index_granularities={"timestampInEpoch": ["DAY", "MONTH"]},
    )
    rows_before = spark.read.parquet(path).count()
    new_path = B.reload_with_layout(spark, schema, path, new_cfg, warehouse=wh)
    df = spark.read.parquet(new_path)
    assert "$timestampInEpoch$MONTH" in df.columns
    assert df.count() == rows_before  # every row survives the reload


def test_catalog_crud(spark, tmp_path_factory, schema):
    from apache_pinot_spark.catalog import PinotCatalog
    from pyspark.sql import Row

    wh = str(tmp_path_factory.mktemp("cat_wh"))
    cat = PinotCatalog(spark, wh)
    cat.create_schema(SCHEMA_DOC)
    assert cat.list_schemas() == ["transcript"]
    rows = [
        Row(studentID=i, firstName=f"s{i}", gender="f", subjects=["cs"],
            score=1.0, timestampInEpoch=1_700_000_000_000 + i * 86_400_000)
        for i in range(4)
    ]
    cfg = B.TableConfig(table_name="transcript2", time_column="timestampInEpoch")
    cat.create_table("transcript", cfg, spark.createDataFrame(rows))
    assert cat.list_tables() == ["transcript2"]
    assert len(cat.list_segments("transcript2")) == 4  # one day-bucket each
    assert spark.sql("SELECT COUNT(*) c FROM transcript2").collect()[0]["c"] == 4
    meta = cat.table_meta("transcript2")
    assert meta["schemaName"] == "transcript"
    # re-attach in the same session (simulates restart)
    assert cat.attach_all() == ["transcript2"]
    cat.drop_table("transcript2")
    assert cat.list_tables() == []


def test_sentinel_aggregate_semantics(spark, schema):
    """Pinot COUNT(col) counts sentinel rows too — no native NULLs
    (schema.md:24): after the sentinel pass, COUNT(col) == COUNT(*) and
    aggregates see sentinel values, not SQL NULL-skipping."""
    df = spark.createDataFrame(
        [(1, "a", "f", ["cs"], 5.0, 1_700_000_000_000),
         (None, None, "m", None, None, 1_700_000_000_000)],
        schema="studentID INT, firstName STRING, gender STRING, "
               "subjects ARRAY<STRING>, score FLOAT, timestampInEpoch LONG",
    )
    out = schema.apply_sentinels(schema.apply_types(df))
    row = out.agg(
        F.count("studentID").alias("c_col"),
        F.count("*").alias("c_star"),
        F.sum("score").alias("s"),
        F.min("studentID").alias("m"),
    ).collect()[0]
    assert row["c_col"] == row["c_star"] == 2  # sentinel rows are counted
    assert row["s"] == 5.0  # metric sentinel 0.0 participates in SUM
    assert row["m"] == INT_MIN  # dimension sentinel participates in MIN


def test_time_range_validation_rejects_out_of_window(schema, spark, tmp_path):
    # schema.md:72: primary time values must land in 1971-2071 UTC
    bad = spark.createDataFrame(
        [Row(studentID=1, firstName="a", gender="f", subjects=["m"],
             score=1.0, timestampInEpoch=10_000)],  # 1970-01-01T00:00:10
    )
    cfg = B.TableConfig(table_name="t_badtime", time_column="timestampInEpoch")
    with pytest.raises(ValueError, match="1971-2071"):
        B.ingest_batch(spark, schema, cfg, bad, warehouse=str(tmp_path), mode="overwrite")
    # bypass flag honors dirty-data loads
    cfg2 = B.TableConfig(
        table_name="t_badtime2", time_column="timestampInEpoch", validate_time_range=False
    )
    path = B.ingest_batch(spark, schema, cfg2, bad, warehouse=str(tmp_path), mode="overwrite")
    assert spark.read.parquet(path).count() == 1


def test_bloom_filter_tuning_options(schema, spark, tmp_path):
    # bloom-filter.md:13-17: fpp + maxSizeInBytes knobs reach the writer
    df = spark.createDataFrame(
        [Row(studentID=i, firstName=f"n{i}", gender="f", subjects=["m"],
             score=1.0, timestampInEpoch=1_700_000_000_000 + i) for i in range(50)],
    )
    cfg = B.TableConfig(
        table_name="t_bloom_tuned",
        time_column="timestampInEpoch",
        bloom_filter_columns=["firstName"],
        bloom_filter_fpp=0.01,
        bloom_filter_max_size_bytes=1 << 20,
    )
    path = B.ingest_batch(spark, schema, cfg, df, warehouse=str(tmp_path), mode="overwrite")
    assert spark.read.parquet(path).count() == 50
    meta = B.read_table_meta(path)
    assert meta["config"]["bloomFilterFpp"] == 0.01
    assert meta["config"]["bloomFilterMaxSizeBytes"] == 1 << 20
    # config JSON round-trips through from_json
    rt = B.TableConfig.from_json(meta["config"])
    assert rt.bloom_filter_fpp == 0.01 and rt.bloom_filter_max_size_bytes == 1 << 20


def test_virtual_column_provider(spark, tmp_path):
    # schema.md:81: virtualColumnProvider — computed column at ingest;
    # this engine takes a Spark SQL expression (documented divergence
    # from Pinot's Java class name)
    doc = {
        "schemaName": "vc",
        "dimensionFieldSpecs": [
            {"name": "studentID", "dataType": "INT"},
            {"name": "firstName", "dataType": "STRING"},
            {"name": "nameUpper", "dataType": "STRING",
             "virtualColumnProvider": "upper(firstName)"},
            {"name": "idBucket", "dataType": "INT",
             "virtualColumnProvider": "pmod(studentID, 4)"},
        ],
        "metricFieldSpecs": [],
        "dateTimeFieldSpecs": [
            {"name": "timestampInEpoch", "dataType": "LONG",
             "format": "1:MILLISECONDS:EPOCH", "granularity": "1:DAYS"}
        ],
    }
    sch = PinotSchema.from_json(json.dumps(doc))
    df = spark.createDataFrame(
        [Row(studentID=7, firstName="ada", timestampInEpoch=1_700_000_000_000)]
    )
    cfg = B.TableConfig(table_name="t_vc", time_column="timestampInEpoch")
    path = B.ingest_batch(spark, sch, cfg, df, warehouse=str(tmp_path), mode="overwrite")
    row = spark.read.parquet(path).collect()[0]
    assert row["nameUpper"] == "ADA" and row["idBucket"] == 3


def test_compact_segments_merges_small_files(spark, tmp_path):
    import os as _os

    from pyspark.sql import functions as PF

    table = str(tmp_path / "frag")
    # fragment one partition into many small files (micro-batch pattern)
    for i in range(6):
        (spark.range(i * 10, i * 10 + 10)
         .withColumn("__time_bucket", PF.lit("202401010000"))
         .write.mode("append").partitionBy("__time_bucket").parquet(table))
    seg = _os.path.join(table, "__time_bucket=202401010000")
    n_before = len([f for f in _os.listdir(seg) if f.endswith(".parquet")])
    assert n_before >= 6
    rows_before = spark.read.parquet(table).count()
    compacted = B.compact_segments(spark, table, target_file_bytes=1 << 30)
    assert compacted == ["__time_bucket=202401010000"]
    n_after = len([f for f in _os.listdir(seg) if f.endswith(".parquet")])
    assert n_after == 1  # everything fits one target-size file
    assert spark.read.parquet(table).count() == rows_before  # lossless
    # second run: nothing left to do
    assert B.compact_segments(spark, table, target_file_bytes=1 << 30) == []


def test_complex_type_transform(spark):
    from apache_pinot_spark.sources.complex import complex_type_transform

    df = spark.createDataFrame(
        [
            (1, {"street": "main", "geo": {"lat": 1.0}},
             [{"sku": "a", "qty": 2}, {"sku": "b", "qty": 1}],
             ["t1", "t2"], {"k1": "v1"}),
            (2, {"street": "second", "geo": {"lat": 2.0}}, [], ["t3"], {"k2": "v2"}),
        ],
        "id INT, address STRUCT<street:STRING, geo:STRUCT<lat:DOUBLE>>, "
        "items ARRAY<STRUCT<sku:STRING, qty:INT>>, tags ARRAY<STRING>, "
        "attrs MAP<STRING,STRING>",
    )
    out = complex_type_transform(df, unnest_fields=["items"])
    cols = set(out.columns)
    # structs flatten to dotted columns, incl. nested
    assert {"address.street", "address.geo.lat"} <= cols
    # declared array-of-struct unnests to rows with dotted element columns
    assert {"items.sku", "items.qty"} <= cols
    # arrays of primitives stay MV columns
    assert "tags" in cols and dict(out.dtypes)["tags"] == "array<string>"
    # maps flatten to per-key columns
    assert {"attrs.k1", "attrs.k2"} <= cols
    rows = out.orderBy("id", "`items.sku`").collect()
    # row 1 exploded to 2 rows; row 2's empty array kept with NULLs
    assert [(r["id"], r["items.sku"]) for r in rows] == [(1, "a"), (1, "b"), (2, None)]
    assert rows[0]["address.geo.lat"] == 1.0 and rows[2]["attrs.k2"] == "v2"


def test_primary_time_null_falls_back_to_ingest_time(schema, spark):
    # schema.md:72: out-of-window default null value on the PRIMARY time
    # column → segment creation time is used instead (the LONG_MIN
    # sentinel would otherwise fail the 1971-2071 validity window)
    df = spark.createDataFrame(
        [Row(studentID=1, firstName="a", gender="f", subjects=["m"],
             score=1.0, timestampInEpoch=None)],
        schema="studentID INT, firstName STRING, gender STRING, "
               "subjects ARRAY<STRING>, score FLOAT, timestampInEpoch LONG",
    )
    pinned = 1_700_000_000_000
    out = schema.apply_sentinels(schema.apply_types(df), ingest_time_ms=pinned)
    assert out.collect()[0]["timestampInEpoch"] == pinned  # 1:MILLISECONDS:EPOCH
    # a user-declared IN-range default null value is honored instead
    doc = dict(SCHEMA_DOC)
    doc["dateTimeFieldSpecs"] = [{
        "name": "timestampInEpoch", "dataType": "LONG",
        "format": "1:MILLISECONDS:EPOCH", "granularity": "1:DAYS",
        "defaultNullValue": 1_600_000_000_000,
    }]
    sch2 = PinotSchema.from_json(json.dumps(doc))
    out2 = sch2.apply_sentinels(sch2.apply_types(df), ingest_time_ms=pinned)
    assert out2.collect()[0]["timestampInEpoch"] == 1_600_000_000_000


def test_inverted_index_columns_config(schema, spark, tmp_path):
    # inverted-index.md:3-19 — the knob is honored (dictionary forced ON,
    # beating a conflicting noDictionaryColumns entry) and round-trips
    cfg = B.TableConfig(
        table_name="t_inv",
        time_column="timestampInEpoch",
        inverted_index_columns=["gender"],
        no_dictionary_columns=["gender", "firstName"],
    )
    df = spark.createDataFrame(
        [Row(studentID=i, firstName=f"n{i}", gender="f" if i % 2 else "m",
             subjects=["x"], score=1.0, timestampInEpoch=1_700_000_000_000 + i)
         for i in range(20)]
    )
    path = B.ingest_batch(spark, schema, cfg, df, warehouse=str(tmp_path), mode="overwrite")
    assert spark.read.parquet(path).count() == 20
    rt = B.TableConfig.from_json(B.read_table_meta(path)["config"])
    assert rt.inverted_index_columns == ["gender"]


# --------------------------------------------------------------------------
# S1 — multi-format sources: the reference's batch ingestion accepts CSV /
# JSON / ORC / Parquet (basics/Architecture.md:192-196 batch flow). One
# dataset round-trips through each reader into the same segment store with
# identical results.
# --------------------------------------------------------------------------

_FMT_SCHEMA_DOC = {
    "schemaName": "fmt_events",
    "dimensionFieldSpecs": [
        {"name": "event_id", "dataType": "LONG"},
        {"name": "event_type", "dataType": "STRING"},
    ],
    "metricFieldSpecs": [{"name": "value", "dataType": "DOUBLE"}],
    "dateTimeFieldSpecs": [
        {"name": "ts_ms", "dataType": "LONG", "format": "1:MILLISECONDS:EPOCH",
         "granularity": "1:DAYS"}
    ],
}

_FMT_ROWS = [
    (1, "view", 1.5, 1_700_000_000_000),
    (2, "click", 2.5, 1_700_086_400_000),
    (3, "view", 0.5, 1_700_172_800_000),
]


@pytest.mark.parametrize("fmt", ["csv", "json", "orc", "parquet"])
def test_ingest_batch_multi_format(spark, tmp_path, fmt):
    src_df = spark.createDataFrame(
        _FMT_ROWS, "event_id LONG, event_type STRING, value DOUBLE, ts_ms LONG"
    )
    src = str(tmp_path / f"src_{fmt}")
    writer = src_df.coalesce(1).write.mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.format(fmt).save(src)

    schema = PinotSchema.from_json(json.dumps(_FMT_SCHEMA_DOC))
    cfg = B.TableConfig(table_name=f"fmt_{fmt}", time_column="ts_ms")
    path = B.ingest_batch(
        spark, schema, cfg, src, fmt=fmt,
        warehouse=str(tmp_path / "wh"), mode="overwrite",
    )
    out = spark.read.parquet(path)
    got = sorted(
        (r["event_id"], r["event_type"], r["value"], r["ts_ms"])
        for r in out.collect()
    )
    assert got == sorted(_FMT_ROWS)
    # time-bucketed segments: one day-partition per distinct day
    assert len(B.list_segments(path)) == 3


def test_failed_time_validation_preserves_existing_table(spark, tmp_path):
    """Overwrite ingest whose time column violates the 1971-2071 window
    must fail WITHOUT destroying the previously ingested table (the write
    goes to a staging dir and only swaps in after the check passes)."""
    schema = PinotSchema.from_json(json.dumps(_FMT_SCHEMA_DOC))
    cfg = B.TableConfig(table_name="safe_ow", time_column="ts_ms")
    wh = str(tmp_path / "wh")
    good = spark.createDataFrame(
        _FMT_ROWS, "event_id LONG, event_type STRING, value DOUBLE, ts_ms LONG"
    )
    path = B.ingest_batch(spark, schema, cfg, good, warehouse=wh, mode="overwrite")
    assert spark.read.parquet(path).count() == len(_FMT_ROWS)

    bad = spark.createDataFrame(
        [(9, "bad", 1.0, 10_000)],  # 1970-01-01T00:00:10 — before the window
        "event_id LONG, event_type STRING, value DOUBLE, ts_ms LONG",
    )
    with pytest.raises(ValueError, match="1971-2071"):
        B.ingest_batch(spark, schema, cfg, bad, warehouse=wh, mode="overwrite")
    # old table untouched, staging cleaned up
    spark.catalog.refreshByPath(path)
    assert spark.read.parquet(path).count() == len(_FMT_ROWS)
    assert not os.path.exists(path + ".ingesting")


def test_config_driven_sketch_columns(spark, tmp_path_factory):
    """TableConfig.sketch_columns: declaring BYTES sketch columns in
    the table config wires their wire-format registrations at
    register_ingested time — DISTINCTCOUNTTHETASKETCH /
    DISTINCTCOUNTBITMAP answer from the right merge domain with NO
    per-column call; unknown kinds fail loudly."""
    import numpy as np

    from apache_pinot_spark.functions import bitmap_wire as BW
    from apache_pinot_spark.functions import theta as TH
    from apache_pinot_spark.plans.schema import PinotSchema
    from apache_pinot_spark.sqlfront import PinotEngine

    wh = str(tmp_path_factory.mktemp("wh_sketchcols"))
    schema = PinotSchema.from_json(
        {
            "schemaName": "seg_stats",
            "dimensionFieldSpecs": [{"name": "seg", "dataType": "INT"}],
            "metricFieldSpecs": [
                {"name": "users_theta", "dataType": "BYTES"},
                {"name": "users_bitmap", "dataType": "BYTES"},
            ],
            "dateTimeFieldSpecs": [
                {
                    "name": "ts",
                    "dataType": "LONG",
                    "format": "1:MILLISECONDS:EPOCH",
                    "granularity": "1:DAYS",
                }
            ],
        }
    )
    rows = []
    for seg in range(4):
        ids = np.arange(seg * 500, seg * 500 + 1000)
        rows.append(
            (
                seg,
                TH.serialize(TH.ThetaSketch.from_values(
                    __import__("pandas").Series(ids))),
                BW.serialize(BW.RoaringBitmap32.from_values(ids)),
                1_700_000_000_000 + seg,
            )
        )
    df = spark.createDataFrame(
        rows, "seg int, users_theta binary, users_bitmap binary, ts long"
    )
    from apache_pinot_spark.sources import batch as B

    cfg = B.TableConfig(
        table_name="seg_stats",
        time_column="ts",
        sketch_columns={"users_theta": "theta", "users_bitmap": "bitmap"},
    )
    path = B.ingest_batch(spark, schema, cfg, df, warehouse=wh)
    eng = PinotEngine(spark)
    eng.register_ingested("seg_stats", path)
    row = eng.sql(
        "SELECT DISTINCTCOUNTTHETASKETCH(users_theta) AS t, "
        "DISTINCTCOUNTBITMAP(users_bitmap) AS b FROM seg_stats"
    ).collect()[0]
    assert row["b"] == 2500  # ids 0..2499, overlapping segments OR'd
    assert row["t"] == 2500  # exact regime: theta estimate is exact
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown sketch kind"):
        eng.apply_sketch_columns({"x": "moments"})  # cpc became real in r8


def test_unknown_sketch_kind_rejected_before_ingest_writes(spark, tmp_path):
    """A table config with an unknown sketchColumns kind never reaches
    the warehouse: every later register_ingested of it would raise."""
    sch = PinotSchema.from_json(
        {
            "schemaName": "bad_kinds",
            "dimensionFieldSpecs": [{"name": "seg", "dataType": "INT"}],
            "metricFieldSpecs": [{"name": "sk", "dataType": "BYTES"}],
        }
    )
    df = spark.createDataFrame([(1, b"\x01")], "seg int, sk binary")
    cfg = B.TableConfig(table_name="bad_kinds", sketch_columns={"sk": "moments"})
    with pytest.raises(ValueError, match="unknown sketch kind"):
        B.ingest_batch(spark, sch, cfg, df, warehouse=str(tmp_path))
    with pytest.raises(ValueError, match="unknown sketch kind"):
        B.ingest_bucketed(spark, sch, cfg, df, "seg", 2, warehouse=str(tmp_path))
    assert not (tmp_path / "bad_kinds").exists()


def test_non_bytes_sketch_column_rejected_before_ingest_writes(spark, tmp_path):
    """A sketch kind on a column that is not BYTES after type application
    never reaches the warehouse: its aggregates would fail inside a
    Python worker."""
    sch = PinotSchema.from_json(
        {
            "schemaName": "int_sketch",
            "dimensionFieldSpecs": [{"name": "seg", "dataType": "INT"}],
            "metricFieldSpecs": [{"name": "sk", "dataType": "BYTES"}],
        }
    )
    df = spark.createDataFrame([(1, b"\x01")], "seg int, sk binary")
    cfg = B.TableConfig(table_name="int_sketch", sketch_columns={"seg": "theta"})
    with pytest.raises(ValueError, match="must be BYTES"):
        B.ingest_batch(spark, sch, cfg, df, warehouse=str(tmp_path))
    with pytest.raises(ValueError, match="must be BYTES"):
        B.ingest_bucketed(spark, sch, cfg, df, "seg", 2, warehouse=str(tmp_path))
    assert not (tmp_path / "int_sketch").exists()


def test_register_ingested_rejects_non_bytes_sketch_column(spark, tmp_path):
    """A table whose stored config maps a non-BYTES column to a sketch
    kind (written before ingest checked the type) fails at
    register_ingested, not later inside a Python worker."""
    from apache_pinot_spark.sqlfront import PinotEngine

    sch = PinotSchema.from_json(
        {
            "schemaName": "int_sketch_meta",
            "dimensionFieldSpecs": [{"name": "seg", "dataType": "INT"}],
        }
    )
    cfg = B.TableConfig(table_name="int_sketch_meta")
    path = B.ingest_batch(
        spark, sch, cfg, spark.createDataFrame([(1,)], "seg int"), warehouse=str(tmp_path)
    )
    meta_file = os.path.join(path, "_pinot_table.json")
    with open(meta_file) as fh:
        meta = json.load(fh)
    meta["config"]["sketchColumns"] = {"seg": "theta"}
    with open(meta_file, "w") as fh:
        json.dump(meta, fh)
    eng = PinotEngine(spark)
    with pytest.raises(ValueError, match="must be BYTES"):
        eng.register_ingested("int_sketch_meta", path)
    sql = eng.rewrite("SELECT DISTINCTCOUNTTHETASKETCH(seg) FROM int_sketch_meta").sql
    assert "COUNT(DISTINCT seg)" in sql


@pytest.mark.parametrize("other_first", [True, False])
def test_sketch_column_type_check_reads_only_the_declaring_table(
    spark, tmp_path, other_first
):
    """register_ingested checks its sketchColumns against its own table:
    another table holding a same-named column as STRING neither blocks the
    declaration nor depends on which of the two is registered first."""
    from apache_pinot_spark.functions.theta import UNION_UDF
    from apache_pinot_spark.sqlfront import PinotEngine

    sch = PinotSchema.from_json(
        {
            "schemaName": "bytes_payload",
            "dimensionFieldSpecs": [{"name": "seg", "dataType": "INT"}],
            "metricFieldSpecs": [{"name": "payload", "dataType": "BYTES"}],
        }
    )
    cfg = B.TableConfig(table_name="bytes_payload", sketch_columns={"payload": "theta"})
    path = B.ingest_batch(
        spark,
        sch,
        cfg,
        spark.createDataFrame([(1, b"\x01")], "seg int, payload binary"),
        warehouse=str(tmp_path),
    )
    eng = PinotEngine(spark)
    other = spark.createDataFrame([("a",)], "payload string")
    if other_first:
        eng.register("string_payload", other)
    eng.register_ingested("bytes_payload", path)
    if not other_first:
        eng.register("string_payload", other)
    sql = eng.rewrite("SELECT DISTINCTCOUNTTHETASKETCH(payload) FROM bytes_payload").sql
    assert UNION_UDF in sql


def test_ingestion_transforms_and_filter(spark, tmp_path_factory):
    """ingestionConfig.transformConfigs run PINOT-dialect expressions at
    ingest (ordered, later ones see earlier outputs) and
    filterConfig.filterFunction DROPS matching rows — both pure
    Catalyst, evaluated before schema typing."""
    from apache_pinot_spark.plans.schema import PinotSchema
    from apache_pinot_spark.sqlfront import PinotEngine

    wh = str(tmp_path_factory.mktemp("wh_transforms"))
    schema = PinotSchema.from_json(
        {
            "schemaName": "tx",
            "dimensionFieldSpecs": [
                {"name": "user", "dataType": "STRING"},
                {"name": "plan_name", "dataType": "STRING"},
            ],
            "metricFieldSpecs": [{"name": "spend_cents", "dataType": "LONG"}],
            "dateTimeFieldSpecs": [
                {
                    "name": "ts_ms",
                    "dataType": "LONG",
                    "format": "1:MILLISECONDS:EPOCH",
                    "granularity": "1:DAYS",
                }
            ],
        }
    )
    raw = spark.createDataFrame(
        [
            ("u1", '{"plan": {"name": "pro", "cents": "19.99"}}', 1_700_000_000),
            ("u2", '{"plan": {"name": "free", "cents": "0"}}', 1_700_000_001),
            ("u3", '{"plan": {"name": "pro", "cents": "9.5"}}', 1_700_000_002),
        ],
        "user string, payload string, epoch_s long",
    )
    cfg = B.TableConfig(
        table_name="tx",
        time_column="ts_ms",
        ingestion_transforms=[
            {"columnName": "plan_name",
             "transformFunction": "JSONPATHSTRING(payload, '$.plan.name')"},
            # later transform sees nothing special but uses Pinot fns:
            {"columnName": "spend_cents",
             "transformFunction":
                 "CAST(JSONPATHDOUBLE(payload, '$.plan.cents') * 100 AS LONG)"},
            {"columnName": "ts_ms",
             "transformFunction": "FROMEPOCHSECONDS(epoch_s)"},
        ],
        filter_function="plan_name = 'free'",  # exclude free-tier rows
    )
    path = B.ingest_batch(spark, schema, cfg, raw, warehouse=wh)
    eng = PinotEngine(spark)
    eng.register_ingested("tx", path)
    rows = {
        r["user"]: (r["plan_name"], r["spend_cents"])
        for r in eng.sql("SELECT user, plan_name, spend_cents FROM tx").collect()
    }
    # (long)(19.99 * 100) truncates to 1998 in Java exactly as here —
    # the faithful reading of the double arithmetic; u2 filtered out
    assert rows == {"u1": ("pro", 1998), "u3": ("pro", 950)}
    # round trip through the config JSON form too
    cfg2 = B.TableConfig.from_json(cfg.to_json())
    assert cfg2.ingestion_transforms == cfg.ingestion_transforms
    assert cfg2.filter_function == cfg.filter_function


def test_ingestion_transform_hostile_fragments(spark):
    """The fragment rewriter must fail LOUDLY on expressions that
    disturb the synthetic FROM tail (injection-shaped input), and a
    filter referencing a missing column fails analysis with a clear
    error instead of silently passing rows."""
    from apache_pinot_spark.sources.batch import (
        TableConfig,
        apply_ingestion_transforms,
        rewrite_expression_fragment,
    )
    from apache_pinot_spark.sqlfront import PinotDialect

    d = PinotDialect()
    # plain fragments round-trip
    assert rewrite_expression_fragment(d, "a + 1") == "a + 1"
    # a fragment smuggling its own FROM clause changes the statement
    # shape; the rewriter must raise, not silently truncate
    import pytest as _pt

    with _pt.raises(Exception):
        bad = rewrite_expression_fragment(
            d, "1 FROM other_table; DROP TABLE x --"
        )
        # if it did not raise, it must at least not have truncated
        assert "DROP" not in bad
    df = spark.createDataFrame([(1,)], "a int")
    cfg = TableConfig(
        table_name="t",
        ingestion_transforms=[{"columnName": "b", "transformFunction": "no_such + 1"}],
    )
    with _pt.raises(Exception):
        apply_ingestion_transforms(df, cfg).collect()


def test_ingest_orc_source_round_trips(spark, tmp_path_factory, schema):
    """ORC is a Spark built-in: ingest_batch(fmt='orc') reads it through
    the generic source path (Pinot's batch ingestion supports ORC input;
    pinot-input-format docs)."""
    src = str(tmp_path_factory.mktemp("orc_src"))
    wh = str(tmp_path_factory.mktemp("orc_wh"))
    rows = [
        Row(studentID=i, firstName=f"s{i}", gender="mf"[i % 2],
            subjects=["math"], score=float(i),
            timestampInEpoch=1_700_000_000_000 + i * 43_200_000)
        for i in range(10)
    ]
    spark.createDataFrame(rows).write.mode("overwrite").orc(src)
    cfg = B.TableConfig(table_name="transcript_orc",
                        time_column="timestampInEpoch")
    path = B.ingest_batch(spark, schema, cfg, src, fmt="orc", warehouse=wh)
    out = spark.read.parquet(path)
    assert out.count() == 10
    assert {r.studentID for r in out.select("studentID").collect()} == set(range(10))


def test_ingest_avro_native_round_trip(spark, tmp_path, schema):
    """format='avro' works with or without spark-avro: the jar path is
    preferred when present; otherwise the native container reader
    (sources/avroio.py) takes over — either way the transcript corpus
    round-trips through the full ingest pipeline."""
    from apache_pinot_spark.sources import avroio

    avro_schema = {
        "type": "record", "name": "transcript", "fields": [
            {"name": "studentID", "type": "int"},
            {"name": "firstName", "type": ["null", "string"]},
            {"name": "gender", "type": "string"},
            {"name": "subjects", "type": {"type": "array", "items": "string"}},
            {"name": "score", "type": "float"},
            {"name": "timestampInEpoch", "type": "long"},
        ],
    }
    recs = [
        {"studentID": i, "firstName": None if i == 3 else f"s{i}",
         "gender": "F" if i % 2 else "M", "subjects": ["math", "cs"][: 1 + i % 2],
         "score": 3.0 + i, "timestampInEpoch": 1_571_900_400_000 + i * 86_400_000}
        for i in range(6)
    ]
    src = tmp_path / "avro_src"
    src.mkdir()
    (src / "a.avro").write_bytes(avroio.write_container(recs[:3], avro_schema))
    (src / "b.avro").write_bytes(
        avroio.write_container(recs[3:], avro_schema, codec="null"))
    cfg = B.TableConfig(table_name="transcript_avro",
                        time_column="timestampInEpoch")
    path = B.ingest_batch(spark, schema, cfg, str(src), fmt="avro",
                          warehouse=str(tmp_path / "wh"))
    out = spark.read.parquet(path)
    assert out.count() == 6
    got = {r.studentID: r for r in out.collect()}
    # sentinel fill applied to the NULL firstName (Pinot semantics)
    assert got[3].firstName == "null"
    assert sorted(got[1].subjects) == ["cs", "math"]
