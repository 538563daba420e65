"""Batch ingestion (S1), segment layout policy, and maintenance jobs
(S7 index reload, S8 GDPR purge).

Reference flow (basics/Architecture.md:192-196): raw batch data → segments
→ deep store → controller/ZK registration → server download. In Spark the
partitioned parquet directory IS the segment store (SURVEY §2.1 S3): one
time-bucket partition directory per Pinot "segment", one parquet file per
task, and catalog registration is a JSON metadata doc + temp view.

Layout policy = how Pinot's index configs become parquet write options
(SURVEY §4 — Pinot's index configs are our write-layout configs):
  * sortedColumn (forward-index.md:27-62: sorted forward index doubling as
    sorted inverted index) → sortWithinPartitions → parquet min/max
    row-group + page pruning, best scan locality.
  * bloomFilterColumns (bloom-filter.md:3-17: equality-predicate segment
    pruning, default fpp 0.05) → parquet.bloom.filter.enabled#col=true.
  * noDictionaryColumns (forward-index.md:87-111: raw forward index for
    high-cardinality columns) → parquet.enable.dictionary#col=false.
  * time-bucket partitioning (Concepts.md:17-19: segment = time-based
    partition) → partitionBy on a derived bucket column → partition
    pruning at read.
  * timestampIndexGranularities (timestamp-index.md:25-28): materialize
    `$col$DAY`-style pre-truncated epoch-millis columns; the engine's
    dialect rewrite substitutes dateTrunc calls with them.
  * textIndexColumns (text-search-support.md): materialize a tokenized
    shadow array column `$col$tokens` — queries skip re-tokenizing.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_pinot_spark.functions.text import DEFAULT_STOP_WORDS, tokens_expr
from apache_pinot_spark.plans.schema import Granularity, PinotSchema
from apache_pinot_spark.session import local_frame


@dataclass
class TableConfig:
    """Subset of the Pinot table config relevant to layout (SURVEY §7
    Phase 0; configuration-reference/table.md is a stub in the reference,
    so the field names follow the index pages)."""

    table_name: str
    time_column: str | None = None
    partition_granularity: str = "1:DAYS"  # segment = time bucket
    sorted_column: str | None = None
    # invertedIndexColumns (inverted-index.md:3-19): the parquet analogue
    # of a value→rows bitmap is dictionary encoding + page/row-group
    # statistics — force dictionary ON for these columns (a
    # noDictionaryColumns entry would otherwise win) so equality filters
    # prune at page level; the sorted column doubles as the
    # sorted-inverted-index fast path (inverted-index.md:21-27).
    inverted_index_columns: list[str] = dc_field(default_factory=list)
    bloom_filter_columns: list[str] = dc_field(default_factory=list)
    # bloom-filter tuning (bloom-filter.md:13-17): false-positive
    # probability (Pinot default 0.05) and the max filter size in bytes —
    # forwarded to the parquet writer's per-column bloom options
    bloom_filter_fpp: float = 0.05
    bloom_filter_max_size_bytes: int | None = None
    no_dictionary_columns: list[str] = dc_field(default_factory=list)
    timestamp_index_granularities: dict[str, list[str]] = dc_field(default_factory=dict)
    text_index_columns: list[str] = dc_field(default_factory=list)
    retention_days: int | None = None
    # primary time-column sanity window (configuration-reference/
    # schema.md:72): values must land in [1971-01-01, 2071-01-01) UTC
    validate_time_range: bool = True
    # Pinot segmentPartitionConfig analogue (Concepts.md segment routing:
    # queries with an equality predicate on the partition column touch
    # 1/N of the segments). Rows are hash-bucketed on this column into a
    # second partition-directory level; the dialect adds the matching
    # bucket predicate to equality filters so the parquet scan
    # partition-prunes to one bucket.
    segment_partition_column: str | None = None
    num_segment_partitions: int = 8
    # multi-column form (Pinot's segmentPartitionConfig columnPartitionMap
    # allows several partitioned columns): column → bucket count. Each
    # column gets its own bucket directory level; predicates on ANY subset
    # of the columns prune multiplicatively (e.g. user_id=… AND
    # event_type=… touches 1/(N_u·N_e) of each day's segments).
    segment_partition_columns: dict[str, int] = dc_field(default_factory=dict)
    # ingestionConfig.transformConfigs (public table config): per-column
    # transform expressions in the PINOT function dialect, evaluated at
    # ingest BEFORE schema typing (so a transform can create/overwrite a
    # declared column from raw source fields). Order matters and is
    # preserved. Compiled through the dialect rewriter → pure Catalyst
    # expressions (narrow map, codegen'd with the projection).
    ingestion_transforms: list[dict] = dc_field(default_factory=list)
    # ingestionConfig.filterConfig.filterFunction: rows where the
    # expression is TRUE are DROPPED at ingest (the public semantics —
    # the filter selects what to exclude, not what to keep)
    filter_function: str | None = None
    # BYTES sketch-state columns (configuration-reference/schema.md:48
    # names serialized sketch metric columns) → wire kind, one of
    # sqlfront.SKETCH_KINDS: theta | tuple | bitmap | tdigest | kll |
    # hllplus | hll_clearspring | cpc | freq_longs | freq_strings |
    # datasketches_hll. Ingest rejects an unknown kind before it writes;
    # PinotEngine.register_ingested declares each column through
    # apply_sketch_columns, so the right merge domain serves
    # DISTINCTCOUNT*/PERCENTILE*/FREQUENT* automatically.
    sketch_columns: dict[str, str] = dc_field(default_factory=dict)

    def segment_partition_map(self) -> dict[str, int]:
        """Column → bucket count, merging the single-column sugar fields
        with the multi-column map (map wins on conflict)."""
        m: dict[str, int] = {}
        if self.segment_partition_column:
            m[self.segment_partition_column] = self.num_segment_partitions
        m.update(self.segment_partition_columns)
        return m

    def to_json(self) -> dict:
        return {
            "tableName": self.table_name,
            "timeColumn": self.time_column,
            "partitionGranularity": self.partition_granularity,
            "sortedColumn": self.sorted_column,
            "invertedIndexColumns": self.inverted_index_columns,
            "bloomFilterColumns": self.bloom_filter_columns,
            "bloomFilterFpp": self.bloom_filter_fpp,
            "bloomFilterMaxSizeBytes": self.bloom_filter_max_size_bytes,
            "noDictionaryColumns": self.no_dictionary_columns,
            "timestampIndexGranularities": self.timestamp_index_granularities,
            "textIndexColumns": self.text_index_columns,
            "retentionDays": self.retention_days,
            "validateTimeRange": self.validate_time_range,
            "segmentPartitionColumn": self.segment_partition_column,
            "numSegmentPartitions": self.num_segment_partitions,
            "segmentPartitionMap": self.segment_partition_columns,
            "sketchColumns": self.sketch_columns,
            "transformConfigs": self.ingestion_transforms,
            "filterFunction": self.filter_function,
        }

    @classmethod
    def from_json(cls, d: dict) -> "TableConfig":
        return cls(
            table_name=d["tableName"],
            time_column=d.get("timeColumn"),
            partition_granularity=d.get("partitionGranularity", "1:DAYS"),
            sorted_column=d.get("sortedColumn"),
            inverted_index_columns=d.get("invertedIndexColumns", []),
            bloom_filter_columns=d.get("bloomFilterColumns", []),
            bloom_filter_fpp=d.get("bloomFilterFpp", 0.05),
            bloom_filter_max_size_bytes=d.get("bloomFilterMaxSizeBytes"),
            no_dictionary_columns=d.get("noDictionaryColumns", []),
            timestamp_index_granularities=d.get("timestampIndexGranularities", {}),
            text_index_columns=d.get("textIndexColumns", []),
            retention_days=d.get("retentionDays"),
            validate_time_range=d.get("validateTimeRange", True),
            segment_partition_column=d.get("segmentPartitionColumn"),
            num_segment_partitions=d.get("numSegmentPartitions", 8),
            segment_partition_columns=d.get("segmentPartitionMap", {}),
            sketch_columns=d.get("sketchColumns", {}),
            ingestion_transforms=d.get("transformConfigs", []),
            filter_function=d.get("filterFunction"),
        )


TIME_BUCKET_COL = "__time_bucket"
# bucket-directory column prefix; each partitioned column c materializes
# as f"{SEGMENT_PARTITION_COL}_{c}" (see segment_partition_col_name)
SEGMENT_PARTITION_COL = "__segment_partition"


def segment_partition_col_name(col: str) -> str:
    """Name of the bucket directory column for a partitioned column."""
    return f"{SEGMENT_PARTITION_COL}_{col}"


def segment_partition_expr(col: str, num_partitions: int) -> F.Column:
    """The hash-bucket function for segment partitioning — xxhash64 over
    the STRING form so it is type-stable and the dialect can reproduce it
    for a literal at query time (constant-folded by Catalyst)."""
    return F.pmod(F.xxhash64(F.col(col).cast("string")), F.lit(num_partitions)).cast("int")

# primary time-column validity window (configuration-reference/schema.md:72)
TIME_RANGE_MIN_MS = 31_536_000_000  # 1971-01-01T00:00:00Z
TIME_RANGE_MAX_MS = 3_187_296_000_000  # 2071-01-01T00:00:00Z


def _check_time_window(mn, mx, time_column: str) -> None:
    if mn is None:
        return
    if mn < TIME_RANGE_MIN_MS or mx >= TIME_RANGE_MAX_MS:
        raise ValueError(
            f"time column {time_column!r} outside the valid 1971-2071 UTC window "
            f"(schema.md:72): min={mn} max={mx} epoch-ms; "
            "fix the source data or the dateTimeFieldSpec format, or set "
            "TableConfig.validate_time_range=False to bypass"
        )


def validate_time_range(df: DataFrame, schema: PinotSchema, time_column: str) -> None:
    """Enforce the reference's primary-time-column range check: values must
    fall in [1971-01-01, 2071-01-01) UTC. One min/max aggregate over the
    normalized time — runs map-side-combined, no shuffle growth. This is
    the standalone (extra-pass) form; ingest_batch folds the same check
    into the write job via an Observation so the data is read once."""
    ts = schema.normalized_time(df, time_column)
    row = df.select(
        F.min(F.unix_millis(ts)).alias("mn"), F.max(F.unix_millis(ts)).alias("mx")
    ).collect()[0]
    _check_time_window(row["mn"], row["mx"], time_column)


def derived_columns(df: DataFrame, schema: PinotSchema, config: TableConfig) -> DataFrame:
    """Materialize index-derived columns: timestamp-index granularity
    columns `$col$UNIT` (timestamp-index.md:25-28) and tokenized text
    shadow columns `$col$tokens`."""
    out = df
    for col, units in config.timestamp_index_granularities.items():
        ts = schema.normalized_time(out, col)
        for unit in units:
            out = out.withColumn(
                f"${col}${unit.upper()}",
                F.unix_millis(F.date_trunc(unit.upper(), ts)).cast("long"),
            )
    for col in config.text_index_columns:
        out = out.withColumn(f"${col}$tokens", tokens_expr(col, DEFAULT_STOP_WORDS))
    return out


def apply_ingestion_transforms(df: DataFrame, config: "TableConfig") -> DataFrame:
    """ingestionConfig transforms + filter (public table config):

    * transformConfigs — ordered ``{"columnName": c, "transformFunction":
      expr}`` entries; the expression is PINOT-dialect SQL (jsonPath*,
      epoch conversions, concat, …), compiled through the dialect
      rewriter into a Catalyst expression. Later transforms see the
      columns earlier ones produced, like the reference's ordering.
    * filterConfig.filterFunction — rows where the expression is true
      are DROPPED (the public convention: the filter names what to
      exclude). Evaluated AFTER transforms so it can reference derived
      columns.

    Everything stays a narrow map / codegen'd filter — no UDFs, no
    shuffles, pushdown-eligible when the source format supports it."""
    from apache_pinot_spark.sqlfront import PinotDialect

    if not config.ingestion_transforms and not config.filter_function:
        return df
    dialect = PinotDialect(table_columns=set(df.columns))
    for tc in config.ingestion_transforms:
        col, fn = tc["columnName"], tc["transformFunction"]
        compiled = rewrite_expression_fragment(dialect, fn)
        df = df.withColumn(col, F.expr(compiled))
        dialect.table_columns.add(col)
    if config.filter_function:
        compiled = rewrite_expression_fragment(dialect, config.filter_function)
        df = df.where(f"NOT COALESCE(({compiled}), FALSE)")
    return df


def rewrite_expression_fragment(dialect, fragment: str) -> str:
    """Run a bare expression (not a full statement) through the Pinot
    function rewriter: wrap as a SELECT, rewrite, unwrap."""
    rewritten = dialect.rewrite(f"SELECT {fragment} FROM __frag__").sql
    body = rewritten[len("SELECT ") :]
    cut = body.upper().rfind(" FROM __FRAG__")
    if cut < 0:
        raise ValueError(
            f"transform expression rewrite lost its FROM tail: {fragment!r} "
            f"-> {rewritten!r} (expressions must not contain FROM/OPTION "
            "clauses)"
        )
    return body[:cut]


def ingest_batch(
    spark: SparkSession,
    schema: PinotSchema,
    config: TableConfig,
    source: str | DataFrame,
    fmt: str = "csv",
    warehouse: str = "/tmp/pinot_spark_warehouse",
    mode: str = "append",
    reader_options: dict | None = None,
) -> str:
    """S1 batch ingestion: read raw → type-apply → sentinel-fill → time
    normalize → derived index columns → time-bucketed, sorted, bloom'd
    parquet write → catalog register. Returns the table path.

    Every transform is a narrow map — the only shuffle is the optional
    repartition on the time bucket, which co-locates each output partition
    (segment) in one task for big-file locality at scale."""
    from apache_pinot_spark.sqlfront import check_sketch_columns

    check_sketch_columns(config.sketch_columns)  # before anything is written
    if isinstance(source, DataFrame):
        raw = source
    else:
        # csv/json/parquet/orc are Spark built-ins and flow through the
        # generic reader (Pinot's batch ingestion formats,
        # pinot-input-format docs); avro prefers the external spark-avro
        # module (JVM-side, splittable) and falls back to the native
        # from-scratch container reader (sources/avroio.py, per-file
        # parallelism) when the jar is absent
        opts = {"header": "true", "inferSchema": "false"}
        opts.update(reader_options or {})
        try:
            raw = spark.read.options(**opts).format(fmt).load(source)
        except Exception as exc:  # noqa: BLE001 — re-raise with guidance
            if "Failed to find data source" not in str(exc):
                raise
            if fmt == "avro":
                from apache_pinot_spark.sources import avroio

                raw = avroio.read_avro(spark, source)
            else:
                raise RuntimeError(
                    f"ingestion format {fmt!r} needs its data-source module "
                    "on the Spark classpath"
                ) from exc

    raw = apply_ingestion_transforms(raw, config)
    df = schema.apply_types(raw)
    df = schema.apply_sentinels(df)
    obs = None
    if config.time_column and config.validate_time_range:
        if mode == "overwrite":
            # Fold the range check into the write job (one pass over the
            # data instead of a separate min/max aggregate): observe the
            # normalized-time min/max during the write. The write goes to
            # a staging directory and only swaps in after the check
            # passes, so a violation leaves any pre-existing table
            # untouched. Overwrite-only — append keeps the pre-pass.
            from pyspark.sql import Observation

            obs = Observation("time_range")
            ts = schema.normalized_time(df, config.time_column)
            df = df.observe(
                obs,
                F.min(F.unix_millis(ts)).alias("mn"),
                F.max(F.unix_millis(ts)).alias("mx"),
            )
        else:
            validate_time_range(df, schema, config.time_column)
    df = derived_columns(df, schema, config)

    table_path = os.path.join(warehouse, config.table_name)
    writer_cols = list(df.columns)
    partition_cols: list[str] = []
    if config.time_column:
        gran = Granularity.parse(config.partition_granularity)
        ts = schema.normalized_time(df, config.time_column)
        df = df.withColumn(
            TIME_BUCKET_COL, F.date_format(gran.bucket(ts), "yyyyMMddHHmm")
        )
        partition_cols = [TIME_BUCKET_COL]
    for sp_col, sp_n in config.segment_partition_map().items():
        name = segment_partition_col_name(sp_col)
        df = df.withColumn(name, segment_partition_expr(sp_col, sp_n))
        partition_cols.append(name)
    if partition_cols:
        df = df.repartition(*partition_cols)
    if config.sorted_column:
        df = df.sortWithinPartitions(config.sorted_column)

    writer = df.write.mode(mode)
    for col in config.bloom_filter_columns:
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
        writer = writer.option(
            f"parquet.bloom.filter.fpp#{col}", str(config.bloom_filter_fpp)
        )
        if config.bloom_filter_max_size_bytes is not None:
            writer = writer.option(
                "parquet.bloom.filter.max.bytes", str(config.bloom_filter_max_size_bytes)
            )
    for col in config.no_dictionary_columns:
        if col in config.inverted_index_columns:
            continue  # inverted index needs the dictionary; index wins
        writer = writer.option(f"parquet.enable.dictionary#{col}", "false")
    for col in config.inverted_index_columns:
        writer = writer.option(f"parquet.enable.dictionary#{col}", "true")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if obs is not None:
        staging = table_path + ".ingesting"
        shutil.rmtree(staging, ignore_errors=True)
        writer.parquet(staging)
        got = obs.get
        try:
            _check_time_window(got["mn"], got["mx"], config.time_column)
        except ValueError:
            shutil.rmtree(staging, ignore_errors=True)
            raise
        shutil.rmtree(table_path, ignore_errors=True)
        os.rename(staging, table_path)
        spark.catalog.refreshByPath(table_path)
    else:
        writer.parquet(table_path)

    _write_table_meta(table_path, schema, config, writer_cols)
    register_table(spark, config.table_name, table_path)
    return table_path


def _write_table_meta(
    table_path: str, schema: PinotSchema, config: TableConfig, columns: list[str]
) -> None:
    meta = {
        "schemaName": schema.schema_name,
        "config": config.to_json(),
        "columns": columns,
        "updatedAtMs": int(time.time() * 1000),
    }
    with open(os.path.join(table_path, "_pinot_table.json"), "w") as fh:
        json.dump(meta, fh, indent=2)


def read_table_meta(table_path: str) -> dict:
    with open(os.path.join(table_path, "_pinot_table.json")) as fh:
        return json.load(fh)


def register_table(spark: SparkSession, name: str, table_path: str) -> DataFrame:
    df = spark.read.parquet(table_path)
    df.createOrReplaceTempView(name)
    return df


def list_segments(table_path: str) -> list[str]:
    """Pinot 'segments' = time-bucket partition directories (S3), returned
    as paths relative to the table root. Batch tables keep them at the top
    level; streaming tables nest them under `__stream_batch=<id>` commit
    directories — both layouts are one logical partitioned table."""
    out = []
    for root, dirs, _files in os.walk(table_path):
        for d in dirs:
            if d.startswith(f"{TIME_BUCKET_COL}="):
                out.append(os.path.relpath(os.path.join(root, d), table_path))
    return sorted(out)


# --------------------------------------------------------------------------
# Bucketed tables — co-located (shuffle-free) joins at scale
# --------------------------------------------------------------------------


def ingest_bucketed(
    spark: SparkSession,
    schema: PinotSchema,
    config: TableConfig,
    source: DataFrame,
    bucket_column: str,
    num_buckets: int,
    warehouse: str = "/tmp/pinot_spark_warehouse",
) -> str:
    """Ingest into a BUCKETED parquet table: rows are hash-clustered and
    sorted by ``bucket_column`` into ``num_buckets`` files per partition
    (Spark's bucketBy). Two fact tables bucketed the same way join WITHOUT
    a shuffle — at 100 TB the exchange this removes is usually the whole
    cost of the join. Registration goes through the session catalog
    (bucket metadata lives there); re-attach in a new session with
    ``register_bucketed``. Returns the table path."""
    from apache_pinot_spark.sqlfront import check_sketch_columns

    check_sketch_columns(config.sketch_columns)  # before anything is written
    df = schema.apply_types(source)
    df = schema.apply_sentinels(df)
    if config.time_column and config.validate_time_range:
        validate_time_range(df, schema, config.time_column)
    df = derived_columns(df, schema, config)
    table_path = os.path.join(warehouse, config.table_name)
    spark.sql(f"DROP TABLE IF EXISTS {config.table_name}")
    if os.path.exists(table_path):
        shutil.rmtree(table_path)
    (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, bucket_column)
        .sortBy(bucket_column)
        .option("path", table_path)
        .saveAsTable(config.table_name)
    )
    meta_cfg = config.to_json()
    meta_cfg["bucketColumn"] = bucket_column
    meta_cfg["numBuckets"] = num_buckets
    meta = {
        "schemaName": schema.schema_name,
        "config": meta_cfg,
        "columns": df.columns,
        "ddl": ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields),
        "updatedAtMs": int(time.time() * 1000),
    }
    with open(os.path.join(table_path, "_pinot_table.json"), "w") as fh:
        json.dump(meta, fh, indent=2)
    return table_path


def register_bucketed(spark: SparkSession, name: str, table_path: str) -> None:
    """Re-attach a bucketed table written by ingest_bucketed in a fresh
    session: recreate the catalog entry (schema + bucket spec + location)
    so Spark's planner keeps exploiting the on-disk clustering."""
    meta = read_table_meta(table_path)
    cfg = meta["config"]
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} ({meta['ddl']}) USING parquet "
        f"CLUSTERED BY (`{cfg['bucketColumn']}`) "
        f"SORTED BY (`{cfg['bucketColumn']}`) INTO {cfg['numBuckets']} BUCKETS "
        f"LOCATION '{table_path}'"
    )


# --------------------------------------------------------------------------
# Maintenance jobs (Minion analogues)
# --------------------------------------------------------------------------


def purge_records(
    spark: SparkSession,
    table_path: str,
    purge_keys: DataFrame,
    key_column: str,
    max_purge_keys: int = 1_000_000,
) -> int:
    """S8 GDPR purge (Concepts.md:72; record-level delete from an immutable
    store, Architecture.md:18): left-anti rewrite of ONLY the partitions
    that contain matching keys — at 100 TB you rewrite a handful of
    segments, not the table. Returns number of rows purged.

    The key set is MATERIALIZED first (GDPR purge sets are small by
    nature): the caller's DataFrame may be a lazy plan over the very table
    being rewritten, which would re-scan deleted files mid-loop. The
    collect is BOUNDED (same stance as ivf_topk's max_query_rows guard):
    more than ``max_purge_keys`` distinct keys raises instead of risking
    a silent driver OOM — chunk the purge or raise the bound explicitly."""
    keys = [
        r[0]
        for r in purge_keys.select(key_column)
        .distinct()
        .limit(max_purge_keys + 1)
        .collect()
    ]
    if len(keys) > max_purge_keys:
        raise ValueError(
            f"purge_records key set exceeds max_purge_keys={max_purge_keys}; "
            "chunk the purge keys or raise the bound explicitly"
        )
    purge_keys = local_frame(
        spark, [(k,) for k in keys], purge_keys.select(key_column).schema
    )
    df = spark.read.parquet(table_path)
    if TIME_BUCKET_COL not in df.columns:
        # unpartitioned table: full rewrite
        kept = df.join(F.broadcast(purge_keys), on=key_column, how="left_anti")
        tmp = table_path + ".purging"
        kept.write.mode("overwrite").parquet(tmp)
        n_before, n_after = df.count(), spark.read.parquet(tmp).count()
        shutil.rmtree(table_path)
        os.rename(tmp, table_path)
        spark.catalog.refreshByPath(table_path)
        return n_before - n_after

    # Two jobs total, regardless of segment count. Job 1: ONE broadcast
    # left join + per-partition aggregate computes, for every partition,
    # its total and surviving row counts — hit partitions (kept < total),
    # the purge accounting, and the fully-purged set all come from this
    # single pass. Job 2: a dynamic-partition-overwrite write of the
    # surviving rows of ONLY the hit partitions — untouched partitions
    # stay as-is on disk. At 100 TB this is one full metadata-cheap scan
    # plus `hit segments` worth of rewrite IO; per-job scheduling overhead
    # does not scale with the number of segments a user appears in.
    # Handles one- or two-level layouts (time bucket, optionally + segment
    # partition): when the table is segment-partitioned on the purge key,
    # partition pruning cuts the rewrite to 1/N of each day's data free.
    part_cols = [
        c
        for c in df.columns
        if c == TIME_BUCKET_COL or c.startswith(SEGMENT_PARTITION_COL)
    ]
    marked = purge_keys.withColumn("__purged", F.lit(1))
    stats = (
        df.join(F.broadcast(marked), on=key_column, how="left")
        .groupBy(*part_cols)
        .agg(
            F.count("*").alias("__total"),
            F.count(F.when(F.col("__purged").isNull(), 1)).alias("__kept"),
        )
        .collect()
    )
    hit = [r for r in stats if r["__kept"] < r["__total"]]
    if not hit:
        return 0
    n_before = sum(r["__total"] for r in hit)
    n_after = sum(r["__kept"] for r in hit)
    hit_tuples = local_frame(
        spark,
        [tuple(r[c] for c in part_cols) for r in hit],
        df.select(*part_cols).schema,
    )
    kept = df.join(F.broadcast(hit_tuples), on=part_cols, how="leftsemi").join(
        F.broadcast(purge_keys), on=key_column, how="left_anti"
    )
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out_cols = [c for c in df.columns if c not in part_cols] + part_cols
        kept.select(*out_cols).write.mode("overwrite").partitionBy(
            *part_cols
        ).parquet(table_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    # drop partitions whose every row was purged: dynamic overwrite wrote
    # no output for them, so their old files are still on disk
    for r in hit:
        if r["__kept"] == 0:
            part_dir = os.path.join(
                table_path,
                *[f"{c}={r[c]}" for c in part_cols],
            )
            if os.path.exists(part_dir):
                shutil.rmtree(part_dir)
    spark.catalog.refreshByPath(table_path)
    return n_before - n_after


def compact_segments(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 512 * 1024 * 1024,
    min_files: int = 2,
) -> list[str]:
    """Minion-style segment compaction (the reference's "segment
    optimization" background task, Architecture.md:175): merge the many
    small files streaming/frequent-batch ingestion leaves inside a
    time-bucket partition into ~target_file_bytes files.

    The small-file problem IS a 100 TB problem — a day partition built
    from 1-minute micro-batches holds 1440 tiny files, so every query
    pays 1440 footer reads and task schedules where a handful would do.
    Only partitions with ≥ min_files files AND more files than the target
    size implies are rewritten (atomic directory swap, like reload);
    everything else is untouched. Returns the compacted partition paths."""
    compacted = []
    for seg in list_segments(table_path):
        seg_dir = os.path.join(table_path, seg)
        files = [
            os.path.join(seg_dir, f)
            for f in os.listdir(seg_dir)
            if f.endswith(".parquet")
        ]
        if len(files) < min_files:
            continue
        total = sum(os.path.getsize(f) for f in files)
        want = max(1, -(-total // target_file_bytes))
        if len(files) <= want:
            continue
        part = spark.read.parquet(seg_dir)
        tmp = seg_dir + ".compacting"
        part.coalesce(want).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(seg_dir)
        os.rename(tmp, seg_dir)
        compacted.append(seg)
    if compacted:
        spark.catalog.refreshByPath(table_path)
    return compacted


def reload_with_layout(
    spark: SparkSession,
    schema: PinotSchema,
    old_path: str,
    new_config: TableConfig,
    warehouse: str = "/tmp/pinot_spark_warehouse",
) -> str:
    """S7 index reload (indexing/README.md:36-72): apply a new layout
    (sort/bloom/derived columns) to existing segments by rewriting, then
    atomically swapping the directory — queries see old data until the
    swap, mirroring Pinot's no-downtime reload."""
    df = spark.read.parquet(old_path)
    base_cols = [c for c in df.columns if not c.startswith("$") and c != TIME_BUCKET_COL]
    # re-ingest the base columns under a temp name, then swap directories
    tmp_name = new_config.table_name + "__reload_tmp"
    renamed = TableConfig.from_json({**new_config.to_json(), "tableName": tmp_name})
    tmp_path = ingest_batch(
        spark, schema, renamed, df.select(*base_cols), warehouse=warehouse, mode="overwrite"
    )
    final_path = os.path.join(warehouse, new_config.table_name)
    swap = final_path + ".old"
    if os.path.exists(final_path):
        os.rename(final_path, swap)
    os.rename(tmp_path, final_path)
    if os.path.exists(swap):
        shutil.rmtree(swap)
    _write_table_meta(final_path, schema, new_config, list(df.columns))
    register_table(spark, new_config.table_name, final_path)
    return final_path


def expire_retention(
    spark: SparkSession, table_path: str, config: TableConfig, now_ms: int
) -> list[str]:
    """ST4 retention expiry (Architecture.md:185-186): drop time-bucket
    partitions entirely past the retention window. Partition-directory
    deletes — no data rewrite."""
    if config.retention_days is None:
        return []
    cutoff = now_ms - config.retention_days * 86_400_000
    dropped = []
    for seg in list_segments(table_path):
        bucket = os.path.basename(seg).split("=", 1)[1]
        t = time.strptime(bucket, "%Y%m%d%H%M")
        bucket_ms = int(time.mktime(t) * 1000) - time.timezone * 1000
        if bucket_ms < cutoff:
            shutil.rmtree(os.path.join(table_path, seg))
            dropped.append(seg)
    if dropped:
        spark.catalog.refreshByPath(table_path)
    return dropped
