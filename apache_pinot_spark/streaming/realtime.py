"""Realtime ingestion (S2/ST1-ST5) — Structured Streaming as the
consuming-segment pipeline.

Reference model (basics/Architecture.md:171,198-204): realtime servers
consume the stream into in-memory segments that are queryable immediately;
segments "complete" (flush) on row-count / time / size thresholds via a
controller-led commit; hybrid tables span a realtime and an offline half
behind one logical table with a time boundary (Architecture.md:179-190,
206-212).

Spark mapping (SURVEY §2.7):
  * readStream → normalize pipeline (same type/sentinel/derived passes as
    batch — one code path) → foreachBatch writing each micro-batch into
    its own `__stream_batch=<id>` partition directory. foreachBatch is
    at-least-once (a batch can re-run after a driver restart that wrote
    data but not the checkpoint), so publication is made IDEMPOTENT per
    batch_id: a batch directory whose _SUCCESS marker exists is skipped on
    replay, and a partial directory (no marker) is overwritten. The
    completed batch directory IS the committed segment.
  * Freshness = trigger interval (ST1's ~1 s goal with short triggers);
    `minConsumingFreshnessTimeMs` = the last committed batch's wall clock.
  * Flush thresholds (ST2) map to trigger processingTime + source batch
    caps (e.g. maxFilesPerTrigger / maxOffsetsPerTrigger).
  * Hybrid federation (ST3): one view unioning offline rows strictly below
    the time boundary with realtime rows at/above it. The boundary is
    metadata, checked at plan time — each half is partition-pruned.
  * Realtime text indexing (ST5): the tokenized shadow column is part of
    the shared normalize pipeline, so streamed rows are text-searchable as
    soon as their batch commits.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from apache_pinot_spark.plans.schema import PinotSchema
from apache_pinot_spark.sources.batch import (
    TIME_BUCKET_COL,
    Granularity,
    TableConfig,
    derived_columns,
)


@dataclass
class ConsumingState:
    """Book-keeping the envelope exposes (Architecture.md:151)."""

    last_commit_ms: int = 0
    batches: int = 0
    rows: int = 0

    @property
    def min_consuming_freshness_ms(self) -> int:
        return self.last_commit_ms


def normalize_stream(
    stream_df: DataFrame, schema: PinotSchema, config: TableConfig
) -> DataFrame:
    """The SAME normalize pipeline as batch ingestion (one code path for
    both halves of a hybrid table — they must share a schema,
    Architecture.md:188) — including ingestionConfig transforms/filter,
    which the public engine applies to realtime consumption too."""
    from apache_pinot_spark.sources.batch import apply_ingestion_transforms

    stream_df = apply_ingestion_transforms(stream_df, config)
    df = schema.apply_types(stream_df)
    df = schema.apply_sentinels(df)
    df = derived_columns(df, schema, config)
    if config.time_column:
        gran = Granularity.parse(config.partition_granularity)
        ts = schema.normalized_time(df, config.time_column)
        df = df.withColumn(
            TIME_BUCKET_COL, F.date_format(gran.bucket(ts), "yyyyMMddHHmm")
        )
    return df


def ingest_stream(
    spark: SparkSession,
    schema: PinotSchema,
    config: TableConfig,
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    trigger_seconds: float = 1.0,
    state: ConsumingState | None = None,
) -> StreamingQuery:
    """Start the realtime half: micro-batch append into the segment store.

    foreachBatch (not a direct file sink) so each batch can run the full
    normalize pipeline and so the commit time is observable — the engine's
    `minConsumingFreshnessTimeMs`. Each batch writes into its own
    `__stream_batch=<batch_id>` subdirectory (a partition column, so
    `spark.read.parquet(table_path)` still sees one table): if the batch
    re-runs after a failure, an already-committed directory (_SUCCESS
    present) is skipped and a partial one is overwritten — duplicates
    cannot be published. Row accounting reads the committed output's
    parquet footer count (metadata-only), not a second evaluation of the
    source batch."""
    st = state if state is not None else ConsumingState()
    commit_batch = make_batch_committer(schema, config, table_path, st)
    return (
        stream_df.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def make_batch_committer(
    schema: PinotSchema, config: TableConfig, table_path: str, st: ConsumingState
):
    """The idempotent foreachBatch commit function (exposed for direct
    testing of the replay guard)."""
    import os

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        import json as _json

        batch_dir = os.path.join(table_path, f"__stream_batch={batch_id}")
        if os.path.exists(os.path.join(batch_dir, "_SUCCESS")):
            return  # replay of an already-committed batch: idempotent skip
        out = normalize_stream(batch_df, schema, config)
        writer = out.write.mode("overwrite")  # clobbers a partial attempt
        if config.time_column:
            writer = writer.partitionBy(TIME_BUCKET_COL)
        writer.parquet(batch_dir)
        # Record which SOURCE files this batch consumed (file sources only;
        # non-file sources yield ''): consuming_view subtracts them from
        # the source listing to find the not-yet-committed tail. Metadata-
        # sized job — distinct over input_file_name reads no data columns.
        try:
            files = [
                r[0]
                for r in batch_df.select(F.input_file_name()).distinct().collect()
                if r[0]
            ]
            if files:
                with open(os.path.join(batch_dir, "_pinot_source_files.json"), "w") as fh:
                    _json.dump(sorted(files), fh)
        except Exception:
            pass  # freshness metadata is best-effort; the commit stands
        st.last_commit_ms = int(time.time() * 1000)
        st.batches += 1
        st.rows += batch_df.sparkSession.read.parquet(batch_dir).count()

    return commit_batch


def consuming_view(
    spark: SparkSession,
    schema: PinotSchema,
    config: TableConfig,
    source_dir: str,
    table_path: str,
    source_format: str = "json",
    source_schema=None,  # DDL string or StructType
    source_projection=None,  # DataFrame -> DataFrame, pre-normalize (e.g. kafka_value_rows)
) -> DataFrame:
    """ST1 sub-trigger consuming-segment freshness (Architecture.md:171):
    Pinot serves rows from the in-flight consuming segment BEFORE it
    completes; a micro-batch pipeline's floor is otherwise the trigger
    interval. This view restores the reference semantics for file
    sources: committed segments UNION a batch read of the source files no
    committed batch has consumed yet (each commit records its source
    files — `_pinot_source_files.json`). A row dropped into the source
    directory is queryable immediately, before any trigger fires, through
    the SAME normalize pipeline as the stream — so schema, sentinels, and
    derived index columns match the committed half exactly.

    Scale shape: the committed half is a partitioned parquet scan (prunes
    normally); the consuming tail is a listing diff (metadata-only) plus
    a scan of only the uncommitted files — exactly the size of the
    consuming segment, independent of table history."""
    import glob
    import json as _json
    import os

    def _path(uri: str) -> str:
        # input_file_name() yields file:///abs/path (or file:/abs/path);
        # normalize both sides to plain absolute paths
        if "://" in uri:
            uri = uri.split("://", 1)[1]
        elif uri.startswith("file:"):
            uri = uri[5:]
        return os.path.abspath(uri)

    committed: set[str] = set()
    batch_dirs: list[str] = []
    manifests_complete = True
    if os.path.isdir(table_path):
        for bdir in sorted(glob.glob(os.path.join(table_path, "__stream_batch=*"))):
            if not os.path.exists(os.path.join(bdir, "_SUCCESS")):
                continue  # partial attempt: its rows arrive via `pending`
            batch_dirs.append(bdir)
            meta = os.path.join(bdir, "_pinot_source_files.json")
            if not os.path.isfile(meta):
                # A committed batch with no source manifest (pre-feature
                # table, or the best-effort record failed): its rows exist
                # but we can't tell which source files produced them —
                # unioning the "pending" tail could double-count. Degrade
                # to committed-only freshness rather than duplicate rows.
                manifests_complete = False
                continue
            with open(meta) as fh:
                committed.update(_path(u) for u in _json.load(fh))
    pending = (
        [
            p
            for p in sorted(glob.glob(os.path.join(source_dir, "*")))
            if os.path.isfile(p) and os.path.abspath(p) not in committed
        ]
        if manifests_complete
        else []
    )
    reader = spark.read.format(source_format)
    if source_schema:
        reader = reader.schema(source_schema)
    halves = []
    if batch_dirs:
        # Read EXACTLY the batch directories observed during the manifest
        # scan, not the whole table path: the committed half is otherwise
        # evaluated lazily at action time, and a micro-batch committing a
        # pending file between view construction and the action would put
        # that file's rows in BOTH halves (manifest set snapshotted
        # eagerly, parquet listing taken later). Pinning the directory
        # list makes both halves one consistent snapshot.
        halves.append(
            spark.read.option("basePath", table_path)
            .parquet(*batch_dirs)
            .drop("__stream_batch")
        )
    if pending:
        tail = reader.load(pending)
        if source_projection is not None:
            # wire-format sources (e.g. Kafka-shaped records) project their
            # payload into rows before the shared normalize pipeline
            tail = source_projection(tail)
        halves.append(normalize_stream(tail, schema, config))
    if not halves:
        raise ValueError(f"nothing to read: no commits in {table_path!r} and no source files")
    out = halves[0]
    for h in halves[1:]:
        common = [c for c in out.columns if c in set(h.columns)]
        out = out.select(*common).unionByName(h.select(*common))
    return out


def hybrid_view(
    spark: SparkSession,
    name: str,
    offline_path: str,
    realtime_path: str,
    time_column: str,
    boundary: str,
) -> DataFrame:
    """ST3 hybrid-table federation (Architecture.md:206-212): offline rows
    strictly BEFORE the boundary, realtime rows AT/AFTER it, one view.

    The filters sit directly over partitioned parquet scans, so each half
    partition-prunes: at 100 TB the broker-side "query both halves and
    merge" costs only the segments inside each half's time range."""
    off = spark.read.parquet(offline_path).filter(F.col(time_column) < F.lit(boundary))
    rt = spark.read.parquet(realtime_path).filter(F.col(time_column) >= F.lit(boundary))
    common = [c for c in off.columns if c in set(rt.columns)]
    df = off.select(*common).unionByName(rt.select(*common))
    df.createOrReplaceTempView(name)
    return df


import pyspark.sql.types as _T

# The Kafka source's fixed output schema (Spark Structured Streaming Kafka
# integration contract): every record the connector emits has exactly
# these columns. A mock source producing THIS shape exercises everything
# downstream of the broker connection — kafka_value_rows, the normalize
# pipeline, segment commits, consuming view, hybrid federation — which is
# the whole realtime trace of Architecture.md:198-204 minus the socket.
KAFKA_WIRE_SCHEMA = _T.StructType(
    [
        _T.StructField("key", _T.BinaryType()),
        _T.StructField("value", _T.BinaryType()),
        _T.StructField("topic", _T.StringType()),
        _T.StructField("partition", _T.IntegerType()),
        _T.StructField("offset", _T.LongType()),
        _T.StructField("timestamp", _T.TimestampType()),
        _T.StructField("timestampType", _T.IntegerType()),
    ]
)


def kafka_value_rows(raw: DataFrame, value_schema: str) -> DataFrame:
    """Project Kafka wire records (KAFKA_WIRE_SCHEMA — binary JSON
    payloads in `value`) into typed rows via the declared schema. Works
    on batch and streaming frames; rows whose payload fails to parse get
    all-NULL fields (from_json semantics) and flow to the sentinel pass
    rather than killing the stream."""
    from pyspark.sql import functions as F

    return raw.select(
        F.from_json(F.col("value").cast("string"), value_schema).alias("r")
    ).select("r.*")


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    value_schema: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """S2's production source (Architecture.md:198-204 consumes
    Kafka/Kinesis): build the readStream and project the JSON value
    payload through the declared schema (kafka_value_rows). The returned
    stream plugs straight into ingest_stream — the Kafka-shaped contract
    test (tests/test_kafka_contract.py) drives the identical downstream
    pipeline end-to-end from a mock source emitting KAFKA_WIRE_SCHEMA.

    Requires the spark-sql-kafka connector on the classpath; without it
    (this container) Spark raises DATA_SOURCE_NOT_FOUND here at load()."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return kafka_value_rows(raw, value_schema)


# --------------------------------------------------------------------------
# Windowed aggregation + custom stateful operators (SURVEY §2.7 ST6)
# --------------------------------------------------------------------------


def windowed_counts(
    stream_df: DataFrame,
    time_col: str,
    window_duration: str = "1 minute",
    slide_duration: str | None = None,
    watermark_delay: str = "10 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation over an event-time
    column — the late-data-correct streaming rollup the reference's
    ingest-then-query model lacks (SURVEY ST6). Rows later than
    ``watermark_delay`` behind the max observed event time are dropped;
    everything else lands in its event-time window regardless of arrival
    order. State is bounded: Spark evicts windows older than the
    watermark, so memory does not grow with stream length.

    Output: (window.start, window.end, *group_cols, cnt, sum_value?) —
    append-mode compatible (emitted once finalized by the watermark)."""
    w = (
        F.window(F.col(time_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(time_col), window_duration)
    )
    keys = [w] + [F.col(c) for c in (group_cols or [])]
    return (
        stream_df.withWatermark(time_col, watermark_delay)
        .groupBy(*keys)
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *(group_cols or []),
            "cnt",
        )
    )


def running_totals_stateful(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    timeout_minutes: float | None = None,
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key
    running count + sum maintained across micro-batches (the shape for
    stateful enrichments Spark's built-in aggregates can't express —
    counters, rate limiters, dedup-within-key). State is per group and
    Arrow-batched.

    ``timeout_minutes`` opts into processing-time state expiry — the
    bounded-state requirement for unbounded key spaces at 100 TB. It is
    opt-in because a registered timeout makes Spark schedule state-cleanup
    micro-batches continuously (so `processAllAvailable` never settles —
    fine for production, wrong for drain-and-assert tests/batch drains)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} STRING, events BIGINT, total DOUBLE"
    state_schema = "events BIGINT, total DOUBLE"
    timeout_ms = int(timeout_minutes * 60 * 1000) if timeout_minutes else None

    def update(key, pdfs, state: GroupState):
        import pandas as _pd

        if state.hasTimedOut:
            # Expiry firing: drop the state instead of re-arming it —
            # without this branch the timeout would rewrite the state and
            # reschedule itself forever, and the documented bounded-state
            # expiry would never actually remove anything.
            state.remove()
            yield _pd.DataFrame({key_col: [], "events": [], "total": []})
            return
        events, total = (state.get if state.exists else (0, 0.0))
        for pdf in pdfs:
            events += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((events, total))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield _pd.DataFrame({key_col: [key[0]], "events": [events], "total": [total]})

    return (
        stream_df.groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
            if timeout_ms is not None
            else GroupStateTimeout.NoTimeout,
        )
    )


def dedup_within_key_stateful(
    stream_df: DataFrame,
    key_col: str,
    id_col: str,
    timeout_minutes: float | None = None,
) -> DataFrame:
    """Streaming exactly-once-per-(key, id) dedup via applyInPandasWithState:
    emits each (key, id) the FIRST time it appears across the whole stream,
    suppressing replays and cross-batch duplicates — the stateful shape
    upsert/dedup-configured Pinot realtime tables provide (dedup config on
    the table keeps the first row per primary key).

    State per key is the set of seen ids (bounded by per-key id
    cardinality; ``timeout_minutes`` opts into processing-time expiry for
    unbounded id spaces — same contract as running_totals_stateful).
    Arrow-batched; ids are compared as strings so any key type works."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} STRING, {id_col} STRING"
    state_schema = "seen ARRAY<STRING>"
    timeout_ms = int(timeout_minutes * 60 * 1000) if timeout_minutes else None

    def update(key, pdfs, state: GroupState):
        import pandas as _pd

        if state.hasTimedOut:
            # Expiry firing: remove the seen-set rather than re-arming the
            # timeout (see running_totals_stateful) — ids seen after the
            # expiry count as fresh again, the documented tradeoff of
            # bounded state over an unbounded id space.
            state.remove()
            yield _pd.DataFrame({key_col: [], id_col: []})
            return
        seen = set(state.get[0]) if state.exists else set()
        fresh = []
        for pdf in pdfs:
            for v in pdf[id_col].astype(str):
                if v not in seen:
                    seen.add(v)
                    fresh.append(v)
        state.update((list(seen),))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield _pd.DataFrame({key_col: [key[0]] * len(fresh), id_col: fresh})

    return stream_df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms is not None
        else GroupStateTimeout.NoTimeout,
    )
