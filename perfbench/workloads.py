"""The benchmark workloads.

Each workload runs in one process against one Spark session and follows
the same life cycle, driven by run.py:

``prepare(ctx, seed, seconds)``
    Expected answers from DuckDB over the generated parquet, before the
    session starts and untimed.
``setup(ctx, trace)``
    Table registration, engine and server start, and a first operation,
    checked like any other. Timed, with the session start before it, as
    ``setup_s``; the first operation runs on cold code, so the window
    after it measures warm code.
``measure(seconds, trace)``
    The timed window. Returns a :class:`Window`. With tracing on it also
    records per-layer samples from the benchmark's side of each call.
``probe_layers(trace)``
    Traced runs only, after the windows: direct calls into the engine that
    split one operation across the layers.
``teardown()``
    Stops what ``setup`` started.

An *operation* is the unit a user waits for: one call of a declared
corpus query, or one segment life-cycle cycle. Its steps
are timed separately, and ``op_p50_ms`` adds up each step's median.
"""

from __future__ import annotations

import gc
import http.client
import json
import math
import os
import random
import shutil
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import measure
from measure import median


@dataclass
class Context:
    spark: object
    data_dir: str
    work_dir: str
    cpus: int


@dataclass
class Window:
    """What one timed window observed."""

    steps: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    ops_ok: int = 0
    attempted: int = 0
    failed: int = 0
    elapsed_s: float = 0.0
    errors: list[str] = field(default_factory=list)
    # CPU ticks the process tree spent in the window, per role
    cpu_ticks: dict[str, int] = field(default_factory=dict)
    steal_pct: float | None = None  # the host's, over the window

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(what[:300])


class Trace:
    """Per-layer samples, kept in memory; a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.samples: dict[str, list[float]] = defaultdict(list)

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.samples[name].append(value)

    @contextmanager
    def span(self, name: str, scale: float = 1000.0):
        """Time the block into ``name`` (milliseconds by default)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, (time.perf_counter() - t0) * scale)


def catalyst_phases(df, trace: Trace) -> None:
    """Record the analysis/optimization/planning durations Spark's own
    QueryPlanningTracker kept for an executed DataFrame."""
    if not trace.enabled:
        return
    phases = df._jdf.queryExecution().tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        ms = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        trace.add(f"catalyst.{phase}_ms", ms)


def duck_connect(ctx: Context, tables):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {ctx.cpus}")
    con.execute(f"SET temp_directory = '{os.path.join(ctx.work_dir, 'tmp')}'")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(ctx.data_dir, t)}.parquet'"
        )
    return con


def duck_answer(con, sql: str):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return measure.canonical(cols, cur.fetchall())


def post_sql(port: int, sql: str) -> tuple[bytes, float]:
    """POST one statement to the broker; returns (body, seconds)."""
    body = json.dumps({"sql": sql}).encode()
    t0 = time.perf_counter()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", "/query/sql", body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        data = resp.read()
    finally:
        conn.close()
    return data, time.perf_counter() - t0


def envelope_answer(reply: dict):
    """Canonical answer of a broker envelope, or None on a reported error."""
    if reply.get("exceptions"):
        return None
    rt = reply["resultTable"]
    return measure.canonical(rt["dataSchema"]["columnNames"], rt["rows"])


def first_operation(op) -> None:
    """Run one operation, ``op(window)``, and require it to succeed: the
    end of set-up."""
    w = Window()
    op(w)
    if w.failed or not w.ops_ok:
        raise RuntimeError(f"set-up operation failed: {w.errors}")


def leaked_persists(spark) -> int:
    gc.collect()
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def probe_statement(engine, sql: str, trace: Trace, reset, reps: int = 3) -> None:
    """Split one statement across sqlfront and Catalyst by direct calls:
    ``rewrite`` alone, ``sql()`` + ``collect()``, and the full envelope
    path ``query()``. The two paths alternate ``reps`` times and their
    medians are compared, so neither gains from running second. ``reset``
    runs before each ``query()``, outside its timing."""
    t0 = time.perf_counter()
    for _ in range(5):
        engine.rewrite(sql)
    trace.add("sqlfront.rewrite_ms", (time.perf_counter() - t0) / 5 * 1000.0)
    t_sql, t_query = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        df = engine.sql(sql)
        df.collect()
        t_sql.append(time.perf_counter() - t0)
        catalyst_phases(df, trace)
        reset()
        t0 = time.perf_counter()
        engine.query(sql)
        t_query.append(time.perf_counter() - t0)
    trace.add("sqlfront.envelope_ms", (median(t_query) - median(t_sql)) * 1000.0)


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------


class CorpusCuration:
    """Declared corpus queries run one at a time, ``fn(spark, sf)`` then
    ``collect()``, each checked against its own DuckDB oracle."""

    name = "corpus_curation"
    rest = None  # SparkRest of the session, set by the harness when tracing
    # documents at sf0.1's size; embeddings below sf0.1's 2,000, because
    # sim_ann_family's PQ leg, and so its oracle, is exact only while the
    # corpus fits its 640-vector refine window (the entry is written for
    # 500 rows)
    sizes = {"events": 1_000, "documents": 5_000, "embeddings": 500}
    tables = ("documents", "embeddings")
    ENTRIES = ("sim_ann_family",)

    def prepare(self, ctx: Context, seed: int, seconds: float) -> None:
        from apache_pinot_spark import querysuite
        import apache_pinot_spark.suites  # noqa: F401  (registers the entries)

        self.ctx = ctx
        self.queries = {n: querysuite.REGISTRY[n] for n in self.ENTRIES}
        con = duck_connect(ctx, self.tables)
        try:
            self.expected = {n: duck_answer(con, q.oracle) for n, q in self.queries.items()}
        finally:
            con.close()

    def setup(self, ctx: Context, trace: Trace) -> None:
        from apache_pinot_spark.catalog import load_tables

        with trace.span("catalog.load_tables_ms"):
            load_tables(ctx.spark, ctx.data_dir, list(self.tables))
        first_operation(lambda w: self._pass(w, Trace(False)))

    def teardown(self) -> None:
        pass

    def _pass(self, w: Window, trace: Trace) -> None:
        spark = self.ctx.spark
        rest = self.rest if trace.enabled else None
        for name, q in self.queries.items():
            w.attempted += 1
            job0 = rest.max_job_id() if rest else None
            t0 = time.perf_counter()
            try:
                df = q.fn(spark, self.ctx.data_dir)
                t1 = time.perf_counter()
                job1 = rest.max_job_id() if rest else None
                t1b = time.perf_counter()
                rows = df.collect()
            except Exception as e:  # noqa: BLE001 — a failed op is counted
                w.fail(f"{name}: {e}")
                continue
            # the REST read between build and collect is tracing, not work
            t2 = time.perf_counter() - (t1b - t1)
            got = measure.canonical(df.columns, rows)
            if got != self.expected[name]:
                w.fail(f"{name}: wrong answer")
                continue
            w.ops_ok += 1
            w.steps[name].append((t2 - t0) * 1000.0)
            if trace.enabled:
                trace.add("operators.build_s", t1 - t0)
                trace.add("operators.exec_s", t2 - t1)
                if rest is not None:
                    # jobs that ran before fn() returned: eager build work
                    trace.add("operators.build_jobs", float(job1 - job0))
                catalyst_phases(df, trace)
                trace.add("operators.leaked_persists", leaked_persists(spark))

    def measure(self, seconds: float, trace: Trace) -> Window:
        w = Window()
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < seconds:
            self._pass(w, trace)
        w.elapsed_s = time.perf_counter() - t_start
        return w

    def probe_layers(self, trace: Trace) -> None:
        pass


# ---------------------------------------------------------------------------
# segment_lifecycle
# ---------------------------------------------------------------------------

# The events table as a Pinot schema: epoch-millis time column, JSON props.
EVENTS_SCHEMA = {
    "schemaName": "events",
    "dimensionFieldSpecs": [
        {"name": "event_id", "dataType": "LONG"},
        {"name": "user_id", "dataType": "LONG"},
        {"name": "event_type", "dataType": "STRING"},
        {"name": "props", "dataType": "JSON"},
    ],
    "metricFieldSpecs": [{"name": "value", "dataType": "DOUBLE"}],
    "dateTimeFieldSpecs": [
        {
            "name": "ts_ms",
            "dataType": "LONG",
            "format": "1:MILLISECONDS:EPOCH",
            "granularity": "1:DAYS",
        }
    ],
}

READBACK = (
    "SELECT event_type, COUNT(*) AS cnt, DISTINCTCOUNT(user_id) AS users, "
    "MIN(ts_ms) AS min_ts, MAX(ts_ms) AS max_ts FROM {table} "
    "GROUP BY event_type ORDER BY event_type"
)
# the read-back of every prepared cycle in one query: raw events minus
# that cycle's purged users
READBACK_DUCK = (
    "WITH purged(cycle, user_id) AS (VALUES {pairs}), "
    "cycles AS (SELECT DISTINCT cycle FROM purged) "
    "SELECT c.cycle, e.event_type, COUNT(*) AS cnt, "
    "COUNT(DISTINCT e.user_id) AS users, "
    "MIN(epoch_ms(e.ts)) AS min_ts, MAX(epoch_ms(e.ts)) AS max_ts "
    "FROM cycles c CROSS JOIN events e "
    "WHERE NOT EXISTS (SELECT 1 FROM purged p "
    "WHERE p.cycle = c.cycle AND p.user_id = e.user_id) "
    "GROUP BY c.cycle, e.event_type"
)


def segment_files(path: str) -> dict[str, dict[str, int]]:
    """Partition directory → {parquet file name: size in bytes}."""
    out = {}
    for d, _, files in os.walk(path):
        parts = {f: os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet")}
        if parts:
            out[os.path.relpath(d, path)] = parts
    return out


class SegmentLifecycle:
    """Cycles of ingest → GDPR purge → register → first broker read-back,
    each cycle into a fresh table of a per-run warehouse."""

    name = "segment_lifecycle"
    sizes = {"events": 100_000, "documents": 100, "embeddings": 100}
    tables = ("events",)
    PURGE_USERS = 15
    # purge sets prepared per second of window, and one for the set-up; a
    # cycle takes seconds, and a window ends early should it run out of them
    CYCLES_PER_S = 1
    WINDOWS = 3  # a traced run measures three windows

    def setup(self, ctx: Context, trace: Trace) -> None:
        from pyspark.sql import functions as F

        from apache_pinot_spark.catalog import load_tables
        from apache_pinot_spark.server import PinotHttpServer
        from apache_pinot_spark.sqlfront import PinotEngine

        with trace.span("catalog.load_tables_ms"):
            ev = load_tables(ctx.spark, ctx.data_dir, list(self.tables))["events"]
        # ts is a zone-less timestamp; the session time zone is UTC
        self.source = ev.withColumn("ts_ms", F.unix_millis(F.col("ts").cast("timestamp")))
        self.engine = PinotEngine(ctx.spark, ctx.data_dir, list(self.tables))
        self.server = PinotHttpServer(self.engine)
        self.port = self.server.start()
        self.warehouse = os.path.join(ctx.work_dir, "warehouse")
        self.cycle = 0
        first_operation(lambda w: self._cycle(w, Trace(False)))

    def teardown(self) -> None:
        self.server.stop()
        shutil.rmtree(self.warehouse, ignore_errors=True)

    def prepare(self, ctx: Context, seed: int, seconds: float) -> None:
        import pyarrow.parquet as pq

        self.ctx = ctx
        path = os.path.join(ctx.data_dir, "events.parquet")
        self.input_bytes = os.path.getsize(path)
        users = sorted(set(pq.read_table(path, columns=["user_id"])["user_id"].to_pylist()))
        r = random.Random(seed)
        n = 1 + self.WINDOWS * math.ceil(self.CYCLES_PER_S * seconds)
        self.purge_sets = [sorted(r.sample(users, self.PURGE_USERS)) for _ in range(n)]
        pairs = ",".join(f"({i},{u})" for i, us in enumerate(self.purge_sets) for u in us)
        con = duck_connect(ctx, self.tables)
        try:
            cur = con.execute(READBACK_DUCK.format(pairs=pairs))
            cols = [d[0] for d in cur.description][1:]
            by_cycle = defaultdict(list)
            for row in cur.fetchall():
                by_cycle[row[0]].append(row[1:])
        finally:
            con.close()
        self.expected = [measure.canonical(cols, by_cycle[i]) for i in range(n)]

    def _cycle(self, w: Window, trace: Trace) -> None:
        from apache_pinot_spark.plans.schema import PinotSchema
        from apache_pinot_spark.sources import batch as B

        spark, i = self.ctx.spark, self.cycle
        self.cycle += 1
        name = f"events_c{i}"
        cfg = B.TableConfig(
            table_name=name,
            time_column="ts_ms",
            partition_granularity="1:DAYS",
            sorted_column="user_id",
            bloom_filter_columns=["event_type"],
        )
        keys = spark.createDataFrame([(u,) for u in self.purge_sets[i]], "user_id LONG")
        w.attempted += 1
        try:
            t0 = time.perf_counter()
            path = B.ingest_batch(spark, PinotSchema.from_json(EVENTS_SCHEMA), cfg,
                                  self.source, warehouse=self.warehouse, mode="overwrite")
            t1 = time.perf_counter()
            before = segment_files(path) if trace.enabled else None
            t1b = time.perf_counter()
            B.purge_records(spark, path, keys, "user_id")
            t2 = time.perf_counter()
            self.engine.register_ingested(name, path)
            t3 = time.perf_counter()
            data, dt = post_sql(self.port, READBACK.format(table=name))
        except Exception as e:  # noqa: BLE001 — a failed op is counted
            w.fail(f"cycle {i}: {e}")
            return
        reply = json.loads(data)
        if envelope_answer(reply) != self.expected[i]:
            w.fail(f"cycle {i}: {reply.get('exceptions') or 'wrong read-back'}")
            return
        w.ops_ok += 1
        w.steps["ingest"].append((t1 - t0) * 1000.0)
        w.steps["purge"].append((t2 - t1b) * 1000.0)
        w.steps["register"].append((t3 - t2) * 1000.0)
        w.steps["fresh_query"].append(dt * 1000.0)
        if trace.enabled:
            after = segment_files(path)
            trace.add("sources.ingest_s", t1 - t0)
            trace.add("sources.ingest_rows_per_s", self.sizes["events"] / (t1 - t0))
            trace.add("sources.purge_s", t2 - t1b)
            trace.add("sources.segments", float(len(before)))
            trace.add("sources.files_per_segment",
                      sum(map(len, before.values())) / max(1, len(before)))
            trace.add("sources.write_amp", sum(
                sum(files.values()) for files in before.values()) / self.input_bytes)
            rewritten = sum(1 for seg in before if after.get(seg, {}).keys() != before[seg].keys())
            trace.add("sources.purge_rewrite_frac", rewritten / max(1, len(before)))
            trace.add("catalog.register_ms", (t3 - t2) * 1000.0)
            trace.add("sqlfront.fresh_query_ms", dt * 1000.0)
            trace.add("server.overhead_ms", dt * 1000.0 - reply["timeUsedMs"])
            trace.add("server.response_bytes", len(data))
            trace.add("operators.leaked_persists", leaked_persists(spark))

    def measure(self, seconds: float, trace: Trace) -> Window:
        w = Window()
        t_start = time.perf_counter()
        while (time.perf_counter() - t_start < seconds
               and self.cycle < len(self.purge_sets)):
            self._cycle(w, trace)
        w.elapsed_s = time.perf_counter() - t_start
        return w

    def probe_layers(self, trace: Trace) -> None:
        """Envelope and Catalyst split of the read-back on the last table,
        with the totalDocs count cache reset before each envelope call, as
        after a fresh register."""
        name = f"events_c{self.cycle - 1}"
        path = os.path.join(self.warehouse, name)
        probe_statement(self.engine, READBACK.format(table=name), trace,
                        reset=lambda: self.engine.register_ingested(name, path))


WORKLOADS = {w.name: w for w in (CorpusCuration, SegmentLifecycle)}
