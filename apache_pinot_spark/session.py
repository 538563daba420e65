"""SparkSession factory with scale-oriented defaults.

Tuned for the driver harness (local[N], 128 GiB, single JVM) but every
setting is chosen to also be the right call on a 1000-executor cluster:
AQE for runtime re-planning + skew-join splitting, partition coalescing so
small SFs don't pay 200-task overheads, broadcast threshold sized for the
dimension tables of a star schema, UTC session timezone for deterministic
time semantics (Pinot stores epoch millis — TZ-free; see
reference configuration-reference/schema.md:69-72).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# The directory that holds this package. Python UDF and mapInPandas
# bodies import the package inside the worker, and a worker starts in the
# JVM's working directory with only PySpark on its path, so a driver that
# found the package through its own ``sys.path`` (not the working
# directory) must hand this directory to the workers.
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runtime (non-static) confs that must hold on ANY session we are handed,
# including the driver's. Applied by `configure()`.
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Star-schema dims (region/nation/supplier/part/customer) are tiny at any
    # SF relative to fact tables; broadcast aggressively.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.aggregatePushdown": "true",
    # shuffle.partitions IS runtime-settable: applying it here means the
    # driver's vanilla session also runs right-sized shuffles (AQE
    # coalescing then adapts upward at real scale) instead of the 200
    # default per tiny aggregate.
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Split-size floor for file scans. The 4 MiB default caps small-SF
    # scan parallelism at ~3 tasks for a 12 MiB parquet file; 512 KiB lets
    # local[32] use its cores. At cluster scale this conf is inert: split
    # size is then governed by totalBytes/defaultParallelism and
    # maxPartitionBytes, both far above the floor.
    "spark.sql.files.openCostInBytes": str(512 * 1024),
}

def _default_driver_mem() -> str:
    """min(8g, 40% of MemTotal), floor 4g. local[N] runs every executor
    thread inside the driver JVM: the heap must hold N concurrent task
    working sets plus short-lived persisted frames (dedup/ANN operators
    cache intermediates for the duration of one call — see
    operators/lifecycle.py for the deterministic release). Sized from the
    host rather than hardcoded so smaller machines aren't OOM-killed.

    The cap is DELIBERATELY small, not "as much as the host has" — two
    rounds of A/B established that on this VM, suite latency variance
    scales with resident set size, not with heap headroom:
      * 32g ceiling (round 3): G1 almost never collected, kept committing
        fresh pages; page-fault/compaction storms cost ~150 CPU-s of
        kernel time and hit random queries with 3-10x spikes.
      * 16g pinned (round 4): stable immediately after start, but a
        kernel page-scanning daemon on this host charges time
        proportional to process RSS — the longer the JVM lives, the
        slower identical queries get (observed: a pure-JVM query 1.3 s →
        64 s between adjacent passes, zero GC, 195 CPU-s of kernel time).
      * 8g pinned (round 5 A/B): identical best-pass throughput at sf0.1
        (best_total 35.4 vs 35.3 s), run-to-run worst ratio 1.9x vs up
        to 71x — half the RSS, half the scan exposure.
    6g was NOT safe: the blocked-GEMM ANN operators spilled (55 s vs
    2 s). On a real cluster this maps to executor memory, where the same
    sizing logic (working set per core x cores + cached partitions)
    applies and the host-daemon concern is moot."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    gib = int(line.split()[1]) / (1024 * 1024)
                    return f"{max(4, min(8, int(gib * 0.4)))}g"
    except OSError:
        pass
    return "8g"


# Generated classes Spark keeps compiled per JVM
# (spark.sql.codegen.cache.maxEntries, default 100). The cache is an LRU
# keyed by (class loader, generated source), and local mode compiles a
# plan under two loaders (driver and task). One pass of the 50 declared
# queries fills 1,096 entries at sf0.001 and 1,092 at sf0.01 (local[4]);
# one sim_ann_family call alone compiles 109. At 100 the cache thrashed:
# a second pass of the suite recompiled 1,375 classes, and the JIT then
# compiled each fresh class again. 2,000 holds the suite with headroom,
# so a distinct plan compiles once per JVM. It is a static conf: a
# session built elsewhere and handed to `configure()` keeps Spark's 100.
CODEGEN_CACHE_ENTRIES = 2000

# Static confs — only settable at session build time.
_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem())

STATIC_CONFS = {
    "spark.sql.parquet.filterPushdown": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.driver.memory": _DRIVER_MEM,
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    # PIN the heap (-Xms == -Xmx, pre-touched). A dynamically-sized heap
    # commits and uncommits pages as G1 grows/shrinks; on this VM that
    # churn intermittently cost 100+ CPU-seconds of *kernel* time
    # (page-fault/reclaim storms) and showed up as random 3-10x query
    # spikes. With the heap committed once at startup the storms are
    # gone (6-round A/B: max 4.0s vs a 15.1s spike). Same reasoning
    # applies to executor JVMs on a real cluster.
    # MetaspaceSize raises the threshold that triggers a metaspace-induced
    # full GC: the codegen class cache keeps about 1,100 Janino classes
    # loaded (CODEGEN_CACHE_ENTRIES; Metaspace use is about 200 MB after
    # one pass of the declared queries), and the default ~21 MB high-water
    # mark forces periodic stop-the-world collections mid-query.
    "spark.driver.extraJavaOptions": (
        f"-Xms{_DRIVER_MEM} -XX:+AlwaysPreTouch -XX:MetaspaceSize=256m"
    ),
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an existing session (driver-provided or ours)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf may be static on this session; accept its value
    return share_package_with_workers(spark)


def share_package_with_workers(spark: SparkSession) -> SparkSession:
    """Put ``PACKAGE_PARENT`` on the Python workers' ``PYTHONPATH``.

    The context holds its ``spark.executorEnv.*`` entries in
    ``environment``; every Python function created after this call
    carries that dict, and Spark merges its ``PYTHONPATH`` with the one
    the worker inherits. Touches no other setting of the session."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(paths + [PACKAGE_PARENT])
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame of driver-side ``rows`` (tuples, ``Row``s or dicts
    keyed by field name) under ``schema`` (a DDL string or a
    ``StructType``), built as one Arrow table so it plans as a
    ``LocalRelation``: exact schema, nulls kept, and no Python worker
    task when a job reads it.

    ``spark.createDataFrame(<list>)`` instead plans a Python RDD with
    one partition per core, and every one of those partitions is a
    Python worker task. Each such task costs 0.25-0.5 CPU-s before it
    touches a row (measured with PySpark 4.1.2 on a 4-core host; most of
    it is worker start-up re-scanning ``pyspark.zip``), so a 3-row probe
    frame cost a core-second per job that read it.

    Values follow ``createDataFrame``'s convention for Python objects:
    a naive ``datetime`` is local time of this process, the same
    convention ``collect()`` returns timestamps in, so a collected value
    fed back here is the same instant."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType, TimestampType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    names = schema.names
    tuples = [tuple(r.get(n) for n in names) if isinstance(r, dict) else tuple(r)
              for r in rows]
    columns = list(zip(*tuples)) if tuples else [()] * len(names)
    arrays = []
    for field, values in zip(schema.fields, columns):
        atype = to_arrow_type(field.dataType)
        if isinstance(field.dataType, TimestampType):
            # pyarrow would read a naive datetime as UTC: convert to epoch
            # microseconds the way the list path does
            arrays.append(pa.array([field.dataType.toInternal(v) for v in values],
                                   pa.int64()).cast(atype))
        else:
            arrays.append(pa.array(values, type=atype))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, names=names), schema)


def get_spark(app_name: str = "apache-pinot-spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    b = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in STATIC_CONFS.items():
        b = b.config(k, v)
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    return configure(b.getOrCreate())
