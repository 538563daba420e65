"""Table registration over the driver's parquet test tables.

In Pinot terms (reference basics/Concepts.md:9-25): each parquet file is a
TABLE whose row-groups play the role of SEGMENTS; registering it as a temp
view is the broker "routing table" entry. The full Pinot-style schema/
table-config catalog (sentinel nulls, datetime formats, layout policy)
lives in plans/schema.py; this module is the fast path used by the query
suite and bench.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apache_pinot_spark.session import configure

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# (session identity, sf_dir, table) → DataFrame. Building a parquet
# relation costs a driver-side footer read (~0.12 s warm); the suite calls
# load_tables per query, so reusing the lazy DataFrame saves ~10 s across
# a 50-query run. The test tables are immutable, so the cached file
# listing can never go stale; ingested/mutated tables use
# sources.batch.register_table, which never hits this cache. Keyed by
# id(spark) — NOT applicationId: spark.newSession() shares the
# applicationId but has its own temp catalog, and a DataFrame is bound to
# the session that built it (createOrReplaceTempView on a sibling session's
# frame registers the view in the WRONG session). The hit path re-verifies
# df.sparkSession is the caller's session, guarding id() reuse after GC.
_DF_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def load_tables(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None, refresh: bool = False
) -> dict[str, DataFrame]:
    """Register each parquet table as a temp view; returns name → DataFrame.

    Reads are lazy: Catalyst prunes columns and pushes filters into the
    parquet scan, so registering all tables costs only file-footer reads
    (cached per session — pass refresh=True if the files changed on disk).
    """
    configure(spark)
    # events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 refuses natively;
    # read nanos as LONG and rebuild a microsecond timestamp (Pinot stores
    # time as LONG epoch anyway — reference configuration-reference/schema.md:69).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out: dict[str, DataFrame] = {}
    for name in tables or TABLES:
        key = (id(spark), sf_dir, name)
        df = None if refresh else _DF_CACHE.get(key)
        if df is not None and df.sparkSession is not spark:
            df = None
        if df is None:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            _DF_CACHE[key] = df
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


# --------------------------------------------------------------------------
# Controller-style catalog (S6): DDL-equivalent CRUD over schemas/tables
# (reference basics/Architecture.md:61-73 — controller REST surface; ZK
# state collapses to JSON metadata under the warehouse dir).
# --------------------------------------------------------------------------


class PinotCatalog:
    """create/list/drop for schemas and tables; the Python analogue of the
    controller's REST DDL (Concepts.md:58). Table state (schema doc, table
    config, segment list) persists as JSON under the warehouse directory,
    so a new session can re-register everything with ``attach_all``."""

    def __init__(self, spark: SparkSession, warehouse: str):
        import os

        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(os.path.join(warehouse, "_schemas"), exist_ok=True)

    # -- schemas -----------------------------------------------------------
    def create_schema(self, schema_doc: dict) -> "object":
        import json
        import os

        from apache_pinot_spark.plans.schema import PinotSchema

        sch = PinotSchema.from_json(schema_doc)
        with open(os.path.join(self.warehouse, "_schemas", f"{sch.schema_name}.json"), "w") as fh:
            json.dump(schema_doc, fh, indent=2)
        return sch

    def get_schema(self, name: str):
        import json
        import os

        from apache_pinot_spark.plans.schema import PinotSchema

        with open(os.path.join(self.warehouse, "_schemas", f"{name}.json")) as fh:
            return PinotSchema.from_json(json.load(fh))

    def schema_doc(self, name: str) -> dict:
        """Raw stored schema document (the REST GET /schemas/{name} body)."""
        import json
        import os

        with open(os.path.join(self.warehouse, "_schemas", f"{name}.json")) as fh:
            return json.load(fh)

    def list_schemas(self) -> list[str]:
        import os

        d = os.path.join(self.warehouse, "_schemas")
        return sorted(f[:-5] for f in os.listdir(d) if f.endswith(".json"))

    # -- tables ------------------------------------------------------------
    def create_table(self, schema_name: str, table_config, source_df: DataFrame) -> str:
        """Batch-ingest ``source_df`` as a new table under this catalog
        (S1 + S6 in one call). Returns the table path."""
        from apache_pinot_spark.sources.batch import ingest_batch

        schema = self.get_schema(schema_name)
        return ingest_batch(
            self.spark, schema, table_config, source_df,
            warehouse=self.warehouse, mode="overwrite",
        )

    def list_tables(self) -> list[str]:
        import os

        out = []
        for d in sorted(os.listdir(self.warehouse)):
            if os.path.isfile(os.path.join(self.warehouse, d, "_pinot_table.json")):
                out.append(d)
        return out

    def table_meta(self, name: str) -> dict:
        import os

        from apache_pinot_spark.sources.batch import read_table_meta

        return read_table_meta(os.path.join(self.warehouse, name))

    def list_segments(self, name: str) -> list[str]:
        import os

        from apache_pinot_spark.sources.batch import list_segments

        return list_segments(os.path.join(self.warehouse, name))

    def drop_table(self, name: str) -> None:
        import os
        import shutil

        shutil.rmtree(os.path.join(self.warehouse, name))
        self.spark.catalog.dropTempView(name)

    def attach_all(self, engine=None) -> list[str]:
        """Re-register every persisted table in this (possibly new)
        session; with an engine, layout metadata (timestamp/text index)
        is picked up too."""
        import os

        from apache_pinot_spark.sources.batch import register_table

        names = self.list_tables()
        for name in names:
            path = os.path.join(self.warehouse, name)
            if engine is not None:
                engine.register_ingested(name, path)
            else:
                register_table(self.spark, name, path)
        return names
