"""Native Apache Iceberg table READS — no connector jar required.

Counterpart of sources/delta.py for the second lakehouse format: the
Iceberg **table spec** (iceberg.apache.org/spec, v1 + v2) is public,
its metadata is JSON + Avro — and this repo now has a from-scratch Avro
reader (sources/avroio.py) — and its data files are plain parquet.

Read path, exactly the spec's:

  1. resolve the current metadata file (``version-hint.text`` →
     ``vN.metadata.json``, else the newest ``*.metadata.json``);
  2. pick the snapshot (current, by ``snapshot_id=``, or by
     ``timestamp_ms=`` through the snapshot log);
  3. read the snapshot's **manifest list** (Avro) driver-side — it is
     metadata-scale (one row per manifest);
  4. read each **manifest** (Avro): live entries (status ≠ DELETED),
     v2 sequence-number inheritance, split into data files and delete
     files; ``partition_filter`` prunes at THIS level, so skipped files
     are never opened or scheduled (1% selection ≈ 1% I/O — the same
     contract as the Delta tier and the CDX tier);
  5. ONE parquet scan over the selected data files with the schema from
     table metadata (Iceberg data files store every column, including
     identity-partition columns — no reconstitution join needed);
  6. v2 **position deletes** apply as an anti-join on
     ``(file_path, _metadata.row_index)`` with the spec's sequence rule
     (delete_seq ≥ data_seq); **equality deletes** as per-group
     anti-joins on the equality columns (delete_seq > data_seq).

Columns resolve by PARQUET FIELD ID (the spec's Column Projection
rule): files are grouped by their resolution signature — one scan per
schema epoch — renamed/null-filled to the current schema and unioned,
so tables whose columns were renamed after data was written read
correctly; id-less imported files resolve through
``schema.name-mapping.default``, and legacy files with neither fall
back to by-name. The one honest reject left: NESTED-field renames
(Spark's parquet reader matches nested struct fields by name) raise
loudly instead of null-filling the renamed field.

WRITES (`write_iceberg`): v2 snapshots on filesystem
(HadoopCatalog-style) tables — parquet data files, manifest + manifest
-list Avro written with spec field-ids through sources/avroio, new
vN.metadata.json committed with O_CREAT|O_EXCL + version-hint update.
Append/overwrite, identity partitioning. Single-writer per table (a
real catalog is what arbitrates concurrent commits).
"""

from __future__ import annotations

import json
import os
import re
import urllib.parse
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apache_pinot_spark.session import local_frame
from apache_pinot_spark.sources import avroio
from apache_pinot_spark.sources.delta import (decoded_file_path,
                                              guarded_file_map_join)

_STATUS_DELETED = 2
_CONTENT_DATA = 0
_CONTENT_POSITION_DELETES = 1
_CONTENT_EQUALITY_DELETES = 2


class IcebergError(RuntimeError):
    """Unreadable/unsupported Iceberg table state."""


#: table-property prefix preserving per-query streaming epoch
#: high-water marks across snapshot expiry
_EPOCH_PROP_PREFIX = "apache-pinot-spark.committed-epoch."



# ---------------------------------------------------------------------------
# Metadata resolution
# ---------------------------------------------------------------------------

def _metadata_dir(table: str) -> str:
    return os.path.join(table, "metadata")


def current_metadata_path(table: str) -> str:
    md = _metadata_dir(table)
    if not os.path.isdir(md):
        raise FileNotFoundError(
            f"{table!r} is not an Iceberg table (no metadata/ directory)")
    hint = os.path.join(md, "version-hint.text")
    if os.path.exists(hint):
        v = open(hint, encoding="utf-8").read().strip()
        for cand in (f"v{v}.metadata.json", f"{v}.metadata.json", v):
            p = os.path.join(md, cand)
            if os.path.exists(p):
                return p
    cands = [n for n in os.listdir(md) if n.endswith(".metadata.json")]
    if not cands:
        raise FileNotFoundError(f"no *.metadata.json under {md!r}")

    def key(name: str):
        m = re.match(r"v(\d+)\.metadata\.json$", name)
        if m:
            return (1, int(m.group(1)), name)
        return (0, os.path.getmtime(os.path.join(md, name)), name)

    return os.path.join(md, max(cands, key=key))


def load_metadata(table: str) -> dict[str, Any]:
    with open(current_metadata_path(table), encoding="utf-8") as fh:
        meta = json.load(fh)
    fv = int(meta.get("format-version", 1))
    if fv not in (1, 2):
        raise IcebergError(f"format-version {fv} not supported (v1/v2 only)")
    return meta


def _current_schema(meta: dict[str, Any]) -> dict[str, Any]:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        for s in meta["schemas"]:
            if s.get("schema-id", 0) == sid:
                return s
        raise IcebergError(f"current-schema-id {sid} not in schemas")
    if "schema" in meta:
        return meta["schema"]
    raise IcebergError("metadata carries no schema")


# ---------------------------------------------------------------------------
# Field-id column resolution (spec "Column Projection" + name mapping)
# ---------------------------------------------------------------------------

def _parse_name_mapping(meta: dict[str, Any]) -> dict[str, int]:
    """``schema.name-mapping.default`` → {file column name: field id}
    for TOP-LEVEL fields (the spec's fallback for files written without
    parquet field ids)."""
    props = meta.get("properties") or {}
    raw = props.get("schema.name-mapping.default")
    if not raw:
        return {}
    try:
        entries = json.loads(raw)
    except ValueError as exc:
        raise IcebergError(f"bad name-mapping JSON: {exc}") from exc
    out: dict[str, int] = {}
    for e in entries or []:
        fid = e.get("field-id")
        if fid is None:
            continue
        for name in e.get("names") or []:
            out[str(name)] = int(fid)
    return out


def _arrow_field_id(af) -> int | None:
    md = af.metadata or {}
    v = md.get(b"PARQUET:field_id")
    try:
        return int(v) if v is not None else None
    except (TypeError, ValueError):
        return None


def _check_nested_resolvable(arrow_type, ice_type, path: str) -> None:
    """Nested fields resolve BY NAME inside a top-level column (Spark's
    parquet reader matches nested struct fields by name): verify the
    file's nested field ids (when present) map to the SAME names the
    current schema uses, and reject nested renames loudly instead of
    null-filling the renamed field."""
    import pyarrow as pa

    if isinstance(ice_type, dict) and ice_type.get("type") == "struct":
        if not pa.types.is_struct(arrow_type):
            return
        by_id = {}
        for i in range(arrow_type.num_fields):
            sub = arrow_type.field(i)
            fid = _arrow_field_id(sub)
            if fid is not None:
                by_id[fid] = sub
        arrow_names = {arrow_type.field(i).name
                       for i in range(arrow_type.num_fields)}
        for f in ice_type.get("fields", []):
            sub = by_id.get(f.get("id"))
            if sub is not None:
                if sub.name != f["name"]:
                    raise IcebergError(
                        f"nested field {path}.{f['name']} (id {f['id']}) "
                        f"is stored as {sub.name!r} in a data file; "
                        "nested-field renames are not resolvable by this "
                        "reader (top-level renames are) — rewrite the "
                        "file or use the connector")
                _check_nested_resolvable(sub.type, f.get("type"),
                                         f"{path}.{f['name']}")
            elif not by_id and f["name"] in arrow_names:
                idx = arrow_type.field(f["name"])
                _check_nested_resolvable(idx.type, f.get("type"),
                                         f"{path}.{f['name']}")
    elif isinstance(ice_type, dict) and ice_type.get("type") == "list":
        import pyarrow as pa
        if pa.types.is_list(arrow_type) or pa.types.is_large_list(arrow_type):
            _check_nested_resolvable(arrow_type.value_type,
                                     ice_type.get("element"),
                                     f"{path}[]")
    elif isinstance(ice_type, dict) and ice_type.get("type") == "map":
        import pyarrow as pa
        if pa.types.is_map(arrow_type):
            _check_nested_resolvable(arrow_type.item_type,
                                     ice_type.get("value"),
                                     f"{path}{{}}")


def _file_resolution(local: str, fields_json: list[dict],
                     name_mapping: dict[str, int]) -> tuple:
    """For one parquet data/delete file: (current field name →
    physical column name | None) per requested field, resolved by
    parquet field id first (spec rule), then the name mapping, then by
    name for legacy id-less files. None = column absent (reads NULL).
    Returns a hashable signature so identically-resolved files share
    ONE scan."""
    import pyarrow.parquet as pq

    aschema = pq.ParquetFile(local).schema_arrow
    by_id: dict[int, Any] = {}
    by_name: dict[str, Any] = {}
    any_ids = False
    for af in aschema:
        fid = _arrow_field_id(af)
        if fid is None and name_mapping:
            fid = name_mapping.get(af.name)
        if fid is not None:
            any_ids = True
            by_id[int(fid)] = af
        by_name[af.name] = af
    out = []
    for f in fields_json:
        pf = by_id.get(int(f["id"]))
        if pf is None and not any_ids:
            pf = by_name.get(f["name"])  # legacy id-less files: by name
        if pf is not None:
            _check_nested_resolvable(pf.type, f.get("type"), f["name"])
        out.append((f["name"], pf.name if pf is not None else None))
    return tuple(out)


# ---------------------------------------------------------------------------
# Type mapping (spec "Schemas and Data Types")
# ---------------------------------------------------------------------------

def iceberg_type_to_spark(t: Any, depth: int = 0) -> T.DataType:
    if depth > 64:
        raise IcebergError("type nesting past depth 64")
    if isinstance(t, str):
        prim = {"boolean": T.BooleanType(), "int": T.IntegerType(),
                "long": T.LongType(), "float": T.FloatType(),
                "double": T.DoubleType(), "date": T.DateType(),
                "timestamp": T.TimestampNTZType(),
                "timestamptz": T.TimestampType(),
                "string": T.StringType(), "uuid": T.StringType(),
                "binary": T.BinaryType()}
        if t in prim:
            return prim[t]
        m = re.match(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$", t)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        m = re.match(r"fixed\[(\d+)\]$", t)
        if m:
            return T.BinaryType()
        if t == "time":
            return T.LongType()  # micros since midnight; Spark has no TIME
        raise IcebergError(f"unsupported Iceberg type {t!r}")
    kind = t.get("type")
    if kind == "struct":
        return T.StructType([
            T.StructField(f["name"],
                          iceberg_type_to_spark(f["type"], depth + 1),
                          not f.get("required", False))
            for f in t["fields"]])
    if kind == "list":
        return T.ArrayType(iceberg_type_to_spark(t["element"], depth + 1),
                           not t.get("element-required", False))
    if kind == "map":
        return T.MapType(iceberg_type_to_spark(t["key"], depth + 1),
                         iceberg_type_to_spark(t["value"], depth + 1),
                         not t.get("value-required", False))
    raise IcebergError(f"unsupported Iceberg type {kind!r}")


def iceberg_schema_to_spark(schema: dict[str, Any]) -> T.StructType:
    return iceberg_type_to_spark({"type": "struct",
                                  "fields": schema["fields"]})


# ---------------------------------------------------------------------------
# Snapshot + manifest walk
# ---------------------------------------------------------------------------

@dataclass
class _DataFile:
    path: str            # as written in the manifest (URI)
    local: str           # resolved local filesystem path
    content: int
    seq: int
    partition: dict[str, Any]
    record_count: int
    equality_ids: list[int] = field(default_factory=list)
    lower_bounds: dict[int, bytes] = field(default_factory=dict)
    upper_bounds: dict[int, bytes] = field(default_factory=dict)


@dataclass
class IcebergSnapshot:
    snapshot_id: int
    schema: T.StructType
    data_files: list[_DataFile]
    position_delete_files: list[_DataFile]
    equality_delete_files: list[_DataFile]
    metadata: dict[str, Any]


def _resolve_path(table: str, meta: dict[str, Any], p: str) -> str:
    """Manifest paths are absolute URIs pinned at write time; tables
    move (and our fixtures live in tmp dirs), so relocate through the
    recorded table location when the absolute path is stale."""
    raw = urllib.parse.unquote(p)
    if raw.startswith("file:"):
        raw = re.sub(r"^file:/+", "/", raw)
    if os.path.exists(raw):
        return raw
    loc = meta.get("location") or ""
    loc = re.sub(r"^file:/+", "/", urllib.parse.unquote(loc)).rstrip("/")
    if loc and raw.startswith(loc + "/"):
        cand = os.path.join(table, raw[len(loc) + 1:])
        if os.path.exists(cand):
            return cand
    raise IcebergError(f"referenced file missing: {p!r}")


def _read_manifest_avro(path: str) -> list[dict]:
    with open(path, "rb") as fh:
        blob = fh.read()
    return avroio.read_container(blob).records


def _pick_snapshot(meta: dict[str, Any], snapshot_id: int | None,
                   timestamp_ms: int | None) -> dict[str, Any]:
    snaps = meta.get("snapshots") or []
    if not snaps:
        raise IcebergError("table has no snapshots (empty)")
    if snapshot_id is not None and timestamp_ms is not None:
        raise ValueError("pass snapshot_id OR timestamp_ms, not both")
    if snapshot_id is None and timestamp_ms is not None:
        log = sorted(meta.get("snapshot-log") or [],
                     key=lambda e: e["timestamp-ms"])
        best = None
        for e in log:
            if e["timestamp-ms"] <= timestamp_ms:
                best = e["snapshot-id"]
        if best is None:
            raise ValueError(f"no snapshot at or before {timestamp_ms}")
        snapshot_id = best
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
        if snapshot_id in (None, -1):
            raise IcebergError("metadata has no current snapshot")
    for s in snaps:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise ValueError(f"snapshot {snapshot_id} not found")


def snapshot(table: str, *, snapshot_id: int | None = None,
             timestamp_ms: int | None = None,
             partition_filter: Callable[[dict[str, Any]], bool] | None = None,
             ) -> IcebergSnapshot:
    meta = load_metadata(table)
    schema = iceberg_schema_to_spark(_current_schema(meta))
    snap = _pick_snapshot(meta, snapshot_id, timestamp_ms)

    # v2: manifest-list Avro; v1 may inline a "manifests" list of paths
    manifests: list[tuple[str, int]] = []  # (path, manifest_seq)
    if snap.get("manifest-list"):
        ml_path = _resolve_path(table, meta, snap["manifest-list"])
        for row in _read_manifest_avro(ml_path):
            manifests.append((row["manifest_path"],
                              int(row.get("sequence_number") or 0)))
    elif snap.get("manifests"):
        manifests = [(p, 0) for p in snap["manifests"]]
    else:
        raise IcebergError("snapshot carries neither manifest-list nor "
                           "manifests")

    data: list[_DataFile] = []
    pos_del: list[_DataFile] = []
    eq_del: list[_DataFile] = []
    for mpath, mseq in manifests:
        local = _resolve_path(table, meta, mpath)
        for entry in _read_manifest_avro(local):
            if int(entry.get("status") or 0) == _STATUS_DELETED:
                continue
            df_rec = entry.get("data_file") or {}
            seq = entry.get("sequence_number")
            seq = int(seq) if seq is not None else mseq  # v2 inheritance
            content = int(df_rec.get("content") or _CONTENT_DATA)
            part = df_rec.get("partition") or {}
            if (partition_filter is not None
                    and content == _CONTENT_DATA
                    and not partition_filter(dict(part))):
                continue
            fmt = (df_rec.get("file_format") or "PARQUET").upper()
            if fmt != "PARQUET":
                raise IcebergError(f"data file format {fmt!r} unsupported")
            rec = _DataFile(
                path=df_rec["file_path"],
                local=_resolve_path(table, meta, df_rec["file_path"]),
                content=content, seq=seq, partition=dict(part),
                record_count=int(df_rec.get("record_count") or 0),
                equality_ids=list(df_rec.get("equality_ids") or []),
                lower_bounds=_bounds_map(df_rec.get("lower_bounds")),
                upper_bounds=_bounds_map(df_rec.get("upper_bounds")))
            (data if content == _CONTENT_DATA
             else pos_del if content == _CONTENT_POSITION_DELETES
             else eq_del).append(rec)
    data.sort(key=lambda f: f.local)
    return IcebergSnapshot(snapshot_id=snap["snapshot-id"], schema=schema,
                           data_files=data, position_delete_files=pos_del,
                           equality_delete_files=eq_del, metadata=meta)


# ---------------------------------------------------------------------------
# Read path
# ---------------------------------------------------------------------------

def _resolved_scan(spark: SparkSession, locals_: list[str],
                   fields_json: list[dict],
                   spark_fields: list[T.StructField],
                   name_mapping: dict[str, int],
                   file_alias: str | None = None,
                   pos_alias: str | None = None) -> DataFrame:
    """Scan parquet files whose columns may be stored under OLD names
    (the table renamed columns after they were written): files are
    grouped by their field-id resolution signature — one scan per
    schema epoch, metadata-level work only — each group is renamed /
    null-filled to the current schema, and the groups union. The
    common no-renames case collapses to exactly one scan with the
    table schema. ``file_alias``/``pos_alias`` project the scan's
    ``_metadata`` (decoded file path / row index) INSIDE each group's
    select, where the metadata column is still reachable."""
    groups: dict[tuple, list[str]] = {}
    for loc in locals_:
        groups.setdefault(
            _file_resolution(loc, fields_json, name_mapping), []
        ).append(loc)
    id_sig = tuple((f["name"], f["name"]) for f in fields_json)
    meta_cols = []
    if file_alias:
        meta_cols.append(decoded_file_path().alias(file_alias))
    if pos_alias:
        meta_cols.append(F.col("_metadata.row_index").alias(pos_alias))
    parts = []
    for sig, locs in groups.items():
        if sig == id_sig:
            gdf = spark.read.schema(
                T.StructType(spark_fields)).parquet(*locs)
            sel = [F.col(f.name) for f in spark_fields]
        else:
            read_fields, sel = [], []
            for (lname, pname), lf in zip(sig, spark_fields):
                if pname is None:
                    sel.append(F.lit(None).cast(lf.dataType).alias(lname))
                else:
                    read_fields.append(
                        T.StructField(pname, lf.dataType, True))
                    sel.append(F.col(pname).alias(lname))
            gdf = spark.read.schema(
                T.StructType(read_fields)).parquet(*locs)
        parts.append(gdf.select(*sel, *meta_cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_iceberg(spark: SparkSession, table: str, *,
                 snapshot_id: int | None = None,
                 timestamp_ms: int | None = None,
                 partition_filter=None,
                 data_filters: list[tuple[str, str, Any]] | None = None,
                 ) -> DataFrame:
    """Iceberg table → DataFrame at a snapshot (v1 and v2, parquet data,
    position + equality deletes). ``partition_filter`` sees each data
    file's typed partition record and prunes before any file is opened;
    ``data_filters`` (col, op, value) conjuncts skip files whose
    manifest lower/upper bounds prove exclusion (conservative — files
    without bounds survive; keep the predicate on the DataFrame too).
    """
    snap = snapshot(table, snapshot_id=snapshot_id,
                    timestamp_ms=timestamp_ms,
                    partition_filter=partition_filter)
    if data_filters:
        fields = _current_schema(snap.metadata)["fields"]
        snap.data_files = [
            f for f in snap.data_files
            if not _bounds_exclude(fields, f, data_filters)]
    if not snap.data_files:
        return local_frame(spark, [], snap.schema)
    cols = [f.name for f in snap.schema.fields]
    fields_json = _current_schema(snap.metadata).get("fields", [])
    nmap = _parse_name_mapping(snap.metadata)
    has_deletes = bool(snap.position_delete_files
                       or snap.equality_delete_files)
    # realpath BEFORE the scan so _metadata.file_path and the broadcast
    # map keys are built from the same resolved string (a symlinked
    # table root would otherwise miss the join → __ib_seq NULL → delete
    # anti-joins never match and deleted rows come back)
    data_locals = [os.path.realpath(f.local) for f in snap.data_files]
    df = _resolved_scan(spark, data_locals, fields_json,
                        list(snap.schema.fields), nmap,
                        file_alias="__ib_file" if has_deletes else None,
                        pos_alias="__ib_pos" if has_deletes else None)

    if not has_deletes:
        return df.select(cols)

    # attach each row's manifest path + data sequence number through the
    # (tiny, broadcast) file map — needed by both delete kinds
    fmap = local_frame(
        spark,
        [{"__ib_file": loc, "__ib_path": f.path, "__ib_seq": f.seq}
         for loc, f in zip(data_locals, snap.data_files)],
        T.StructType([T.StructField("__ib_file", T.StringType(), False),
                      T.StructField("__ib_path", T.StringType(), False),
                      T.StructField("__ib_seq", T.LongType(), False)]))
    df = guarded_file_map_join(
        df, fmap, "__ib_file", "read_iceberg data-file map")

    if snap.position_delete_files:
        del_schema = T.StructType([
            T.StructField("file_path", T.StringType()),
            T.StructField("pos", T.LongType())])
        pd_locals = [os.path.realpath(f.local)
                     for f in snap.position_delete_files]
        seq_map = local_frame(
            spark,
            [{"__pd_file": loc, "__pd_seq": f.seq}
             for loc, f in zip(pd_locals, snap.position_delete_files)],
            T.StructType([T.StructField("__pd_file", T.StringType(), False),
                          T.StructField("__pd_seq", T.LongType(), False)]))
        dels = guarded_file_map_join(
            spark.read.schema(del_schema).parquet(*pd_locals)
            .withColumn("__pd_file", decoded_file_path()),
            seq_map, "__pd_file", "read_iceberg position-delete map"
        ).select("file_path", "pos", "__pd_seq")
        # spec: a position delete applies to data files whose data
        # sequence number is <= the delete file's sequence number
        df = df.join(
            dels,
            (df["__ib_path"] == dels["file_path"])
            & (df["__ib_pos"] == dels["pos"])
            & (dels["__pd_seq"] >= df["__ib_seq"]),
            "left_anti")

    for eq_ids, files in _group_equality(snap).items():
        eq_idx = _ids_to_field_indexes(snap, eq_ids)
        eq_cols = [snap.schema.fields[i].name for i in eq_idx]
        eq_fields_json = [fields_json[i] for i in eq_idx]
        ed_locals = [os.path.realpath(f.local) for f in files]
        seq_map = local_frame(
            spark,
            [{"__ed_file": loc, "__ed_seq": f.seq}
             for loc, f in zip(ed_locals, files)],
            T.StructType([T.StructField("__ed_file", T.StringType(), False),
                          T.StructField("__ed_seq", T.LongType(), False)]))
        dels = guarded_file_map_join(
            _resolved_scan(spark, ed_locals, eq_fields_json,
                           [snap.schema[c] for c in eq_cols], nmap,
                           file_alias="__ed_file"),
            seq_map, "__ed_file", "read_iceberg equality-delete map"
        ).select(*eq_cols, "__ed_seq")
        # spec: equality deletes apply to data files with a STRICTLY
        # SMALLER data sequence number
        cond = (dels["__ed_seq"] > df["__ib_seq"])
        for c in eq_cols:
            cond = cond & df[c].eqNullSafe(dels[c])
        df = df.join(dels, cond, "left_anti")

    return df.select(cols)


def _group_equality(snap: IcebergSnapshot) -> dict[tuple[int, ...],
                                                   list[_DataFile]]:
    groups: dict[tuple[int, ...], list[_DataFile]] = {}
    for f in snap.equality_delete_files:
        if not f.equality_ids:
            raise IcebergError(
                f"equality delete file {f.path!r} lists no equality_ids")
        groups.setdefault(tuple(sorted(f.equality_ids)), []).append(f)
    return groups


def _ids_to_field_indexes(snap: IcebergSnapshot,
                          eq_ids: tuple[int, ...]) -> list[int]:
    meta_fields = _current_schema(snap.metadata)["fields"]
    by_id = {f["id"]: i for i, f in enumerate(meta_fields)}
    out = []
    for fid in eq_ids:
        if fid not in by_id:
            raise IcebergError(f"equality field id {fid} not in schema")
        out.append(by_id[fid])
    return out


def iceberg_history(table: str) -> list[dict[str, Any]]:
    """Snapshot log (snapshot-id, timestamp) — newest first."""
    meta = load_metadata(table)
    log = list(meta.get("snapshot-log") or [])
    if not log:
        log = [{"snapshot-id": s["snapshot-id"],
                "timestamp-ms": s.get("timestamp-ms", 0)}
               for s in meta.get("snapshots") or []]
    return sorted(log, key=lambda e: -e["timestamp-ms"])


# ---------------------------------------------------------------------------
# Write path (HadoopCatalog-style filesystem tables, v2)
# ---------------------------------------------------------------------------

def spark_type_to_iceberg(dt: T.DataType, next_id: list[int]) -> Any:
    """Spark → Iceberg type JSON; nested types consume field ids from
    the shared counter (depth-first, the spec's assignment order)."""
    import pyspark.sql.types as ST

    prim = {ST.BooleanType: "boolean", ST.IntegerType: "int",
            ST.ShortType: "int", ST.ByteType: "int", ST.LongType: "long",
            ST.FloatType: "float", ST.DoubleType: "double",
            ST.DateType: "date", ST.TimestampType: "timestamptz",
            ST.TimestampNTZType: "timestamp", ST.StringType: "string",
            ST.BinaryType: "binary"}
    for cls, name in prim.items():
        if isinstance(dt, cls):
            return name
    if isinstance(dt, ST.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, ST.StructType):
        fields = []
        for f in dt.fields:
            fid = next_id[0]
            next_id[0] += 1
            fields.append({"id": fid, "name": f.name,
                           "required": not f.nullable,
                           "type": spark_type_to_iceberg(f.dataType,
                                                         next_id)})
        return {"type": "struct", "fields": fields}
    if isinstance(dt, ST.ArrayType):
        eid = next_id[0]
        next_id[0] += 1
        return {"type": "list", "element-id": eid,
                "element-required": not dt.containsNull,
                "element": spark_type_to_iceberg(dt.elementType, next_id)}
    if isinstance(dt, ST.MapType):
        kid, vid = next_id[0], next_id[0] + 1
        next_id[0] += 2
        return {"type": "map", "key-id": kid, "value-id": vid,
                "key": spark_type_to_iceberg(dt.keyType, next_id),
                "value-required": not dt.valueContainsNull,
                "value": spark_type_to_iceberg(dt.valueType, next_id)}
    raise IcebergError(f"no Iceberg mapping for Spark type {dt}")


def _iceberg_to_avro_type(t: Any) -> Any:
    """Partition-value Avro type for identity transforms (nullable).
    Restricted to the types whose partition values round-trip exactly
    through directory names; date/timestamp partitioning wants a
    transform spec (days/months/...), out of the native writer's
    scope — rejected honestly."""
    prim = {"boolean": "boolean", "int": "int", "long": "long",
            "float": "float", "double": "double", "string": "string"}
    if isinstance(t, str) and t in prim:
        return ["null", prim[t]]
    raise IcebergError(f"unsupported identity-partition type {t!r}")


def _manifest_avro_schema(part_fields: list[dict]) -> dict:
    """The spec's manifest_entry Avro schema (v2), field-ids included so
    REAL Iceberg readers resolve it; partition struct fields get ids
    1000+ (the spec's partition-field-id convention)."""
    r102 = {"type": "record", "name": "r102", "fields": [
        {"name": pf["name"], "type": _iceberg_to_avro_type(pf["type"]),
         "default": None, "field-id": 1000 + i}
        for i, pf in enumerate(part_fields)]}
    def _bounds(name, kid, vid):
        # int-keyed maps serialize as arrays of key/value records in
        # Iceberg's Avro (the spec's map array-encoding)
        return {"name": name, "default": None, "type": ["null", {
            "type": "array", "logicalType": "map",
            "items": {"type": "record", "name": f"k{kid}_v{vid}",
                      "fields": [
                          {"name": "key", "type": "int",
                           "field-id": kid},
                          {"name": "value", "type": "bytes",
                           "field-id": vid}]}}]}

    data_file = {"type": "record", "name": "r2", "fields": [
        {"name": "content", "type": "int", "field-id": 134},
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "type": r102, "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        dict(_bounds("lower_bounds", 126, 127), **{"field-id": 125}),
        dict(_bounds("upper_bounds", 129, 130), **{"field-id": 128}),
        {"name": "equality_ids",
         "type": ["null", {"type": "array", "items": "int",
                           "element-id": 136}],
         "default": None, "field-id": 135},
    ]}
    return {"type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"],
         "default": None, "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": None, "field-id": 4},
        {"name": "data_file", "type": data_file, "field-id": 2},
    ]}


_MANIFEST_LIST_AVRO = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def write_iceberg(df: DataFrame, table: str, *, mode: str = "append",
                  partition_by: list[str] | None = None,
                  summary_extra: dict[str, str] | None = None) -> int:
    """Write a DataFrame as a new Iceberg v2 snapshot on a filesystem
    (HadoopCatalog-style) table — no connector jar. Returns the new
    snapshot id.

    mode='append' adds a manifest beside the previous snapshot's;
    'overwrite' starts the new snapshot from only the new manifest (old
    files stay reachable through time travel — the spec's model).
    Partitioning is identity-transform (partition values recorded in
    manifests; the columns stay IN the data files per the spec, so no
    reconstitution is ever needed). The metadata commit is an atomic
    O_CREAT|O_EXCL create of the next vN.metadata.json — SINGLE-WRITER
    per table: a lost race slides to the next version slot without
    merging the other writer's snapshot (concurrent multi-writer
    commits need a real catalog; the delta.py LogStore honesty note).
    Manifests carry spec field-ids so real Iceberg readers resolve
    them.
    """
    import uuid as uuid_mod

    from apache_pinot_spark.sources import avroio

    if mode not in ("append", "overwrite"):
        raise ValueError("mode must be append or overwrite")
    spark = df.sparkSession
    part_cols = list(partition_by or [])
    for c in part_cols:
        if c not in df.columns:
            raise ValueError(f"partition column {c!r} not in the frame")

    md_dir = _metadata_dir(table)
    exists = os.path.isdir(md_dir) and any(
        n.endswith(".metadata.json") for n in os.listdir(md_dir))
    if exists:
        meta = load_metadata(table)
        schema_json = _current_schema(meta)
        names = [f["name"] for f in schema_json["fields"]]
        if [f.name for f in df.schema.fields] != names:
            raise IcebergError(
                f"schema mismatch: table has {names}, frame has "
                f"{[f.name for f in df.schema.fields]}")
        spec_fields = (meta.get("partition-specs")
                       or [{"fields": []}])[0].get("fields", [])
        existing_parts = [pf["name"] for pf in spec_fields]
        if partition_by is not None and part_cols != existing_parts:
            raise IcebergError(
                f"table is partitioned by {existing_parts}")
        part_cols = existing_parts
        version = 1 + max(
            int(m.group(1)) for m in
            (re.match(r"v(\d+)\.metadata\.json$", n)
             for n in os.listdir(md_dir)) if m)
        seq = int(meta.get("last-sequence-number", 0)) + 1
    else:
        os.makedirs(md_dir, exist_ok=True)
        os.makedirs(os.path.join(table, "data"), exist_ok=True)
        counter = [len(df.schema.fields) + 1]
        fields = []
        for i, f in enumerate(df.schema.fields):
            fields.append({"id": i + 1, "name": f.name,
                           "required": not f.nullable,
                           "type": spark_type_to_iceberg(f.dataType,
                                                         counter)})
        schema_json = {"schema-id": 0, "type": "struct", "fields": fields}
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid_mod.uuid5(uuid_mod.NAMESPACE_URL,
                                             f"apache-pinot-spark:{table}")),
            "location": f"file://{os.path.abspath(table)}",
            "last-sequence-number": 0,
            "last-updated-ms": 0,
            "last-column-id": counter[0] - 1,
            "schemas": [schema_json], "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": [
                {"name": c, "transform": "identity",
                 "source-id": [f["id"] for f in fields
                               if f["name"] == c][0],
                 "field-id": 1000 + i}
                for i, c in enumerate(part_cols)]}],
            "default-spec-id": 0,
            "last-partition-id": 999 + len(part_cols),
            "properties": {},
            "current-snapshot-id": -1,
            "snapshots": [], "snapshot-log": [], "metadata-log": [],
        }
        version = 1
        seq = 1

    by_name = {f["name"]: f for f in schema_json["fields"]}
    part_field_types = [{"name": c, "type": by_name[c]["type"]}
                        for c in part_cols]

    # 1. data files (staging + move; delta.py's layout discipline)
    import time as time_mod
    stage = os.path.join(table, f".staging-{os.getpid()}-"
                         f"{time_mod.time_ns()}")
    out_df = df.repartition(*[F.col(c) for c in part_cols]) \
        if part_cols else df
    writer = out_df.write.mode("overwrite")
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    writer.parquet(stage)
    # partitionBy drops the partition columns from the files; Iceberg
    # requires every column present — rewrite each partition dir's
    # files WITH the columns via a second pass when partitioned
    entries = []
    data_dir = os.path.join(table, "data")
    os.makedirs(data_dir, exist_ok=True)
    if part_cols:
        import pyarrow as pa
        import pyarrow.parquet as pq
        for dirpath, _dirs, names in os.walk(stage):
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                rel = os.path.relpath(dirpath, stage)
                pv: dict[str, Any] = {}
                for seg in rel.split(os.sep):
                    k, _, raw = seg.partition("=")
                    if k in part_cols:
                        pv[k] = (None if raw ==
                                 "__HIVE_DEFAULT_PARTITION__"
                                 else urllib.parse.unquote(raw))
                tbl = pq.read_table(os.path.join(dirpath, name))
                if tbl.num_rows == 0:
                    continue  # per-task empty splits carry nothing
                pa_types = {"boolean": pa.bool_(), "int": pa.int32(),
                            "long": pa.int64(), "float": pa.float32(),
                            "double": pa.float64(),
                            "string": pa.string()}
                for c in part_cols:
                    it = by_name[c]["type"]
                    val = _cast_part(pv.get(c), it)
                    tbl = tbl.append_column(
                        c, pa.array([val] * tbl.num_rows,
                                    type=pa_types[it]))
                # restore declared column order
                tbl = tbl.select([f["name"]
                                  for f in schema_json["fields"]])
                fname = f"{uuid_mod.uuid5(uuid_mod.NAMESPACE_URL, rel + name)}.parquet"
                dst = os.path.join(data_dir, fname)
                pq.write_table(tbl, dst)
                pv_typed = {c: _cast_part(pv.get(c), by_name[c]["type"])
                            for c in part_cols}
                entries.append(_entry(table, dst, pv_typed, part_cols,
                                      tbl.num_rows, seq,
                                      schema_json["fields"]))
    else:
        for dirpath, _dirs, names in os.walk(stage):
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                import pyarrow.parquet as pq
                src = os.path.join(dirpath, name)
                n_rows = pq.ParquetFile(src).metadata.num_rows
                if n_rows == 0:
                    continue  # per-task empty splits carry nothing
                dst = os.path.join(data_dir, name)
                os.replace(src, dst)
                entries.append(_entry(table, dst, {}, part_cols,
                                      n_rows, seq,
                                      schema_json["fields"]))
    import shutil
    shutil.rmtree(stage, ignore_errors=True)

    # 2. manifest + manifest list + metadata, committed atomically
    snapshot_id = int(time_mod.time_ns() % (1 << 62))
    man_name = f"{uuid_mod.uuid4().hex}-m0.avro"
    man_path = os.path.join(md_dir, man_name)
    man_schema = _manifest_avro_schema(part_field_types)
    for e in entries:
        e["snapshot_id"] = snapshot_id
    with open(man_path, "wb") as fh:
        fh.write(avroio.write_container(entries, man_schema))

    ml_rows = [{
        "manifest_path": f"file://{os.path.abspath(man_path)}",
        "manifest_length": os.path.getsize(man_path),
        "partition_spec_id": 0, "content": 0,
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(entries), "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": sum(e["data_file"]["record_count"]
                                for e in entries),
        "existing_rows_count": 0, "deleted_rows_count": 0,
    }]
    if mode == "append" and meta.get("snapshots"):
        cur = _pick_snapshot(meta, None, None)
        ml = _resolve_path(table, meta, cur["manifest-list"])
        ml_rows = _read_manifest_avro(ml) + ml_rows
    ml_name = f"snap-{snapshot_id}-1-{uuid_mod.uuid4().hex}.avro"
    ml_path = os.path.join(md_dir, ml_name)
    with open(ml_path, "wb") as fh:
        fh.write(avroio.write_container(ml_rows, _MANIFEST_LIST_AVRO))

    now_ms = int(time_mod.time() * 1000)
    snap = {"snapshot-id": snapshot_id, "timestamp-ms": now_ms,
            "sequence-number": seq,
            "manifest-list": f"file://{os.path.abspath(ml_path)}",
            "summary": {"operation":
                        "append" if mode == "append" else "overwrite",
                        **{str(k): str(v)
                           for k, v in (summary_extra or {}).items()}},
            "schema-id": schema_json.get("schema-id", 0)}
    new_meta = dict(meta)
    new_meta["last-sequence-number"] = seq
    new_meta["last-updated-ms"] = now_ms
    new_meta["current-snapshot-id"] = snapshot_id
    new_meta["snapshots"] = list(meta.get("snapshots") or []) + [snap]
    new_meta["snapshot-log"] = list(meta.get("snapshot-log") or []) + [
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}]

    for _ in range(1000):
        target = os.path.join(md_dir, f"v{version}.metadata.json")
        try:
            fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                         0o644)
        except FileExistsError:
            version += 1
            continue
        with os.fdopen(fd, "w", encoding="utf-8") as fh:
            json.dump(new_meta, fh)
        break
    else:
        raise IcebergError("could not win a metadata commit slot")
    with open(os.path.join(md_dir, "version-hint.text"), "w",
              encoding="utf-8") as fh:
        fh.write(str(version))
    return snapshot_id


def _cast_part(v: str | None, iceberg_type: Any):
    if v is None:
        return None
    if iceberg_type in ("int", "long"):
        return int(v)
    if iceberg_type in ("float", "double"):
        return float(v)
    if iceberg_type == "boolean":
        return v == "true"
    return v


def _entry(table: str, dst: str, pv: dict, part_cols: list[str],
           n_rows: int, seq: int, fields: list[dict] | None = None) -> dict:
    lower = upper = None
    if fields:
        try:
            lo, hi = _footer_bounds(dst, fields)
            if lo:
                lower = [{"key": k, "value": v}
                         for k, v in sorted(lo.items())]
                upper = [{"key": k, "value": v}
                         for k, v in sorted(hi.items())]
        except Exception:  # bounds are optional; never fail the write
            pass
    return {"status": 1, "snapshot_id": None,
            "sequence_number": seq, "file_sequence_number": seq,
            "data_file": {
                "content": 0,
                "file_path": f"file://{os.path.abspath(dst)}",
                "file_format": "PARQUET",
                "partition": {c: pv.get(c) for c in part_cols},
                "record_count": int(n_rows),
                "file_size_in_bytes": os.path.getsize(dst),
                "lower_bounds": lower,
                "upper_bounds": upper,
                "equality_ids": None,
            }}


# ---------------------------------------------------------------------------
# Column bounds (spec Appendix D single-value serialization) + skipping
# ---------------------------------------------------------------------------

def _bounds_map(raw) -> dict[int, bytes]:
    """Manifest bounds arrive as an array-encoded int→bytes map (list of
    {key, value} records) or a plain dict; normalize to {field_id: bytes}."""
    if not raw:
        return {}
    if isinstance(raw, dict):
        return {int(k): bytes(v) for k, v in raw.items() if v is not None}
    out = {}
    for kv in raw:
        if kv and kv.get("value") is not None:
            out[int(kv["key"])] = bytes(kv["value"])
    return out


def encode_single_value(iceberg_type: Any, v: Any) -> bytes | None:
    """Spec Appendix D: little-endian numerics, UTF-8 strings."""
    import struct as st

    if v is None or not isinstance(iceberg_type, str):
        return None
    t = iceberg_type
    try:
        if t == "int":
            return st.pack("<i", int(v))
        if t == "long":
            return st.pack("<q", int(v))
        if t == "float":
            return st.pack("<f", float(v))
        if t == "double":
            return st.pack("<d", float(v))
        if t == "boolean":
            return b"\x01" if v else b"\x00"
        if t == "string":
            return str(v).encode("utf-8")
        if t == "date":
            from datetime import date
            if isinstance(v, date):
                v = (v - date(1970, 1, 1)).days
            return st.pack("<i", int(v))
        if t in ("timestamp", "timestamptz"):
            from datetime import datetime, timezone
            if isinstance(v, datetime):
                ref = (datetime(1970, 1, 1, tzinfo=v.tzinfo)
                       if v.tzinfo else datetime(1970, 1, 1))
                v = int((v - ref).total_seconds() * 1_000_000)
            return st.pack("<q", int(v))
    except (ValueError, OverflowError, st.error):
        return None
    return None  # decimal/fixed/binary bounds: out of scope, omitted


def decode_single_value(iceberg_type: Any, b: bytes):
    import struct as st

    if b is None or not isinstance(iceberg_type, str):
        return None
    t = iceberg_type
    try:
        if t == "int" and len(b) == 4:
            return st.unpack("<i", b)[0]
        if t == "long" and len(b) == 8:
            return st.unpack("<q", b)[0]
        if t == "float" and len(b) == 4:
            return st.unpack("<f", b)[0]
        if t == "double" and len(b) == 8:
            return st.unpack("<d", b)[0]
        if t == "boolean" and len(b) == 1:
            return b != b"\x00"
        if t == "string":
            return b.decode("utf-8", errors="replace")
        if t == "date" and len(b) == 4:
            return st.unpack("<i", b)[0]
        if t in ("timestamp", "timestamptz") and len(b) == 8:
            return st.unpack("<q", b)[0]
    except st.error:
        return None
    return None


def _footer_bounds(path: str, fields: list[dict]
                   ) -> tuple[dict[int, bytes], dict[int, bytes]]:
    """Per-column lower/upper bounds from the parquet footer's row-group
    stats, keyed by Iceberg field id (top-level primitives only)."""
    import pyarrow.parquet as pq

    by_name = {f["name"]: f for f in fields
               if isinstance(f.get("type"), str)}
    md = pq.ParquetFile(path).metadata
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in by_name or "." in name:
                continue
            stt = col.statistics
            if stt is None or not stt.has_min_max:
                continue
            lo, hi = stt.min, stt.max
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
    lower: dict[int, bytes] = {}
    upper: dict[int, bytes] = {}
    for name, lo in mins.items():
        f = by_name[name]
        enc_lo = encode_single_value(f["type"], lo)
        enc_hi = encode_single_value(f["type"], maxs[name])
        if enc_lo is not None and enc_hi is not None:
            lower[f["id"]] = enc_lo
            upper[f["id"]] = enc_hi
    return lower, upper


def _bounds_exclude(snap_fields: list[dict], f: "_DataFile",
                    data_filters: list[tuple[str, str, Any]]) -> bool:
    """True iff the file's bounds prove no row satisfies every conjunct
    (delta.stats_exclude's rule, keyed through field ids)."""
    from apache_pinot_spark.sources.delta import stats_exclude

    by_name = {fd["name"]: fd for fd in snap_fields
               if isinstance(fd.get("type"), str)}
    mins: dict[str, Any] = {}
    maxs: dict[str, Any] = {}
    for col, _op, _v in data_filters:
        fd = by_name.get(col)
        if fd is None:
            continue
        lo = f.lower_bounds.get(fd["id"])
        hi = f.upper_bounds.get(fd["id"])
        if lo is None or hi is None:
            continue
        dlo = decode_single_value(fd["type"], lo)
        dhi = decode_single_value(fd["type"], hi)
        if dlo is None or dhi is None:
            continue
        mins[col] = dlo
        maxs[col] = dhi
    return stats_exclude({"minValues": mins, "maxValues": maxs},
                         data_filters)


def stream_to_iceberg(stream_df: DataFrame, table: str, *,
                      query_name: str, checkpoint_dir: str,
                      partition_by: list[str] | None = None,
                      trigger: dict | None = None):
    """Structured-Streaming sink into a native Iceberg table:
    foreachBatch append where each micro-batch records
    ``(query_name, epoch_id)`` in the snapshot summary and a replayed
    epoch is a no-op — the delta tier's txn mechanism expressed through
    Iceberg's summary map (real Iceberg sinks rely on Spark's
    checkpoint alone; the summary check adds delta-grade idempotence
    for restarts). Returns the started StreamingQuery."""

    writer = (stream_df.writeStream
              .foreachBatch(_epoch_sink(table, query_name, partition_by))
              .queryName(query_name)
              .option("checkpointLocation", checkpoint_dir))
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def committed_epoch(table: str, query_name: str) -> int:
    """Highest epoch id a query has stamped into this table's snapshot
    summaries (-1 when none) — the streaming sink's replay guard.
    Snapshot expiry preserves each query's high-water mark in a table
    property, so expiring stamped snapshots cannot re-open the door to
    a replayed epoch."""
    try:
        meta = load_metadata(table)
    except (FileNotFoundError, IcebergError):
        return -1
    best = -1
    prop = (meta.get("properties") or {}).get(
        f"{_EPOCH_PROP_PREFIX}{query_name}")
    if prop is not None:
        try:
            best = int(prop)
        except (TypeError, ValueError):
            pass
    for s in meta.get("snapshots") or []:
        summ = s.get("summary") or {}
        if summ.get("spark.query-name") == query_name:
            try:
                best = max(best, int(summ.get("spark.epoch-id", -1)))
            except (TypeError, ValueError):
                pass
    return best


def _epoch_sink(table: str, query_name: str,
                partition_by: list[str] | None):
    """foreachBatch body for stream_to_iceberg (module-level so the
    replay guard is directly testable)."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        if int(epoch_id) <= committed_epoch(table, query_name):
            return  # replayed batch: idempotent no-op
        # the epoch rides in the snapshot summary of the ORIGINAL
        # atomic O_EXCL metadata commit — no post-hoc rewrite of the
        # live vN.metadata.json (a crash mid-rewrite would corrupt the
        # table's current metadata and defeat the exactly-once guard)
        write_iceberg(batch_df, table, mode="append",
                      partition_by=partition_by,
                      summary_extra={"spark.query-name": query_name,
                                     "spark.epoch-id": str(int(epoch_id))})

    return _sink


# ---------------------------------------------------------------------------
# Snapshot expiry (the spec's expire_snapshots maintenance action)
# ---------------------------------------------------------------------------

def expire_snapshots(table: str, *, keep_last: int = 1,
                     older_than_ms: int | None = None,
                     dry_run: bool = False) -> dict[str, list]:
    """Drop old snapshots from the table metadata and physically delete
    files only THEY reference (manifest lists, manifests, and data /
    delete files unreachable from every retained snapshot). The current
    snapshot always survives; ``keep_last`` keeps the N newest, and
    ``older_than_ms`` additionally protects anything newer than the
    cutoff. Returns {"snapshots": [ids], "files": [paths]} removed (or
    would-be with ``dry_run``).

    The new metadata lands as the NEXT vN.metadata.json through the
    same atomic O_EXCL commit as writes — a crash leaves the previous
    metadata intact. Scale shape: everything here is manifest-scale
    metadata work; no data is read."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the current snapshot "
                         "always survives)")
    meta = load_metadata(table)
    snaps = sorted(meta.get("snapshots") or [],
                   key=lambda s: s["timestamp-ms"])
    if not snaps:
        return {"snapshots": [], "files": []}
    current_id = meta.get("current-snapshot-id")
    retained, expired = [], []
    for i, s in enumerate(snaps):
        keep = (i >= len(snaps) - keep_last
                or s["snapshot-id"] == current_id)
        if not keep and older_than_ms is not None \
                and s["timestamp-ms"] >= older_than_ms:
            keep = True
        (retained if keep else expired).append(s)
    if not expired:
        return {"snapshots": [], "files": []}

    def _reachable(snapshot_list):
        mls, mans, datas = set(), set(), set()
        for s in snapshot_list:
            ml = s.get("manifest-list")
            if not ml:
                continue
            ml_local = _resolve_path(table, meta, ml)
            mls.add(os.path.normpath(ml_local))
            try:
                rows = _read_manifest_avro(ml_local)
            except (OSError, IcebergError):
                continue
            for row in rows:
                man_local = _resolve_path(table, meta,
                                          row["manifest_path"])
                mans.add(os.path.normpath(man_local))
                try:
                    entries = _read_manifest_avro(man_local)
                except (OSError, IcebergError):
                    continue
                for entry in entries:
                    dfr = entry.get("data_file") or {}
                    if dfr.get("file_path"):
                        datas.add(os.path.normpath(_resolve_path(
                            table, meta, dfr["file_path"])))
        return mls, mans, datas

    keep_mls, keep_mans, keep_datas = _reachable(retained)
    exp_mls, exp_mans, exp_datas = _reachable(expired)
    doomed = sorted((exp_mls - keep_mls) | (exp_mans - keep_mans)
                    | (exp_datas - keep_datas))

    if not dry_run:
        expired_ids = {s["snapshot-id"] for s in expired}
        new_meta = dict(meta)
        new_meta["snapshots"] = [s for s in snaps
                                 if s["snapshot-id"] not in expired_ids]
        new_meta["snapshot-log"] = [
            e for e in (meta.get("snapshot-log") or [])
            if e.get("snapshot-id") not in expired_ids]
        # preserve streaming replay guards: an expired snapshot's
        # (query, epoch) stamp folds into a table-property high-water
        # mark so committed_epoch never regresses after expiry
        props = dict(new_meta.get("properties") or {})
        for s_exp in expired:
            summ = s_exp.get("summary") or {}
            qn = summ.get("spark.query-name")
            if not qn:
                continue
            try:
                ep = int(summ.get("spark.epoch-id", -1))
            except (TypeError, ValueError):
                continue
            key = f"{_EPOCH_PROP_PREFIX}{qn}"
            try:
                prev = int(props.get(key, -1))
            except (TypeError, ValueError):
                prev = -1
            props[key] = str(max(prev, ep))
        new_meta["properties"] = props
        md_dir = _metadata_dir(table)
        cur = os.path.basename(current_metadata_path(table))
        m = re.match(r"v(\d+)\.metadata\.json$", cur)
        version = (int(m.group(1)) if m else 0) + 1
        for _ in range(1000):
            target = os.path.join(md_dir, f"v{version}.metadata.json")
            try:
                fd = os.open(target,
                             os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
            except FileExistsError:
                version += 1
                continue
            with os.fdopen(fd, "w", encoding="utf-8") as fh:
                json.dump(new_meta, fh)
            break
        else:
            raise IcebergError("could not win a metadata commit slot")
        with open(os.path.join(md_dir, "version-hint.text"), "w",
                  encoding="utf-8") as fh:
            fh.write(str(version))
        for p in doomed:
            try:
                os.remove(p)
            except OSError:
                pass
    return {"snapshots": sorted(s["snapshot-id"] for s in expired),
            "files": doomed}


def compact_iceberg(spark: SparkSession, table: str) -> int | None:
    """Rewrite the current snapshot's data files as ONE overwrite
    ("replace") snapshot with every position/equality delete applied —
    Iceberg's rewrite_data_files + delete-purge in the spec's model:
    old snapshots stay reachable for time travel until
    :func:`expire_snapshots` retires them. Returns the new snapshot id,
    or None when the table has a single clean data file already."""
    snap = snapshot(table)
    needs = (len(snap.data_files) > 1
             or bool(snap.position_delete_files)
             or bool(snap.equality_delete_files))
    if not needs:
        return None
    df = read_iceberg(spark, table)
    part_fields = ((snap.metadata.get("partition-specs")
                    or [{"fields": []}])[0].get("fields", []))
    part_cols = [pf["name"] for pf in part_fields] or None
    if part_cols:
        df = df.repartition(*[F.col(c) for c in part_cols])
    else:
        df = df.coalesce(1)
    sid = write_iceberg(df, table, mode="overwrite",
                        partition_by=part_cols,
                        summary_extra={"compaction": "rewrite-data-files"})
    return sid
