"""Native Iceberg read tier (sources/iceberg.py) against hand-built
spec fixtures: metadata JSON + manifest-list/manifest Avro (written
with the repo's own from-scratch Avro writer) + pyarrow parquet data
files. Covers v1 and v2 layouts, snapshot time travel, metadata-level
partition pruning (proved with a corrupt pruned file), v2 position and
equality deletes with the sequence-number rules, rename/name-mapping
rejects, and the lake.py routing."""

from __future__ import annotations

import json
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from apache_pinot_spark.sources import avroio
from apache_pinot_spark.sources import iceberg as I

MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}


def _manifest_schema(part_fields):
    return {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "sequence_number", "type": ["null", "long"]},
            {"name": "file_sequence_number", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {
                        "type": "record", "name": "r102",
                        "fields": part_fields}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {"name": "equality_ids",
                     "type": ["null", {"type": "array", "items": "int"}]},
                ]}},
        ],
    }


class Fixture:
    """Builds an Iceberg table directory per the spec, one call per
    layer, with explicit sequence numbers — the independent test-side
    constructor (the encrypted-PDF anchoring discipline)."""

    def __init__(self, root: str, schema_fields, part_avro_fields=()):
        self.root = str(root)
        self.schema_fields = schema_fields
        self.part_avro_fields = list(part_avro_fields)
        os.makedirs(os.path.join(self.root, "data"), exist_ok=True)
        os.makedirs(os.path.join(self.root, "metadata"), exist_ok=True)
        self.entries: list[dict] = []   # manifest entries (current)
        self.snapshots: list[dict] = []
        self.snapshot_log: list[dict] = []
        self._n = 0

    def uri(self, rel: str) -> str:
        return f"file://{self.root}/{rel}"

    def add_parquet(self, rel: str, table: pa.Table) -> str:
        p = os.path.join(self.root, rel)
        pq.write_table(table, p)
        return p

    def add_file(self, rel: str, table: pa.Table, *, seq: int,
                 content: int = 0, partition: dict | None = None,
                 equality_ids=None, status: int = 1) -> None:
        p = self.add_parquet(rel, table)
        self.entries.append({
            "status": status, "snapshot_id": None,
            "sequence_number": seq, "file_sequence_number": seq,
            "data_file": {
                "content": content, "file_path": self.uri(rel),
                "file_format": "PARQUET",
                "partition": partition or {},
                "record_count": table.num_rows,
                "file_size_in_bytes": os.path.getsize(p),
                "equality_ids": list(equality_ids) if equality_ids else None,
            }})

    def commit(self, snapshot_id: int, ts_ms: int | None = None) -> None:
        n = self._n
        self._n += 1
        man_rel = f"metadata/{snapshot_id}-m0.avro"
        man_abs = os.path.join(self.root, man_rel)
        with open(man_abs, "wb") as fh:
            fh.write(avroio.write_container(
                list(self.entries),
                _manifest_schema(self.part_avro_fields)))
        ml_rel = f"metadata/snap-{snapshot_id}.avro"
        with open(os.path.join(self.root, ml_rel), "wb") as fh:
            fh.write(avroio.write_container([{
                "manifest_path": self.uri(man_rel),
                "manifest_length": os.path.getsize(man_abs),
                "partition_spec_id": 0, "content": 0,
                "sequence_number": n + 1, "min_sequence_number": 1,
                "added_snapshot_id": snapshot_id,
            }], MANIFEST_LIST_SCHEMA))
        ts = ts_ms if ts_ms is not None else int(time.time() * 1000) + n
        self.snapshots.append({
            "snapshot-id": snapshot_id, "timestamp-ms": ts,
            "sequence-number": n + 1,
            "manifest-list": self.uri(ml_rel),
            "summary": {"operation": "append"}, "schema-id": 0})
        self.snapshot_log.append({"snapshot-id": snapshot_id,
                                  "timestamp-ms": ts})
        self._write_metadata(version=n + 1)

    def _write_metadata(self, version: int, extra=None) -> None:
        meta = {
            "format-version": 2, "table-uuid": "0" * 32,
            "location": f"file://{self.root}",
            "last-sequence-number": self._n,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": max(f["id"] for f in self.schema_fields),
            "schemas": [{"schema-id": 0, "type": "struct",
                         "fields": self.schema_fields}],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "default-spec-id": 0,
            "current-snapshot-id": self.snapshots[-1]["snapshot-id"],
            "snapshots": self.snapshots,
            "snapshot-log": self.snapshot_log,
            "properties": {},
        }
        meta.update(extra or {})
        with open(os.path.join(self.root, "metadata",
                               f"v{version}.metadata.json"), "w") as fh:
            json.dump(meta, fh)
        with open(os.path.join(self.root, "metadata",
                               "version-hint.text"), "w") as fh:
            fh.write(str(version))


KS = [{"id": 1, "name": "k", "required": False, "type": "long"},
      {"id": 2, "name": "s", "required": False, "type": "string"}]


def _t(ks, ss):
    return pa.table({"k": pa.array(ks, pa.int64()),
                     "s": pa.array(ss, pa.string())})


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "ice")


def test_basic_v2_read(spark, root):
    fx = Fixture(root, KS)
    fx.add_file("data/f1.parquet", _t([1, 2], ["a", "b"]), seq=1)
    fx.add_file("data/f2.parquet", _t([3], ["c"]), seq=1)
    fx.commit(snapshot_id=100)
    got = I.read_iceberg(spark, root).orderBy("k").collect()
    assert [(r.k, r.s) for r in got] == [(1, "a"), (2, "b"), (3, "c")]


def test_schema_from_metadata_old_files_null_fill(spark, root):
    """A column added after a file was written reads as NULL from that
    file (metadata schema wins over file footers)."""
    fx = Fixture(root, KS)
    old = pa.table({"k": pa.array([7], pa.int64())})  # no 's' column
    fx.add_file("data/old.parquet", old, seq=1)
    fx.commit(snapshot_id=1)
    got = I.read_iceberg(spark, root).collect()
    assert got[0].k == 7 and got[0].s is None


def test_time_travel_by_snapshot_and_timestamp(spark, root):
    fx = Fixture(root, KS)
    fx.add_file("data/f1.parquet", _t([1], ["a"]), seq=1)
    fx.commit(snapshot_id=11, ts_ms=1000)
    fx.add_file("data/f2.parquet", _t([2], ["b"]), seq=2)
    fx.commit(snapshot_id=22, ts_ms=2000)
    assert I.read_iceberg(spark, root).count() == 2
    old = I.read_iceberg(spark, root, snapshot_id=11).collect()
    assert [r.k for r in old] == [1]
    old2 = I.read_iceberg(spark, root, timestamp_ms=1500).collect()
    assert [r.k for r in old2] == [1]
    hist = I.iceberg_history(root)
    assert [h["snapshot-id"] for h in hist] == [22, 11]


def test_partition_pruning_never_opens_pruned_files(spark, root):
    """The pruned file is CORRUPT on disk: if pruning were row-level
    instead of metadata-level, the scan would fail."""
    fx = Fixture(root, KS,
                 part_avro_fields=[{"name": "part",
                                    "type": ["null", "string"]}])
    fx.add_file("data/a.parquet", _t([1], ["a"]), seq=1,
                partition={"part": "keep"})
    corrupt = os.path.join(root, "data", "b.parquet")
    fx.entries.append({
        "status": 1, "snapshot_id": None, "sequence_number": 1,
        "file_sequence_number": 1,
        "data_file": {"content": 0, "file_path": fx.uri("data/b.parquet"),
                      "file_format": "PARQUET",
                      "partition": {"part": "drop"},
                      "record_count": 1, "file_size_in_bytes": 13,
                      "equality_ids": None}})
    with open(corrupt, "wb") as fh:
        fh.write(b"NOT A PARQUET")
    fx.commit(snapshot_id=5)
    got = I.read_iceberg(
        spark, root,
        partition_filter=lambda p: p.get("part") == "keep").collect()
    assert [r.k for r in got] == [1]
    with pytest.raises(Exception):  # unpruned read meets the corruption
        I.read_iceberg(spark, root).count()


def test_position_deletes_with_sequence_rule(spark, root):
    fx = Fixture(root, KS)
    fx.add_file("data/f1.parquet", _t([1, 2, 3], ["a", "b", "c"]), seq=2)
    # delete at seq 5 kills row pos=1 of f1 (5 >= 2: applies)
    d_apply = pa.table({"file_path": pa.array([fx.uri("data/f1.parquet")]),
                        "pos": pa.array([1], pa.int64())})
    fx.add_file("data/d1.parquet", d_apply, seq=5, content=1)
    # delete at seq 1 targets pos=0 but came BEFORE the data (1 < 2):
    # per spec it must NOT apply
    d_stale = pa.table({"file_path": pa.array([fx.uri("data/f1.parquet")]),
                        "pos": pa.array([0], pa.int64())})
    fx.add_file("data/d0.parquet", d_stale, seq=1, content=1)
    fx.commit(snapshot_id=9)
    got = I.read_iceberg(spark, root).orderBy("k").collect()
    assert [(r.k, r.s) for r in got] == [(1, "a"), (3, "c")]


def test_equality_deletes_strictly_smaller_rule(spark, root):
    fx = Fixture(root, KS)
    fx.add_file("data/f1.parquet", _t([1, 2, 3], ["a", "b", "c"]), seq=1)
    # equality delete on k=2 at seq 2: applies to f1 (1 < 2)
    fx.add_file("data/e1.parquet",
                pa.table({"k": pa.array([2], pa.int64())}),
                seq=2, content=2, equality_ids=[1])
    # re-insert k=2 at seq 3: data seq 3 is NOT < 2 → survives
    fx.add_file("data/f2.parquet", _t([2], ["b2"]), seq=3)
    fx.commit(snapshot_id=7)
    got = I.read_iceberg(spark, root).orderBy("k", "s").collect()
    assert [(r.k, r.s) for r in got] == [(1, "a"), (2, "b2"), (3, "c")]


def test_deleted_status_entries_excluded(spark, root):
    fx = Fixture(root, KS)
    fx.add_file("data/f1.parquet", _t([1], ["a"]), seq=1)
    fx.add_file("data/f2.parquet", _t([2], ["b"]), seq=1, status=2)
    fx.commit(snapshot_id=3)
    got = I.read_iceberg(spark, root).collect()
    assert [r.k for r in got] == [1]


def _t_ids(cols):
    """pa table whose schema carries parquet field ids: cols =
    [(name, field_id, pa_type, values), ...]."""
    fields = [pa.field(n, t, metadata={b"PARQUET:field_id":
                                       str(i).encode()})
              for (n, i, t, _v) in cols]
    return pa.Table.from_arrays(
        [pa.array(v, t) for (_n, _i, t, v) in cols],
        schema=pa.schema(fields))


def test_renamed_column_resolves_by_field_id(spark, root):
    """One file written BEFORE a rename (old names + field ids), one
    after: both resolve to the current schema — two scan groups union,
    no reject."""
    fx = Fixture(root, KS)
    old = _t_ids([("old_k", 1, pa.int64(), [1, 2]),
                  ("txt", 2, pa.string(), ["a", "b"])])
    fx.add_file("data/old.parquet", old, seq=1)
    new = _t_ids([("k", 1, pa.int64(), [3]),
                  ("s", 2, pa.string(), ["c"])])
    fx.add_file("data/new.parquet", new, seq=2)
    fx.commit(snapshot_id=1)
    got = I.read_iceberg(spark, root).orderBy("k").collect()
    assert [(r.k, r.s) for r in got] == [(1, "a"), (2, "b"), (3, "c")]


def test_renamed_column_with_deletes(spark, root):
    """Position deletes still apply when the data file predates a
    rename (the resolution projects _metadata inside the group)."""
    fx = Fixture(root, KS)
    old = _t_ids([("old_k", 1, pa.int64(), [1, 2, 3]),
                  ("txt", 2, pa.string(), ["a", "b", "c"])])
    fx.add_file("data/old.parquet", old, seq=1)
    d = pa.table({"file_path": pa.array([fx.uri("data/old.parquet")]),
                  "pos": pa.array([1], pa.int64())})
    fx.add_file("data/d1.parquet", d, seq=2, content=1)
    # equality delete written with the OLD column name + field id
    ed = _t_ids([("old_k", 1, pa.int64(), [3])])
    fx.add_file("data/e1.parquet", ed, seq=3, content=2,
                equality_ids=[1])
    fx.commit(snapshot_id=1)
    got = I.read_iceberg(spark, root).orderBy("k").collect()
    assert [(r.k, r.s) for r in got] == [(1, "a")]


def test_name_mapping_resolves_idless_files(spark, root):
    """Files without parquet field ids resolve through
    schema.name-mapping.default (the spec's import path)."""
    fx = Fixture(root, KS)
    imported = pa.table({"orig_key": pa.array([9], pa.int64()),
                         "orig_text": pa.array(["z"], pa.string())})
    fx.add_file("data/imp.parquet", imported, seq=1)
    fx.commit(snapshot_id=1)
    meta_path = I.current_metadata_path(root)
    meta = json.load(open(meta_path))
    meta["properties"]["schema.name-mapping.default"] = json.dumps([
        {"field-id": 1, "names": ["orig_key"]},
        {"field-id": 2, "names": ["orig_text"]}])
    json.dump(meta, open(meta_path, "w"))
    got = I.read_iceberg(spark, root).collect()
    assert [(r.k, r.s) for r in got] == [(9, "z")]


def test_added_and_dropped_columns_with_field_ids(spark, root):
    """Old file missing a later-added column null-fills it; an extra
    (dropped) column in the file is ignored."""
    fx = Fixture(root, KS)
    old = _t_ids([("k", 1, pa.int64(), [5]),
                  ("gone", 77, pa.string(), ["junk"])])  # dropped col
    fx.add_file("data/old.parquet", old, seq=1)
    fx.commit(snapshot_id=1)
    got = I.read_iceberg(spark, root).collect()
    assert [(r.k, r.s) for r in got] == [(5, None)]


def test_nested_rename_rejects_loudly(spark, root):
    """Nested-field renames are the one unresolvable case (Spark reads
    nested structs by name): reject, never null-fill silently."""
    nested_schema = [
        {"id": 1, "name": "k", "required": False, "type": "long"},
        {"id": 3, "name": "o", "required": False, "type": {
            "type": "struct", "fields": [
                {"id": 4, "name": "new_inner", "required": False,
                 "type": "long"}]}}]
    fx = Fixture(root, nested_schema)
    inner = pa.field("old_inner", pa.int64(),
                     metadata={b"PARQUET:field_id": b"4"})
    tbl = pa.Table.from_arrays(
        [pa.array([1], pa.int64()),
         pa.array([{"old_inner": 10}], pa.struct([inner]))],
        schema=pa.schema([
            pa.field("k", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("o", pa.struct([inner]),
                     metadata={b"PARQUET:field_id": b"3"})]))
    fx.add_file("data/f1.parquet", tbl, seq=1)
    fx.commit(snapshot_id=1)
    with pytest.raises(I.IcebergError, match="nested"):
        I.read_iceberg(spark, root).collect()


def test_v1_layout_reads(spark, root):
    """v1: singular 'schema', 'partition-spec', no sequence numbers."""
    fx = Fixture(root, KS)
    fx.add_file("data/f1.parquet", _t([4], ["d"]), seq=0)
    # null sequence numbers exercise v2 inheritance / v1 absence
    fx.entries[0]["sequence_number"] = None
    fx.entries[0]["file_sequence_number"] = None
    fx.commit(snapshot_id=2)
    meta_path = I.current_metadata_path(root)
    meta = json.load(open(meta_path))
    meta["format-version"] = 1
    meta["schema"] = meta.pop("schemas")[0]
    meta.pop("current-schema-id")
    meta["partition-spec"] = []
    json.dump(meta, open(meta_path, "w"))
    got = I.read_iceberg(spark, root).collect()
    assert [(r.k, r.s) for r in got] == [(4, "d")]


def test_unsupported_format_version_rejects(spark, root):
    fx = Fixture(root, KS)
    fx.add_file("data/f1.parquet", _t([1], ["a"]), seq=1)
    fx.commit(snapshot_id=1)
    meta_path = I.current_metadata_path(root)
    meta = json.load(open(meta_path))
    meta["format-version"] = 3
    json.dump(meta, open(meta_path, "w"))
    with pytest.raises(I.IcebergError, match="format-version"):
        I.read_iceberg(spark, root)


def test_non_parquet_data_file_rejects(spark, root):
    fx = Fixture(root, KS)
    fx.add_file("data/f1.parquet", _t([1], ["a"]), seq=1)
    fx.entries[0]["data_file"]["file_format"] = "ORC"
    fx.commit(snapshot_id=1)
    with pytest.raises(I.IcebergError, match="ORC"):
        I.read_iceberg(spark, root)


def test_type_mapping():
    from pyspark.sql import types as T

    st = I.iceberg_schema_to_spark({"fields": [
        {"id": 1, "name": "a", "required": True, "type": "long"},
        {"id": 2, "name": "b", "required": False,
         "type": "decimal(10, 2)"},
        {"id": 3, "name": "c", "required": False, "type": "timestamptz"},
        {"id": 4, "name": "d", "required": False,
         "type": {"type": "list", "element": "string"}},
        {"id": 5, "name": "e", "required": False,
         "type": {"type": "map", "key": "string", "value": "double"}},
    ]})
    assert isinstance(st["a"].dataType, T.LongType) and not st["a"].nullable
    assert st["b"].dataType == T.DecimalType(10, 2)
    assert isinstance(st["c"].dataType, T.TimestampType)
    assert isinstance(st["d"].dataType, T.ArrayType)
    assert isinstance(st["e"].dataType, T.MapType)
    with pytest.raises(I.IcebergError, match="unsupported"):
        I.iceberg_type_to_spark("geometry")


def test_lake_routing_reads_native_iceberg(spark, root):
    from apache_pinot_spark.sources import lake as L

    if L.lake_format_available(spark, "iceberg"):
        pytest.skip("connector present: native routing inert")
    fx = Fixture(root, KS)
    fx.add_file("data/f1.parquet", _t([6], ["z"]), seq=1)
    fx.commit(snapshot_id=4)
    got = L.read_lake(spark, root, "iceberg").collect()
    assert [(r.k, r.s) for r in got] == [(6, "z")]


# ---------------------------------------------------------------------------
# Native writer (write_iceberg): round trips through the native reader,
# whose decode semantics are themselves pinned by the hand-built
# fixtures above — the two sides are independently anchored.
# ---------------------------------------------------------------------------

def _wdf(spark, rows):
    from pyspark.sql import Row
    return spark.createDataFrame([Row(**r) for r in rows])


def test_write_unpartitioned_round_trip(spark, root):
    sid = I.write_iceberg(_wdf(spark, [
        {"k": 1, "s": "a"}, {"k": 2, "s": "b"}]), root)
    assert isinstance(sid, int)
    got = I.read_iceberg(spark, root).orderBy("k").collect()
    assert [(r.k, r.s) for r in got] == [(1, "a"), (2, "b")]
    # metadata follows the spec layout
    meta = I.load_metadata(root)
    assert meta["format-version"] == 2
    assert meta["current-snapshot-id"] == sid
    assert meta["schemas"][0]["fields"][0] == {
        "id": 1, "name": "k", "required": False, "type": "long"}


def test_write_append_and_time_travel(spark, root):
    s1 = I.write_iceberg(_wdf(spark, [{"k": 1}]), root)
    s2 = I.write_iceberg(_wdf(spark, [{"k": 2}]), root)
    assert I.read_iceberg(spark, root).count() == 2
    old = I.read_iceberg(spark, root, snapshot_id=s1).collect()
    assert [r.k for r in old] == [1]
    hist = I.iceberg_history(root)
    assert [h["snapshot-id"] for h in hist][0] == s2


def test_write_overwrite_keeps_old_snapshots_reachable(spark, root):
    s1 = I.write_iceberg(_wdf(spark, [{"k": 1}, {"k": 2}]), root)
    I.write_iceberg(_wdf(spark, [{"k": 99}]), root, mode="overwrite")
    assert [r.k for r in I.read_iceberg(spark, root).collect()] == [99]
    assert sorted(r.k for r in I.read_iceberg(
        spark, root, snapshot_id=s1).collect()) == [1, 2]


def test_write_partitioned_round_trip_and_pruning(spark, root):
    rows = [{"k": i, "part": f"p{i % 3}", "v": float(i)}
            for i in range(12)]
    I.write_iceberg(_wdf(spark, rows), root, partition_by=["part"])
    df = I.read_iceberg(spark, root)
    got = df.orderBy("k").collect()
    # partition columns are IN the data files (spec) — values intact
    assert [r.part for r in got] == [f"p{i % 3}" for i in range(12)]
    pruned = I.read_iceberg(
        spark, root, partition_filter=lambda p: p.get("part") == "p1")
    prows = pruned.collect()
    assert len(prows) == 4 and all(r.part == "p1" for r in prows)
    snap = I.snapshot(root)
    assert all(f.partition.get("part") for f in snap.data_files)
    # later appends must keep the same partitioning
    with pytest.raises(I.IcebergError, match="partitioned by"):
        I.write_iceberg(_wdf(spark, rows), root, partition_by=["v"])
    I.write_iceberg(_wdf(spark, [{"k": 50, "part": "p9", "v": 0.0}]),
                    root)
    assert I.read_iceberg(spark, root).count() == 13


def test_write_typed_partition_values(spark, root):
    rows = [{"k": i, "day": i % 2} for i in range(6)]
    I.write_iceberg(_wdf(spark, rows), root, partition_by=["day"])
    snap = I.snapshot(root)
    assert all(isinstance(f.partition["day"], int)
               for f in snap.data_files)
    got = I.read_iceberg(
        spark, root,
        partition_filter=lambda p: p["day"] == 1).collect()
    assert len(got) == 3 and all(r.day == 1 for r in got)


def test_write_schema_mismatch_rejects(spark, root):
    I.write_iceberg(_wdf(spark, [{"k": 1, "s": "a"}]), root)
    with pytest.raises(I.IcebergError, match="schema mismatch"):
        I.write_iceberg(_wdf(spark, [{"other": 1}]), root)


def test_write_read_by_foreign_reimplementation(spark, root):
    """The written manifests parse with the TEST-side manifest schema
    (the hand-built fixtures' grammar) — guarding the writer against
    drifting from the layout the fixtures pin."""
    from apache_pinot_spark.sources import avroio

    I.write_iceberg(_wdf(spark, [{"k": 5, "s": "z"}]), root)
    meta = I.load_metadata(root)
    snap = meta["snapshots"][-1]
    ml = I._resolve_path(root, meta, snap["manifest-list"])
    rows = avroio.read_container(open(ml, "rb").read()).records
    assert rows[-1]["added_snapshot_id"] == snap["snapshot-id"]
    man = I._resolve_path(root, meta, rows[-1]["manifest_path"])
    entries = avroio.read_container(open(man, "rb").read()).records
    assert entries[0]["status"] == 1
    assert entries[0]["data_file"]["file_format"] == "PARQUET"
    assert entries[0]["data_file"]["record_count"] == 1


def test_spark_type_to_iceberg_nested():
    from pyspark.sql import types as T

    ctr = [10]
    out = I.spark_type_to_iceberg(
        T.StructType([T.StructField("a", T.LongType(), True)]), ctr)
    assert out == {"type": "struct", "fields": [
        {"id": 10, "name": "a", "required": False, "type": "long"}]}
    assert ctr[0] == 11
    arr = I.spark_type_to_iceberg(T.ArrayType(T.StringType()), ctr)
    assert arr["type"] == "list" and arr["element-id"] == 11
    dec = I.spark_type_to_iceberg(T.DecimalType(9, 3), ctr)
    assert dec == "decimal(9, 3)"


def test_single_value_serialization_round_trip():
    import struct
    for t, v in [("int", -7), ("long", 1 << 40), ("float", 1.5),
                 ("double", -2.25), ("boolean", True),
                 ("string", "héllo"), ("date", 19000),
                 ("timestamptz", 1_700_000_000_000_000)]:
        b = I.encode_single_value(t, v)
        assert I.decode_single_value(t, b) == v, t
    assert I.encode_single_value("int", 100) == struct.pack("<i", 100)
    assert I.encode_single_value("string", "ab") == b"ab"
    assert I.encode_single_value("decimal(10, 2)", 5) is None  # omitted


def test_write_emits_bounds_and_reader_skips(spark, root):
    """Manifest lower/upper bounds skip files at the metadata level —
    proved with a corrupted excluded file (the partition-prune trick)."""
    I.write_iceberg(_wdf(spark, [{"k": i, "s": f"x{i}"}
                                 for i in range(50)]), root)
    I.write_iceberg(_wdf(spark, [{"k": i, "s": f"x{i}"}
                                 for i in range(5000, 5050)]), root)
    snap = I.snapshot(root)
    fields = {f["name"]: f for f in
              I._current_schema(snap.metadata)["fields"]}
    kid = fields["k"]["id"]
    low = [f for f in snap.data_files
           if I.decode_single_value("long",
                                    f.upper_bounds.get(kid)) == 49]
    assert low, "bounds missing from the written manifest"
    with open(low[0].local, "wb") as fh:
        fh.write(b"CORRUPTED")
    got = I.read_iceberg(spark, root,
                         data_filters=[("k", ">=", 5000)]).collect()
    assert sorted(r.k for r in got) == list(range(5000, 5050))
    with pytest.raises(Exception):
        I.read_iceberg(spark, root).count()


def test_stream_to_iceberg_exactly_once(spark, tmp_path, root):
    """File stream → native Iceberg sink: every row lands once, epoch
    ids stamp the snapshot summaries, and a REPLAYED epoch is a no-op."""
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        (src / f"f{i}.jsonl").write_text(
            "\n".join(json.dumps({"k": 10 * i + j}) for j in range(4)))
    from pyspark.sql import types as T

    stream = (spark.readStream
              .schema(T.StructType([T.StructField("k", T.LongType())]))
              .option("maxFilesPerTrigger", "1")
              .json(str(src)))
    q = I.stream_to_iceberg(stream, root, query_name="ice_ingest",
                            checkpoint_dir=str(tmp_path / "ckpt"),
                            trigger={"availableNow": True})
    q.awaitTermination(120)
    got = sorted(r.k for r in I.read_iceberg(spark, root).collect())
    assert got == sorted(10 * i + j for i in range(3) for j in range(4))
    meta = I.load_metadata(root)
    stamped = [s["summary"].get("spark.epoch-id")
               for s in meta["snapshots"]
               if s.get("summary", {}).get("spark.query-name")
               == "ice_ingest"]
    assert len(stamped) >= 1 and all(e is not None for e in stamped)
    # REPLAY a committed epoch through the actual sink body: no new
    # snapshot, no duplicate rows; a FRESH epoch writes
    n_snaps = len(meta["snapshots"])
    committed = I.committed_epoch(root, "ice_ingest")
    assert committed == max(int(e) for e in stamped) >= 0
    sink = I._epoch_sink(root, "ice_ingest", None)
    sink(_wdf(spark, [{"k": 999}]), committed)  # stale: no-op
    assert len(I.load_metadata(root)["snapshots"]) == n_snaps
    assert I.read_iceberg(spark, root).where("k = 999").count() == 0
    sink(_wdf(spark, [{"k": 999}]), committed + 1)  # fresh: commits
    assert I.read_iceberg(spark, root).where("k = 999").count() == 1
    assert I.committed_epoch(root, "ice_ingest") == committed + 1


def test_register_lake_table_views(spark, tmp_path):
    from apache_pinot_spark.catalog import PinotCatalog
    from apache_pinot_spark.sources import delta as D

    cat = PinotCatalog(spark, str(tmp_path / "wh"))
    dtbl = str(tmp_path / "dt")
    D.write_delta(_wdf(spark, [{"k": 1}, {"k": 2}]), dtbl)
    D.write_delta(_wdf(spark, [{"k": 3}]), dtbl)
    cat.register_lake_table("lake_now", dtbl, "delta")
    assert spark.sql("SELECT COUNT(*) c FROM lake_now").collect()[0].c == 3
    # time-travel view pinned at version 0
    cat.register_lake_table("lake_v0", dtbl, "delta", version=0)
    assert spark.sql("SELECT COUNT(*) c FROM lake_v0").collect()[0].c == 2


def test_symlinked_table_root_applies_deletes(spark, tmp_path):
    """Reading a table whose root path goes through a symlink must
    still apply position deletes: the broadcast file-map keys and
    _metadata.file_path are normalized identically (realpath before
    the scan), and a miss now raises instead of silently returning
    deleted rows."""
    real = tmp_path / "realdir"
    real.mkdir()
    link = tmp_path / "linkdir"
    os.symlink(str(real), str(link))
    root = str(link / "ice")  # fixture built THROUGH the symlink
    fx = Fixture(root, KS)
    fx.add_file("data/f1.parquet", _t([1, 2, 3], ["a", "b", "c"]), seq=1)
    d = pa.table({"file_path": pa.array([fx.uri("data/f1.parquet")]),
                  "pos": pa.array([1], pa.int64())})
    fx.add_file("data/d1.parquet", d, seq=2, content=1)
    fx.commit(snapshot_id=3)
    got = I.read_iceberg(spark, root).orderBy("k").collect()
    assert [(r.k, r.s) for r in got] == [(1, "a"), (3, "c")]


def test_epoch_lands_in_original_commit(spark, tmp_path, root):
    """The streaming sink's epoch stamp rides in write_iceberg's atomic
    O_EXCL metadata commit (summary_extra), not a post-hoc in-place
    rewrite of the live vN.metadata.json."""
    sink = I._epoch_sink(root, "q1", None)
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    sink(df, 0)
    assert I.committed_epoch(root, "q1") == 0
    # the CURRENT metadata file already carries the stamp — no second
    # writer ever re-opened it (mtime == O_EXCL create is not directly
    # observable; instead prove the summary is present in the committed
    # snapshot and a replay is a no-op)
    meta = I.load_metadata(root)
    snap = meta["snapshots"][-1]
    assert snap["summary"]["spark.query-name"] == "q1"
    assert snap["summary"]["spark.epoch-id"] == "0"
    sink(df, 0)  # replay: no new snapshot
    assert len(I.load_metadata(root)["snapshots"]) == 1
    sink(df, 1)
    assert I.committed_epoch(root, "q1") == 1
    got = I.read_iceberg(spark, root)
    assert got.count() == 2
