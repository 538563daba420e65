"""Delta deletion-vector reads and column mapping (sources/delta.py),
against fixtures serialized by an INDEPENDENT test-side implementation
(own Z85 encoder, own roaring array-container serializer, own DV file
layout per the spec's Deletion Vector Format) — the encrypted-PDF
anchoring discipline. Covers inline ('i'), UUID sidecar ('u') with and
without prefix, absolute-path ('p') descriptors, CRC/cardinality
rejects, (path, dvId) action reconciliation, DV survival through
checkpoints + log vacuum, and column-mapping modes name/id with
nested structs, partitions, and physical-key zone-map skipping."""

from __future__ import annotations

import json
import os
import struct
import uuid as uuid_mod
import zlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row

from apache_pinot_spark.sources import delta as D

# ---------------------------------------------------------------------------
# Independent test-side serializers
# ---------------------------------------------------------------------------

_Z85 = ("0123456789abcdefghijklmnopqrstuvwxyz"
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#")


def _z85e(b: bytes) -> str:
    assert len(b) % 4 == 0
    out = []
    for i in range(0, len(b), 4):
        acc = int.from_bytes(b[i:i + 4], "big")
        chunk = []
        for _ in range(5):
            chunk.append(_Z85[acc % 85])
            acc //= 85
        out += reversed(chunk)
    return "".join(out)


def _roaring32(values) -> bytes:
    """Minimal independent roaring serializer: cookie 12346, array
    containers only (fine for test cardinalities), with offset header."""
    by_key: dict[int, list[int]] = {}
    for v in sorted(set(values)):
        by_key.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(by_key)
    n = len(keys)
    out = struct.pack("<II", 12346, n)
    for k in keys:
        out += struct.pack("<HH", k, len(by_key[k]) - 1)
    off = 4 + 4 + 4 * n + 4 * n
    for k in keys:
        out += struct.pack("<I", off)
        off += 2 * len(by_key[k])
    for k in keys:
        out += b"".join(struct.pack("<H", x) for x in by_key[k])
    return out


def _dv_data(positions) -> bytes:
    """Magic + RoaringBitmapArray portable: int64 LE bucket count, per
    bucket int32 LE high-word key + 32-bit roaring bitmap."""
    by_high: dict[int, list[int]] = {}
    for p in sorted(set(positions)):
        by_high.setdefault(p >> 32, []).append(p & 0xFFFFFFFF)
    data = struct.pack("<iq", 1681511377, len(by_high))
    for k in sorted(by_high):
        data += struct.pack("<i", k) + _roaring32(by_high[k])
    return data


def _pad4(data: bytes) -> bytes:
    return data + b"\x00" * (-len(data) % 4)


def _write_dv_file(path: str, datas: list[bytes]) -> list[int]:
    """Spec layout: 1-byte version, then per DV at its offset a BE
    int32 size, the data, and a BE CRC-32 of the data."""
    blob = b"\x01"
    offsets = []
    for d in datas:
        offsets.append(len(blob))
        blob += struct.pack(">i", len(d)) + d
        blob += struct.pack(">I", zlib.crc32(d) & 0xFFFFFFFF)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(blob)
    return offsets


def _append_commit(table: str, actions: list[dict], version: int) -> None:
    p = os.path.join(table, "_delta_log", f"{version:020d}.json")
    with open(p, "w", encoding="utf-8") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _mkdf(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _one_file_table(spark, table, n=6):
    D.write_delta(_mkdf(spark, [{"k": i, "s": f"v{i}"}
                                for i in range(n)]).coalesce(1), table)
    snap = D.snapshot(spark, table)
    assert len(snap.files) == 1
    return snap.files[0]


def _dv_update_actions(af, dv):
    """remove (path, no DV) + add (path, DV) — the spec's DELETE shape."""
    import urllib.parse
    return [
        {"commitInfo": {"timestamp": 1, "operation": "DELETE"}},
        {"remove": {"path": urllib.parse.quote(af.path),
                    "deletionTimestamp": 1, "dataChange": True}},
        {"add": {"path": urllib.parse.quote(af.path),
                 "partitionValues": {}, "size": af.size,
                 "modificationTime": 1, "dataChange": True,
                 "stats": json.dumps({"numRecords": af.num_records}),
                 "deletionVector": dv}},
    ]


# ---------------------------------------------------------------------------
# Deletion vectors
# ---------------------------------------------------------------------------

def test_inline_dv_filters_rows(spark, table):
    af = _one_file_table(spark, table)
    data = _pad4(_dv_data([1, 3]))
    dv = {"storageType": "i", "pathOrInlineDv": _z85e(data),
          "sizeInBytes": len(data), "cardinality": 2}
    _append_commit(table, _dv_update_actions(af, dv), 1)
    got = D.read_delta(spark, table).orderBy("k").collect()
    assert [r.k for r in got] == [0, 2, 4, 5]


def test_uuid_sidecar_dv_with_prefix(spark, table):
    af = _one_file_table(spark, table)
    u = uuid_mod.uuid5(uuid_mod.NAMESPACE_URL, "dv-test")
    data = _dv_data([0, 2, 5])
    offs = _write_dv_file(
        os.path.join(table, "ab", f"deletion_vector_{u}.bin"), [data])
    dv = {"storageType": "u", "pathOrInlineDv": "ab" + _z85e(u.bytes),
          "offset": offs[0], "sizeInBytes": len(data), "cardinality": 3}
    _append_commit(table, _dv_update_actions(af, dv), 1)
    got = D.read_delta(spark, table).orderBy("k").collect()
    assert [r.k for r in got] == [1, 3, 4]


def test_uuid_sidecar_dv_no_prefix_and_multi_dv_file(spark, table):
    """Two DVs packed in ONE sidecar (distinct offsets), no prefix."""
    af = _one_file_table(spark, table)
    u = uuid_mod.uuid5(uuid_mod.NAMESPACE_URL, "dv-multi")
    d_other = _dv_data([4])      # some other file's DV, shares the file
    d_ours = _dv_data([0, 1])
    offs = _write_dv_file(
        os.path.join(table, f"deletion_vector_{u}.bin"),
        [d_other, d_ours])
    dv = {"storageType": "u", "pathOrInlineDv": _z85e(u.bytes),
          "offset": offs[1], "sizeInBytes": len(d_ours), "cardinality": 2}
    _append_commit(table, _dv_update_actions(af, dv), 1)
    got = D.read_delta(spark, table).orderBy("k").collect()
    assert [r.k for r in got] == [2, 3, 4, 5]


def test_absolute_path_dv(spark, table, tmp_path):
    af = _one_file_table(spark, table)
    data = _dv_data([2])
    side = str(tmp_path / "elsewhere" / "dv.bin")
    offs = _write_dv_file(side, [data])
    dv = {"storageType": "p", "pathOrInlineDv": f"file://{side}",
          "offset": offs[0], "sizeInBytes": len(data), "cardinality": 1}
    _append_commit(table, _dv_update_actions(af, dv), 1)
    got = D.read_delta(spark, table).orderBy("k").collect()
    assert [r.k for r in got] == [0, 1, 3, 4, 5]


def test_dv_checksum_and_cardinality_rejects(spark, table, tmp_path):
    af = _one_file_table(spark, table)
    data = _dv_data([2])
    side = str(tmp_path / "dv.bin")
    offs = _write_dv_file(side, [data])
    # corrupt ONE payload byte (keeps the stored CRC stale)
    with open(side, "r+b") as fh:
        fh.seek(offs[0] + 4 + 6)
        b = fh.read(1)
        fh.seek(offs[0] + 4 + 6)
        fh.write(bytes([b[0] ^ 0xFF]))
    dv = {"storageType": "p", "pathOrInlineDv": side,
          "offset": offs[0], "sizeInBytes": len(data), "cardinality": 1}
    _append_commit(table, _dv_update_actions(af, dv), 1)
    with pytest.raises(D.DeltaProtocolError, match="checksum"):
        D.read_delta(spark, table).collect()
    # cardinality mismatch (descriptor lies) also rejects — fresh table
    table2 = str(tmp_path / "tbl2")
    af2 = _one_file_table(spark, table2)
    good = _pad4(_dv_data([1, 3]))
    dv2 = {"storageType": "i", "pathOrInlineDv": _z85e(good),
           "sizeInBytes": len(good), "cardinality": 5}
    _append_commit(table2, _dv_update_actions(af2, dv2), 1)
    with pytest.raises(D.DeltaProtocolError, match="cardinality"):
        D.read_delta(spark, table2).collect()


def test_dv_parse_high_bucket_positions():
    """Positions past 2^32 exercise the bucket-key arithmetic."""
    pos = [5, (1 << 32) + 7, (3 << 32) + 1]
    got = D._parse_dv_bitmaps(_dv_data(pos), expected_cardinality=3)
    assert list(got) == sorted(pos)


def test_dv_action_reconciliation_path_dv_key(spark, table):
    """A second DELETE removes (path, old DV) and adds (path, new DV):
    path-only keying would let the remove clobber the new add."""
    af = _one_file_table(spark, table)
    d1 = _pad4(_dv_data([1]))
    dv1 = {"storageType": "i", "pathOrInlineDv": _z85e(d1),
           "sizeInBytes": len(d1), "cardinality": 1}
    _append_commit(table, _dv_update_actions(af, dv1), 1)
    d2 = _pad4(_dv_data([1, 3]))
    dv2 = {"storageType": "i", "pathOrInlineDv": _z85e(d2),
           "sizeInBytes": len(d2), "cardinality": 2}
    import urllib.parse
    _append_commit(table, [
        {"add": {"path": urllib.parse.quote(af.path),
                 "partitionValues": {}, "size": af.size,
                 "modificationTime": 2, "dataChange": True,
                 "deletionVector": dv2}},
        # remove of the OLD logical file AFTER the add in the same
        # commit — (path, dvId) keying keeps the new add alive
        {"remove": {"path": urllib.parse.quote(af.path),
                    "deletionTimestamp": 2, "dataChange": True,
                    "deletionVector": dv1}},
    ], 2)
    got = D.read_delta(spark, table).orderBy("k").collect()
    assert [r.k for r in got] == [0, 2, 4, 5]
    assert len(D.snapshot(spark, table).files) == 1


def test_dv_survives_checkpoint_and_vacuum(spark, table):
    af = _one_file_table(spark, table)
    data = _pad4(_dv_data([0, 4]))
    dv = {"storageType": "i", "pathOrInlineDv": _z85e(data),
          "sizeInBytes": len(data), "cardinality": 2}
    _append_commit(table, _dv_update_actions(af, dv), 1)
    D._write_checkpoint(spark, table, 1)
    assert D.vacuum_expired_commits(table, keep_last=0) > 0
    got = D.read_delta(spark, table).orderBy("k").collect()
    assert [r.k for r in got] == [1, 2, 3, 5]
    snap = D.snapshot(spark, table)
    assert snap.files[0].deletion_vector["cardinality"] == 2


def test_z85_round_trip_against_independent_encoder():
    for blob in (b"\x00\x00\x00\x00", b"\xff\xff\xff\xff",
                 bytes(range(16)), uuid_mod.uuid4().bytes):
        assert D.z85_decode(_z85e(blob)) == blob
    with pytest.raises(D.DeltaProtocolError):
        D.z85_decode("abc")          # not a multiple of 5
    with pytest.raises(D.DeltaProtocolError):
        D.z85_decode('abcd"')        # invalid character


# ---------------------------------------------------------------------------
# Column mapping
# ---------------------------------------------------------------------------

def _fld(name, typ, cid, phys, nullable=True):
    return {"name": name, "type": typ, "nullable": nullable,
            "metadata": {"delta.columnMapping.id": cid,
                         "delta.columnMapping.physicalName": phys}}


def _cm_table(tmp_path, mode="name", partitioned=False, nested=False):
    table = str(tmp_path / f"cm_{mode}_{partitioned}_{nested}")
    os.makedirs(os.path.join(table, "_delta_log"))
    fields = [_fld("k", "long", 1, "col-aaa111"),
              _fld("s", "string", 2, "col-bbb222")]
    cols = {"col-aaa111": pa.array([1, 2, 3], pa.int64()),
            "col-bbb222": pa.array(["x", "y", "z"], pa.string())}
    if nested:
        inner = {"type": "struct", "fields": [
            _fld("ix", "long", 4, "col-inner-x"),
            _fld("iy", "string", 5, "col-inner-y")]}
        fields.append(_fld("o", inner, 3, "col-outer"))
        cols["col-outer"] = pa.array(
            [{"col-inner-x": 10, "col-inner-y": "a"},
             {"col-inner-x": 20, "col-inner-y": "b"},
             {"col-inner-x": 30, "col-inner-y": "c"}],
            pa.struct([("col-inner-x", pa.int64()),
                       ("col-inner-y", pa.string())]))
    part_cols, pv = [], {}
    if partitioned:
        fields.append(_fld("p", "string", 9, "col-part-9"))
        part_cols, pv = ["p"], {"col-part-9": "east"}
    pq.write_table(pa.table(cols), os.path.join(table, "f1.parquet"))
    schema = {"type": "struct", "fields": fields}
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "cm-test", "format": {"provider": "parquet",
                                        "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": part_cols,
            "configuration": {"delta.columnMapping.mode": mode,
                              "delta.columnMapping.maxColumnId": "9"},
            "createdTime": 0}},
        {"add": {"path": "f1.parquet", "partitionValues": pv,
                 "size": os.path.getsize(os.path.join(table, "f1.parquet")),
                 "modificationTime": 0, "dataChange": True,
                 "stats": json.dumps({
                     "numRecords": 3,
                     "minValues": {"col-aaa111": 1},
                     "maxValues": {"col-aaa111": 3}})}},
    ]
    _append_commit(table, actions, 0)
    return table


@pytest.mark.parametrize("mode", ["name", "id"])
def test_column_mapping_reads_logical_names(spark, tmp_path, mode):
    table = _cm_table(tmp_path, mode=mode)
    df = D.read_delta(spark, table)
    assert df.columns == ["k", "s"]
    got = df.orderBy("k").collect()
    assert [(r.k, r.s) for r in got] == [(1, "x"), (2, "y"), (3, "z")]


def test_column_mapping_nested_struct(spark, tmp_path):
    table = _cm_table(tmp_path, nested=True)
    got = D.read_delta(spark, table).orderBy("k").collect()
    assert [r.o.ix for r in got] == [10, 20, 30]
    assert [r.o.iy for r in got] == ["a", "b", "c"]
    # nested logical names present in the schema
    df = D.read_delta(spark, table)
    o = next(f for f in df.schema.fields if f.name == "o")
    assert [f.name for f in o.dataType.fields] == ["ix", "iy"]


def test_column_mapping_partition_values_physical_keys(spark, tmp_path):
    table = _cm_table(tmp_path, partitioned=True)
    got = D.read_delta(spark, table).orderBy("k").collect()
    assert {r.p for r in got} == {"east"}
    # partition_filter sees LOGICAL keys
    none = D.read_delta(spark, table,
                        partition_filter=lambda v: v["p"] == "west")
    assert none.count() == 0


def test_column_mapping_zone_map_skipping_physical_stats(spark, tmp_path):
    """data_filters arrive with LOGICAL names; stats keys are physical —
    the excluded file is corrupted so only metadata skipping works."""
    table = _cm_table(tmp_path)
    with open(os.path.join(table, "f1.parquet"), "wb") as fh:
        fh.write(b"NOT PARQUET")
    got = D.read_delta(spark, table,
                       data_filters=[("k", ">", 100)]).collect()
    assert got == []


def test_unknown_column_mapping_mode_rejects(spark, tmp_path):
    table = _cm_table(tmp_path, mode="weird")
    with pytest.raises(D.DeltaProtocolError, match="columnMapping"):
        D.read_delta(spark, table)
