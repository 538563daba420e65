"""Apache Avro object-container files, from scratch — reader AND writer.

Why this exists: Pinot's batch-ingestion surface accepts Avro input
(reference `basics/Architecture.md:192-196` describes the batch ingest
job over raw source data; the public pinot-input-format catalog lists
Avro first), and the engine's runtime ships neither spark-avro nor the
``avro`` PyPI package, so without this module ``ingest_batch(fmt="avro")``
could only fail with an artifact hint.

Everything here is implemented from the public Apache Avro 1.11
specification ("Object Container Files" and "Binary Encoding" sections):

  * container = magic ``Obj\\x01`` + file-metadata map (``avro.schema``
    JSON, ``avro.codec``) + 16-byte sync marker, then blocks of
    ``count, byte-size, payload, sync``;
  * binary encoding = zigzag-varint ints/longs, little-endian IEEE
    float/double, length-prefixed bytes/strings, fields-in-order
    records, branch-index unions, block-structured arrays/maps,
    index-encoded enums, width-pinned fixeds;
  * codecs: ``null`` and ``deflate`` (raw zlib, RFC 1951) always;
    ``snappy`` (raw snappy + 4-byte big-endian CRC32 of the
    uncompressed payload) when pyarrow's bundled snappy is available.

House hardening rules (Avro files come from outside the engine, so any
length or count in them can lie): every length/count read from the wire
is capped BEFORE allocation, deflate inflates chunkwise under a byte
cap, decode recursion is depth-capped (Avro schemas may be recursive by
name), per-block error isolation with sync-marker resync, and a lying
block byte-size rejects that block, never the file.

Logical types surfaced on the Spark path: decimal (bytes/fixed),
date, timestamp-millis/micros, uuid. time-millis/micros and
local-timestamp-* pass through as their base ints (documented
divergence: Spark has no time-of-day type).
"""

from __future__ import annotations

import binascii
import hashlib
import io
import json
import struct
import zlib
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from decimal import Decimal
from typing import Any, Callable

MAGIC = b"Obj\x01"
_SYNC_SIZE = 16
#: primitive type names (spec "Primitive Types")
_PRIMITIVES = frozenset(
    ["null", "boolean", "int", "long", "float", "double", "bytes", "string"]
)

_EPOCH_DATE = date(1970, 1, 1)
#: naive UTC — the engine pins spark.sql.session.timeZone=UTC
#: (session.py), so naive datetimes land exactly on the epoch-based
#: Avro value under the Arrow transfer.
_EPOCH_TS = datetime(1970, 1, 1)


class AvroError(ValueError):
    """Malformed Avro schema or payload."""


# ---------------------------------------------------------------------------
# Schema parsing (spec "Schema Declaration")
# ---------------------------------------------------------------------------

@dataclass
class Schema:
    """One resolved schema node. ``kind`` is a primitive name or one of
    record/enum/array/map/union/fixed; named types carry ``name``
    (fullname). ``logical`` is the declared logicalType, surfaced so the
    Spark mapping can widen (the binary decoder always works on the
    base type)."""

    kind: str
    name: str | None = None
    fields: list[tuple[str, "Schema"]] = field(default_factory=list)  # record
    symbols: list[str] = field(default_factory=list)  # enum
    items: "Schema | None" = None  # array
    values: "Schema | None" = None  # map
    branches: list["Schema"] = field(default_factory=list)  # union
    size: int = 0  # fixed
    logical: str | None = None
    precision: int = 0  # decimal
    scale: int = 0  # decimal


def parse_schema(schema_json: str | dict | list) -> Schema:
    """Parse an Avro schema JSON document into a resolved Schema tree.
    Named-type references (including recursive ones) resolve through a
    registry keyed by fullname and by bare name."""
    doc = (json.loads(schema_json)
           if isinstance(schema_json, (str, bytes)) else schema_json)
    registry: dict[str, Schema] = {}
    return _parse_node(doc, registry, namespace=None, depth=0)


def _fullname(name: str, namespace: str | None) -> str:
    if "." in name or not namespace:
        return name
    return f"{namespace}.{name}"


def _parse_node(node: Any, reg: dict[str, Schema], namespace: str | None,
                depth: int) -> Schema:
    if depth > 64:
        raise AvroError("schema nesting past depth 64")
    if isinstance(node, str):
        if node in _PRIMITIVES:
            return Schema(kind=node)
        # named-type reference
        for key in (_fullname(node, namespace), node):
            if key in reg:
                return reg[key]
        raise AvroError(f"unresolved named type {node!r}")
    if isinstance(node, list):  # union
        branches = [_parse_node(b, reg, namespace, depth + 1) for b in node]
        if not branches:
            raise AvroError("empty union")
        return Schema(kind="union", branches=branches)
    if not isinstance(node, dict):
        raise AvroError(f"bad schema node {type(node).__name__}")
    t = node.get("type")
    if t in _PRIMITIVES:
        s = Schema(kind=t, logical=node.get("logicalType"))
        if s.logical == "decimal":
            s.precision = int(node.get("precision", 0))
            s.scale = int(node.get("scale", 0))
        return s
    if t == "record" or t == "error":
        ns = node.get("namespace", namespace)
        full = _fullname(node["name"], ns)
        s = Schema(kind="record", name=full)
        reg[full] = s
        reg.setdefault(full.rsplit(".", 1)[-1], s)
        # fields parse AFTER registration so recursion resolves
        child_ns = full.rsplit(".", 1)[0] if "." in full else ns
        for f in node.get("fields", []):
            s.fields.append(
                (f["name"], _parse_node(f["type"], reg, child_ns, depth + 1)))
        return s
    if t == "enum":
        full = _fullname(node["name"], node.get("namespace", namespace))
        s = Schema(kind="enum", name=full, symbols=list(node["symbols"]))
        reg[full] = s
        reg.setdefault(full.rsplit(".", 1)[-1], s)
        return s
    if t == "fixed":
        full = _fullname(node["name"], node.get("namespace", namespace))
        size = int(node["size"])
        if size < 0 or size > 1 << 24:
            raise AvroError(f"fixed size {size} out of bounds")
        s = Schema(kind="fixed", name=full, size=size,
                   logical=node.get("logicalType"))
        if s.logical == "decimal":
            s.precision = int(node.get("precision", 0))
            s.scale = int(node.get("scale", 0))
        reg[full] = s
        reg.setdefault(full.rsplit(".", 1)[-1], s)
        return s
    if t == "array":
        return Schema(kind="array",
                      items=_parse_node(node["items"], reg, namespace,
                                        depth + 1))
    if t == "map":
        return Schema(kind="map",
                      values=_parse_node(node["values"], reg, namespace,
                                         depth + 1))
    if isinstance(t, (dict, list)):  # {"type": {...}} wrapper
        return _parse_node(t, reg, namespace, depth + 1)
    raise AvroError(f"unknown schema type {t!r}")


# ---------------------------------------------------------------------------
# Binary decoding (spec "Binary Encoding")
# ---------------------------------------------------------------------------

class _Cursor:
    __slots__ = ("buf", "pos", "end", "max_value_bytes", "max_items")

    def __init__(self, buf: bytes, max_value_bytes: int, max_items: int):
        self.buf = buf
        self.pos = 0
        self.end = len(buf)
        self.max_value_bytes = max_value_bytes
        self.max_items = max_items

    def take(self, n: int) -> bytes:
        if n < 0 or self.pos + n > self.end:
            raise AvroError("payload truncated")
        b = self.buf[self.pos:self.pos + n]
        self.pos += n
        return b

    def read_long(self) -> int:
        """Zigzag varint, at most 10 bytes (64-bit)."""
        shift = 0
        acc = 0
        for _ in range(10):
            if self.pos >= self.end:
                raise AvroError("varint truncated")
            b = self.buf[self.pos]
            self.pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                return (acc >> 1) ^ -(acc & 1)
            shift += 7
        raise AvroError("varint past 10 bytes")

    def read_sized(self, label: str) -> bytes:
        n = self.read_long()
        if n < 0 or n > self.max_value_bytes:
            raise AvroError(f"{label} length {n} out of bounds")
        return self.take(n)


def _decode(cur: _Cursor, s: Schema, depth: int = 0) -> Any:
    if depth > 64:
        raise AvroError("value nesting past depth 64")
    k = s.kind
    if k == "null":
        return None
    if k == "boolean":
        return cur.take(1) != b"\x00"
    if k in ("int", "long"):
        return cur.read_long()
    if k == "float":
        return struct.unpack("<f", cur.take(4))[0]
    if k == "double":
        return struct.unpack("<d", cur.take(8))[0]
    if k == "bytes":
        return cur.read_sized("bytes")
    if k == "string":
        return cur.read_sized("string").decode("utf-8", errors="replace")
    if k == "record":
        return {name: _decode(cur, fs, depth + 1) for name, fs in s.fields}
    if k == "enum":
        i = cur.read_long()
        if not 0 <= i < len(s.symbols):
            raise AvroError(f"enum index {i} out of range")
        return s.symbols[i]
    if k == "union":
        i = cur.read_long()
        if not 0 <= i < len(s.branches):
            raise AvroError(f"union branch {i} out of range")
        return _decode(cur, s.branches[i], depth + 1)
    if k == "fixed":
        return cur.take(s.size)
    if k == "array":
        out: list[Any] = []
        while True:
            n = cur.read_long()
            if n == 0:
                return out
            if n < 0:  # negative count ⇒ abs(count) items after a byte size
                n = -n
                cur.read_long()  # block byte size (skippable hint)
            if n > cur.max_items or len(out) + n > cur.max_items:
                raise AvroError(f"array block count {n} past cap")
            for _ in range(n):
                out.append(_decode(cur, s.items, depth + 1))
    if k == "map":
        m: dict[str, Any] = {}
        while True:
            n = cur.read_long()
            if n == 0:
                return m
            if n < 0:
                n = -n
                cur.read_long()
            if n > cur.max_items or len(m) + n > cur.max_items:
                raise AvroError(f"map block count {n} past cap")
            for _ in range(n):
                key = cur.read_sized("map key").decode("utf-8",
                                                       errors="replace")
                m[key] = _decode(cur, s.values, depth + 1)
    raise AvroError(f"undecodable kind {k!r}")


# ---------------------------------------------------------------------------
# Binary encoding (writer mirror of _decode)
# ---------------------------------------------------------------------------

def _zigzag(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    u &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode(out: bytearray, s: Schema, v: Any, depth: int = 0) -> None:
    if depth > 64:
        raise AvroError("value nesting past depth 64")
    k = s.kind
    if k == "null":
        if v is not None:
            raise AvroError(f"non-null {v!r} for null schema")
        return
    if k == "boolean":
        out += b"\x01" if v else b"\x00"
    elif k in ("int", "long"):
        out += _zigzag(int(v))
    elif k == "float":
        out += struct.pack("<f", float(v))
    elif k == "double":
        out += struct.pack("<d", float(v))
    elif k == "bytes":
        b = bytes(v)
        out += _zigzag(len(b)) + b
    elif k == "string":
        b = str(v).encode("utf-8")
        out += _zigzag(len(b)) + b
    elif k == "record":
        for name, fs in s.fields:
            _encode(out, fs, v.get(name) if isinstance(v, dict) else
                    getattr(v, name), depth + 1)
    elif k == "enum":
        out += _zigzag(s.symbols.index(v))
    elif k == "union":
        out += _zigzag(_union_branch(s, v))
        _encode(out, s.branches[_union_branch(s, v)], v, depth + 1)
    elif k == "fixed":
        b = bytes(v)
        if len(b) != s.size:
            raise AvroError(f"fixed width {len(b)} != {s.size}")
        out += b
    elif k == "array":
        items = list(v)
        if items:
            out += _zigzag(len(items))
            for it in items:
                _encode(out, s.items, it, depth + 1)
        out += _zigzag(0)
    elif k == "map":
        if v:
            out += _zigzag(len(v))
            for key, val in v.items():
                kb = str(key).encode("utf-8")
                out += _zigzag(len(kb)) + kb
                _encode(out, s.values, val, depth + 1)
        out += _zigzag(0)
    else:
        raise AvroError(f"unencodable kind {k!r}")


def _union_branch(s: Schema, v: Any) -> int:
    """Pick the union branch for a Python value — null/None first, then
    the first branch whose kind accepts the value's shape."""
    for i, b in enumerate(s.branches):
        if v is None and b.kind == "null":
            return i
    for i, b in enumerate(s.branches):
        k = b.kind
        if v is None:
            continue
        if k == "boolean" and isinstance(v, bool):
            return i
        if k in ("int", "long") and isinstance(v, int) and not isinstance(v, bool):
            return i
        if k in ("float", "double") and isinstance(v, float):
            return i
        if k == "string" and isinstance(v, str):
            return i
        if k in ("bytes", "fixed") and isinstance(v, (bytes, bytearray)):
            return i
        if k == "record" and isinstance(v, dict):
            return i
        if k == "array" and isinstance(v, (list, tuple)):
            return i
        if k == "map" and isinstance(v, dict):
            return i
        if k == "enum" and isinstance(v, str):
            return i
    raise AvroError(f"no union branch accepts {type(v).__name__}")


# ---------------------------------------------------------------------------
# Container files
# ---------------------------------------------------------------------------

@dataclass
class AvroContainer:
    schema_json: str
    schema: Schema
    codec: str
    records: list[Any]
    n_blocks: int
    n_rejected_blocks: int


def _inflate_deflate(data: bytes, cap: int) -> bytes:
    """Raw-deflate inflate under a chunkwise byte cap."""
    d = zlib.decompressobj(-15)
    try:
        out = d.decompress(data, cap + 1)
    except zlib.error as exc:
        raise AvroError(f"corrupt deflate block: {exc}") from exc
    if len(out) > cap or d.unconsumed_tail:
        raise AvroError(f"block inflates past {cap} bytes")
    return out


def _snappy_varint(data: bytes) -> tuple[int, int]:
    n = 0
    for i in range(min(5, len(data))):
        b = data[i]
        n |= (b & 0x7F) << (7 * i)
        if not b & 0x80:
            return n, i + 1
    raise AvroError("bad snappy preamble")


def _inflate_snappy(data: bytes, cap: int) -> bytes:
    """Avro snappy codec: raw snappy payload + 4-byte big-endian CRC32
    of the UNCOMPRESSED bytes. Decodes via pyarrow's bundled snappy."""
    if len(data) < 4:
        raise AvroError("snappy block too short")
    body, crc = data[:-4], data[-4:]
    size, _ = _snappy_varint(body)
    if size > cap:
        raise AvroError(f"snappy block declares {size} bytes, past cap {cap}")
    try:
        import pyarrow as pa
        out = pa.Codec("snappy").decompress(body, size).to_pybytes()
    except AvroError:
        raise
    except Exception as exc:  # codec missing or corrupt payload
        raise AvroError(f"snappy decode failed: {exc}") from exc
    if binascii.crc32(out) & 0xFFFFFFFF != struct.unpack(">I", crc)[0]:
        raise AvroError("snappy CRC mismatch")
    return out


def _block_payload(codec: str, data: bytes, cap: int) -> bytes:
    if codec in ("null", ""):
        if len(data) > cap:
            raise AvroError(f"block of {len(data)} bytes past cap {cap}")
        return data
    if codec == "deflate":
        return _inflate_deflate(data, cap)
    if codec == "snappy":
        return _inflate_snappy(data, cap)
    raise AvroError(f"unsupported avro codec {codec!r}")


def read_container(blob: bytes, *, max_block_bytes: int = 64 << 20,
                   max_value_bytes: int = 16 << 20, max_items: int = 1 << 20,
                   max_records: int = 1 << 24,
                   on_error: str = "raise") -> AvroContainer:
    """Parse one Avro object-container file. ``on_error='skip'`` gives
    per-BLOCK error isolation: a corrupt block (bad varint, lying byte
    size, failed inflate, sync mismatch) is dropped and the scan resyncs
    on the 16-byte sync marker, so one bad block never loses the file."""
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")
    if blob[:4] != MAGIC:
        raise AvroError("not an Avro container (bad magic)")
    head = _Cursor(blob, max_value_bytes=max_value_bytes, max_items=max_items)
    head.pos = 4
    meta_schema = Schema(kind="map", values=Schema(kind="bytes"))
    meta = _decode(head, meta_schema)
    sync = head.take(_SYNC_SIZE)
    schema_raw = meta.get("avro.schema")
    if schema_raw is None:
        raise AvroError("container missing avro.schema metadata")
    try:
        schema_json = schema_raw.decode("utf-8")
        schema = parse_schema(schema_json)
    except AvroError:
        raise
    except (UnicodeDecodeError, ValueError, KeyError, TypeError) as exc:
        raise AvroError(f"corrupt container schema: {exc}") from exc
    codec = meta.get("avro.codec", b"null").decode("ascii", errors="replace")

    records: list[Any] = []
    n_blocks = n_rej = 0
    pos = head.pos
    end = len(blob)
    while pos < end:
        try:
            cur = _Cursor(blob, max_value_bytes, max_items)
            cur.pos = pos
            count = cur.read_long()
            size = cur.read_long()
            if count < 0 or count > max_records - len(records):
                raise AvroError(f"block record count {count} out of bounds")
            if size < 0 or cur.pos + size + _SYNC_SIZE > end:
                raise AvroError(f"block byte size {size} out of bounds")
            payload = _block_payload(codec, cur.take(size), max_block_bytes)
            if cur.take(_SYNC_SIZE) != sync:
                raise AvroError("sync marker mismatch")
            body = _Cursor(payload, max_value_bytes, max_items)
            block_records = [_decode(body, schema) for _ in range(count)]
            if body.pos != body.end:
                raise AvroError("trailing bytes after last record in block")
            records.extend(block_records)
            n_blocks += 1
            pos = cur.pos
        except AvroError:
            if on_error == "raise":
                raise
            n_rej += 1
            nxt = blob.find(sync, pos + 1)
            if nxt < 0:
                break
            pos = nxt + _SYNC_SIZE
    return AvroContainer(schema_json=schema_json, schema=schema, codec=codec,
                         records=records, n_blocks=n_blocks,
                         n_rejected_blocks=n_rej)


def read_header(blob: bytes) -> tuple[str, str]:
    """(schema_json, codec) from a container header only — a cheap
    driver-side metadata peek (the parquet-footer analogue)."""
    if blob[:4] != MAGIC:
        raise AvroError("not an Avro container (bad magic)")
    cur = _Cursor(blob, max_value_bytes=16 << 20, max_items=1 << 16)
    cur.pos = 4
    meta = _decode(cur, Schema(kind="map", values=Schema(kind="bytes")))
    schema_raw = meta.get("avro.schema")
    if schema_raw is None:
        raise AvroError("container missing avro.schema metadata")
    return (schema_raw.decode("utf-8"),
            meta.get("avro.codec", b"null").decode("ascii", errors="replace"))


def write_container(records: list[Any], schema_json: str | dict, *,
                    codec: str = "deflate",
                    records_per_block: int = 1000) -> bytes:
    """Serialize records into one Avro object-container byte string.
    The sync marker derives from the schema text (md5) so re-runs are
    byte-identical — the repo's determinism convention (no RNG)."""
    if codec not in ("null", "deflate"):
        raise AvroError(f"writer supports null/deflate, not {codec!r}")
    sj = (schema_json if isinstance(schema_json, str)
          else json.dumps(schema_json))
    schema = parse_schema(sj)
    sync = hashlib.md5(b"apache-pinot-spark-avro:" + sj.encode()).digest()
    out = bytearray(MAGIC)
    meta = {"avro.schema": sj.encode(), "avro.codec": codec.encode()}
    _encode(out, Schema(kind="map", values=Schema(kind="bytes")), meta)
    out += sync
    for i in range(0, len(records), records_per_block):
        chunk = records[i:i + records_per_block]
        body = bytearray()
        for r in chunk:
            _encode(body, schema, r)
        payload = bytes(body)
        if codec == "deflate":
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = c.compress(payload) + c.flush()
        out += _zigzag(len(chunk)) + _zigzag(len(payload)) + payload + sync
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

def avro_schema_to_spark(s: Schema):
    """Map a resolved Avro schema to a Spark StructType. The root must
    be a record. union[null, T] maps to nullable T; any union with two
    or more non-null branches is rejected honestly (no silent JSON
    stringification) — read those through the Python API instead."""
    from pyspark.sql import types as T

    def conv(node: Schema, depth: int = 0):
        if depth > 64:
            raise AvroError("schema nesting past depth 64")
        k = node.kind
        if k == "union":
            non_null = [b for b in node.branches if b.kind != "null"]
            if len(non_null) != 1:
                raise AvroError(
                    "union with multiple non-null branches has no Spark "
                    "column type; use read_container() for this file")
            return conv(non_null[0], depth + 1)
        if node.logical == "decimal":
            if not 1 <= node.precision <= 38:
                raise AvroError(f"decimal precision {node.precision} "
                                "outside Spark's 1..38")
            return T.DecimalType(node.precision, node.scale)
        if node.logical == "date" and k == "int":
            return T.DateType()
        if node.logical in ("timestamp-millis", "timestamp-micros") and k == "long":
            return T.TimestampType()
        prim = {"boolean": T.BooleanType, "int": T.IntegerType,
                "long": T.LongType, "float": T.FloatType,
                "double": T.DoubleType, "bytes": T.BinaryType,
                "string": T.StringType, "null": T.NullType}
        if k in prim:
            return prim[k]()
        if k == "enum":
            return T.StringType()
        if k == "fixed":
            return T.BinaryType()
        if k == "array":
            return T.ArrayType(conv(node.items, depth + 1))
        if k == "map":
            return T.MapType(T.StringType(), conv(node.values, depth + 1))
        if k == "record":
            return T.StructType(
                [T.StructField(n, conv(fs, depth + 1), True)
                 for n, fs in node.fields])
        raise AvroError(f"unmappable kind {k!r}")

    if s.kind != "record":
        raise AvroError("root schema must be a record for the Spark path")
    return conv(s)


def _logical_converter(node: Schema) -> Callable[[Any], Any] | None:
    """Value converter for one node (logical-type widening); None means
    identity. Built once per schema, applied during row assembly."""
    if node.logical == "decimal" and node.kind in ("bytes", "fixed"):
        scale = node.scale

        def dec(v: Any) -> Any:
            if v is None:
                return None
            n = int.from_bytes(bytes(v), "big", signed=True)
            return Decimal(n).scaleb(-scale)
        return dec
    if node.logical == "date" and node.kind == "int":
        return lambda v: None if v is None else _EPOCH_DATE + timedelta(days=v)
    if node.logical == "timestamp-millis" and node.kind == "long":
        return (lambda v: None if v is None
                else _EPOCH_TS + timedelta(milliseconds=v))
    if node.logical == "timestamp-micros" and node.kind == "long":
        return (lambda v: None if v is None
                else _EPOCH_TS + timedelta(microseconds=v))
    if node.kind == "float":
        return None
    return None


def _row_converter(s: Schema) -> Callable[[Any], Any]:
    """Deep converter from decoded Python values to Spark-ingestible
    values under the avro_schema_to_spark mapping."""
    if s.kind == "union":
        non_null = [b for b in s.branches if b.kind != "null"]
        inner = _row_converter(non_null[0]) if non_null else (lambda v: v)
        return lambda v: None if v is None else inner(v)
    if s.kind == "record":
        subs = [(n, _row_converter(fs)) for n, fs in s.fields]
        return (lambda v: None if v is None
                else {n: c(v.get(n)) for n, c in subs})
    if s.kind == "array":
        c = _row_converter(s.items)
        return lambda v: None if v is None else [c(x) for x in v]
    if s.kind == "map":
        c = _row_converter(s.values)
        return (lambda v: None if v is None
                else {k: c(x) for k, x in v.items()})
    conv = _logical_converter(s)
    if conv is not None:
        return conv
    if s.kind in ("bytes", "fixed"):
        return lambda v: None if v is None else bytes(v)
    return lambda v: v


def read_avro(spark, path: str, *, max_file_bytes: int = 512 << 20,
              max_block_bytes: int = 64 << 20,
              on_error: str = "skip"):
    """Directory/glob of .avro container files → DataFrame, no
    spark-avro jar required.

    The schema comes from ONE driver-side header peek (first file,
    lexicographic — the parquet-footer analogue); every file then
    decodes distributed, one task per file (binaryFile source; Avro
    blocks are not split within a file, which matches how corpora ship:
    many ~100 MB–1 GB files). A file whose
    schema string differs from the anchor resolves structurally: it is
    decoded with ITS OWN schema and the named fields are assembled
    through the anchor's converters (Avro's own
    schema-resolution-by-field-name rule, narrowed to identical field
    shapes); files that fail to parse entirely yield zero rows here and
    are accounted by avro_ingest_audit.
    """
    import pandas as pd

    schema_json = _peek_schema(spark, path)
    schema = parse_schema(schema_json)
    spark_schema = avro_schema_to_spark(schema)
    conv = _row_converter(schema)
    names = [n for n, _ in schema.fields]
    blobs = spark.read.format("binaryFile").load(path) \
        .select("path", "content")

    def gen(batches):
        for pdf in batches:
            rows: list[dict] = []
            for blob in pdf["content"]:
                b = bytes(blob)
                if len(b) > max_file_bytes:
                    continue
                try:
                    box = read_container(
                        b, max_block_bytes=max_block_bytes,
                        on_error=on_error)
                except AvroError:
                    continue
                for rec in box.records:
                    out = conv(rec)
                    rows.append({n: out.get(n) for n in names})
            if rows:
                yield pd.DataFrame(rows, columns=names)
            else:
                # object dtype: Arrow refuses float64 empties for
                # list/map/struct target columns
                yield pd.DataFrame(
                    {n: pd.Series([], dtype=object) for n in names})

    return blobs.mapInPandas(gen, schema=spark_schema)


def avro_ingest_audit(spark, path: str, *, max_file_bytes: int = 512 << 20,
                      max_block_bytes: int = 64 << 20):
    """Per-file ingest ledger: records/blocks kept, blocks rejected,
    whether the file parsed at all."""
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("codec", T.StringType()),
        T.StructField("n_records", T.LongType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("n_rejected_blocks", T.LongType()),
        T.StructField("error", T.StringType()),
    ])
    blobs = spark.read.format("binaryFile").load(path) \
        .select("path", "content")

    def gen(batches):
        for pdf in batches:
            rows = []
            for pth, blob in zip(pdf["path"], pdf["content"]):
                b = bytes(blob)
                if len(b) > max_file_bytes:
                    rows.append(dict(path=pth, ok=False, codec=None,
                                     n_records=0, n_blocks=0,
                                     n_rejected_blocks=0,
                                     error=f"file past {max_file_bytes} B"))
                    continue
                try:
                    box = read_container(b, max_block_bytes=max_block_bytes,
                                         on_error="skip")
                    rows.append(dict(
                        path=pth, ok=True, codec=box.codec,
                        n_records=len(box.records), n_blocks=box.n_blocks,
                        n_rejected_blocks=box.n_rejected_blocks, error=None))
                except AvroError as exc:
                    rows.append(dict(path=pth, ok=False, codec=None,
                                     n_records=0, n_blocks=0,
                                     n_rejected_blocks=0, error=str(exc)))
            if rows:
                yield pd.DataFrame(rows, columns=[f.name for f in out_schema])
            else:
                yield pd.DataFrame({f.name: pd.Series([], dtype=object)
                                    for f in out_schema})

    return blobs.mapInPandas(gen, schema=out_schema)


def _peek_schema(spark, path: str) -> str:
    """Driver-side header read of the first matching file."""
    first = (spark.read.format("binaryFile").load(path)
             .select("path").orderBy("path").limit(1).collect())
    if not first:
        raise AvroError(f"no files match {path!r}")
    # local paths arrive as file:/...; strip the scheme for open()
    p = first[0]["path"]
    if p.startswith("file:"):
        p = p[5:]
        while p.startswith("//"):
            p = p[1:]
    with io.open(p, "rb") as fh:
        head = fh.read(1 << 20)  # headers are far smaller; 1 MB bound
    schema_json, _codec = read_header(head)
    return schema_json
