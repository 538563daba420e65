"""Frequent-items (heavy hitters) sketches — approximate top-k item
frequencies in bounded memory.

The public system ships FREQUENTSTRINGSSKETCH / FREQUENTLONGSSKETCH
(Apache DataSketches frequent-items): per-group sketches answering
"which values appear most often, and how often" with deterministic
over/under-count error bounds, in state bounded by the map size — the
tool for top-talkers / hot-keys / frequent-tokens questions where
exact GROUP BY cardinality is the problem. This module implements the
underlying public algorithm (Misra-Gries summaries, as analyzed in
Agarwal et al., "Mergeable Summaries", PODS'12 — the same family
DataSketches uses):

  * A summary holds ≤ m (item, count) pairs plus ``offset``: the total
    weight subtracted so far. For any item, the summary's count
    UNDER-estimates the true count by at most ``offset``, and
    offset ≤ N / (m+1).
  * insert: increment if tracked, add if room, else decrement all (the
    classic m-way decrement, implemented as "subtract the (m+1)-th
    largest count and drop non-positive").
  * merge (the PODS'12 result): add counts of common items, sum
    offsets, re-trim to m — error bounds add, summaries stay mergeable
    in any order/shape.

Estimates: est(item) = count + offset is an UPPER bound; count itself
is the lower bound; true frequency is inside [count, count+offset].

Wire layout is engine-local (magic + m + offset + n + per-item
varlen-bytes + int64 count); DataSketches blob compat is out (it needs
the library's hash and serde pipeline), documented.

Scale shape (100 TB): the tdigest two-phase contract — per-batch
Misra-Gries partials from mapInPandas (map-side combine, ≤m pairs per
group per batch), merged per group with applyInPandas. Only summaries
shuffle; per-group state is m pairs regardless of item cardinality.
"""

from __future__ import annotations

import struct
from collections import Counter
from typing import Iterable, Iterator

import pandas as pd  # module-level: pandas_udf type-hint inference needs 'pd.*'

DEFAULT_MAP_SIZE = 256
_MAGIC = b"FQIT"


class FreqSketch:
    """Misra-Gries summary: item → retained count, plus the global
    decrement offset. Items are stored as str (callers stringify —
    matching the STRINGS sketch; longs round-trip losslessly)."""

    __slots__ = ("counts", "offset", "m")

    def __init__(self, counts: dict[str, int], offset: int = 0, m: int = DEFAULT_MAP_SIZE):
        self.counts = counts
        self.offset = int(offset)
        self.m = int(m)

    @classmethod
    def empty(cls, m: int = DEFAULT_MAP_SIZE) -> "FreqSketch":
        return cls({}, 0, m)

    @classmethod
    def from_values(cls, values: Iterable, m: int = DEFAULT_MAP_SIZE) -> "FreqSketch":
        c = Counter(str(v) for v in values if v is not None)
        return cls(dict(c), 0, m)._trim()

    def _trim(self) -> "FreqSketch":
        """Enforce the map bound: subtract the (m+1)-th largest count from
        everything, drop non-positive — equivalent to repeated m-way
        decrements, one vectorized step."""
        if len(self.counts) <= self.m:
            return self
        by_count = sorted(self.counts.values(), reverse=True)
        dec = by_count[self.m]  # (m+1)-th largest
        kept = {k: v - dec for k, v in self.counts.items() if v - dec > 0}
        return FreqSketch(kept, self.offset + dec, self.m)

    def merge(self, other: "FreqSketch") -> "FreqSketch":
        c = Counter(self.counts)
        c.update(other.counts)
        return FreqSketch(
            dict(c), self.offset + other.offset, min(self.m, other.m)
        )._trim()

    # -- estimates ---------------------------------------------------------
    def estimate(self, item) -> int:
        """Upper-bound frequency estimate (count + offset); 'offset' alone
        for untracked items."""
        return self.counts.get(str(item), 0) + self.offset

    def lower_bound(self, item) -> int:
        return self.counts.get(str(item), 0)

    @property
    def max_error(self) -> int:
        return self.offset

    def top_k(self, k: int) -> list[tuple[str, int, int]]:
        """Top-k by estimate: (item, lower_bound, upper_bound), count-desc
        then item for determinism."""
        ranked = sorted(self.counts.items(), key=lambda kv: (-kv[1], kv[0]))
        return [(it, c, c + self.offset) for it, c in ranked[:k]]


def merge_all(sketches: Iterable[FreqSketch]) -> FreqSketch:
    out: FreqSketch | None = None
    for s in sketches:
        out = s if out is None else out.merge(s)
    return out if out is not None else FreqSketch.empty()


# -- wire format (engine-local) --------------------------------------------
def serialize(s: FreqSketch) -> bytes:
    items = sorted(s.counts.items())  # canonical order → reproducible bytes
    head = _MAGIC + struct.pack(">iqi", s.m, s.offset, len(items))
    body = b"".join(
        struct.pack(">i", len(k.encode())) + k.encode() + struct.pack(">q", v)
        for k, v in items
    )
    return head + body


def deserialize(blob: bytes) -> FreqSketch:
    if len(blob) < 20 or blob[:4] != _MAGIC:
        raise ValueError("not a frequent-items blob (bad magic)")
    m, offset, n = struct.unpack_from(">iqi", blob, 4)
    counts: dict[str, int] = {}
    pos = 20
    for _ in range(n):
        if pos + 4 > len(blob):
            raise ValueError("frequent-items blob truncated (item length)")
        (klen,) = struct.unpack_from(">i", blob, pos)
        pos += 4
        if pos + klen + 8 > len(blob):
            raise ValueError("frequent-items blob truncated (item payload)")
        k = blob[pos : pos + klen].decode()
        pos += klen
        (v,) = struct.unpack_from(">q", blob, pos)
        pos += 8
        counts[k] = v
    return FreqSketch(counts, offset, m)


def merge_blobs(blobs: Iterable[bytes]) -> FreqSketch:
    return merge_all(deserialize(b) for b in blobs if b is not None)


# -- Spark integration -----------------------------------------------------
SKETCH_UDF = "pinot_freq_sketch"


def register_freq_udfs(spark, m: int = DEFAULT_MAP_SIZE) -> None:
    """SQL surface: ``pinot_freq_sketch(col)`` — grouped-agg UDF building
    a frequent-items blob from a group's raw values (the
    FREQUENTSTRINGSSKETCH / FREQUENTLONGSSKETCH shape; clients
    deserialize for top-k + bounds). Convenience path: the grouped-agg
    contract materializes each group's values in one pandas series, so
    for huge groups use the two-phase ``freq_sketch`` operator instead.
    Idempotent per session."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def pinot_freq_sketch(values: pd.Series) -> bytes:
        from apache_pinot_spark.functions import freqitems as _f

        return _f.serialize(_f.FreqSketch.from_values(values.dropna(), m))

    spark.udf.register(SKETCH_UDF, pinot_freq_sketch)


def freq_sketch(df, keys: list[str], value_col: str,
                m: int = DEFAULT_MAP_SIZE, out_col: str = "freq"):
    """Per-group frequent-items BYTES column (two-phase partial/final,
    same contract as tdigest_sketch)."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    schema = StructType(
        [df.schema[kk] for kk in keys] + [StructField(out_col, BinaryType())]
    )

    def partials(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as _pd

        from apache_pinot_spark.functions import freqitems as _f

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for kv, grp in pdf.groupby(keys, dropna=False, sort=False):
                if not isinstance(kv, tuple):
                    kv = (kv,)
                rows.append(
                    (*kv, _f.serialize(_f.FreqSketch.from_values(grp[value_col].dropna(), m)))
                )
            yield _pd.DataFrame(rows, columns=[*keys, out_col])

    def merge(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from apache_pinot_spark.functions import freqitems as _f

        head = pdf.iloc[[0]][keys].copy()
        head[out_col] = [_f.serialize(_f.merge_blobs(pdf[out_col]))]
        return head

    return (
        df.select(*keys, value_col)
        .mapInPandas(partials, schema)
        .groupBy(*keys)
        .applyInPandas(merge, schema)
    )
