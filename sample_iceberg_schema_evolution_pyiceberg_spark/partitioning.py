"""Partition specs: identity/year/month/day/hour transforms, hidden
partitioning, and spec evolution.

Reference parity (no code copied):
- spec compile: ``/root/reference/lambda/iceberg_helper.py:398-425``
  (``_get_partition_spec``: transforms identity/hour/day/month/year,
  default field name ``{col}_{transform}``, spec field IDs from 1000).
- spec evolution: ``iceberg_helper.py:364-378`` — strict field-list
  equality check, then drop-all-old / add-all-new rebuild.
- source column re-resolution by config position:
  ``iceberg_helper.py:391-396``.

Spark-first realization: each partition field becomes a derived column
``_p_{name}`` computed by a Catalyst expression over the source column;
writes ``partitionBy`` those columns (hive-style directories), and the
commit manifest records each file's partition tuple. Scans prune on
that tuple (``table_format._partition_value_may_match``) with the
python twins below, so predicates on the *source* column skip files
without the user ever referencing partition columns — Iceberg's
"hidden partitioning" contract.
"""

from __future__ import annotations

import datetime as _dt
import re
import struct
from dataclasses import dataclass
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSFORMS = ("identity", "year", "month", "day", "hour")
# parameterized transforms beyond the reference's five (the Iceberg
# spec's remaining data transforms, serialized exactly as the spec
# writes them: "bucket[16]", "truncate[4]")
_PARAM_TRANSFORM_RE = re.compile(r"^(bucket|truncate)\[(\d+)\]$")
PARTITION_COL_PREFIX = "_p_"
SPEC_FIELD_ID_START = 1000  # reference: iceberg_helper.py:398-425


# ---------------------------------------------------------------------------
# Murmur3 x86 32-bit (public algorithm; Iceberg spec Appendix B "Bucket
# Transform Details" fixes seed 0 over the value's canonical bytes).
# Python twin for plan-time literals + test oracles; the per-row hot
# path is the pure-Catalyst expression tree below (_murmur3_long_col).
# ---------------------------------------------------------------------------

_M32 = 0xFFFFFFFF


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Murmur3_x86_32 over ``data``; returns the SIGNED 32-bit hash
    (Java int semantics — what both Iceberg and Spark expose).
    Verified against the Iceberg spec Appendix B vectors:
    long 34 -> 2017239379, "iceberg" -> 1210000089,
    date 2017-11-16 (17486 days) -> -653330422,
    timestamp 2017-11-16T22:31:08 (micros) -> -2047944441."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & _M32
    n = len(data)
    for i in range(0, n - n % 4, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * c2) & _M32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _M32
        h = (h * 5 + 0xE6546B64) & _M32
    tail = data[n - n % 4 :]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * c2) & _M32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def iceberg_bucket_of(value: Any, n: int) -> "int | None":
    """Plan-time twin of the bucket transform: the Iceberg bucket id of
    a Python literal (spec: ``(murmur3(bytes) & Integer.MAX_VALUE) % N``
    with int/long/date/timestamp hashed as 8-byte little-endian longs
    and strings as UTF-8 bytes). Returns None for literal types the
    transform doesn't cover (caller must not prune)."""
    if isinstance(value, bool) or value is None:
        return None
    if isinstance(value, int):
        data = struct.pack("<q", value)
    elif isinstance(value, str):
        data = value.encode("utf-8")
    elif isinstance(value, bytes):
        data = value
    elif isinstance(value, _dt.datetime):
        epoch = _dt.datetime(1970, 1, 1, tzinfo=value.tzinfo)
        micros = int((value - epoch).total_seconds() * 1_000_000)
        data = struct.pack("<q", micros)
    elif isinstance(value, _dt.date):
        data = struct.pack("<q", (value - _dt.date(1970, 1, 1)).days)
    else:
        return None
    return (murmur3_32(data) & 0x7FFFFFFF) % n


def spark_hash_long(value: int, seed: int = 42) -> int:
    """Plan-time twin of Spark's ``F.hash`` over ONE bigint column
    (Murmur3_x86_32.hashLong, Spark's default seed 42) — needed to
    compute which Spark bucket file a literal key lands in when a lake
    table uses the Spark-native bucket layout. hashLong mixes the low
    then high 32-bit words, which is exactly Murmur3 over the 8-byte
    little-endian encoding. Unit-tested against F.hash."""
    return murmur3_32(struct.pack("<q", value), seed)


def spark_bucket_of(value: int, n: int) -> int:
    """Spark's bucketBy file assignment for a bigint key literal:
    ``pmod(hash(key), numBuckets)`` (HashPartitioning semantics)."""
    return ((spark_hash_long(value) % n) + n) % n


def _mul32(x: Column, c: int) -> Column:
    """(x * c) mod 2^32 on a [0, 2^32) bigint column WITHOUT 64-bit
    overflow (ANSI-safe): split x into 16-bit halves so every
    intermediate stays under 2^49."""
    lo = x.bitwiseAND(F.lit(0xFFFF)) * F.lit(c)
    hi = (F.shiftright(x, 16) * F.lit(c)).bitwiseAND(F.lit(0xFFFF))
    return (lo + F.shiftleft(hi, 16)).bitwiseAND(F.lit(_M32))


def _rotl32(x: Column, r: int) -> Column:
    return (
        F.shiftleft(x, r).bitwiseOR(F.shiftright(x, 32 - r))
    ).bitwiseAND(F.lit(_M32))


def _murmur3_long_col(v: Column, seed: int = 0) -> Column:
    """Pure-Catalyst Murmur3_x86_32 of a bigint column's 8-byte
    little-endian encoding (two 4-byte blocks: low word, high word).
    Stays JVM-side — no UDF on the write hot path. Returns the hash as
    a [0, 2^32) bigint (mask off the sign bit at the call site for the
    spec's bucket id).

    Built as ``F.aggregate`` over the two blocks so each mixing
    round's result is a BOUND lambda variable: a naive unrolled
    Column composition re-inlines the running hash subtree at every
    reference, growing the expression exponentially and blowing
    janino's 64 KB whole-stage-codegen method limit (observed — the
    fallback to interpreted eval cost ~13 s on a 5k-row write)."""
    blocks = F.array(
        v.bitwiseAND(F.lit(_M32)),
        F.shiftright(v, 32).bitwiseAND(F.lit(_M32)),
    )

    def merge(h: Column, block: Column) -> Column:
        k = _mul32(_rotl32(_mul32(block, 0xCC9E2D51), 15), 0x1B873593)
        h = _rotl32(h.bitwiseXOR(k), 13)
        return (h * F.lit(5) + F.lit(0xE6546B64)).bitwiseAND(F.lit(_M32))

    def finish(h: Column) -> Column:
        h = h.bitwiseXOR(F.lit(8))
        h = h.bitwiseXOR(F.shiftright(h, 16))
        h = _mul32(h, 0x85EBCA6B)
        h = h.bitwiseXOR(F.shiftright(h, 13))
        h = _mul32(h, 0xC2B2AE35)
        return h.bitwiseXOR(F.shiftright(h, 16))

    return F.aggregate(
        blocks, F.lit(seed).cast("bigint"), merge, finish
    )


def _bucket_string_udf(n: int):
    """Arrow-batched fallback for bucket over STRING sources (variable-
    length bytes have no fixed-depth Catalyst expression). Ingest-path
    only — scans never recompute partition values."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    def _kernel(s):
        return s.map(
            lambda v: None
            if v is None
            else (murmur3_32(v.encode("utf-8")) & 0x7FFFFFFF) % n
        ).astype("Int32")

    return pandas_udf(_kernel, "int")


@dataclass(frozen=True)
class PartitionField:
    source_column: str
    transform: str  # one of TRANSFORMS
    name: str  # defaults to {col}_{transform} like the reference
    spec_field_id: int

    @property
    def partition_column(self) -> str:
        return f"{PARTITION_COL_PREFIX}{self.name}"

    @property
    def base_transform(self) -> str:
        """``bucket[16]`` -> ``bucket``; unparameterized names pass
        through unchanged."""
        m = _PARAM_TRANSFORM_RE.match(self.transform)
        return m.group(1) if m else self.transform

    @property
    def param(self) -> "int | None":
        """N of ``bucket[N]`` / W of ``truncate[W]``; None otherwise."""
        m = _PARAM_TRANSFORM_RE.match(self.transform)
        return int(m.group(2)) if m else None

    def expression(self, dtype: "T.DataType | None" = None) -> Column:
        """Catalyst expression computing the partition value.

        Time-transform values are strings with lexicographic order ==
        chronological order, so range predicates prune directories
        correctly. ``bucket[N]``/``truncate[W]`` need the source
        column's ``dtype`` to pick the typed kernel (the write path
        passes it from the table schema); the classic five transforms
        ignore it.
        """
        c = F.col(self.source_column)
        if self.transform == "identity":
            return c
        if self.transform == "year":
            return F.date_format(c, "yyyy")
        if self.transform == "month":
            return F.date_format(c, "yyyy-MM")
        if self.transform == "day":
            return F.date_format(c, "yyyy-MM-dd")
        if self.transform == "hour":
            return F.date_format(c, "yyyy-MM-dd-HH")
        base, n = self.base_transform, self.param
        if base == "bucket":
            if dtype is None:
                raise ValueError(
                    f"bucket transform on {self.source_column!r} needs "
                    "the source dtype"
                )
            # Iceberg spec Appendix B: int/long/date/timestamp hash as
            # 8-byte LE longs; strings as UTF-8 bytes; seed 0; id =
            # (hash & Integer.MAX_VALUE) % N
            if isinstance(
                dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                v = c.cast("bigint")
            elif isinstance(dtype, T.DateType):
                v = F.datediff(c, F.lit("1970-01-01")).cast("bigint")
            elif isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
                v = F.unix_micros(c.cast("timestamp"))
            elif isinstance(dtype, T.StringType):
                return _bucket_string_udf(n)(c)
            else:
                raise ValueError(
                    f"bucket transform unsupported for source type "
                    f"{dtype.simpleString()}"
                )
            h = _murmur3_long_col(v)
            return F.when(
                c.isNull(), F.lit(None).cast("int")
            ).otherwise(
                (h.bitwiseAND(F.lit(0x7FFFFFFF)) % F.lit(n)).cast("int")
            )
        if base == "truncate":
            if dtype is None:
                raise ValueError(
                    f"truncate transform on {self.source_column!r} needs "
                    "the source dtype"
                )
            if isinstance(
                dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
            ):
                # spec: v - (((v % W) + W) % W) — floor to a multiple
                # of W (pmod is already the non-negative remainder)
                return (c - F.pmod(c, F.lit(n))).cast(dtype.simpleString())
            if isinstance(dtype, T.StringType):
                return F.substring(c, 1, n)
            raise ValueError(
                f"truncate transform unsupported for source type "
                f"{dtype.simpleString()}"
            )
        raise ValueError(f"unknown transform {self.transform!r}")

    def truncate_literal(self, value: Any) -> Any:
        """Map a source-column literal to its partition value (for
        manifest partition-tuple pruning). For the time transforms
        ``value`` is an ISO date/timestamp string or a python
        datetime/date; for ``truncate[W]`` an int or string;
        ``bucket[N]`` literals map via ``iceberg_bucket_of`` (None when
        unhashable)."""
        if self.transform == "identity":
            return value
        base, p = self.base_transform, self.param
        if base == "bucket":
            return iceberg_bucket_of(value, p)
        if base == "truncate":
            if isinstance(value, bool):
                return None
            if isinstance(value, int):
                return value - (value % p)  # python % is non-negative
            if isinstance(value, str):
                return value[:p]
            return None
        s = str(value)
        widths = {"year": 4, "month": 7, "day": 10, "hour": 13}
        s = s.replace(" ", "-").replace("T", "-")
        return s[: widths[self.transform]]


@dataclass(frozen=True)
class PartitionSpec:
    fields: tuple[PartitionField, ...] = ()

    def __bool__(self) -> bool:
        return bool(self.fields)

    def to_json(self) -> list[dict[str, Any]]:
        return [
            {
                "source_column": f.source_column,
                "transform": f.transform,
                "name": f.name,
                "spec_field_id": f.spec_field_id,
            }
            for f in self.fields
        ]

    @staticmethod
    def from_json(data: list[dict[str, Any]]) -> "PartitionSpec":
        return PartitionSpec(
            tuple(
                PartitionField(
                    d["source_column"],
                    d["transform"],
                    d["name"],
                    int(d["spec_field_id"]),
                )
                for d in data
            )
        )


def default_partition_name(col: str, transform: str) -> str:
    """Default spec field name: ``{col}_{transform}`` like the
    reference; parameterized transforms use the Iceberg conventions
    ``{col}_bucket`` / ``{col}_trunc`` (brackets can't ride in hive
    dir names)."""
    m = _PARAM_TRANSFORM_RE.match(transform)
    if m:
        return f"{col}_bucket" if m.group(1) == "bucket" else f"{col}_trunc"
    return f"{col}_{transform}"


def compile_partition_spec(
    table_def: dict[str, Any], start_field_id: int = SPEC_FIELD_ID_START
) -> PartitionSpec:
    """partitions config -> PartitionSpec (reference:
    iceberg_helper.py:398-425). Default name ``{col}_{transform}``;
    spec field IDs sequential from 1000."""
    parts = table_def.get("partitions") or []
    fields: list[PartitionField] = []
    fid = start_field_id
    for p in parts:
        col = p["column_name"]
        transform = str(p.get("transform", "identity")).lower()
        pm = _PARAM_TRANSFORM_RE.match(transform)
        if pm:
            if int(pm.group(2)) < 1:
                raise ValueError(
                    f"partition transform {transform!r}: parameter "
                    "must be >= 1"
                )
        elif transform not in TRANSFORMS:
            raise ValueError(
                f"partition transform {transform!r} not in {TRANSFORMS} "
                "or bucket[N]/truncate[W]"
            )
        name = p.get("name") or default_partition_name(col, transform)
        fields.append(PartitionField(col, transform, name, fid))
        fid += 1
    return PartitionSpec(tuple(fields))


def specs_equal(a: PartitionSpec, b: PartitionSpec) -> bool:
    """Strict field-list equality — the reference's change detector
    (iceberg_helper.py:368)."""
    return [
        (f.source_column, f.transform, f.name) for f in a.fields
    ] == [(f.source_column, f.transform, f.name) for f in b.fields]


def evolve_spec(old: PartitionSpec, new: PartitionSpec) -> PartitionSpec:
    """Drop-all-then-add rebuild (reference: iceberg_helper.py:371-378),
    minting fresh spec field IDs after the old max."""
    if specs_equal(old, new):
        return old
    next_id = max(
        [f.spec_field_id for f in old.fields] + [SPEC_FIELD_ID_START - 1]
    ) + 1
    return PartitionSpec(
        tuple(
            PartitionField(f.source_column, f.transform, f.name, next_id + i)
            for i, f in enumerate(new.fields)
        )
    )
