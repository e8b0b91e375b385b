"""Iceberg partition transforms as Spark column expressions.

Port of the transform surface the reference decodes
(``core/proto/iceberg.proto:18-61``, ``core/src/parser/proto.rs:295-377``):
Identity, Year, Month, Day, Hour, Void, Bucket(n), Truncate(w).

Used by the fanout writer (reference O14) to route rows to partitions:
``df.repartition(*exprs).write.partitionBy(*names)``.

Parity notes (SURVEY §7 hard part 4):
- Year/Month/Day/Hour follow Iceberg semantics: ordinal counts from
  epoch (years/months since 1970, days since epoch, hours since epoch)
  — NOT calendar field extraction.
- ``bucket`` — Iceberg specifies murmur3_x86_32 over a type-specific
  byte serialization.  Spark's ``F.hash`` IS murmur3_x86_32 but with
  seed 42 over Spark's internal layout, so bucket ids differ from
  Iceberg's for the same value.  The fast default (``bucket``) is
  engine-consistent; the SPEC-EXACT variant (``iceberg_bucket``,
  ``functions/iceberg_hash.py``) reproduces Iceberg's hash bit-for-bit
  in pure Catalyst expressions — verified against the spec's published
  test vectors — so layouts interoperate with Iceberg-written tables
  without the iceberg-spark runtime.
- ``truncate`` — ints/longs floor toward negative infinity in width-
  sized bins; strings truncate to width chars; decimals scale-preserve.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.types import DecimalType


def identity(col: Column) -> Column:
    return col


def void(col: Column) -> Column:
    """Void transform: always-null partition value (reference Void)."""
    return F.lit(None)


def years(col: Column) -> Column:
    """Years since 1970 (Iceberg ordinal, not the calendar year)."""
    return (F.year(col) - F.lit(1970)).cast("int")


def months(col: Column) -> Column:
    """Months since 1970-01."""
    return ((F.year(col) - 1970) * 12 + F.month(col) - 1).cast("int")


def days(col: Column) -> Column:
    """Days since epoch."""
    return F.datediff(col.cast("date"), F.lit("1970-01-01").cast("date")).cast("int")


def hours(col: Column) -> Column:
    """Hours since epoch (timestamp inputs)."""
    return F.floor(col.cast("long") / 3600).cast("int")


def bucket(n: int, col: Column) -> Column:
    """Hash bucket in [0, n) — murmur3-based via F.hash (see parity
    note: consistent within this engine, not bit-identical to Iceberg's
    byte-serialization buckets)."""
    return F.pmod(F.hash(col), F.lit(n)).cast("int")


def truncate_decimal(width: int, col: Column, data_type: DecimalType) -> Column:
    """Decimal truncate: bin the unscaled value toward negative infinity."""
    unscaled = (col * (10 ** data_type.scale)).cast("long")
    trunc = unscaled - F.pmod(unscaled, F.lit(width))
    return (trunc / (10 ** data_type.scale)).cast(data_type)


def truncate_numeric(width: int, col: Column) -> Column:
    """Int/long truncate: v - (v mod W); pmod keeps floor semantics for
    negative values (Iceberg truncates toward negative infinity)."""
    return col - F.pmod(col, F.lit(width))


def truncate_string(width: int, col: Column) -> Column:
    return F.substring(col, 1, width)


TRANSFORMS = {
    "identity": identity,
    "void": void,
    "year": years,
    "month": months,
    "day": days,
    "hour": hours,
}

# Transforms that preserve ordering of their source values — for these,
# range predicates on the source translate to range predicates on the
# partition value (the basis of partition-level file pruning).  Bucket
# is deliberately absent (hash buckets support only equality pruning).
MONOTONE_TRANSFORMS = {"identity", "year", "month", "day", "hour", "truncate"}


def _as_datetime(value):
    """Coerce a predicate literal to datetime for temporal transforms."""
    import datetime as dt

    if isinstance(value, dt.datetime):
        return value
    if isinstance(value, dt.date):
        return dt.datetime(value.year, value.month, value.day)
    if isinstance(value, str):
        return dt.datetime.fromisoformat(value)
    raise TypeError(f"not a temporal literal: {value!r}")


def apply_transform_py(spec: dict, value, source_type: str | None = None):
    """Driver-side evaluation of a transform on a plain Python literal —
    the planning-time mirror of :func:`transform_column`, used for
    manifest partition pruning (evaluating ``t(predicate_literal)``
    without a Spark job).

    Returns ``(ok, transformed)``; ``ok=False`` means the transform
    cannot be evaluated faithfully for this value/type and the caller
    must NOT prune (pruning is only ever an optimization — a wrong
    bucket id here would silently drop matching files, so every
    ambiguous case opts out instead).

    ``source_type`` disambiguates hash serializations: Spark's ``F.hash``
    commits to the column's physical type (int columns hash 4 bytes,
    long columns 8), so engine-``bucket`` pruning requires it to be
    ``"int"`` or ``"long"``.  Spec-exact ``iceberg_bucket`` promotes all
    integrals to long (Iceberg spec) and hashes strings as UTF-8.
    """
    import datetime as dt
    import struct

    name = spec["transform"]
    if name == "identity":
        return True, value
    if name == "void":
        return False, None
    if name in ("year", "month", "day", "hour"):
        try:
            v = _as_datetime(value)
        except (TypeError, ValueError):
            return False, None
        if name == "year":
            return True, v.year - 1970
        if name == "month":
            return True, (v.year - 1970) * 12 + v.month - 1
        if name == "day":
            return True, (v.date() - dt.date(1970, 1, 1)).days
        epoch = dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return True, int((v - epoch).total_seconds() // 3600)
    if name == "truncate":
        w = int(spec["width"])
        if isinstance(value, str):
            return True, value[:w]
        if isinstance(value, int) and not isinstance(value, bool):
            return True, value - (value % w)  # Python % floors: spec semantics
        return False, None
    if name == "bucket":
        # Engine-consistent bucket = pmod(F.hash(col), n); F.hash is
        # murmur3_x86_32 seed 42 over the column's physical layout.
        # Pinned equal to F.hash in tests/test_types_transforms.py.
        from ic_spark.functions.iceberg_hash import py_murmur3_32

        if not isinstance(value, int) or isinstance(value, bool):
            return False, None
        n = int(spec["n"])
        if source_type == "int":
            if not (-(1 << 31) <= value < (1 << 31)):
                return False, None
            h = py_murmur3_32(struct.pack("<i", value), seed=42)
        elif source_type == "long":
            h = py_murmur3_32(struct.pack("<q", value), seed=42)
        else:
            return False, None  # physical type unknown -> no pruning
        return True, h % n if h % n >= 0 else h % n + n
    if name == "iceberg_bucket":
        from ic_spark.functions.iceberg_hash import py_hash_long, py_murmur3_32

        n = int(spec["n"])
        st = source_type
        if isinstance(value, bool):
            return False, None
        # Dispatch on the RECORDED source type first, not the literal's
        # Python class: an ISO string predicate against a timestamp-
        # bucketed column hashed its 19 UTF-8 bytes instead of the
        # epoch-micros long, yielding a wrong-but-plausible bucket id
        # that silently pruned matching files (r10 review find).  The
        # same gate stops an int literal pruning a string column.  With
        # no recorded source_type, the literal's own shape must carry
        # the decision (hive-flavor tables), as before.
        if st == "date" or (
            st is None
            and isinstance(value, dt.date)
            and not isinstance(value, dt.datetime)
        ):
            from ic_spark.compaction.table_model import _temporal_epoch

            iv = _temporal_epoch(True, value)
            if iv is None:
                return False, None
            h = py_hash_long(iv)  # spec: date hashes epoch days as long
        elif st in ("timestamp", "timestamptz", "timestamp_ntz"):
            from ic_spark.compaction.table_model import _temporal_epoch

            iv = _temporal_epoch(False, value)
            if iv is None:
                return False, None
            h = py_hash_long(iv)  # spec: timestamps hash epoch micros
        elif st == "uuid" or spec.get("logical") == "uuid":
            import uuid as _uuid

            if not isinstance(value, str):
                return False, None
            try:
                ub = _uuid.UUID(value).bytes
            except ValueError:
                return False, None
            h = py_murmur3_32(ub)  # spec: the 16 msb/lsb bytes
        elif isinstance(value, int):
            if st not in (None, "int", "long"):
                return False, None
            h = py_hash_long(value)  # spec: integrals promote to long
        elif isinstance(value, str):
            if st not in (None, "string"):
                return False, None
            h = py_murmur3_32(value.encode("utf-8"))
        else:
            return False, None
        return True, (h & 0x7FFFFFFF) % n
    return False, None


def transform_column(spec: dict, col: Column, data_type=None) -> Column:
    """Apply a transform spec {"transform": name, ...params} to a column.

    Examples: {"transform": "identity"}, {"transform": "bucket", "n": 16},
    {"transform": "truncate", "width": 10}, {"transform": "day"}.
    """
    name = spec["transform"]
    if name in TRANSFORMS:
        return TRANSFORMS[name](col)
    if name == "bucket":
        return bucket(int(spec["n"]), col)
    if name == "iceberg_bucket":
        from ic_spark.functions.iceberg_hash import iceberg_bucket

        return iceberg_bucket(int(spec["n"]), col, data_type, spec.get("logical"))
    if name == "truncate":
        width = int(spec["width"])
        from pyspark.sql.types import StringType

        if isinstance(data_type, StringType):
            return truncate_string(width, col)
        if isinstance(data_type, DecimalType):
            return truncate_decimal(width, col, data_type)
        return truncate_numeric(width, col)
    raise ValueError(f"unknown transform: {spec}")
