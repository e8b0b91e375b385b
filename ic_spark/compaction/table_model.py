"""One table model over two on-disk codecs: planning, state reads,
schema evolution and every commit.

The JSON ``ManifestTable`` (manifest.py) and the spec ``IcebergTable``
(iceberg_meta.py) differ only in how they store a table.  Each is a codec
with three duties: ``model_state()`` (one read of the table state, as a
:class:`ModelState`), ``live_files(snapshot_id, state, bounds,
deletes_only)`` (a snapshot decoded into live-file dicts) and
``_apply(base, transition)`` (one :class:`Transition` written to its
store, refused with :class:`CommitConflictError` when the table moved
past the state ``base`` the transition was computed from).
:class:`TableModel` writes the rest once: scan planning and its
manifest-level pruning, COUNT(*) from stats, the schema, spec and ref
reads, the column DDL, and every state transition (appends, rewrites,
rollback, fast-forward, expiry, refs, statistics, stream marks, row
lineage, partition specs, schema versions, orphan removal).  The mapping
between Iceberg schema JSON, which both codecs store, and Spark types
lives here too.

A decoded file is the JSON flavor's file dict: ``path``, ``content`` (a
:class:`FileContent` name), ``sequence_number``, ``file_size_in_bytes``,
``record_count``, ``file_format``, ``first_row_id``, ``sort_order_id``,
``partition`` (as stored; pruning evaluates it), ``spec_id`` and, on a
deletion-vector file, ``deletion_vectors`` ({data file: {offset, length,
cardinality}}, one entry per vector the file holds).  Equality-delete
keys (``equality_ids``) are field ids, or the recorded names on a table
with no schema.  Column bounds (``column_stats``: {name: {min, max}}) are
inline on the JSON flavor and decoded on the spec flavor only for
``bounds=True``.  The spec flavor adds ``partition_values``: its stored
epoch ints converted to the form the planner's partition fill resolves.
"""

from __future__ import annotations

import copy
import functools
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import types as T

from ic_spark.compaction.epochs import epoch_days, epoch_micros
from ic_spark.compaction.request import FileContent, FileScanTask

_PRUNE_OPS = {"=", "<", "<=", ">", ">="}


class CommitConflictError(RuntimeError):
    """A commit lost an optimistic-concurrency race: the table moved past
    the state the commit was computed from."""


def with_statistics_entry(entries: list[dict], entry: dict) -> list[dict]:
    """``entries`` with ``entry`` registered: one statistics entry per
    snapshot (Iceberg REST set-statistics semantics), so a re-analyze at
    the same snapshot replaces the old entry instead of stacking."""
    sid = entry.get("snapshot-id")
    return [e for e in entries if e.get("snapshot-id") != sid] + [entry]


def _coerce_partition_value(pv, like):
    """Hive directory names store partition values as strings; coerce
    back toward the comparison literal's type (int ordinals, bucket ids,
    truncated numerics).  Failure to coerce means "don't prune"."""
    if pv is None or not isinstance(pv, str):
        return pv
    if isinstance(like, bool):
        return None
    if isinstance(like, int):
        try:
            return int(pv)
        except ValueError:
            return None
    if isinstance(like, float):
        try:
            return float(pv)
        except ValueError:
            return None
    return pv


def _temporal_epoch(days: bool, value):
    """One identity-partition value → its Iceberg internal int (epoch
    days when ``days`` else epoch micros), or None when the value
    cannot be converted faithfully.

    Values arrive in flavor-dependent shapes: spec-metadata manifests
    store the internal ints themselves, hive-dir manifests store ISO
    strings, and the caller's predicate literal may be a string or a
    ``date``/``datetime`` object.  Aware datetimes convert against the
    UTC epoch (Iceberg timestamptz semantics); naive ones against the
    naive epoch (exact integer arithmetic either way).
    """
    import datetime as dt

    if isinstance(value, bool) or value is None:
        return None
    if isinstance(value, int):
        return value
    if isinstance(value, str):
        try:
            value = (
                dt.date.fromisoformat(value)
                if days
                else dt.datetime.fromisoformat(value)
            )
        except ValueError:
            return None
    if days:
        if isinstance(value, dt.datetime):
            # A sub-day literal has no exact epoch-days image: the
            # truncation would make the exclusive-bound tightening
            # prune the boundary day whose rows DO satisfy e.g.
            # `d < 2024-06-01T12:00`.  Opt out of pruning instead.
            if (
                value.hour or value.minute or value.second
                or value.microsecond or value.tzinfo is not None
            ):
                return None
            value = value.date()
        if isinstance(value, dt.date):
            return epoch_days(value)
        return None
    if isinstance(value, dt.date) and not isinstance(value, dt.datetime):
        value = dt.datetime(value.year, value.month, value.day)
    if not isinstance(value, dt.datetime):
        return None
    return epoch_micros(value)


_TEMPORAL_TYPES = ("date", "timestamp", "timestamptz", "timestamp_ntz")


@functools.lru_cache(maxsize=4096)
def _parse_iso_temporal(s: str):
    """``datetime`` for an ISO date/datetime string, else None.  Both
    the 'T' and space separators parse (datetime.fromisoformat accepts
    either); date-only strings land at midnight so mixed date/datetime
    pairs still share the micros domain.  Cached: scan planning calls
    this with the SAME predicate literal for every file entry."""
    import datetime as dt

    try:
        return dt.datetime.fromisoformat(s)
    except ValueError:
        pass
    try:
        d = dt.date.fromisoformat(s)
        return dt.datetime(d.year, d.month, d.day)
    except ValueError:
        return None


@functools.lru_cache(maxsize=4096)
def _parse_decimal(s: str):
    """``Decimal`` for a finite numeric string, else None (cached for
    the same per-file reason as :func:`_parse_iso_temporal`)."""
    from decimal import Decimal, InvalidOperation

    try:
        d = Decimal(s)
    except InvalidOperation:
        return None
    return d if d.is_finite() else None


def _sign(a, b) -> int:
    return (a > b) - (a < b)


def _str_pair(sv: str, lit: str):
    """UNTYPED string pair → one comparable domain, or None (keep).

    Without a declared column type, a string that parses as an ISO
    temporal or a number could equally be a genuine STRING column whose
    engine semantics are lexical — so a typed interpretation may only
    prune where it AGREES with the lexical order (disagree → None).
    This still fixes the motivating spelling bugs: equal instants with
    'T' vs space spellings disagree with lexical equality and are KEPT,
    and inverted-order mis-prunes disagree by construction.  Same-
    format spellings (the overwhelmingly common case) agree and prune
    at full typed fidelity."""
    lex = _sign(sv, lit)
    a, b = _parse_iso_temporal(sv), _parse_iso_temporal(lit)
    if a is not None and b is not None:
        if (a.tzinfo is None) is not (b.tzinfo is None):
            return None
        ea, eb = _temporal_epoch(False, a), _temporal_epoch(False, b)
        if ea is None or eb is None or _sign(ea, eb) != lex:
            return None
        return ea, eb
    da, db = _parse_decimal(sv), _parse_decimal(lit)
    if da is not None and db is not None:
        if _sign(da, db) != lex:
            return None
    return sv, lit


def _comparable_pair(pv, tv, source_type):
    """Coerce one (partition value, transformed literal) pair into a
    single comparable domain, or None when no faithful comparison
    exists (the caller must NOT prune).

    The identity transform is the only one whose partition values can
    be temporal: spec manifests record internal epoch ints while
    predicates carry strings/dates, so a naive ``!=`` between an int
    and a string is always-True and silently drops matching files.
    """
    import datetime as dt

    temporal = (
        source_type in _TEMPORAL_TYPES
        if source_type is not None
        else isinstance(pv, (dt.date, dt.datetime))
        or isinstance(tv, (dt.date, dt.datetime))
    )
    if temporal:
        # One domain for BOTH sides: epoch days only when the declared
        # type (or, lacking one, a date-not-datetime value on either
        # side) says date; everything else compares in micros.
        days = source_type == "date" or (
            source_type is None
            and any(
                isinstance(x, dt.date) and not isinstance(x, dt.datetime)
                for x in (pv, tv)
            )
        )
        a = _temporal_epoch(days, pv)
        b = _temporal_epoch(days, tv)
        if a is None or b is None:
            return None
        return a, b
    if isinstance(pv, bool) is not isinstance(tv, bool):
        return None
    if isinstance(pv, (int, float)) and isinstance(tv, (int, float)):
        return pv, tv
    if isinstance(pv, str) and isinstance(tv, str):
        # Hive-flavor manifests (no declared source_type) store temporal
        # identity values as str(datetime) — SPACE separator — while
        # predicate literals commonly use the 'T' spelling.  Lexical
        # comparison across spellings wrongly prunes on equality and can
        # invert ordering (' ' < 'T'); but the column could equally be a
        # genuine STRING partition, so the shared helper prunes only
        # where the typed and lexical interpretations agree.
        return _str_pair(pv, tv)
    if isinstance(pv, type(tv)) or isinstance(tv, type(pv)):
        return pv, tv
    # Mixed leftover shapes (e.g. an int partition value against a
    # string literal with no declared source type): comparing them
    # would prune wrongly — opt out.
    return None


def _file_may_match_partition(
    file_entry: dict, specs: dict[str, list[dict]], data_filter: list[tuple]
) -> bool:
    """Partition-level pruning under spec evolution: judge each file by
    ITS OWN partition spec (``spec_id``) and recorded partition values —
    files written under an older spec are evaluated against that spec,
    exactly Iceberg's per-spec residual evaluation.  Conservative
    everywhere: unknown spec, missing partition value, or an
    unevaluable transform keeps the file.
    """
    from ic_spark.compaction.transforms import (
        MONOTONE_TRANSFORMS,
        apply_transform_py,
    )

    if file_entry.get("adhoc_partition"):
        # partition_by fanout values recorded outside any registered
        # spec: never evaluate them under spec transforms (stats-based
        # pruning still applies via column_stats).
        return True
    spec = specs.get(str(file_entry.get("spec_id", 0)))
    partition = file_entry.get("partition") or {}
    if not spec or not partition:
        return True
    for col, op, value in data_filter:
        for field in spec:
            if field.get("source", field["name"]) != col:
                continue
            tname = field["transform"]
            lit = value
            # Iceberg's strict-projection boundary adjustment: for an
            # exclusive bound on an INTEGER source, `k < v` has the same
            # row set as `k <= v-1`, and t(v-1) can land in the previous
            # partition — tightening e.g. `k < 100` to prune the
            # trunc-100 bin "100" itself.  The rewrite is only valid
            # when the SOURCE domain is integral: a DOUBLE identity
            # partition holding 4.5 satisfies `k < 5` but not `k <= 4`,
            # so identity defers tightening to the post-normalization
            # block below (gated on both sides landing in an int
            # domain), and truncate requires a declared int/long source
            # (undeclared hive-flavor values opt out at coercion —
            # fractional strings never coerce to the int literal; a
            # scale-0 decimal that does coerce is integral anyway).
            if (
                isinstance(value, int)
                and not isinstance(value, bool)
                and tname == "truncate"
                and field.get("source_type") in (None, "int", "long")
            ):
                if op == "<":
                    lit = value - 1
                elif op == ">":
                    lit = value + 1
            ok, tv = apply_transform_py(field, lit, field.get("source_type"))
            if not ok:
                continue
            pv = _coerce_partition_value(partition.get(field["name"]), tv)
            if pv is None:
                continue  # null partition / not recorded / uncoercible
            if tname in MONOTONE_TRANSFORMS:
                if tname == "identity":
                    # Temporal identity values arrive as internal epoch
                    # ints (spec manifests), ISO strings (hive dirs) or
                    # date/datetime literals — normalize both sides or
                    # opt out; a cross-type != would silently prune.
                    pair = _comparable_pair(
                        pv, tv, field.get("source_type")
                    )
                    if pair is None:
                        continue
                    pv, tv = pair
                    if (
                        lit is value  # pre-transform adjustment skipped
                        and isinstance(pv, int)
                        and isinstance(tv, int)
                        and not isinstance(pv, bool)
                        and not isinstance(tv, bool)
                    ):
                        # Same exclusive-bound tightening as the int
                        # path, in the normalized epoch domain (days/
                        # micros are the storage granularity): for
                        # identity, `k > v` ≡ `k >= v+1`, so the
                        # boundary partition itself prunes.
                        if op == "<":
                            tv -= 1
                        elif op == ">":
                            tv += 1
                try:
                    if op == "=" and pv != tv:
                        return False
                    if op in ("<", "<=") and pv > tv:
                        return False
                    if op in (">", ">=") and pv < tv:
                        return False
                except TypeError:
                    continue
            elif tname in ("bucket", "iceberg_bucket"):
                # Hash buckets: only equality can prune.
                if op == "=" and pv != tv:
                    return False
    return True


def _stat_literal_pair(sv, lit, ctype: str | None = None):
    """One (stat value, predicate literal) pair in a single comparable
    domain, or None when no faithful comparison exists (keep the file).

    Temporal stats serialize as ``str(datetime)`` — SPACE separator
    (``writer._json_safe``) — while callers pass 'T'-spelled ISO
    strings or date/datetime objects; a lexical string comparison
    inverts ordering across the separator byte (' ' < 'T'), wrongly
    pruning e.g. ``ts > '...T00:00:00'`` against a max of
    ``'... 23:00:00'`` (same class as the identity-partition spelling
    bug).  ``ctype`` is the DECLARED column domain when the caller
    knows it ("string" | "temporal" | "numeric"): declared types
    compare at full typed fidelity; untyped string pairs go through
    the agreement-guarded :func:`_str_pair` (a digit/ISO-looking
    string could equally be a genuine STRING column whose engine
    order is lexical).
    """
    import datetime as dt

    if ctype == "string":
        # Engine semantics are lexical; non-string literals have no
        # faithful order against a string column.
        if isinstance(sv, str) and isinstance(lit, str):
            return sv, lit
        return None
    if isinstance(sv, str):
        if isinstance(lit, str):
            if ctype == "temporal":
                a, b = _parse_iso_temporal(sv), _parse_iso_temporal(lit)
                if (
                    a is None
                    or b is None
                    or (a.tzinfo is None) is not (b.tzinfo is None)
                ):
                    return None
                return _temporal_epoch(False, a), _temporal_epoch(False, b)
            if ctype == "numeric":
                da, db = _parse_decimal(sv), _parse_decimal(lit)
                if da is None or db is None:
                    return None
                return da, db
            return _str_pair(sv, lit)
        if isinstance(lit, dt.date):
            a = _parse_iso_temporal(sv)
            if a is None:
                return None
            b = (
                lit
                if isinstance(lit, dt.datetime)
                else dt.datetime(lit.year, lit.month, lit.day)
            )
            if (a.tzinfo is None) is not (b.tzinfo is None):
                return None
            return _temporal_epoch(False, a), _temporal_epoch(False, b)
        if ctype == "numeric" and isinstance(lit, (int, float)):
            # Decimal compares exactly against int and float (py3.2+).
            da = _parse_decimal(sv)
            return None if da is None else (da, lit)
    if ctype == "numeric" and isinstance(lit, str):
        # Object-valued numeric stats (Iceberg binary bounds decode to
        # Decimal/int/float) against a string literal: the declared
        # domain makes the literal's numeric reading authoritative.
        from decimal import Decimal

        if isinstance(sv, (int, float, Decimal)) and not isinstance(
            sv, bool
        ):
            db = _parse_decimal(lit)
            return None if db is None else (sv, db)
    if isinstance(sv, dt.date):
        # Object-valued temporal stats (Iceberg binary bounds decode to
        # date / aware-or-naive datetime) against object or ISO-string
        # literals: one shared micros domain, refusing cross-awareness
        # pairs (an instant has no faithful order against a wall-clock
        # literal without a session timezone).
        a = (
            sv
            if isinstance(sv, dt.datetime)
            else dt.datetime(sv.year, sv.month, sv.day)
        )
        b = lit
        if isinstance(b, str):
            b = _parse_iso_temporal(b)
        elif isinstance(b, dt.date) and not isinstance(b, dt.datetime):
            b = dt.datetime(b.year, b.month, b.day)
        if not isinstance(b, dt.datetime):
            return None
        if (a.tzinfo is None) is not (b.tzinfo is None):
            return None
        return _temporal_epoch(False, a), _temporal_epoch(False, b)
    return sv, lit


def _file_may_match(
    file_entry: dict,
    data_filter: list[tuple],
    column_types: dict[str, str] | None = None,
) -> bool:
    """Can any row of this file satisfy ALL predicates, judging only by
    the manifest's per-column min/max?  Conservative: missing stats or
    mixed value types mean "maybe" (keep the file).  ``column_types``
    maps column → declared domain tag ("string"/"temporal"/"numeric")
    where the caller's schema knows it (Iceberg flavor); untyped
    columns fall back to agreement-guarded comparison."""
    stats = file_entry.get("column_stats") or {}
    for col, op, value in data_filter:
        if op not in _PRUNE_OPS:
            raise ValueError(f"unsupported prune op: {op!r}")
        st = stats.get(col)
        if not st:
            continue
        lo, hi = st.get("min"), st.get("max")
        if lo is None or hi is None:
            continue
        ctype = (column_types or {}).get(col)
        plo = _stat_literal_pair(lo, value, ctype)
        phi = _stat_literal_pair(hi, value, ctype)
        if plo is None or phi is None:
            continue
        lo, vlo = plo
        hi, vhi = phi
        try:
            if op == "=" and not (lo <= vlo and vhi <= hi):
                return False
            if op == "<" and not (lo < vlo):
                return False
            if op == "<=" and not (lo <= vlo):
                return False
            if op == ">" and not (hi > vhi):
                return False
            if op == ">=" and not (hi >= vhi):
                return False
        except TypeError:
            continue  # incomparable types (e.g. str stats vs int) → keep
    return True



# -- Iceberg schema JSON <-> Spark types, for both codecs --------------


def spark_to_iceberg_type(dt: T.DataType) -> Any:
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, T.IntegerType):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    raise ValueError(f"unsupported type for iceberg schema: {dt.simpleString()}")


def iceberg_to_spark_type(t: Any) -> T.DataType:
    m = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "binary": T.BinaryType(),
        "date": T.DateType(),
        "timestamptz": T.TimestampType(),
        "timestamp": T.TimestampNTZType(),
    }
    if isinstance(t, str) and t in m:
        return m[t]
    if isinstance(t, str) and t.startswith("decimal"):
        p, s = t[t.index("(") + 1 : t.index(")")].split(",")
        return T.DecimalType(int(p), int(s))
    raise ValueError(f"unsupported iceberg type: {t!r}")


def schema_to_iceberg(schema: T.StructType, schema_id: int = 0) -> dict:
    """Spark StructType → Iceberg schema JSON with sequential field ids
    (same positional-id convention as the proto bridge, proto.py)."""
    fields = []
    for i, f in enumerate(schema.fields, start=1):
        fields.append(
            {
                "id": i,
                "name": f.name,
                "required": not f.nullable,
                "type": spark_to_iceberg_type(f.dataType),
            }
        )
    return {"type": "struct", "schema-id": schema_id, "fields": fields}


def iceberg_to_spark_schema(s: dict) -> T.StructType:
    return T.StructType(
        [
            T.StructField(f["name"], iceberg_to_spark_type(f["type"]), not f["required"])
            for f in s["fields"]
        ]
    )


def _column_domain_tag(dt: T.DataType) -> str | None:
    """Spark column type → the stats comparator's domain tag
    (``_stat_literal_pair``): "string" | "temporal" |
    "numeric" | None (no special handling)."""
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "temporal"
    if isinstance(
        dt,
        (
            T.ByteType,
            T.ShortType,
            T.IntegerType,
            T.LongType,
            T.FloatType,
            T.DoubleType,
            T.DecimalType,
        ),
    ):
        return "numeric"
    return None


def history_from_schemas(schemas: list[dict], current_id: int) -> dict:
    """Planner-shaped schema history (RewriteFilesRequest.schema_history)
    from an iceberg-style schemas list.  Shared by both flavors."""
    return {
        "current_id": current_id,
        "schemas": {
            s["schema-id"]: tuple(
                (
                    f["id"],
                    f["name"],
                    iceberg_to_spark_type(f["type"]),
                    not f["required"],
                )
                for f in s["fields"]
            )
            for s in schemas
        },
    }


def derive_name_mapping(
    schemas: list[dict], current_id: int
) -> dict[str, list[str]] | None:
    """Name-mapping from a schemas list: for each CURRENT field id,
    every name it carried in older schema versions.  This is exactly
    what Iceberg's schema.name-mapping.default encodes for files
    written without field ids.  Shared by both metadata flavors."""
    cur = next(s for s in schemas if s["schema-id"] == current_id)
    mapping: dict[str, list[str]] = {}
    for f in cur["fields"]:
        prior = []
        for s in schemas:
            if s["schema-id"] == current_id:
                continue
            for g in s["fields"]:
                if g["id"] == f["id"] and g["name"] != f["name"] and g["name"] not in prior:
                    prior.append(g["name"])
        if prior:
            mapping[f["name"]] = prior
    return mapping or None


@dataclass(frozen=True)
class ModelState:
    """One read of a table's state, decoded by its codec.

    ``raw`` is the codec's own record (the JSON state or the spec
    metadata); only the codec that made it reads it."""

    raw: dict
    # iceberg-style schema dicts; empty on a JSON table with no schema
    schemas: list[dict]
    current_schema_id: int | None
    last_column_id: int
    # {schema id: sequence number at activation}, None for one schema
    boundaries: dict[int, int] | None
    # writer-shaped partition specs by spec id (str)
    specs: dict[str, list[dict]]
    default_spec_id: int
    # (snapshot id, timestamp ms) of every retained snapshot, oldest first
    snapshots: list[tuple[int, int]]
    # the same pairs for the commits TIMESTAMP AS OF resolves against
    snapshot_log: list[tuple[int, int]]
    current_snapshot_id: int | None
    # snapshot id -> the schema id it was committed under, where recorded
    snapshot_schema_ids: dict[int, int]
    # ref name -> (snapshot id, "tag" | "branch")
    refs: dict[str, tuple[int, str]]
    # the next row id to claim; None while row lineage is off
    next_row_id: int | None = None
    # streaming sink name -> highest committed batch id
    stream_batches: dict[str, int] = field(default_factory=dict)
    # registered statistics-file entries, oldest first
    statistics: list[dict] = field(default_factory=list)
    # the metadata version the state was read at (spec codec's CAS token)
    version: int | None = None

    def schema_id_at(self, snapshot_id: int | None) -> int | None:
        """The schema ``snapshot_id`` was committed under; the current
        schema for None and where no snapshot schema is recorded."""
        return self.snapshot_schema_ids.get(snapshot_id, self.current_schema_id)

    def current_fields(self) -> list[dict]:
        for s in self.schemas:
            if s["schema-id"] == self.current_schema_id:
                return s["fields"]
        return []

    def field_names(self) -> dict[int, str]:
        """Field id -> name over every schema version, the current
        schema winning: equality-delete keys written against a since-
        renamed column resolve to its current name."""
        names = {f["id"]: f["name"] for s in self.schemas for f in s["fields"]}
        names.update((f["id"], f["name"]) for f in self.current_fields())
        return names


@dataclass(frozen=True)
class Transition:
    """One table state change, computed by the model from a base
    :class:`ModelState`; the codec's ``_apply`` writes it.  Fields left at
    their defaults change nothing.

    A transition with ``added`` commits a new snapshot: the live files of
    snapshot ``base`` (None: no files) without ``removed``, each of which
    must still be live there, plus ``added``.  It becomes main's current
    snapshot, the head of ``branch``, or, ``stage``d, neither."""

    added: list[dict] | None = None
    removed: frozenset = frozenset()
    base: int | None = None
    operation: str | None = None
    branch: str | None = None
    stage: bool = False
    # main moves to this snapshot (rollback, fast-forward)
    current: int | None = None
    # ref name -> (snapshot id, "tag" | "branch"), or None to remove it
    refs: dict = field(default_factory=dict)
    # expiry: the snapshot ids retained
    keep: frozenset | None = None
    next_row_id: int | None = None
    # row-lineage backfill of the current snapshot: data file path ->
    # (first row id, record count)
    row_ids: dict | None = None
    stream_batches: dict | None = None
    statistics: list | None = None
    # a new schema version: (schemas, its id, last column id, the last
    # sequence number before it activates)
    schema: tuple | None = None
    # partition spec fields (writer shape) to make the default spec
    spec: list | None = None


def check_live(removed, live_paths) -> None:
    """Refuse a commit that drops files no longer live in its base: a
    concurrent writer rewrote or deleted them, and committing would
    resurrect or duplicate their rows (Iceberg's stale-rewrite check)."""
    stale = sorted(set(removed) - set(live_paths))
    if stale:
        raise CommitConflictError(
            f"{len(stale)} file(s) no longer live (concurrent rewrite?): "
            f"{stale[:3]}..."
        )


def now_ms() -> int:
    return int(time.time() * 1000)


def key_names(keys, names: dict[int, str]) -> tuple[str, ...]:
    """Decoded equality-delete keys as column names.  Names recorded on a
    table with no schema pass through; an id that no schema knows reads
    as ``field-<id>`` rather than vanishing."""
    return tuple(
        names.get(k, k if isinstance(k, str) else f"field-{k}")
        for k in keys or ()
    )


class TableModel:
    """Planning, state reads, schema evolution and every commit over a
    codec: the subclass supplies ``model_state``, ``live_files`` and
    ``_apply`` (module docstring)."""

    # -- state reads ---------------------------------------------------

    def schema(self, snapshot_id: int | None = None) -> T.StructType | None:
        """The current schema, or with ``snapshot_id`` the schema that
        snapshot was committed under (Iceberg's time-travel rule: VERSION
        AS OF reads project under the schema the data was written with).
        None on a JSON table with no registered schema."""
        state = self.model_state()
        sid = state.schema_id_at(snapshot_id)
        for s in state.schemas:
            if s["schema-id"] == sid:
                return iceberg_to_spark_schema(s)
        return None

    def name_mapping(
        self, snapshot_id: int | None = None
    ) -> dict[str, list[str]] | None:
        """Scan name-mapping (``derive_name_mapping``)
        relative to the schema of ``snapshot_id`` (current by default)."""
        state = self.model_state()
        if not state.schemas:
            return None
        return derive_name_mapping(state.schemas, state.schema_id_at(snapshot_id))

    def schema_history(self, snapshot_id: int | None = None) -> dict | None:
        """Every schema version's (field_id, name, DataType, nullable)
        rows, the history's current schema being that of ``snapshot_id``.
        None for a single schema (nothing to resolve) or when a schema
        lacks an activation boundary (files resolve by name mapping)."""
        state = self.model_state()
        if len(state.schemas) <= 1 or state.boundaries is None:
            return None
        return history_from_schemas(state.schemas, state.schema_id_at(snapshot_id))

    def current_snapshot_id(self) -> int | None:
        return self.model_state().current_snapshot_id

    def snapshot_id_as_of(self, timestamp_ms: int) -> int:
        """TIMESTAMP AS OF: the last snapshot committed at or before
        ``timestamp_ms`` (Iceberg's snapshot-log lookup)."""
        best = None
        for sid, ts in self.model_state().snapshot_log:
            if ts <= timestamp_ms and (best is None or ts >= best[1]):
                best = (sid, ts)
        if best is None:
            raise ValueError(f"no snapshot at or before {timestamp_ms}")
        return best[0]

    def default_spec_id(self) -> int:
        return self.model_state().default_spec_id

    def partition_spec(self, spec_id: int | None = None) -> list[dict]:
        """Spec fields in the writer's shape ({"name", "transform",
        "source", "n"/"width", ...}) for ``spec_id``, the table's default
        spec by default.  Spec 0 of a JSON table is the implicit
        unpartitioned spec."""
        state = self.model_state()
        sid = state.default_spec_id if spec_id is None else spec_id
        if str(sid) not in state.specs:
            raise ValueError(f"unknown partition spec id {sid}")
        return state.specs[str(sid)]

    def refs(self) -> dict[str, int]:
        return {n: sid for n, (sid, _) in self.model_state().refs.items()}

    def resolve_ref(self, name: str) -> int:
        refs = self.refs()
        if name not in refs:
            raise ValueError(f"unknown ref: {name!r}")
        return refs[name]

    # -- planning ------------------------------------------------------

    def scan_tasks(
        self,
        snapshot_id: int | None = None,
        data_filter: list[tuple] | None = None,
    ) -> tuple[list[FileScanTask], list[FileScanTask], list[FileScanTask]]:
        """Plan a snapshot into (data, pos-delete, eq-delete) tasks.

        Analog of ``get_tasks_from_table`` (reference mod.rs:121-171),
        time travel included.  Delete tasks are deduped by path like the
        reference's HashSet guard (:143-158).

        ``data_filter`` is a conjunction of ``(col, op, value)`` triples
        (op in ``= < <= > >=``): a data file is skipped when its column
        bounds (typed by the schema, when there is one) or its partition
        tuple under its own spec rule every row out.  Pruning never
        changes results: files without stats survive, and delete files
        are never pruned.
        """
        state = self.model_state()
        files = self.live_files(snapshot_id, state, bounds=bool(data_filter))
        if files is None:
            return [], [], []
        column_types = _column_types(state) if data_filter else None
        names = state.field_names()
        data, pos, eq = [], [], []
        seen: set[str] = set()
        for f in files:
            content = FileContent[f.get("content", "DATA")]
            if content is FileContent.DATA:
                if data_filter and not (
                    _file_may_match(f, data_filter, column_types)
                    and _file_may_match_partition(f, state.specs, data_filter)
                ):
                    continue
            elif f["path"] in seen:
                continue
            seq = f.get("sequence_number", 0)
            task = FileScanTask(
                data_file_path=f["path"],
                sequence_number=seq,
                content=content,
                equality_ids=key_names(f.get("equality_ids"), names),
                file_size_in_bytes=f.get("file_size_in_bytes", 0),
                record_count=f.get("record_count") or 0,
                # "puffin" marks deletion-vector files; the planner's
                # format routing is case-sensitive, and Iceberg spells
                # formats upper-case.
                file_format=(f.get("file_format") or "parquet").lower(),
                write_schema_id=resolve_write_schema_id(state.boundaries, seq),
                first_row_id=f.get("first_row_id"),
                partition_values=_fill_values(f),
            )
            if content is FileContent.DATA:
                data.append(task)
            else:
                seen.add(f["path"])
                (pos if content is FileContent.POSITION_DELETES else eq).append(task)
        return data, pos, eq

    def incremental_tasks(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> list[FileScanTask]:
        """DATA files added after ``from_snapshot_id`` up to
        ``to_snapshot_id`` (current by default) — the incremental append
        scan (Iceberg ``IncrementalAppendScan`` semantics).

        Raises if the range contains a rewrite (files removed) or new
        delete files: those snapshots change or retract already-read
        rows, which an append-only consumer cannot represent —
        the same condition Iceberg rejects non-append operations on.
        """
        state = self.model_state()
        old = self.live_files(from_snapshot_id, state)
        new = self.live_files(to_snapshot_id, state)
        if new is None:
            raise ValueError(f"snapshot {to_snapshot_id} not found")
        to_id = state.current_snapshot_id if to_snapshot_id is None else to_snapshot_id
        old_paths = {f["path"] for f in old}
        new_by_path = {f["path"]: f for f in new}
        removed = old_paths - set(new_by_path)
        if removed:
            raise ValueError(
                f"snapshots {from_snapshot_id}..{to_id} rewrite "
                f"{len(removed)} file(s); incremental append scan undefined"
            )
        added = [f for p, f in new_by_path.items() if p not in old_paths]
        deletes = [f for f in added if f.get("content", "DATA") != "DATA"]
        if deletes:
            raise ValueError(
                f"snapshots {from_snapshot_id}..{to_id} add "
                f"{len(deletes)} delete file(s); incremental append scan undefined"
            )
        return [
            FileScanTask(
                data_file_path=f["path"],
                sequence_number=f.get("sequence_number", 0),
                content=FileContent.DATA,
                file_size_in_bytes=f.get("file_size_in_bytes", 0),
                record_count=f.get("record_count") or 0,
                file_format=(f.get("file_format") or "parquet").lower(),
                first_row_id=f.get("first_row_id"),
                partition_values=_fill_values(f),
            )
            for f in added
        ]

    def count_rows(self, snapshot_id: int | None = None) -> int | None:
        """COUNT(*) from manifest stats alone (Iceberg's aggregate
        pushdown): the sum of per-file ``record_count``.  None when
        metadata can't answer — delete files hide an unknown number of
        rows, or a data file lacks a count — and the caller scans.  A
        data file recording 0 rows counts as lacking one: spec manifests
        written before counts were required hold 0 for "unknown"."""
        files = self.live_files(snapshot_id)
        total = 0
        for f in files or ():
            if f.get("content", "DATA") != "DATA":
                return None
            rc = f.get("record_count")
            if not rc or rc < 0:
                return None
            total += rc
        return total

    # -- schema evolution ----------------------------------------------
    #
    # Field ids are the identity of a column: DDL moves names, types,
    # order and nullability, never ids, so every data file resolves
    # against the schema it was written under.  Each change is a new
    # schema version; data files are never rewritten.

    def add_column(self, name: str, spark_type) -> int:
        """Add-column DDL: fresh field id past ``last_column_id``, always
        optional (old files null-fill; required would break them)."""
        def mutate(fields, last_col, state):
            if any(f["name"] == name for f in fields):
                raise ValueError(f"column {name!r} already exists")
            fields.append(
                {
                    "id": last_col + 1,
                    "name": name,
                    "required": False,
                    "type": spark_to_iceberg_type(spark_type),
                }
            )
            return fields, last_col + 1

        return self._evolve_schema(mutate)

    def rename_column(self, old: str, new: str) -> int:
        """Rename DDL: the field id is the identity; only the name moves."""

        def mutate(fields, last_col, state):
            if any(f["name"] == new for f in fields):
                raise ValueError(f"column {new!r} already exists")
            _field(fields, old)["name"] = new
            return fields, last_col

        return self._evolve_schema(mutate)

    def promote_column(self, name: str, spark_type) -> int:
        """Widening promotion, validated by the same rule the scan
        enforces (evolution.is_promotable), so metadata can never declare
        a type the reader would corrupt on."""
        from ic_spark.compaction.evolution import is_promotable

        def mutate(fields, last_col, state):
            tgt = _field(fields, name)
            src_t = iceberg_to_spark_type(tgt["type"])
            if not is_promotable(src_t, spark_type):
                raise ValueError(
                    f"cannot promote {name}: {src_t.simpleString()} -> "
                    f"{spark_type.simpleString()} is not an Iceberg widening"
                )
            tgt["type"] = spark_to_iceberg_type(spark_type)
            return fields, last_col

        return self._evolve_schema(mutate)

    def drop_column(self, name: str) -> int:
        """Drop DDL: the field leaves the schema and its id is retired
        (``last_column_id`` never decreases), so a later re-add gets a
        fresh id and old files' data never resurrects.

        Rejected while any partition spec sources the column (remove the
        partition field first), and while a live equality-delete file of
        any retained snapshot keys on it: its delete rows could no longer
        be matched, so every read of that snapshot would fail.  That
        check decodes the delete files of every retained snapshot: on
        the spec flavor, each manifest list and each delete manifest
        once.
        """

        def mutate(fields, last_col, state):
            tgt = _field(fields, name)
            for sid, spec in state.specs.items():
                for pf in spec:
                    if (
                        pf.get("source", pf["name"]) == name
                        and pf["transform"] != "void"
                    ):
                        raise ValueError(
                            f"cannot drop {name!r}: partition spec {sid} "
                            f"field {pf['name']!r} sources it; remove the "
                            "partition field first"
                        )
            for snapshot_id, _ in state.snapshots:
                for f in self.live_files(snapshot_id, state, deletes_only=True):
                    if tgt["id"] in (f.get("equality_ids") or ()):
                        raise ValueError(
                            f"cannot drop {name!r}: equality-delete file "
                            f"{f['path']} of snapshot {snapshot_id} keys on "
                            "it; compact the table and expire older "
                            "snapshots first"
                        )
            return [f for f in fields if f["name"] != name], last_col

        return self._evolve_schema(mutate)

    def move_column(
        self,
        name: str,
        before: str | None = None,
        after: str | None = None,
        first: bool = False,
    ) -> int:
        """Reorder DDL (FIRST / BEFORE x / AFTER x): field order changes,
        ids and data files don't; old files resolve by id."""
        if sum((before is not None, after is not None, first)) != 1:
            raise ValueError("pass exactly one of before=, after=, first=True")

        def mutate(fields, last_col, state):
            tgt = _field(fields, name)
            rest = [f for f in fields if f["name"] != name]
            if first:
                idx = 0
            else:
                anchor = before or after
                pos = next(
                    (i for i, f in enumerate(rest) if f["name"] == anchor),
                    None,
                )
                if pos is None:
                    raise ValueError(f"no anchor column {anchor!r}")
                idx = pos if before else pos + 1
            return rest[:idx] + [tgt] + rest[idx:], last_col

        return self._evolve_schema(mutate)

    def make_optional(self, name: str) -> int:
        """required→optional relaxation.  The inverse is illegal: existing
        files may hold nulls."""

        def mutate(fields, last_col, state):
            _field(fields, name)["required"] = False
            return fields, last_col

        return self._evolve_schema(mutate)

    def _evolve_schema(self, mutate) -> int:
        """Commit the schema version ``mutate`` builds, with its activation
        boundary: files committed at sequence numbers strictly above the
        last one so far were written under it, which lets scans resolve
        each data file against its write schema (the field-id resolution
        Iceberg gets from footer field ids).  Data files never move."""
        state = self.model_state()
        if not state.schemas:
            raise ValueError("no schema registered (call register_schema)")
        schemas, new_id, last_col = evolve_schemas(state, mutate)
        boundary = self.next_sequence_number() - 1
        self._apply(state, Transition(schema=(schemas, new_id, last_col, boundary)))
        return new_id

    # -- commits -------------------------------------------------------
    #
    # Each commit reads the state once, computes one Transition from it
    # and hands both to the codec, which writes the transition only if
    # the table has not moved since that read.

    def append_snapshot(
        self,
        files: list[dict],
        stage: bool = False,
        branch: str | None = None,
        operation: str | None = None,
        stream_mark: tuple[str, int] | None = None,
    ) -> int:
        """Commit a snapshot whose files are the current files plus
        ``files``; returns its id.

        ``branch="name"`` commits to that branch (Iceberg branching): the
        base is the branch head (the current snapshot for a new branch),
        main does not move, ``read_table(ref=name)`` sees the branch, and
        ``fast_forward`` advances main later.

        ``stage=True`` (JSON flavor only) records the snapshot without
        moving main, the write-audit-publish pattern: it is readable by
        id, ``publish_snapshot`` makes it current, and ``expire_snapshots``
        drops it unless a ref names it.

        ``stream_mark=(sink_name, batch_id)`` records the streaming batch
        in the same commit (see ``streaming/sink.py``).  The operation,
        unless given, is "delete" for a commit of delete files only and
        "append" otherwise.  Equality-delete keys must name columns of the
        current schema, when the table has one.
        """
        if stage and branch:
            raise ValueError("pass stage or branch, not both")
        state = self.model_state()
        _check_equality_keys(state, files)
        next_row_id, files = _assign_row_ids(state, files)
        base = state.current_snapshot_id
        if branch is not None and branch in state.refs:
            base = state.refs[branch][0]
        if operation is None:
            operation = (
                "delete"
                if files
                and all(f.get("content", "DATA") != "DATA" for f in files)
                else "append"
            )
        return self._apply(
            state,
            Transition(
                added=files,
                base=base,
                operation=operation,
                branch=branch,
                stage=stage,
                next_row_id=next_row_id,
                stream_batches=_marked(state, stream_mark),
            ),
        )

    def commit_rewrite(
        self,
        added: list[dict],
        removed_paths: set[str],
        expected_snapshot_id: int | None = None,
        operation: str = "replace",
    ) -> int:
        """RewriteFiles transaction (reference mod.rs:66-72): one commit
        that drops ``removed_paths`` and adds ``added``; returns the new
        snapshot id.

        Every removed file must still be live in the current snapshot, or
        the commit raises :class:`CommitConflictError` (a concurrent
        writer rewrote or deleted it).  ``expected_snapshot_id``
        additionally requires that the table has not moved at all.
        ``operation`` lands in the snapshot summary: "replace" for
        maintenance, "overwrite" for copy-on-write row changes, "delete"
        for delete-file supersedes; the changelog read keys off it.
        """
        state = self.model_state()
        cur = state.current_snapshot_id
        if expected_snapshot_id is not None and cur != expected_snapshot_id:
            raise CommitConflictError(
                f"table moved: expected snapshot {expected_snapshot_id}, "
                f"current is {cur}"
            )
        _check_equality_keys(state, added)
        next_row_id, added = _assign_row_ids(state, added)
        return self._apply(
            state,
            Transition(
                added=added,
                removed=frozenset(removed_paths),
                base=cur,
                operation=operation,
                next_row_id=next_row_id,
            ),
        )

    def rollback_to_snapshot(self, snapshot_id: int) -> int:
        """Point main back at an earlier snapshot (Iceberg
        rollback_to_snapshot): no files move, and the abandoned snapshots
        stay until ``expire_snapshots``."""
        state = self.model_state()
        _known(state, snapshot_id)
        self._apply(state, Transition(current=snapshot_id))
        return snapshot_id

    def fast_forward(self, branch: str, force: bool = False) -> int:
        """Advance main to the head of ``branch`` (Iceberg fast_forward).

        Only when main is an ancestor of the head: otherwise main's own
        commits would be silently discarded, so the call raises
        :class:`CommitConflictError` unless ``force=True`` (an overwrite
        the caller has re-validated).  Tags are not branches."""
        state = self.model_state()
        head, kind = state.refs.get(branch, (None, None))
        if kind != "branch":
            raise ValueError(f"unknown branch: {branch!r}")
        cur = state.current_snapshot_id
        if not force and cur is not None and cur not in self.ancestor_ids(head):
            raise CommitConflictError(
                f"main ({cur}) is not an ancestor of branch "
                f"{branch!r} head ({head}); rebase or pass force=True"
            )
        self._apply(state, Transition(current=head))
        return head

    def expire_snapshots(self) -> list[str]:
        """Keep the current snapshot and every ref target; return the
        file paths only the dropped snapshots referenced.

        Reference ``expire_snapshot`` (mod.rs:81-88).  Nothing is
        unlinked: the caller owns physical deletion (``vacuum``), as with
        Iceberg's ``expire_snapshots`` returning the orphan list.
        """
        state = self.model_state()
        cur = state.current_snapshot_id
        if cur is None:
            return []
        keep = {cur} | {sid for sid, _ in state.refs.values()}
        kept: set[str] = set()
        dropped: set[str] = set()
        for sid, _ in state.snapshots:
            paths = kept if sid in keep else dropped
            paths.update(f["path"] for f in self.live_files(sid, state))
        self._apply(state, Transition(keep=frozenset(keep)))
        return sorted(dropped - kept)

    # -- refs, statistics, streaming marks -----------------------------

    def set_ref(self, name: str, snapshot_id: int, ref_type: str = "tag") -> None:
        """Record a named ref (Iceberg ref semantics): a tag pins a
        snapshot, a branch names a movable head; either keeps its target
        through ``expire_snapshots``."""
        if ref_type not in ("tag", "branch"):
            raise ValueError(f"ref type must be tag|branch: {ref_type}")
        state = self.model_state()
        _known(state, snapshot_id)
        self._apply(state, Transition(refs={name: (snapshot_id, ref_type)}))

    def remove_ref(self, name: str) -> None:
        self._apply(self.model_state(), Transition(refs={name: None}))

    def statistics(self) -> list[dict]:
        """Registered statistics entries, oldest first."""
        return self.model_state().statistics

    def register_statistics(self, entry: dict) -> None:
        """Register a statistics entry; an entry for the same snapshot is
        replaced, not stacked."""
        state = self.model_state()
        self._apply(
            state,
            Transition(statistics=with_statistics_entry(state.statistics, entry)),
        )

    def stream_batch_hwm(self, name: str) -> int:
        """High-water mark of committed streaming batch ids for sink
        ``name`` (-1 when none): the durable commit log the streaming sinks
        consult, which, unlike file paths, survives compaction rewriting a
        batch's files (see ``streaming/sink.py``)."""
        return int(self.model_state().stream_batches.get(name, -1))

    def mark_stream_batch(self, name: str, batch_id: int) -> None:
        """Record a committed streaming batch in a commit of its own, for
        sinks whose final action is not a plain append.  Prefer
        ``append_snapshot(stream_mark=...)``, which records it in the
        same commit as the batch's files."""
        state = self.model_state()
        marked = _marked(state, (name, batch_id))
        if marked is not None:
            self._apply(state, Transition(stream_batches=marked))

    # -- row lineage (v3) ----------------------------------------------

    @property
    def row_lineage(self) -> bool:
        return self.model_state().next_row_id is not None

    @property
    def next_row_id(self) -> int:
        return self.model_state().next_row_id or 0

    def enable_row_lineage(self) -> None:
        """Turn on Iceberg v3 row lineage: every data row gets a durable
        ``_row_id`` (file ``first_row_id`` + position) and a
        ``_last_updated_sequence_number``; the table tracks
        ``next_row_id`` and every commit claims a contiguous id range
        sized by its files' record counts (spec "Row Lineage").

        The current snapshot's live data files are backfilled in manifest
        order (record count from the entry, else the parquet footer).
        Lineage applies from the current snapshot forward: time-travel
        reads of earlier snapshots have no ids, exactly like a v2 -> v3
        upgrade.  The spec flavor writes the backfill as a "replace"
        snapshot, because its manifests are immutable.

        Preservation: every file rewrite keeps surviving rows' ids.
        full_compact and compact_small_files materialize the lineage
        columns with no new id claims; the copy-on-write row ops carry
        ids through their transforms (updated rows keep ``_row_id`` and
        take the new commit's sequence number; inserted rows take fresh
        ids from their file's claimed range).  ``merge_upsert`` never
        rewrites rows (its new versions are new rows and old versions die
        by equality delete), so it is lineage-correct by construction.
        """
        state = self.model_state()
        if state.next_row_id is not None:
            return
        nxt, row_ids = 0, {}
        for f in self.live_files(None, state) or ():
            if f.get("content", "DATA") != "DATA" or f.get("first_row_id") is not None:
                continue
            rc = f.get("record_count")
            if rc is None:
                import pyarrow.parquet as pq

                rc = pq.ParquetFile(f["path"]).metadata.num_rows
            row_ids[f["path"]] = (nxt, int(rc))
            nxt += int(rc)
        self._apply(state, Transition(next_row_id=nxt, row_ids=row_ids))

    # -- partition-spec evolution --------------------------------------
    #
    # Iceberg tables carry a registry of partition specs: each data file
    # records the spec it was written under (``spec_id``), new writes use
    # the default spec, and changing the layout never rewrites existing
    # files; scans evaluate every file against its own spec.  (Iceberg
    # spec "Partition Evolution"; the reference ships a PartitionSpec per
    # rewrite request, core/proto/iceberg.proto:18-61.)

    def update_partition_spec(self, fields: list[dict]) -> int:
        """Register ``fields`` as a partition spec and make it the default
        for future writes; returns its spec id.  Metadata only: existing
        files keep their recorded spec (Iceberg ``ALTER TABLE ... ADD
        PARTITION FIELD``), and an identical registered spec becomes the
        default again instead of a new one.

        Each field: ``{"name", "transform", "source"?, "n"?/"width"?,
        "source_type"?}`` (``source_type`` enables bucket pruning, see
        transforms.apply_transform_py).  A derived field may not reuse its
        source column's name: the writer routes partition values into
        directory names, which would take the source data out of the
        files.  An identity field may (Iceberg's own naming): the fanout
        writer routes its directories through a prefixed derived column
        (orchestrator.IDENTITY_DIR_PREFIX).  The source must be a column
        of the current schema, when the table has one.
        """
        state = self.model_state()
        names = {f["name"] for f in state.current_fields()}
        for f in fields:
            if "name" not in f or "transform" not in f:
                raise ValueError(f"spec field needs name+transform: {f}")
            src = f.get("source", f["name"])
            if f["name"] == src and f["transform"] != "identity":
                raise ValueError(
                    f"spec field name must differ from source column: {f}"
                )
            if names and src not in names:
                raise ValueError(f"unknown source column: {src}")
        return self._apply(state, Transition(spec=list(fields)))

    # -- physical cleanup ----------------------------------------------

    def remove_orphan_files(
        self, older_than_s: float = 3 * 24 * 3600, delete: bool = False
    ) -> list[str]:
        """Parquet files under the table root that no retained snapshot
        references (Iceberg's remove_orphan_files): leftovers of failed
        writes, crashed commits and aborted stages.

        ``older_than_s`` guards against racing an in-flight writer whose
        files are not committed yet; Iceberg's default is the same 3-day
        cutoff, and tests pass 0.  Listing only, unless ``delete=True``.
        """
        mfs = self._mfs
        state = self.model_state()
        referenced = {
            mfs.normalize(f["path"])
            for sid, _ in state.snapshots
            for f in self.live_files(sid, state)
        }
        cutoff = time.time() - older_than_s
        orphans = []
        for raw in mfs.walk_files(mfs.root):
            if not raw.endswith(".parquet"):
                continue
            p = mfs.normalize(raw)
            if p in referenced:
                continue
            try:
                if mfs.mtime(p) > cutoff:
                    continue
            except FileNotFoundError:
                continue
            orphans.append(p)
        orphans.sort()
        if delete:
            for p in orphans:
                mfs.unlink(p)
        return orphans


def _known(state: ModelState, snapshot_id: int) -> None:
    if all(sid != snapshot_id for sid, _ in state.snapshots):
        raise ValueError(f"snapshot {snapshot_id} not found")


def _check_equality_keys(state: ModelState, files: list[dict]) -> None:
    """Refuse an equality-delete key that names no column of the current
    schema: dropping it would narrow the key and delete more rows than
    asked.  Tables with no schema record the names as given."""
    names = {f["name"] for f in state.current_fields()}
    if not names:
        return
    for f in files:
        unknown = [k for k in f.get("equality_ids") or () if k not in names]
        if unknown:
            raise ValueError(
                f"equality-delete file {f['path']} keys on unknown "
                f"column(s) {unknown}"
            )


def _assign_row_ids(
    state: ModelState, files: list[dict]
) -> tuple[int | None, list[dict]]:
    """(next row id after the commit, ``files``) with each new data file
    claiming a ``first_row_id`` range on a row-lineage table.  Claims go
    on copies, so a commit that loses a race leaves the caller's dicts
    unstamped and a retry claims against the fresh ``next_row_id``.
    Files flagged ``materialized_lineage`` (compaction outputs carrying
    ``_row_id`` as a column) keep a null first_row_id and claim nothing."""
    nxt = state.next_row_id
    if nxt is None:
        return None, files
    out = []
    for f in files:
        f = dict(f)
        if (
            f.get("content", "DATA") == "DATA"
            and not f.get("materialized_lineage")
            and f.get("first_row_id") is None
        ):
            rc = f.get("record_count")
            if rc is None:
                raise ValueError(
                    "row-lineage table requires record_count on data files: "
                    + f["path"]
                )
            f["first_row_id"] = nxt
            nxt += int(rc)
        out.append(f)
    return nxt, out


def _marked(state: ModelState, mark: tuple[str, int] | None) -> dict | None:
    """The stream-batch ledger with ``mark`` recorded, or None when there
    is no mark or the ledger already covers it."""
    if mark is None:
        return None
    name, batch_id = mark
    if int(batch_id) <= int(state.stream_batches.get(name, -1)):
        return None
    return {**state.stream_batches, name: int(batch_id)}



def evolve_schemas(state: ModelState, mutate) -> tuple[list[dict], int, int]:
    """Run a DDL ``mutate`` on a deep copy of ``state``'s current fields:
    the schemas list with the resulting version appended, its schema id
    and the new ``last_column_id``."""
    fields, last_col = mutate(
        copy.deepcopy(state.current_fields()), state.last_column_id, state
    )
    new_id = max(s["schema-id"] for s in state.schemas) + 1
    new = {"type": "struct", "schema-id": new_id, "fields": fields}
    return list(state.schemas) + [new], new_id, last_col


def _fill_values(f: dict) -> dict | None:
    """The partition values a task hands the planner's fill: the stored
    values, unless the codec decoded a separate fill form."""
    return f.get("partition_values", f.get("partition")) or None


def _field(fields: list[dict], name: str) -> dict:
    tgt = next((f for f in fields if f["name"] == name), None)
    if tgt is None:
        raise ValueError(f"no column {name!r}")
    return tgt


def _column_types(state: ModelState) -> dict[str, str | None] | None:
    """Declared per-column domain tags of the current schema: with them
    the stats comparator prunes at full typed fidelity instead of the
    agreement-guarded untyped fallback."""
    fields = state.current_fields()
    if not fields:
        return None
    return {
        f["name"]: _column_domain_tag(iceberg_to_spark_type(f["type"]))
        for f in fields
    }


def activation_boundaries(
    schemas: list[dict], recorded: dict[str, int]
) -> dict[int, int] | None:
    """{schema id: activation boundary} of a multi-schema table from the
    codec's record ({str schema id: last sequence number before the
    schema activated}); the initial schema is active since before any
    commit (-1).  None for one schema, or when a later schema has no
    record (files then resolve by name mapping)."""
    if len(schemas) <= 1:
        return None
    initial = min(s["schema-id"] for s in schemas)
    out: dict[int, int] = {}
    for s in schemas:
        sid = s["schema-id"]
        if sid == initial:
            out[sid] = -1
        elif str(sid) in recorded:
            out[sid] = int(recorded[str(sid)])
        else:
            return None
    return out


def resolve_write_schema_id(
    boundaries: dict[int, int] | None, sequence_number: int
) -> int | None:
    """The schema a file committed at ``sequence_number`` was written
    under: the schema with the LARGEST activation boundary strictly
    below the file's sequence number (ties -> newest schema id)."""
    if boundaries is None:
        return None
    eligible = [
        (b, sid) for sid, b in boundaries.items() if b < sequence_number
    ]
    if not eligible:
        return None
    return max(eligible)[1]
