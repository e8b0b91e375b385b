"""Lightweight snapshot-versioned table manifest (JSON) with atomic swap.

Stands in for the Iceberg catalog + manifest-list layer the reference
drives through iceberg-rs (``core/src/compaction/mod.rs:44-72, 81-119``):

- snapshots are immutable entries listing data files and delete files
  (each with a sequence number and content type);
- ``commit_rewrite`` is the RewriteFiles transaction analog: one atomic
  manifest swap that adds the new files and drops the replaced ones;
- ``expire_snapshots`` drops all but the current snapshot (reference
  ``expire_snapshot``, mod.rs:81-88) and reports files safe to delete.

Atomicity is write-temp + ``os.replace`` — the same guarantee level as
an Iceberg metadata-JSON pointer swap on a POSIX store.
"""

from __future__ import annotations

import functools
import json
import os
import tempfile
import time
from dataclasses import dataclass
from typing import TYPE_CHECKING

from ic_spark.compaction.epochs import epoch_days, epoch_micros
from ic_spark.compaction.request import FileContent, FileScanTask

if TYPE_CHECKING:
    from pyspark.sql import types as T


class CommitConflictError(RuntimeError):
    """A rewrite commit lost an optimistic-concurrency race."""


_PRUNE_OPS = {"=", "<", "<=", ">", ">="}


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


def with_statistics_entry(entries: list[dict], entry: dict) -> list[dict]:
    """``entries`` with ``entry`` registered: one statistics entry per
    snapshot (Iceberg REST set-statistics semantics), so a re-analyze at
    the same snapshot replaces the old entry instead of stacking."""
    sid = entry.get("snapshot-id")
    return [e for e in entries if e.get("snapshot-id") != sid] + [entry]


@dataclass
class Snapshot:
    snapshot_id: int
    timestamp_ms: int
    files: list[dict]  # {"path", "sequence_number", "content", "equality_ids"}
    # Iceberg summary operation (append/delete/overwrite/replace);
    # None on snapshots written before operation tracking.
    operation: str | None = None


class ManifestTable:
    """A directory-backed table: ``{root}/manifest.json`` + data files.

    ``file_io`` routes the metadata plane (manifest.json swap, orphan
    listing, vacuum) through the pyarrow fileio seam for object-store
    roots — see :mod:`ic_spark.compaction.metafs`.  Local roots keep
    the pre-seam temp+``os.replace`` protocol byte-for-byte.  The data
    files themselves read/write through Spark's Hadoop layer with the
    caller's path spelling, unchanged.
    """

    def __init__(self, root: str, file_io: dict | None = None):
        from ic_spark.compaction.metafs import MetaFS

        self.file_io = file_io
        self._mfs = MetaFS(root, file_io)
        # Local roots: keep the resolved filesystem path (pre-seam
        # behavior — `file:` spellings normalized).  Remote: within-FS
        # path for metadata IO; data-file paths stay caller-spelled.
        self.root = self._mfs.root if self._mfs.is_local else root
        self.manifest_path = self._mfs.path("manifest.json")

    # -- state ---------------------------------------------------------

    def _load(self) -> dict:
        if not self._mfs.exists(self.manifest_path):
            return {"current_snapshot_id": None, "snapshots": []}
        return self._mfs.read_json(self.manifest_path)

    def _store(self, state: dict) -> None:
        self._mfs.makedirs(self._mfs.root)
        self._mfs.write_json_atomic(self.manifest_path, state)

    # -- schema evolution (optional registry) --------------------------
    #
    # Mirrors the spec flavor's field-id schema machinery: an
    # iceberg-style schemas list with stable field ids, evolution DDL
    # (add/rename/widen/drop/move/optional), and per-evolution
    # sequence-number activation boundaries so scans resolve each data
    # file against the schema it was WRITTEN under.  Tables that never
    # call register_schema keep plain footer-schema reads (schema()
    # returns None).

    def register_schema(self, spark_schema) -> int:
        """Register the table's initial schema (enables evolution DDL +
        exact write-schema resolution)."""
        from ic_spark.compaction.iceberg_meta import schema_to_iceberg

        state = self._load()
        if state.get("schemas"):
            raise ValueError("schema already registered")
        ice = schema_to_iceberg(spark_schema)
        state["schemas"] = [ice]
        state["current_schema_id"] = 0
        state["last_column_id"] = len(ice["fields"])
        # Initial schema is active from before any data commit.
        state["schema_activation"] = {"0": -1}
        self._store(state)
        return 0

    def schema(self, snapshot_id: int | None = None) -> T.StructType | None:
        """Current registered schema as a StructType, or None.  This
        flavor records no per-snapshot schema, so ``snapshot_id`` is
        ignored (time travel reads under the current schema)."""
        from ic_spark.compaction.iceberg_meta import iceberg_to_spark_schema

        state = self._load()
        if not state.get("schemas"):
            return None
        cur = next(
            s
            for s in state["schemas"]
            if s["schema-id"] == state["current_schema_id"]
        )
        return iceberg_to_spark_schema(cur)

    def name_mapping(
        self, snapshot_id: int | None = None
    ) -> dict[str, list[str]] | None:
        """Scan name-mapping of the current schema (``snapshot_id`` is
        ignored, as in :meth:`schema`)."""
        from ic_spark.compaction.iceberg_meta import derive_name_mapping

        state = self._load()
        if not state.get("schemas"):
            return None
        return derive_name_mapping(state["schemas"], state["current_schema_id"])

    def schema_history(self, snapshot_id: int | None = None) -> dict | None:
        """Planner schema history, None for a single schema
        (``snapshot_id`` is ignored, as in :meth:`schema`)."""
        from ic_spark.compaction.iceberg_meta import history_from_schemas

        state = self._load()
        if len(state.get("schemas") or []) <= 1:
            return None
        return history_from_schemas(
            state["schemas"], state["current_schema_id"]
        )

    def default_sort_order(self) -> tuple[int, list[dict]]:
        """Always ``(0, [])``: this flavor has no sort orders."""
        return 0, []

    def _schema_boundaries(self) -> dict[int, int] | None:
        state = self._load()
        if len(state.get("schemas") or []) <= 1:
            return None
        act = state.get("schema_activation", {})
        out: dict[int, int] = {}
        for s in state["schemas"]:
            sid = s["schema-id"]
            if str(sid) not in act:
                return None
            out[sid] = int(act[str(sid)])
        return out

    def _evolve_schema(self, mutate) -> int:
        """Append a new schema version produced by ``mutate(fields,
        state) -> (fields, last_column_id)``; record its activation
        boundary (files committed at strictly higher sequence numbers
        were written under it)."""
        import copy

        state = self._load()
        if not state.get("schemas"):
            raise ValueError("no schema registered (call register_schema)")
        cur = next(
            s
            for s in state["schemas"]
            if s["schema-id"] == state["current_schema_id"]
        )
        fields, last_col = mutate(copy.deepcopy(cur["fields"]), state)
        new_id = max(s["schema-id"] for s in state["schemas"]) + 1
        state["schemas"] = list(state["schemas"]) + [
            {"type": "struct", "schema-id": new_id, "fields": fields}
        ]
        state["current_schema_id"] = new_id
        state["last_column_id"] = last_col
        act = dict(state.get("schema_activation", {}))
        act[str(new_id)] = self.next_sequence_number() - 1
        state["schema_activation"] = act
        self._store(state)
        return new_id

    def add_column(self, name: str, spark_type) -> int:
        """Add-column DDL: fresh field id, always optional (old files
        null-fill)."""
        from ic_spark.compaction.iceberg_meta import spark_to_iceberg_type

        def mutate(fields, state):
            if any(f["name"] == name for f in fields):
                raise ValueError(f"column {name!r} already exists")
            fid = state["last_column_id"] + 1
            fields.append(
                {
                    "id": fid,
                    "name": name,
                    "required": False,
                    "type": spark_to_iceberg_type(spark_type),
                }
            )
            return fields, fid

        return self._evolve_schema(mutate)

    def rename_column(self, old: str, new: str) -> int:
        """Rename DDL: the field id is the identity; only the name moves."""

        def mutate(fields, state):
            if any(f["name"] == new for f in fields):
                raise ValueError(f"column {new!r} already exists")
            tgt = next((f for f in fields if f["name"] == old), None)
            if tgt is None:
                raise ValueError(f"no column {old!r}")
            tgt["name"] = new
            return fields, state["last_column_id"]

        return self._evolve_schema(mutate)

    def promote_column(self, name: str, spark_type) -> int:
        """Widening promotion, validated by the same rule the scan
        enforces (evolution.is_promotable)."""
        from ic_spark.compaction.evolution import is_promotable
        from ic_spark.compaction.iceberg_meta import (
            iceberg_to_spark_type,
            spark_to_iceberg_type,
        )

        def mutate(fields, state):
            tgt = next((f for f in fields if f["name"] == name), None)
            if tgt is None:
                raise ValueError(f"no column {name!r}")
            src_t = iceberg_to_spark_type(tgt["type"])
            if not is_promotable(src_t, spark_type):
                raise ValueError(
                    f"cannot promote {name}: {src_t.simpleString()} -> "
                    f"{spark_type.simpleString()} is not an Iceberg widening"
                )
            tgt["type"] = spark_to_iceberg_type(spark_type)
            return fields, state["last_column_id"]

        return self._evolve_schema(mutate)

    def drop_column(self, name: str) -> int:
        """Drop DDL: the field leaves the schema, its id is retired
        (last_column_id never decreases), so a later re-add gets a
        fresh id and old files' data never resurrects.  Rejected while
        any partition spec sources the column."""

        def mutate(fields, state):
            tgt = next((f for f in fields if f["name"] == name), None)
            if tgt is None:
                raise ValueError(f"no column {name!r}")
            for sid, spec in state.get("partition_specs", {}).items():
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
            return [f for f in fields if f["name"] != name], state[
                "last_column_id"
            ]

        return self._evolve_schema(mutate)

    def move_column(
        self,
        name: str,
        before: str | None = None,
        after: str | None = None,
        first: bool = False,
    ) -> int:
        """Reorder DDL (FIRST / BEFORE x / AFTER x): field order changes,
        ids and data files don't."""
        if sum((before is not None, after is not None, first)) != 1:
            raise ValueError("pass exactly one of before=, after=, first=True")

        def mutate(fields, state):
            tgt = next((f for f in fields if f["name"] == name), None)
            if tgt is None:
                raise ValueError(f"no column {name!r}")
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
            return rest[:idx] + [tgt] + rest[idx:], state["last_column_id"]

        return self._evolve_schema(mutate)

    def make_optional(self, name: str) -> int:
        """required→optional relaxation (the inverse is illegal)."""

        def mutate(fields, state):
            tgt = next((f for f in fields if f["name"] == name), None)
            if tgt is None:
                raise ValueError(f"no column {name!r}")
            tgt["required"] = False
            return fields, state["last_column_id"]

        return self._evolve_schema(mutate)

    # -- partition-spec evolution --------------------------------------
    #
    # Iceberg tables carry a REGISTRY of partition specs: each data file
    # records the spec it was written under (``spec_id``), new writes
    # use the default spec, and changing the layout never rewrites
    # existing files — scans evaluate every file against its own spec.
    # (Iceberg spec "Partition Evolution"; the reference ships a
    # PartitionSpec per rewrite request, core/proto/iceberg.proto:18-61.)

    def partition_specs(self) -> dict[str, list[dict]]:
        state = self._load()
        return state.get("partition_specs", {"0": []})

    def default_spec_id(self) -> int:
        return self._load().get("default_spec_id", 0)

    def partition_spec(self, spec_id: int | None = None) -> list[dict]:
        """Spec fields for ``spec_id`` (default: the table's current
        default spec).  Spec 0 is the implicit unpartitioned spec."""
        specs = self.partition_specs()
        sid = self.default_spec_id() if spec_id is None else spec_id
        if str(sid) not in specs:
            raise ValueError(f"unknown partition spec id {sid}")
        return specs[str(sid)]

    def update_partition_spec(self, fields: list[dict]) -> int:
        """Evolve the table's partitioning: register ``fields`` as a new
        spec and make it the default for FUTURE writes.  Existing files
        keep their recorded spec — no data moves (metadata-only, like
        Iceberg ``ALTER TABLE ... ADD PARTITION FIELD``).

        Each field: ``{"name", "transform", "source"?, "n"?/"width"?,
        "source_type"?}`` (``source_type`` enables bucket pruning —
        see transforms.apply_transform_py).
        """
        for f in fields:
            if "name" not in f or "transform" not in f:
                raise ValueError(f"spec field needs name+transform: {f}")
            if f["name"] == f.get("source", f["name"]) and f[
                "transform"
            ] != "identity":
                # Derived transforms emit the partition value as a NEW
                # column routed into directory names; reusing the source
                # column's name would route the source data itself into
                # dir names and drop it from the data files.  IDENTITY
                # fields (Iceberg's own naming convention) are allowed:
                # the fanout writer routes their dirs through a prefixed
                # derived column so the source stays in the pages
                # (orchestrator.IDENTITY_DIR_PREFIX).
                raise ValueError(
                    f"spec field name must differ from source column: {f}"
                )
        state = self._load()
        specs = state.get("partition_specs", {"0": []})
        # Re-registering an identical spec is a no-op (idempotent DDL).
        for sid, existing in specs.items():
            if existing == fields:
                state["default_spec_id"] = int(sid)
                state["partition_specs"] = specs
                self._store(state)
                return int(sid)
        new_id = max(int(s) for s in specs) + 1
        specs[str(new_id)] = fields
        state["partition_specs"] = specs
        state["default_spec_id"] = new_id
        self._store(state)
        return new_id

    # -- snapshot API --------------------------------------------------

    def snapshots(self) -> list[Snapshot]:
        """All retained snapshots, oldest first (time-travel surface)."""
        state = self._load()
        return [
            Snapshot(
                s["snapshot_id"],
                s["timestamp_ms"],
                s["files"],
                s.get("operation"),
            )
            for s in state["snapshots"]
        ]

    def snapshot_at(self, snapshot_id: int) -> Snapshot | None:
        for s in self.snapshots():
            if s.snapshot_id == snapshot_id:
                return s
        return None

    def snapshot_id_as_of(self, timestamp_ms: int) -> int:
        """TIMESTAMP AS OF: the last snapshot committed at or before
        ``timestamp_ms`` (Iceberg's snapshot-log lookup)."""
        best = None
        for s in self.snapshots():
            if s.timestamp_ms <= timestamp_ms and (
                best is None or s.timestamp_ms >= best.timestamp_ms
            ):
                best = s
        if best is None:
            raise ValueError(f"no snapshot at or before {timestamp_ms}")
        return best.snapshot_id

    def current_snapshot(self) -> Snapshot | None:
        state = self._load()
        sid = state["current_snapshot_id"]
        if sid is None:
            return None
        return self.snapshot_at(sid)

    def current_snapshot_id(self) -> int | None:
        return self._load()["current_snapshot_id"]

    def next_sequence_number(self, branch: str | None = None) -> int:
        """The sequence number a commit on ``branch`` (main by default)
        records: one past the highest live sequence number at that head.
        Taken from the branch head, not main, so successive branch
        appends keep the strictly increasing per-commit numbers the
        equality-delete ``<`` guard relies on after a fast-forward."""
        head = self._load().get("refs", {}).get(branch) if branch else None
        snap = self.snapshot_at(head) if head is not None else self.current_snapshot()
        files = snap.files if snap else []
        return max((f.get("sequence_number", 0) for f in files), default=0) + 1

    def ancestor_ids(self, snapshot_id: int) -> list[int]:
        """``snapshot_id`` and its ancestors, oldest first.  Recorded
        parent pointers are walked where present, and plain list order
        is used for mainline commits written without one.  Staged (WAP)
        snapshots and unmerged branch commits are not ancestors."""
        state = self._load()
        if not any(
            s["snapshot_id"] == snapshot_id and not s.get("staged")
            for s in state["snapshots"]
        ):
            raise ValueError(f"snapshot {snapshot_id} not found")
        return self._chain_to(state, snapshot_id)

    def main_log(self) -> list[tuple[int, str | None]]:
        """(snapshot id, operation) of every commit on main's timeline,
        oldest first: the ancestors of the current snapshot."""
        state = self._load()
        ops = {s["snapshot_id"]: s.get("operation") for s in state["snapshots"]}
        return [
            (i, ops[i]) for i in self._chain_to(state, state.get("current_snapshot_id"))
        ]

    @staticmethod
    def _chain_to(state: dict, node: int | None) -> list[int]:
        """Ancestry of ``node`` in ``state``, oldest first: walk parent
        pointers back (branch segments and fast-forwards record them),
        then prepend the parentless mainline commits in list order."""
        live = [s for s in state["snapshots"] if not s.get("staged")]
        by_id = {s["snapshot_id"]: s for s in live}
        tail: list[int] = []
        while node in by_id and "parent_snapshot_id" in by_id[node]:
            tail.append(node)
            node = by_id[node]["parent_snapshot_id"]
        head: list[int] = []
        if node in by_id:
            order = [s["snapshot_id"] for s in live]
            head = [
                i
                for i in order[: order.index(node) + 1]
                if "parent_snapshot_id" not in by_id[i]
            ]
        return head + list(reversed(tail))

    def scan_tasks(
        self,
        snapshot_id: int | None = None,
        data_filter: list[tuple] | None = None,
    ) -> tuple[list[FileScanTask], list[FileScanTask], list[FileScanTask]]:
        """Plan a snapshot into (data, pos-delete, eq-delete) tasks.

        Analog of ``get_tasks_from_table`` (reference mod.rs:121-171:
        ``table.scan().snapshot_id(id)`` — time travel included);
        delete tasks are deduped by path like the reference's HashSet
        guard (:143-158).

        ``data_filter`` is a conjunction of ``(col, op, value)`` triples
        (op in ``= < <= > >=``) evaluated against each data file's
        manifest ``column_stats`` min/max — Iceberg's manifest-level
        file skipping: at 100 TB this is what turns a point/range query
        into a scan of a handful of files instead of the whole table.
        Files without stats for a referenced column always survive
        (pruning must never change results), and delete files are never
        pruned (a surviving data file may need any of them).
        """
        if snapshot_id is None:
            snap = self.current_snapshot()
        else:
            snap = self.snapshot_at(snapshot_id)
            if snap is None:
                raise ValueError(f"snapshot {snapshot_id} not found")
        if snap is None:
            return [], [], []
        specs = self.partition_specs()
        data, pos, eq = [], [], []
        seen: set[str] = set()
        boundaries = self._schema_boundaries()
        if boundaries is not None:
            from ic_spark.compaction.iceberg_meta import resolve_write_schema_id
        for f in snap.files:
            task = FileScanTask(
                data_file_path=f["path"],
                sequence_number=f.get("sequence_number", 0),
                content=FileContent[f.get("content", "DATA")],
                equality_ids=tuple(f.get("equality_ids", ())),
                file_size_in_bytes=f.get("file_size_in_bytes", 0),
                record_count=f.get("record_count") or 0,
                # "puffin" marks deletion-vector files (Iceberg v3
                # analog, sources/puffin.py); data files may be
                # avro/orc/parquet.  Lower-cased: the planner's format
                # routing is case-sensitive and Iceberg spells formats
                # upper-case.
                file_format=(f.get("file_format") or "parquet").lower(),
                write_schema_id=(
                    resolve_write_schema_id(
                        boundaries, f.get("sequence_number", 0)
                    )
                    if boundaries is not None
                    else None
                ),
                first_row_id=f.get("first_row_id"),
                partition_values=f.get("partition") or None,
            )
            if task.content is FileContent.DATA:
                if data_filter and not _file_may_match(f, data_filter):
                    continue
                if data_filter and not _file_may_match_partition(
                    f, specs, data_filter
                ):
                    continue
                data.append(task)
            elif task.data_file_path not in seen:
                seen.add(task.data_file_path)
                (pos if task.content is FileContent.POSITION_DELETES else eq).append(task)
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
        frm = self.snapshot_at(from_snapshot_id)
        if frm is None:
            raise ValueError(f"snapshot {from_snapshot_id} not found")
        to = (
            self.current_snapshot()
            if to_snapshot_id is None
            else self.snapshot_at(to_snapshot_id)
        )
        if to is None:
            raise ValueError(f"snapshot {to_snapshot_id} not found")
        old_paths = {f["path"] for f in frm.files}
        new_by_path = {f["path"]: f for f in to.files}
        removed = old_paths - set(new_by_path)
        if removed:
            raise ValueError(
                f"snapshots {from_snapshot_id}..{to.snapshot_id} rewrite "
                f"{len(removed)} file(s); incremental append scan undefined"
            )
        added = [f for p, f in new_by_path.items() if p not in old_paths]
        deletes = [f for f in added if f.get("content", "DATA") != "DATA"]
        if deletes:
            raise ValueError(
                f"snapshots {from_snapshot_id}..{to.snapshot_id} add "
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
                partition_values=f.get("partition") or None,
            )
            for f in added
        ]

    # ------------------------------------------------ row lineage (v3)

    @property
    def row_lineage(self) -> bool:
        return bool(self._load().get("row_lineage"))

    @property
    def next_row_id(self) -> int:
        return int(self._load().get("next_row_id", 0))

    def enable_row_lineage(self) -> None:
        """Turn on Iceberg v3 row lineage: every data row gets a durable
        ``_row_id`` (file ``first_row_id`` + position) and a
        ``_last_updated_sequence_number``; the table metadata tracks
        ``next_row_id`` and every commit claims a contiguous id range
        sized by its files' record counts (spec "Row Lineage").

        Live data files are backfilled in manifest order (record_count
        from the entry, else the parquet footer).  Lineage applies from
        the CURRENT snapshot forward — time-travel reads of earlier
        snapshots have no ids, exactly like a v2→v3 upgrade.

        Preservation: every file rewrite preserves surviving rows'
        ids — full_compact and compact_small_files materialize the
        lineage columns with no new id claims; the copy-on-write row
        ops (delete_where / update_where / merge_into) carry ids
        through their transforms (updated rows keep ``_row_id`` and
        inherit the new commit's sequence number; inserted rows inherit
        fresh ids from their file's claimed range), per the v3 rule
        that rows copied to new files keep their lineage.  The
        merge-on-read ``merge_upsert`` never rewrites rows at all (its
        new versions are NEW rows; old versions die by equality
        delete), so it is lineage-correct by construction.
        """
        state = self._load()
        if state.get("row_lineage"):
            return
        state["row_lineage"] = True
        state.setdefault("next_row_id", 0)
        cur_id = state.get("current_snapshot_id")
        for snap in state["snapshots"]:
            if snap["snapshot_id"] != cur_id:
                continue
            for f in snap["files"]:
                if f.get("content", "DATA") != "DATA":
                    continue
                rc = f.get("record_count")
                if not rc:
                    import pyarrow.parquet as pq

                    rc = pq.ParquetFile(f["path"]).metadata.num_rows
                    f["record_count"] = rc
                f["first_row_id"] = state["next_row_id"]
                state["next_row_id"] += rc
        self._store(state)

    def _assign_row_ids(self, state: dict, files: list[dict]) -> None:
        """Claim ``next_row_id`` ranges for newly committed data files.
        Files flagged ``materialized_lineage`` (compaction outputs that
        carry ``_row_id`` as a physical column) keep a null
        first_row_id per the spec and claim nothing."""
        for f in files:
            if f.get("content", "DATA") != "DATA":
                continue
            if f.get("materialized_lineage") or f.get("first_row_id") is not None:
                continue
            rc = f.get("record_count")
            if rc is None:
                raise ValueError(
                    "row-lineage table requires record_count on data files: "
                    + f["path"]
                )
            f["first_row_id"] = state.get("next_row_id", 0)
            state["next_row_id"] = state.get("next_row_id", 0) + rc

    def stream_batch_hwm(self, name: str) -> int:
        """High-water mark of committed streaming batch ids for sink
        ``name`` (-1 when none) — the durable commit log the streaming
        sinks consult: unlike live-path markers, it survives compaction
        rewriting the batch's files (see ``streaming/sink.py``)."""
        return int((self._load().get("stream_batches") or {}).get(name, -1))

    def mark_stream_batch(self, name: str, batch_id: int) -> None:
        """Record a committed streaming batch OUTSIDE append_snapshot —
        for sinks whose final action is not a plain append (upserts,
        deletion vectors).  Prefer ``append_snapshot(stream_mark=...)``
        where possible: that updates the ledger in the same atomic
        manifest swap as the commit itself."""
        state = self._load()
        led = state.setdefault("stream_batches", {})
        if int(batch_id) > int(led.get(name, -1)):
            led[name] = int(batch_id)
            self._store(state)

    def append_snapshot(
        self,
        files: list[dict],
        stage: bool = False,
        branch: str | None = None,
        operation: str | None = None,
        stream_mark: tuple[str, int] | None = None,
    ) -> int:
        """Add a snapshot whose file list = current files + ``files``.

        With ``stage=True`` the snapshot is recorded but the current
        pointer does NOT move — the write-audit-publish pattern: readers
        keep seeing the old table, the staged snapshot is auditable via
        ``read_table(snapshot_id=...)``, and ``publish_snapshot`` flips
        the pointer once validation passes.  Unpublished staged
        snapshots are dropped by ``expire_snapshots`` (tag them with a
        ref to keep them across maintenance).

        With ``branch="name"`` the write lands on that BRANCH (Iceberg
        branching): the base is the branch head (created from the
        current snapshot if the branch is new), main readers see
        nothing, ``read_table(ref=name)`` sees the branch, and
        ``fast_forward`` later advances main.  Branch snapshots record
        their parent, so fast-forward can prove ancestry.
        """
        if stage and branch:
            raise ValueError("pass stage or branch, not both")
        state = self._load()
        if state.get("row_lineage"):
            # assign on COPIES: a failed commit must leave the caller's
            # dicts unstamped, or a retry would re-commit stale id
            # ranges without advancing next_row_id
            files = [dict(f) for f in files]
            self._assign_row_ids(state, files)
        cur = self.current_snapshot()
        if branch is not None:
            head = state.get("refs", {}).get(branch)
            base_snap = self.snapshot_at(head) if head is not None else cur
            base = list(base_snap.files) if base_snap else []
        else:
            base = list(cur.files) if cur else []
        # max+1, not current+1: staged snapshots hold ids past current.
        sid = max((s["snapshot_id"] for s in state["snapshots"]), default=0) + 1
        if operation is None:
            # Inferred Iceberg summary operation: an all-delete-file
            # commit is a "delete"; anything adding data is an "append"
            # (upserts add both and count as append — the changelog
            # reads their delete files regardless).
            operation = (
                "delete"
                if files
                and all(f.get("content", "DATA") != "DATA" for f in files)
                else "append"
            )
        entry = {
            "snapshot_id": sid,
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "files": base + files,
        }
        if stage:
            entry["staged"] = True
            entry["parent_snapshot_id"] = state["current_snapshot_id"]
        if branch is not None:
            entry["parent_snapshot_id"] = (
                head if head is not None else state["current_snapshot_id"]
            )
        state["snapshots"].append(entry)
        if branch is not None:
            state.setdefault("refs", {})[branch] = sid
        elif not stage:
            state["current_snapshot_id"] = sid
        if stream_mark is not None:
            # Same atomic swap as the commit: the streaming-batch ledger
            # can never record a batch whose files didn't land, nor miss
            # one whose files did.
            led = state.setdefault("stream_batches", {})
            n, b = stream_mark
            if int(b) > int(led.get(n, -1)):
                led[n] = int(b)
        self._store(state)
        return sid

    def rollback_to_snapshot(self, snapshot_id: int) -> int:
        """Point MAIN back at an earlier snapshot (Iceberg
        rollback_to_snapshot): readers instantly see the old state; no
        files move, and the abandoned snapshots stay until
        ``expire_snapshots``."""
        state = self._load()
        if not any(s["snapshot_id"] == snapshot_id for s in state["snapshots"]):
            raise ValueError(f"snapshot {snapshot_id} not found")
        state["current_snapshot_id"] = snapshot_id
        self._store(state)
        return snapshot_id

    def fast_forward(self, branch: str, force: bool = False) -> int:
        """Advance MAIN to the branch head (Iceberg fast_forward).

        Safe only when main is an ancestor of the branch head — walk
        the branch's recorded parents; if the current snapshot is not
        on that chain, concurrent main commits would be silently
        discarded, so the call raises :class:`CommitConflictError`
        unless ``force=True`` (cherry-pick-style overwrite the caller
        has re-validated)."""
        state = self._load()
        head = state.get("refs", {}).get(branch)
        if head is None:
            raise ValueError(f"unknown branch: {branch!r}")
        if not force:
            by_id = {s["snapshot_id"]: s for s in state["snapshots"]}
            node, seen = head, set()
            ancestors = set()
            while node is not None and node not in seen:
                seen.add(node)
                ancestors.add(node)
                node = by_id.get(node, {}).get("parent_snapshot_id")
            current = state["current_snapshot_id"]
            if current is not None and current not in ancestors:
                raise CommitConflictError(
                    f"main ({current}) is not an ancestor of branch "
                    f"{branch!r} head ({head}); rebase or pass force=True"
                )
        state["current_snapshot_id"] = head
        self._store(state)
        return head

    def publish_snapshot(self, snapshot_id: int, force: bool = False) -> None:
        """WAP publish: make an audited staged snapshot current.

        Optimistic-concurrency: if the table moved since the snapshot
        was staged (its recorded parent is no longer current), the
        staged file list would silently drop the concurrent changes, so
        the publish raises :class:`CommitConflictError` unless
        ``force=True`` (the caller re-audited against the new state).
        """
        state = self._load()
        for s in state["snapshots"]:
            if s["snapshot_id"] != snapshot_id:
                continue
            if not s.pop("staged", False):
                raise ValueError(f"snapshot {snapshot_id} is not staged")
            parent = s.pop("parent_snapshot_id", None)
            if not force and parent != state["current_snapshot_id"]:
                s["staged"] = True  # leave state untouched on failure
                s["parent_snapshot_id"] = parent
                raise CommitConflictError(
                    f"table moved since staging: parent {parent}, "
                    f"current {state['current_snapshot_id']}"
                )
            state["current_snapshot_id"] = snapshot_id
            self._store(state)
            return
        raise ValueError(f"snapshot {snapshot_id} not found")

    def commit_rewrite(
        self,
        added: list[dict],
        removed_paths: set[str],
        expected_snapshot_id: int | None = None,
        operation: str = "replace",
    ) -> int:
        """RewriteFiles transaction: one atomic add+delete swap.

        Reference mod.rs:66-72 (``rewrite_files`` action → commit).

        Optimistic concurrency: every removed file must still be live in
        the current snapshot — if a concurrent writer already rewrote or
        deleted one, committing would silently resurrect/duplicate its
        rows, so the commit fails with :class:`CommitConflictError`
        (Iceberg's validation of a stale rewrite).  Pass
        ``expected_snapshot_id`` to additionally require the table not
        to have moved AT ALL since planning.
        """
        state = self._load()
        cur = self.current_snapshot()
        if expected_snapshot_id is not None:
            actual = cur.snapshot_id if cur else None
            if actual != expected_snapshot_id:
                raise CommitConflictError(
                    f"table moved: expected snapshot {expected_snapshot_id}, "
                    f"current is {actual}"
                )
        live = {f["path"] for f in (cur.files if cur else [])}
        stale = sorted(removed_paths - live)
        if stale:
            raise CommitConflictError(
                f"{len(stale)} file(s) no longer live (concurrent rewrite?): "
                f"{stale[:3]}..."
            )
        if state.get("row_lineage"):
            # assign AFTER conflict validation and on COPIES — a
            # CommitConflictError retry must re-run assignment against
            # the fresh next_row_id, not re-commit a stale range
            added = [dict(f) for f in added]
            self._assign_row_ids(state, added)
        kept = [f for f in (cur.files if cur else []) if f["path"] not in removed_paths]
        # max+1, not current+1: staged (WAP) snapshots hold ids past current.
        sid = max((s["snapshot_id"] for s in state["snapshots"]), default=0) + 1
        state["snapshots"].append(
            {
                "snapshot_id": sid,
                "timestamp_ms": int(time.time() * 1000),
                # Iceberg summary operation: "replace" = no logical row
                # change (compaction/maintenance); "overwrite" = COW row
                # ops; "delete" = delete-file supersede commits.  The
                # changelog read keys off this.
                "operation": operation,
                "files": kept + added,
            }
        )
        state["current_snapshot_id"] = sid
        self._store(state)
        return sid

    def expire_snapshots(self) -> list[str]:
        """Keep the current snapshot plus every ref target; return
        now-unreferenced paths.

        Reference ``expire_snapshot`` (mod.rs:81-88).  Does NOT unlink —
        the caller owns physical deletion (``vacuum``), like Iceberg's
        ``expire_snapshots`` returning the orphan list.
        """
        state = self._load()
        cur = self.current_snapshot()
        if cur is None:
            return []
        keep_ids = {cur.snapshot_id} | set(state.get("refs", {}).values())
        keep = [s for s in state["snapshots"] if s["snapshot_id"] in keep_ids]
        live = {f["path"] for s in keep for f in s["files"]}
        orphans = sorted(
            {
                f["path"]
                for s in state["snapshots"]
                if s["snapshot_id"] not in keep_ids
                for f in s["files"]
            }
            - live
        )
        state["snapshots"] = keep
        self._store(state)
        return orphans

    # -- refs (tags) ---------------------------------------------------

    def set_ref(self, name: str, snapshot_id: int) -> None:
        """Tag a snapshot (Iceberg ref semantics): the target survives
        ``expire_snapshots`` and is addressable by name."""
        state = self._load()
        if not any(s["snapshot_id"] == snapshot_id for s in state["snapshots"]):
            raise ValueError(f"snapshot {snapshot_id} not found")
        state.setdefault("refs", {})[name] = snapshot_id
        self._store(state)

    def remove_ref(self, name: str) -> None:
        state = self._load()
        state.get("refs", {}).pop(name, None)
        self._store(state)

    def refs(self) -> dict[str, int]:
        return dict(self._load().get("refs", {}))

    # -- statistics files ----------------------------------------------

    def statistics(self) -> list[dict]:
        """Registered statistics entries, oldest first."""
        return self._load().get("statistics", [])

    def register_statistics(self, entry: dict) -> None:
        """Register a statistics entry; an entry for the same snapshot is
        replaced, not stacked."""
        state = self._load()
        state["statistics"] = with_statistics_entry(
            state.get("statistics", []), entry
        )
        self._store(state)

    def resolve_ref(self, name: str) -> int:
        refs = self.refs()
        if name not in refs:
            raise ValueError(f"unknown ref: {name!r}")
        return refs[name]

    def count_rows(self, snapshot_id: int | None = None) -> int | None:
        """COUNT(*) answered from manifest metadata alone — Iceberg's
        aggregate pushdown to stats: sum of per-file ``record_count``
        when the snapshot has no delete files (deletes hide an unknown
        number of rows, so the metadata answer would over-count).

        Returns None when metadata can't answer (delete files present,
        or any data file lacks a record count) — the caller falls back
        to ``read_table(...).count()``.  At 100 TB this is the
        difference between a manifest read and a full scan for the
        most common dashboard query there is.
        """
        snap = (
            self.current_snapshot()
            if snapshot_id is None
            else self.snapshot_at(snapshot_id)
        )
        if snap is None:
            return 0
        total = 0
        for f in snap.files:
            if f.get("content", "DATA") != "DATA":
                return None  # deletes present: metadata can't answer
            rc = f.get("record_count")
            if rc is None or rc < 0:
                return None
            total += rc
        return total

    # -- physical cleanup ----------------------------------------------

    def remove_orphan_files(
        self, older_than_s: float = 3 * 24 * 3600, delete: bool = False
    ) -> list[str]:
        """Parquet files under the table root referenced by NO retained
        snapshot (Iceberg's remove_orphan_files): leftovers of failed
        writes and aborted stages.

        ``older_than_s`` guards against racing an in-flight writer whose
        files are not yet committed — Iceberg's default is the same
        3-day cutoff; tests pass 0.  Listing only, unless
        ``delete=True``.
        """
        referenced = {
            self._mfs.normalize(f["path"])
            for s in self._load()["snapshots"]
            for f in s["files"]
        }
        cutoff = time.time() - older_than_s
        orphans = []
        for raw in self._mfs.walk_files(self._mfs.root):
            if not raw.endswith(".parquet"):
                continue
            p = self._mfs.normalize(raw)
            if p in referenced:
                continue
            try:
                if self._mfs.mtime(p) > cutoff:
                    continue
            except FileNotFoundError:
                continue
            orphans.append(p)
        orphans.sort()
        if delete:
            for p in orphans:
                self._mfs.unlink(p)
        return orphans

    def vacuum(self) -> tuple[list[str], list[str]]:
        """Expire old snapshots AND unlink their orphan files.

        Returns (deleted, skipped).  Only paths INSIDE the table root
        are unlinked — files the manifest references elsewhere (shared
        fixtures, external imports) are reported as skipped, never
        touched.  Missing files are tolerated (idempotent re-run).
        """
        sep = os.sep if self._mfs.is_local else "/"
        root = self._mfs.normalize(self._mfs.root) + sep
        deleted, skipped = [], []
        for p in self.expire_snapshots():
            ap = self._mfs.normalize(p)
            if not ap.startswith(root):
                skipped.append(p)
                continue
            self._mfs.unlink(ap)  # missing tolerated (idempotent re-run)
            deleted.append(p)
        return deleted, skipped
