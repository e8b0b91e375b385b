"""Lightweight snapshot-versioned table manifest (JSON) with atomic swap.

Stands in for the Iceberg catalog + manifest-list layer the reference
drives through iceberg-rs (``core/src/compaction/mod.rs:44-72, 81-119``):
snapshots are immutable entries listing data files and delete files, each
with a sequence number and content type.  The commits themselves
(``commit_rewrite`` as the RewriteFiles analog, ``expire_snapshots`` and
the rest) are the shared table model's; this codec decodes
``manifest.json`` and applies one transition to it.

Atomicity is write-temp + ``os.replace``, the same guarantee level as an
Iceberg metadata-JSON pointer swap on a POSIX store.  On local roots the
swap is a compare-and-swap: under an exclusive ``flock`` of the sibling
``manifest.json.lock``, the state is re-read and the commit refused with
:class:`CommitConflictError` if it moved since the commit read it.
Object-store roots have no lock: they are single-writer, as the reference
deploys them (one compaction service owning the table).
"""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass

from ic_spark.compaction.table_model import (
    CommitConflictError,
    ModelState,
    TableModel,
    Transition,
    activation_boundaries,
    check_live,
    now_ms,
    resolve_write_schema_id,
    schema_to_iceberg,
    with_statistics_entry,
)

__all__ = ["CommitConflictError", "ManifestTable", "Snapshot", "with_statistics_entry"]


def _record_ref_type(state: dict, name: str, ref_type: str) -> None:
    """Record ``name`` as a branch, or drop its record for a tag (the
    type of a ref with no record): tag-only states keep their bytes."""
    types = state.get("ref_types")
    if ref_type == "branch":
        state["ref_types"] = {**(types or {}), name: "branch"}
    elif types and name in types:
        state["ref_types"] = {k: v for k, v in types.items() if k != name}


@dataclass
class Snapshot:
    snapshot_id: int
    timestamp_ms: int
    files: list[dict]  # {"path", "sequence_number", "content", "equality_ids"}
    # Iceberg summary operation (append/delete/overwrite/replace);
    # None on snapshots written before operation tracking.
    operation: str | None = None


class ManifestTable(TableModel):
    """A directory-backed table: ``{root}/manifest.json`` + data files.

    ``file_io`` routes the metadata plane (manifest.json swap, orphan
    listing, vacuum) through the pyarrow fileio seam for object-store
    roots — see :mod:`ic_spark.compaction.metafs`.  Local roots keep
    the temp+``os.replace`` protocol.  The data files themselves
    read/write through Spark's Hadoop layer with the caller's path
    spelling, unchanged.
    """

    def __init__(self, root: str, file_io: dict | None = None):
        from ic_spark.compaction.metafs import MetaFS

        self.file_io = file_io
        self._mfs = MetaFS(root, file_io)
        # Local roots: keep the resolved filesystem path (`file:`
        # spellings normalized).  Remote: within-FS path for metadata
        # IO; data-file paths stay caller-spelled.
        self.root = self._mfs.root if self._mfs.is_local else root
        self.manifest_path = self._mfs.path("manifest.json")

    # -- state ---------------------------------------------------------

    def _load(self) -> dict:
        if not self._mfs.exists(self.manifest_path):
            return {"current_snapshot_id": None, "snapshots": []}
        return self._mfs.read_json(self.manifest_path)

    def _swap(self, base: dict, state: dict) -> None:
        """Replace ``manifest.json`` with ``state`` if it still holds
        ``base``, else raise :class:`CommitConflictError`.  Every store of
        this flavor goes through here."""
        self._mfs.makedirs(self._mfs.root)
        with self._locked():
            if self._load() != base:
                raise CommitConflictError(
                    "table moved: manifest.json changed since this commit read it"
                )
            self._mfs.write_json_atomic(self.manifest_path, state)

    @contextlib.contextmanager
    def _locked(self):
        """An exclusive ``flock`` of ``manifest.json.lock`` on local roots
        (threads and processes alike); object-store roots are
        single-writer and take no lock."""
        if not self._mfs.is_local:
            yield
            return
        import fcntl

        with open(self.manifest_path + ".lock", "a") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(fh, fcntl.LOCK_UN)

    # -- schema registry -----------------------------------------------
    #
    # An iceberg-style schemas list with stable field ids, and per-
    # evolution sequence-number activation boundaries
    # (``schema_activation``) so scans resolve each data file against
    # the schema it was WRITTEN under.  The column DDL is the shared
    # table model's.  Tables that never call register_schema keep plain
    # footer-schema reads (schema() returns None).

    def register_schema(self, spark_schema) -> int:
        """Register the table's initial schema (enables evolution DDL +
        exact write-schema resolution)."""
        base = self._load()
        if base.get("schemas"):
            raise ValueError("schema already registered")
        ice = schema_to_iceberg(spark_schema)
        state = dict(base)
        state["schemas"] = [ice]
        state["current_schema_id"] = 0
        state["last_column_id"] = len(ice["fields"])
        # Initial schema is active from before any data commit.
        state["schema_activation"] = {"0": -1}
        self._swap(base, state)
        return 0

    def default_sort_order(self) -> tuple[int, list[dict]]:
        """Always ``(0, [])``: this flavor has no sort orders."""
        return 0, []

    def model_state(self) -> ModelState:
        """One read of ``manifest.json`` as the shared table model's view."""
        state = self._load()
        ref_types = state.get("ref_types", {})
        snapshots = [(s["snapshot_id"], s["timestamp_ms"]) for s in state["snapshots"]]
        return ModelState(
            raw=state,
            schemas=state.get("schemas") or [],
            current_schema_id=state.get("current_schema_id"),
            last_column_id=state.get("last_column_id", 0),
            boundaries=activation_boundaries(
                state.get("schemas") or [], state.get("schema_activation", {})
            ),
            specs=state.get("partition_specs", {"0": []}),
            default_spec_id=state.get("default_spec_id", 0),
            snapshots=snapshots,
            snapshot_log=snapshots,
            current_snapshot_id=state["current_snapshot_id"],
            snapshot_schema_ids={},
            refs={
                n: (sid, ref_types.get(n, "tag"))
                for n, sid in state.get("refs", {}).items()
            },
            next_row_id=(
                int(state.get("next_row_id", 0)) if state.get("row_lineage") else None
            ),
            stream_batches=state.get("stream_batches") or {},
            statistics=state.get("statistics", []),
        )

    def live_files(
        self,
        snapshot_id: int | None = None,
        state: ModelState | None = None,
        bounds: bool = False,
        deletes_only: bool = False,
    ) -> list[dict] | None:
        """The snapshot's recorded file dicts (``bounds`` is moot: their
        column stats are inline), only its delete files for
        ``deletes_only``.  Equality-delete key names map to field ids
        under the schema each delete file was written with."""
        state = self.model_state() if state is None else state
        sid = state.current_snapshot_id if snapshot_id is None else snapshot_id
        snap = next(
            (s for s in state.raw["snapshots"] if s["snapshot_id"] == sid), None
        )
        if snap is None:
            if snapshot_id is None:
                return None
            raise ValueError(f"snapshot {snapshot_id} not found")
        files = snap["files"]
        if deletes_only:
            files = [f for f in files if f.get("content", "DATA") != "DATA"]
        if not state.schemas:
            return files
        ids_by_schema = {
            s["schema-id"]: {f["name"]: f["id"] for f in s["fields"]}
            for s in state.schemas
        }
        out = []
        for f in files:
            if f.get("equality_ids"):
                wid = resolve_write_schema_id(
                    state.boundaries, f.get("sequence_number", 0)
                )
                ids = ids_by_schema.get(wid, ids_by_schema[state.current_schema_id])
                f = {**f, "equality_ids": [ids.get(k, k) for k in f["equality_ids"]]}
            out.append(f)
        return out

    def _apply(self, base: ModelState, tr: Transition) -> int | None:
        """Write ``tr`` into a copy of ``base``'s state and swap it in
        (:meth:`_swap`).  Returns the new snapshot id for a snapshot
        commit, the spec id for a partition-spec change."""
        state = dict(base.raw)
        out = None
        if tr.added is not None:
            out = self._add_snapshot(state, tr)
        if tr.current is not None:
            state["current_snapshot_id"] = tr.current
        for name, ref in tr.refs.items():
            if ref is None:
                if "refs" in state:
                    state["refs"] = {k: v for k, v in state["refs"].items() if k != name}
                _record_ref_type(state, name, "tag")
            else:
                state["refs"] = {**state.get("refs", {}), name: ref[0]}
                _record_ref_type(state, name, ref[1])
        if tr.keep is not None:
            state["snapshots"] = [
                s for s in state["snapshots"] if s["snapshot_id"] in tr.keep
            ]
        if tr.row_ids is not None:
            state["row_lineage"] = True
            state["snapshots"] = [
                _with_row_ids(s, tr.row_ids)
                if s["snapshot_id"] == state["current_snapshot_id"]
                else s
                for s in state["snapshots"]
            ]
        if tr.next_row_id is not None:
            state["next_row_id"] = tr.next_row_id
        if tr.stream_batches is not None:
            state["stream_batches"] = tr.stream_batches
        if tr.statistics is not None:
            state["statistics"] = tr.statistics
        if tr.schema is not None:
            schemas, new_id, last_col, boundary = tr.schema
            state["schemas"] = schemas
            state["current_schema_id"] = new_id
            state["last_column_id"] = last_col
            state["schema_activation"] = {
                **state.get("schema_activation", {}), str(new_id): boundary
            }
        if tr.spec is not None:
            specs = dict(state.get("partition_specs", {"0": []}))
            # an identical registered spec becomes the default again
            out = next(
                (int(sid) for sid, existing in specs.items() if existing == tr.spec),
                None,
            )
            if out is None:
                out = max(int(sid) for sid in specs) + 1
                specs[str(out)] = tr.spec
            state["partition_specs"] = specs
            state["default_spec_id"] = out
        self._swap(base.raw, state)
        return out

    @staticmethod
    def _add_snapshot(state: dict, tr: Transition) -> int:
        """Append the snapshot ``tr`` commits to ``state``; its id."""
        snaps = state["snapshots"]
        files = next(
            (s["files"] for s in snaps if s["snapshot_id"] == tr.base), []
        )
        check_live(tr.removed, (f["path"] for f in files))
        # max+1, not current+1: staged snapshots hold ids past current.
        sid = max((s["snapshot_id"] for s in snaps), default=0) + 1
        entry = {
            "snapshot_id": sid,
            "timestamp_ms": now_ms(),
            "operation": tr.operation,
            "files": [f for f in files if f["path"] not in tr.removed] + tr.added,
        }
        # Branch and staged snapshots record their parent (fast-forward
        # and publish prove ancestry with it); mainline commits are
        # ordered by the list itself.
        if tr.stage:
            entry["staged"] = True
        if tr.stage or tr.branch is not None:
            entry["parent_snapshot_id"] = tr.base
        state["snapshots"] = snaps + [entry]
        if tr.branch is not None:
            state["refs"] = {**state.get("refs", {}), tr.branch: sid}
            _record_ref_type(state, tr.branch, "branch")
        elif not tr.stage:
            state["current_snapshot_id"] = sid
        return sid

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

    def current_snapshot(self) -> Snapshot | None:
        state = self._load()
        sid = state["current_snapshot_id"]
        if sid is None:
            return None
        return self.snapshot_at(sid)

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

    def publish_snapshot(self, snapshot_id: int, force: bool = False) -> None:
        """WAP publish: make an audited staged snapshot current.

        Optimistic-concurrency: if the table moved since the snapshot
        was staged (its recorded parent is no longer current), the
        staged file list would silently drop the concurrent changes, so
        the publish raises :class:`CommitConflictError` unless
        ``force=True`` (the caller re-audited against the new state).
        """
        base = self._load()
        snap = next(
            (s for s in base["snapshots"] if s["snapshot_id"] == snapshot_id), None
        )
        if snap is None:
            raise ValueError(f"snapshot {snapshot_id} not found")
        if not snap.get("staged"):
            raise ValueError(f"snapshot {snapshot_id} is not staged")
        parent = snap.get("parent_snapshot_id")
        if not force and parent != base["current_snapshot_id"]:
            raise CommitConflictError(
                f"table moved since staging: parent {parent}, "
                f"current {base['current_snapshot_id']}"
            )
        published = {
            k: v for k, v in snap.items() if k not in ("staged", "parent_snapshot_id")
        }
        state = dict(base)
        state["snapshots"] = [
            published if s is snap else s for s in base["snapshots"]
        ]
        state["current_snapshot_id"] = snapshot_id
        self._swap(base, state)

    # -- physical cleanup ----------------------------------------------

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


def _with_row_ids(snap: dict, row_ids: dict) -> dict:
    """``snap`` with its data files stamped from ``row_ids`` ({path:
    (first row id, record count)}), the count recorded where missing."""
    files = []
    for f in snap["files"]:
        if f["path"] in row_ids and f.get("content", "DATA") == "DATA":
            first, rc = row_ids[f["path"]]
            f = dict(f)
            if not f.get("record_count"):
                f["record_count"] = rc
            f["first_row_id"] = first
        files.append(f)
    return {**snap, "files": files}
