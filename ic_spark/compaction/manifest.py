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

import os
import time
from dataclasses import dataclass

from ic_spark.compaction.table_model import (
    ModelState,
    TableModel,
    activation_boundaries,
    evolve_schemas,
    resolve_write_schema_id,
    schema_to_iceberg,
)

class CommitConflictError(RuntimeError):
    """A rewrite commit lost an optimistic-concurrency race."""


def with_statistics_entry(entries: list[dict], entry: dict) -> list[dict]:
    """``entries`` with ``entry`` registered: one statistics entry per
    snapshot (Iceberg REST set-statistics semantics), so a re-analyze at
    the same snapshot replaces the old entry instead of stacking."""
    sid = entry.get("snapshot-id")
    return [e for e in entries if e.get("snapshot-id") != sid] + [entry]


def _record_ref_type(state: dict, name: str, ref_type: str) -> None:
    """Record ``name`` as a branch, or drop its record for a tag (the
    type of a ref with no record): tag-only states keep their bytes."""
    types = state.get("ref_types")
    if ref_type == "branch":
        state["ref_types"] = {**(types or {}), name: "branch"}
    elif types and name in types:
        types.pop(name)


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
    # An iceberg-style schemas list with stable field ids, and per-
    # evolution sequence-number activation boundaries
    # (``schema_activation``) so scans resolve each data file against
    # the schema it was WRITTEN under.  The column DDL is the shared
    # table model's (table_model.TableModel).  Tables that never call
    # register_schema keep plain footer-schema reads (schema() returns
    # None).

    def register_schema(self, spark_schema) -> int:
        """Register the table's initial schema (enables evolution DDL +
        exact write-schema resolution)."""
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

    def default_sort_order(self) -> tuple[int, list[dict]]:
        """Always ``(0, [])``: this flavor has no sort orders."""
        return 0, []

    def model_state(self, raw: dict | None = None) -> ModelState:
        """One read of ``manifest.json`` (or the state ``raw`` already
        read) as the shared table model's view."""
        state = self._load() if raw is None else raw
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

    def _evolve_schema(self, mutate) -> int:
        """Append the schema version ``mutate`` builds; record its
        activation boundary (files committed at strictly higher sequence
        numbers were written under it)."""
        state = self._load()
        if not state.get("schemas"):
            raise ValueError("no schema registered (call register_schema)")
        state["schemas"], new_id, last_col = evolve_schemas(
            self.model_state(state), mutate
        )
        state["current_schema_id"] = new_id
        state["last_column_id"] = last_col
        act = dict(state.get("schema_activation", {}))
        act[str(new_id)] = self.next_sequence_number() - 1
        state["schema_activation"] = act
        self._store(state)
        return new_id

    # -- partition-spec evolution --------------------------------------
    #
    # Iceberg tables carry a REGISTRY of partition specs: each data file
    # records the spec it was written under (``spec_id``), new writes
    # use the default spec, and changing the layout never rewrites
    # existing files — scans evaluate every file against its own spec.
    # (Iceberg spec "Partition Evolution"; the reference ships a
    # PartitionSpec per rewrite request, core/proto/iceberg.proto:18-61.)

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
            _record_ref_type(state, branch, "branch")
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

    def set_ref(self, name: str, snapshot_id: int, ref_type: str = "tag") -> None:
        """Record a named ref (Iceberg ref semantics): the target survives
        ``expire_snapshots`` and is addressable by name.  Branches are
        recorded in ``ref_types``; a ref with no record there is a tag."""
        if ref_type not in ("tag", "branch"):
            raise ValueError(f"ref type must be tag|branch: {ref_type}")
        state = self._load()
        if not any(s["snapshot_id"] == snapshot_id for s in state["snapshots"]):
            raise ValueError(f"snapshot {snapshot_id} not found")
        state.setdefault("refs", {})[name] = snapshot_id
        _record_ref_type(state, name, ref_type)
        self._store(state)

    def remove_ref(self, name: str) -> None:
        state = self._load()
        state.get("refs", {}).pop(name, None)
        _record_ref_type(state, name, "tag")
        self._store(state)

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
