"""Commit-plane crash and race pins, metadata only (no Spark).

Parametrized over the JSON flavor, the Hadoop spec flavor and the
SQL-catalog spec flavor.  A crash makes one metadata write of a commit
raise; a fresh handle must then see the before- or the after-state, never
a mix, commit again, and list as orphans exactly the data files the
crashed commit left unreferenced.  The race appends from a shared base on
several threads: every append is acknowledged or raises
``CommitConflictError``, and the acknowledged appends are the live files.
"""

from __future__ import annotations

import os
import threading

import pyspark.sql.types as T
import pytest

from ic_spark.compaction import iceberg_meta
from ic_spark.compaction.iceberg_meta import IcebergTable
from ic_spark.compaction.manifest import CommitConflictError, ManifestTable
from ic_spark.compaction.metafs import MetaFS
from ic_spark.compaction.sql_catalog import SqlCatalog

SCHEMA = T.StructType([T.StructField("id", T.LongType())])
FLAVORS = ("json", "spec", "sql")


class Crash(RuntimeError):
    pass


def _open(flavor: str, tmp_path, create: bool = False):
    """A handle on the flavor's table (created with ``create``)."""
    root = str(tmp_path / "t")
    if flavor == "json":
        t = ManifestTable(root)
        if create:
            t.register_schema(SCHEMA)
        return t
    if flavor == "spec":
        return IcebergTable.create(root, SCHEMA) if create else IcebergTable(root)
    cat = SqlCatalog(str(tmp_path / "cat.db"), str(tmp_path / "wh"))
    if create:
        cat.create_namespace("ns")
        return cat.create_table("ns", "t", SCHEMA)
    return cat.load_table("ns", "t")


def _data_file(t, name: str) -> dict:
    """A file dict for a new ``.parquet`` file under the table root (the
    bytes are never read: every pin here is metadata only)."""
    d = os.path.join(t.root, "data")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, name)
    with open(path, "wb") as f:
        f.write(b"PAR1")
    return {"path": path, "content": "DATA", "record_count": 1,
            "file_size_in_bytes": 4,
            "sequence_number": t.next_sequence_number()}


def _live(t) -> set[str]:
    data, pos, eq = t.scan_tasks()
    return {x.data_file_path for x in data + pos + eq}


def _orphans(t) -> set[str]:
    return {os.path.basename(p) for p in t.remove_orphan_files(older_than_s=0)}


def _ops(t):
    """(name, run) of the three commits the crash pins cover, each on a
    table holding a.parquet and b.parquet; run returns the names of the
    data files a success of the op leaves unreferenced."""

    def append():
        t.append_snapshot([_data_file(t, "c.parquet")])

    def rewrite():
        t.commit_rewrite([_data_file(t, "c.parquet")], {_path(t, "a.parquet")})

    def expire():
        t.expire_snapshots()

    return {"append_snapshot": append, "commit_rewrite": rewrite,
            "expire_snapshots": expire}


def _path(t, name: str) -> str:
    return os.path.join(t.root, "data", name)


def _setup(flavor, tmp_path, op: str):
    t = _open(flavor, tmp_path, create=True)
    t.append_snapshot([_data_file(t, "a.parquet")])
    t.append_snapshot([_data_file(t, "b.parquet")])
    if op == "expire_snapshots":
        # a.parquet is referenced by old snapshots only
        t.commit_rewrite([_data_file(t, "c.parquet")], {_path(t, "a.parquet")})
    return t


# (before-state orphans, after-state orphans) by op
_EXPECTED_ORPHANS = {
    "append_snapshot": ({"c.parquet"}, set()),
    "commit_rewrite": ({"c.parquet"}, set()),
    "expire_snapshots": (set(), {"a.parquet"}),
}


def _writes(monkeypatch, fail_at: int | None) -> list[str]:
    """Count (and with ``fail_at``, fail) the metadata writes of a
    commit: manifests and manifest lists, version files, atomic swaps
    (hint, manifest.json, SQL-flavor metadata files) and the SQL pointer
    swap."""
    seen: list[str] = []

    def wrap(owner, name):
        real = getattr(owner, name)

        def hooked(*args, **kwargs):
            seen.append(name)
            if fail_at is not None and len(seen) == fail_at:
                raise Crash(f"crash at write {fail_at} ({name})")
            return real(*args, **kwargs)

        monkeypatch.setattr(owner, name, hooked)

    wrap(iceberg_meta, "write_container")
    wrap(MetaFS, "create_exclusive")
    wrap(MetaFS, "write_atomic")
    wrap(SqlCatalog, "swap_pointer")
    return seen


@pytest.mark.parametrize("op", list(_EXPECTED_ORPHANS))
@pytest.mark.parametrize("flavor", FLAVORS)
def test_crash_at_every_metadata_write(flavor, op, tmp_path_factory):
    """For every metadata write of the op: crash there, then a fresh
    handle sees the before- or after-state, lists exactly the orphans of
    that state, and commits again."""
    # a clean run counts the op's writes and records the after-state
    mp = pytest.MonkeyPatch()
    t = _setup(flavor, tmp_path_factory.mktemp("clean"), op)
    before = _state(t)
    seen = _writes(mp, None)
    _ops(t)[op]()
    mp.undo()
    after = _state(t)
    assert before != after and seen

    for k in range(1, len(seen) + 1):
        tmp = tmp_path_factory.mktemp(f"crash{k}")
        t = _setup(flavor, tmp, op)
        mp = pytest.MonkeyPatch()
        _writes(mp, k)
        with pytest.raises(Crash):
            _ops(t)[op]()
        mp.undo()
        fresh = _open(flavor, tmp)
        state = _state(fresh)
        assert state in (before, after), (k, seen[:k], state)
        want = _EXPECTED_ORPHANS[op][state == after]
        assert _orphans(fresh) == want, (k, seen[:k])
        fresh.append_snapshot([_data_file(fresh, "d.parquet")])
        assert "d.parquet" in _state(_open(flavor, tmp))[0]


def _state(t) -> tuple[frozenset, int]:
    """(live file names, retained snapshot count): table roots differ
    between runs, so files compare by name."""
    live = frozenset(os.path.basename(p) for p in _live(t))
    return live, len(t.model_state().snapshots)


@pytest.mark.parametrize("threads", [2, 8])
@pytest.mark.parametrize("flavor", FLAVORS)
def test_racing_appends_lose_nothing(flavor, threads, tmp_path):
    """Appends from a shared base on several threads: each is either
    acknowledged or refused with CommitConflictError, and the live files
    are exactly the acknowledged appends."""
    _open(flavor, tmp_path, create=True)
    acked: list[str] = []
    errors: list[BaseException] = []
    lock = threading.Lock()
    for rnd in range(3):
        barrier = threading.Barrier(threads)

        def racer(i):
            try:
                t = _open(flavor, tmp_path)
                f = _data_file(t, f"r{rnd}-{i}.parquet")
                barrier.wait()
                t.append_snapshot([f])
                with lock:
                    acked.append(f["path"])
            except CommitConflictError:
                pass
            except BaseException as exc:  # noqa: BLE001 - reported below
                with lock:
                    errors.append(exc)

        ts = [threading.Thread(target=racer, args=(i,)) for i in range(threads)]
        for x in ts:
            x.start()
        for x in ts:
            x.join()
    assert not errors, errors
    assert acked
    assert _live(_open(flavor, tmp_path)) == set(acked)
