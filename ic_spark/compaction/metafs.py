"""Table-METADATA filesystem seam.

The reference deploys against a remote warehouse + catalog (MinIO S3 +
Postgres — ``core/src/compaction/mod.rs:183-202``): every byte of table
state lives in the object store and the catalog CAS is the commit
point.  Our data files, delete vectors and ANN-index metadata
(``_IndexFS``) already route through
``ic_spark.sources.fileio.arrow_filesystem``; this module gives the
LAST local-only plane — ``ManifestTable``'s JSON state swap and the
spec-format ``IcebergTable``'s metadata JSON / Avro manifests / version
files — the same treatment.

Protocol preservation, not translation:

- Plain and ``file:`` roots use POSIX: a temp file published by
  ``os.link`` for Hadoop-catalog version files (exactly one racing
  committer wins, and no reader sees a torn file), ``tempfile`` +
  ``os.replace`` for atomic JSON swaps, ``os.walk`` for orphan listing.
- Object-store roots (``s3://``/``gs://``/injected pyarrow FS — the
  test seam) route every metadata byte through the pyarrow connector.
  Object stores have no rename and no O_EXCL: JSON publishes become
  single-object PUTs (atomic at object granularity — readers see old
  or new, never torn), and ``create_exclusive`` degrades to
  probe-then-PUT, a BEST-EFFORT guard.  That is why, on object-store
  roots, the Hadoop-catalog flavor alone is not a safe multi-writer
  commit point — the SQL/REST catalog CAS (sql_catalog.swap_pointer /
  the REST commit endpoint), which already linearizes commits in a
  database transaction, is.  Single-writer lifecycles (one compaction
  service owning the table, the reference's own deployment shape) are
  exact on either flavor.
"""

from __future__ import annotations

import json
import os
import posixpath
import tempfile


class UnsafeRemoteCommitError(RuntimeError):
    """Hadoop-flavor version-file commit attempted on an object-store
    metadata root without a single-writer declaration.

    ``create_exclusive`` on remote roots is probe-then-PUT (no O_EXCL on
    object stores): two racing committers can BOTH succeed and one
    version file is silently overwritten.  Multi-writer commits on
    remote roots must go through a SQL/REST catalog whose database CAS
    is the commit point (the reference's own deployment shape —
    ``core/src/compaction/mod.rs:183-202``); single-writer lifecycles
    (one compaction service owning the table) are exact and may opt in
    explicitly."""


def check_remote_commit_safety(
    mfs: "MetaFS", single_writer: bool, properties: dict | None, what: str
) -> None:
    """Loud gate for Hadoop-flavor exclusive-create commits: on a
    non-local MetaFS, refuse unless the committer
    declared ``single_writer=True`` or the table carries the
    ``commit.single-writer=true`` property."""
    if mfs.is_local or single_writer:
        return
    prop = str((properties or {}).get("commit.single-writer", "")).lower()
    if prop == "true":
        return
    raise UnsafeRemoteCommitError(
        f"refusing Hadoop-catalog {what} commit on object-store metadata "
        f"root {mfs.root!r}: exclusive-create there is probe-then-PUT "
        "(best-effort), so two racing committers can both win and one "
        "commit is silently lost. Either commit through a SQL/REST "
        "catalog (database CAS is the commit point), or — for a "
        "single-writer deployment where exactly one process owns this "
        "table — pass single_writer=True (or set the table property "
        "commit.single-writer=true) to accept exact single-writer "
        "semantics."
    )


def table_mfs(table) -> "MetaFS":
    """The table's own MetaFS (both flavors construct one) — the one
    accessor every metadata-plane consumer (DV commits, puffin
    compaction, statistics files) shares."""
    return table._mfs  # noqa: SLF001


class MetaFS:
    """Metadata-plane IO for one table root, local or object-store."""

    def __init__(self, root: str, file_io: dict | None = None):
        from ic_spark.sources.fileio import arrow_filesystem

        self.fs, self.root = arrow_filesystem(root, file_io)

    @property
    def is_local(self) -> bool:
        return self.fs is None

    def path(self, *parts: str) -> str:
        if self.fs is None:
            return os.path.join(self.root, *parts)
        return "/".join([self.root.rstrip("/"), *parts])

    def within(self, p: str) -> str:
        """Map a caller-spelled path/URI onto this FS's path space —
        the inverse of how ``arrow_filesystem`` resolved the root.
        Local FS and unschemed paths pass through; ``s3://``/``gs://``
        URIs drop the scheme (pyarrow connectors address
        ``bucket/key``)."""
        import re
        from urllib.parse import urlparse

        if self.fs is None:
            return p
        m = re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", p)
        if m and m.group(1).lower() in ("s3", "s3a", "gs", "gcs"):
            parsed = urlparse(p)
            return parsed.netloc + parsed.path
        return p

    def normalize(self, p: str) -> str:
        """Canonical spelling for path-set membership tests (the orphan
        sweeps compare recorded paths against listed ones) — caller
        URIs and within-FS spellings normalize to the same key."""
        if self.fs is None:
            return os.path.abspath(p)
        # lstrip("/"): pyarrow FS listings return paths relative to the
        # FS root with no leading slash (SubTreeFileSystem drops it;
        # S3/GCS address bucket/key), while caller spellings may carry
        # one — both must land on the same membership key.
        return posixpath.normpath(self.within(p)).lstrip("/")

    # -- reads -----------------------------------------------------------

    def exists(self, p: str) -> bool:
        p = self.within(p)
        if self.fs is None:
            return os.path.exists(p)
        from pyarrow import fs as pafs

        return self.fs.get_file_info([p])[0].type != pafs.FileType.NotFound

    def read_bytes(self, p: str) -> bytes:
        p = self.within(p)
        if self.fs is None:
            with open(p, "rb") as f:
                return f.read()
        with self.fs.open_input_stream(p) as f:
            return f.readall()

    def read_text(self, p: str) -> str:
        return self.read_bytes(p).decode("utf-8")

    def read_json(self, p: str):
        return json.loads(self.read_text(p))

    def size(self, p: str) -> int:
        p = self.within(p)
        if self.fs is None:
            return os.path.getsize(p)
        return self.fs.get_file_info([p])[0].size

    def mtime(self, p: str) -> float:
        p = self.within(p)
        if self.fs is None:
            return os.path.getmtime(p)
        info = self.fs.get_file_info([p])[0]
        if info.mtime is None:
            raise FileNotFoundError(p)
        return info.mtime.timestamp()

    def listdir(self, p: str) -> list[str]:
        p = self.within(p)
        if self.fs is None:
            return sorted(os.listdir(p)) if os.path.isdir(p) else []
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(p, recursive=False, allow_not_found=True)
        return sorted(i.base_name for i in self.fs.get_file_info(sel))

    def walk_files(self, p: str) -> list[str]:
        """Every file path under ``p``, recursively ([] if missing)."""
        p = self.within(p)
        if self.fs is None:
            out = []
            for root, _dirs, files in os.walk(p):
                out.extend(os.path.join(root, n) for n in files)
            return sorted(out)
        from pyarrow import fs as pafs

        sel = pafs.FileSelector(p, recursive=True, allow_not_found=True)
        return sorted(
            i.path
            for i in self.fs.get_file_info(sel)
            if i.type == pafs.FileType.File
        )

    # -- writes ----------------------------------------------------------

    def makedirs(self, p: str) -> None:
        p = self.within(p)
        if self.fs is None:
            os.makedirs(p, exist_ok=True)
        else:
            self.fs.create_dir(p, recursive=True)

    def write_atomic(self, p: str, data: bytes, suffix: str = ".tmp") -> None:
        """Publish so readers never see a torn file: POSIX temp+rename
        locally; write-to-temp-name + move through pyarrow (a local-
        backed injected FS would otherwise expose partial writes; on
        real object stores the move's final PUT is itself atomic)."""
        p = self.within(p)
        if self.fs is None:
            os.makedirs(os.path.dirname(p), exist_ok=True)
            fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p), suffix=suffix)
            with os.fdopen(fd, "wb") as f:
                f.write(data)
            os.replace(tmp, p)
            return
        import uuid

        tmp = p + f".tmp-{uuid.uuid4().hex[:8]}"
        with self.fs.open_output_stream(tmp) as f:
            f.write(data)
        self.fs.move(tmp, p)

    def write_json_atomic(self, p: str, obj, indent: int | None = 1) -> None:
        self.write_atomic(p, json.dumps(obj, indent=indent).encode("utf-8"))

    def create_exclusive(self, p: str, data: bytes) -> None:
        """Create ``p`` failing with FileExistsError if present.

        Local: the bytes go to a temp file that ``os.link`` publishes
        under ``p``.  The link refuses to overwrite, so of two racers
        exactly one wins (the Hadoop-catalog commit protocol), and a file
        that exists is always whole: a crash mid-write leaves only the
        temp file.  Object store: probe-then-PUT, best-effort only —
        module docstring explains why multi-writer commits on remote
        roots belong to the SQL/REST catalog CAS instead."""
        p = self.within(p)
        if self.fs is None:
            fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p), suffix=".tmp")
            try:
                with os.fdopen(fd, "wb") as f:
                    f.write(data)
                os.link(tmp, p)
            finally:
                os.unlink(tmp)
            return
        if self.exists(p):
            raise FileExistsError(p)
        with self.fs.open_output_stream(p) as f:
            f.write(data)

    def delete_dir(self, p: str) -> None:
        """Recursive best-effort directory removal (missing tolerated)."""
        p = self.within(p)
        if self.fs is None:
            import shutil

            shutil.rmtree(p, ignore_errors=True)
            return
        try:
            self.fs.delete_dir(p)
        except (FileNotFoundError, OSError):
            pass

    def unlink(self, p: str, missing_ok: bool = True) -> None:
        p = self.within(p)
        try:
            if self.fs is None:
                os.unlink(p)
            else:
                self.fs.delete_file(p)
        except FileNotFoundError:
            if not missing_ok:
                raise
        except OSError:
            # pyarrow surfaces missing objects on some FS as OSError
            if not missing_ok or self.exists(p):
                raise
