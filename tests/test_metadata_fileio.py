"""Table-metadata commit plane through the fileio seam.

The reference deploys against a remote warehouse + catalog (MinIO S3 +
Postgres, ``core/src/compaction/mod.rs:183-202``).  These tests drive
the FULL lifecycle — append → deletes → DVs → full_compact → expire —
with every metadata byte routed through an injected pyarrow
``SubTreeFileSystem`` (the same branch ``s3://``/``gs://`` roots take),
on BOTH metadata flavors:

- ``ManifestTable`` (JSON state swap)
- spec-format ``IcebergTable`` (metadata JSON + Avro manifests +
  version files), plus the SQL catalog whose database CAS is the
  object-store commit point.

Data files keep flowing through Spark's Hadoop layer — the dual-plane
split a real ``s3://`` deployment has (s3a for data, pyarrow connector
for metadata)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest


def _fio():
    import pyarrow.fs as pafs

    return {
        "pyarrow_filesystem": pafs.SubTreeFileSystem(
            "/", pafs.LocalFileSystem()
        )
    }


def _write_one_parquet(spark, path, rows, schema):
    df = spark.createDataFrame(rows, schema=schema)
    df.coalesce(1).write.mode("overwrite").parquet(path)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 1
    return os.path.join(path, files[0])


@pytest.mark.slow
def test_manifest_table_lifecycle_through_injected_fs(spark, tmp_path):
    """append → eq-deletes → DVs → full_compact → expire → orphan sweep
    with manifest.json and every listing routed through the connector."""
    from ic_spark.compaction import Compaction, ManifestTable
    from ic_spark.compaction.deletes import read_table, write_deletion_vectors

    root = str(tmp_path / "tbl")
    os.makedirs(root)
    table = ManifestTable(root, file_io=_fio())
    assert table._mfs.fs is not None  # metadata plane is connector-routed

    schema = "id int, name string"
    d1 = _write_one_parquet(
        spark, str(tmp_path / "tbl/d1"),
        [(i, f"n{i}") for i in range(10)], schema,
    )
    d2 = _write_one_parquet(
        spark, str(tmp_path / "tbl/d2"),
        [(i, f"n{i}") for i in range(10, 20)], schema,
    )
    eq = _write_one_parquet(spark, str(tmp_path / "tbl/eq"), [(3,)], "id int")
    table.append_snapshot(
        [
            {"path": d1, "sequence_number": 1, "content": "DATA",
             "file_size_in_bytes": os.path.getsize(d1)},
            {"path": d2, "sequence_number": 2, "content": "DATA",
             "file_size_in_bytes": os.path.getsize(d2)},
            {"path": eq, "sequence_number": 3, "content": "EQUALITY_DELETES",
             "equality_ids": ["id"]},
        ]
    )
    # the state swap published via the connector, no torn/tmp litter
    assert os.path.exists(os.path.join(root, "manifest.json"))
    assert not [n for n in os.listdir(root) if ".tmp" in n]

    # DVs on top (puffin plane), read applies both delete flavors
    write_deletion_vectors(spark, table, F.col("id").isin(7, 15))
    out = read_table(spark, table)
    assert sorted(r.id for r in out.collect()) == sorted(
        set(range(20)) - {3, 7, 15}
    )

    # full compact folds eq-deletes + DVs into rewritten data files
    comp = Compaction(spark)
    comp.full_compact(table, spark.read.parquet(d1).schema)
    data, pos, eqt = table.scan_tasks()
    assert pos == [] and eqt == []
    assert read_table(spark, table).count() == 17

    # expire drops superseded snapshots; orphan sweep lists the
    # pre-compaction files through the connector's recursive listing
    orphans = comp.expire_snapshot(table)
    assert any(p.endswith(os.path.basename(d1)) for p in orphans)
    swept = table.remove_orphan_files(older_than_s=0)
    assert swept  # pre-compaction parquet no longer referenced
    table.remove_orphan_files(older_than_s=0, delete=True)
    assert read_table(spark, table).count() == 17  # live data untouched


@pytest.mark.slow
def test_iceberg_table_lifecycle_through_injected_fs(spark, tmp_path):
    """Spec-format flavor: create → append → DVs → full_compact →
    expire, with metadata JSON, version files, version hint, and Avro
    manifests all written/read through the connector."""
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from ic_spark.compaction import Compaction
    from ic_spark.compaction.deletes import read_table, write_deletion_vectors
    from ic_spark.compaction.iceberg_meta import IcebergTable

    loc = str(tmp_path / "spec_tbl")
    schema = StructType(
        [StructField("id", IntegerType()), StructField("name", StringType())]
    )
    tbl = IcebergTable.create(
        loc, schema, file_io=_fio(), single_writer=True
    )
    assert tbl._mfs.fs is not None
    assert tbl.version() == 1

    d1 = _write_one_parquet(
        spark, str(tmp_path / "spec_tbl/d1"),
        [(i, f"n{i}") for i in range(10)], "id int, name string",
    )
    d2 = _write_one_parquet(
        spark, str(tmp_path / "spec_tbl/d2"),
        [(i, f"n{i}") for i in range(10, 20)], "id int, name string",
    )
    tbl.append_snapshot(
        [
            {"path": d1, "sequence_number": None, "content": "DATA",
             "file_size_in_bytes": os.path.getsize(d1), "record_count": 10},
            {"path": d2, "sequence_number": None, "content": "DATA",
             "file_size_in_bytes": os.path.getsize(d2), "record_count": 10},
        ]
    )
    assert tbl.version() == 2
    # Avro manifests + manifest list written via the connector parse back
    data, pos, eq = tbl.scan_tasks()
    assert len(data) == 2 and pos == [] and eq == []

    write_deletion_vectors(spark, tbl, F.col("id").isin(2, 12))
    assert read_table(spark, tbl).count() == 18

    comp = Compaction(spark)
    comp.full_compact(tbl)
    data, pos, eq = tbl.scan_tasks()
    assert pos == [] and eq == []
    assert read_table(spark, tbl).count() == 18

    # stale-version commit still conflicts (probe-then-PUT flavor)
    from ic_spark.compaction.manifest import CommitConflictError

    meta = tbl.metadata()
    with pytest.raises(CommitConflictError):
        tbl._commit_metadata(meta, expected_version=1)

    orphans = tbl.expire_snapshots()
    assert any(p.endswith(os.path.basename(d1)) for p in orphans)
    assert read_table(spark, tbl).count() == 18


def test_sql_catalog_through_injected_fs(spark, tmp_path):
    """SQL-catalog flavor on a connector-routed warehouse: the database
    CAS is the commit point; metadata JSON lands via the seam; orphan
    metadata collection lists through the connector."""
    from pyspark.sql.types import (
        IntegerType,
        StructField,
        StructType,
    )

    from ic_spark.compaction.manifest import CommitConflictError
    from ic_spark.compaction.sql_catalog import SqlCatalog

    cat = SqlCatalog(
        str(tmp_path / "catalog.db"),
        str(tmp_path / "wh"),
        file_io=_fio(),
    )
    cat.create_namespace("ns")
    schema = StructType([StructField("id", IntegerType())])
    tbl = cat.create_table("ns", "t", schema)
    assert tbl._mfs.fs is not None

    d1 = _write_one_parquet(
        spark, str(tmp_path / "wh/ns/t/d1"), [(i,) for i in range(5)], "id int"
    )
    tbl.append_snapshot(
        [{"path": d1, "sequence_number": None, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(d1), "record_count": 5}]
    )
    assert tbl.version() == 2
    reloaded = cat.load_table("ns", "t")
    assert reloaded._mfs.fs is not None
    assert len(reloaded.scan_tasks()[0]) == 1

    # racing commit: the CAS rejects the stale expected pointer
    stale_meta = tbl.metadata()
    tbl.append_snapshot(
        [{"path": d1, "sequence_number": None, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(d1), "record_count": 5}]
    )
    with pytest.raises(CommitConflictError):
        tbl._commit_metadata(stale_meta, expected_version=2)

    # loser/crash residue collected through the connector listing
    assert reloaded.clean_orphan_metadata(older_than_s=0) != None  # noqa: E711


def test_table_facade_through_injected_fs(spark, tmp_path, monkeypatch):
    """The one-handle facade end to end on a connector-routed table:
    create → append (listing + footer stats through the seam) →
    DV delete → compact → upsert (key read and equality-delete write
    through the seam) → read."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from ic_spark.table import Table

    loc = str(tmp_path / "facade_tbl")
    schema = StructType([StructField("id", IntegerType())])
    t = Table.create(spark, loc, schema, file_io=_fio(), single_writer=True)
    assert t.inner._mfs.fs is not None

    t.append(spark.range(0, 100).selectExpr("cast(id as int) id"))
    assert t.read().count() == 100

    t.write_deletion_vectors(F.col("id") % 10 == 0)
    assert t.read().count() == 90

    t.compact()
    assert t.read().count() == 90

    from ic_spark.compaction.metafs import MetaFS

    published = []
    write_atomic = MetaFS.write_atomic

    def recording(self, p, data, suffix=".tmp"):
        published.append((self.fs is not None, p))
        write_atomic(self, p, data, suffix)

    monkeypatch.setattr(MetaFS, "write_atomic", recording)
    # id 5 is replaced, id 500 inserted, id 10 (deleted above) reinserted
    t.upsert(spark.createDataFrame([(5,), (10,), (500,)], "id int"), ["id"])
    _, _, eq = t.inner.scan_tasks()
    assert (True, eq[0].data_file_path) in published
    assert [pq.read_table(e.data_file_path).num_rows for e in eq] == [3]
    assert t.read().count() == 92

    # re-open by location with the same connector
    t2 = Table.at(spark, loc, file_io=_fio(), single_writer=True)
    assert t2.inner._mfs.fs is not None
    assert t2.read().count() == 92


def test_rest_catalog_client_threads_file_io(tmp_path):
    """RestCatalog(file_io=...) binds loaded tables to the connector."""
    from pyspark.sql.types import LongType, StructField, StructType

    from ic_spark.compaction.rest_catalog import RestCatalog, RestCatalogServer

    srv = RestCatalogServer(str(tmp_path / "wh")).start()
    try:
        cat = RestCatalog(f"http://127.0.0.1:{srv.port}", file_io=_fio())
        cat.create_namespace("ns")
        tbl = cat.create_table(
            "ns", "t", StructType([StructField("id", LongType())])
        )
        assert tbl._mfs.fs is not None
        assert cat.load_table("ns", "t")._mfs.fs is not None
    finally:
        srv.stop()


@pytest.mark.slow
def test_distributed_dv_commit_through_injected_fs(spark, tmp_path):
    """The executor-side DV writer ships the pickled connector: puffin
    bytes land through the seam, manifest rows carry caller spellings,
    and the read applies the vectors."""
    from ic_spark.compaction import ManifestTable
    from ic_spark.compaction.deletes import (
        read_table,
        write_deletion_vectors,
    )

    root = str(tmp_path / "dtbl")
    os.makedirs(root)
    table = ManifestTable(root, file_io=_fio())
    d1 = _write_one_parquet(
        spark, str(tmp_path / "dtbl/d1"), [(i,) for i in range(40)], "id int"
    )
    table.append_snapshot(
        [{"path": d1, "sequence_number": 1, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(d1)}]
    )
    write_deletion_vectors(
        spark, table, F.col("id") % 4 == 0, distributed=True
    )
    assert read_table(spark, table).count() == 30
    _, pos, _ = table.scan_tasks()
    assert pos and all(t.file_format == "puffin" for t in pos)
    # a second distributed delete supersedes by union through the seam
    write_deletion_vectors(
        spark, table, F.col("id") % 4 == 1, distributed=True
    )
    assert read_table(spark, table).count() == 20


def test_hadoop_flavor_refuses_remote_commit_without_declaration(tmp_path):
    """Hadoop-catalog version-file commits on an
    object-store MetaFS root are probe-then-PUT (two racers can both
    win) — the commit must refuse loudly unless the deployment declares
    single-writer, instead of silently degrading to best-effort."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from ic_spark.compaction.iceberg_meta import IcebergTable
    from ic_spark.compaction.metafs import UnsafeRemoteCommitError

    schema = StructType([StructField("id", IntegerType())])

    # undeclared: even CREATE (the first commit) refuses
    with pytest.raises(UnsafeRemoteCommitError, match="single-writer"):
        IcebergTable.create(str(tmp_path / "nope"), schema, file_io=_fio())
    assert not os.path.exists(str(tmp_path / "nope/metadata"))

    # table-property opt-in: the declaration travels WITH the table
    loc = str(tmp_path / "prop_tbl")
    tbl = IcebergTable.create(
        loc, schema, properties={"commit.single-writer": "true"},
        file_io=_fio(),
    )
    assert tbl.version() == 1

    # a second handle without the kwarg still commits (property wins)
    d = tmp_path / "prop_tbl/metadata"
    assert d.is_dir()
    h2 = IcebergTable(loc, file_io=_fio())
    h2._commit_metadata(h2.metadata(), expected_version=h2.version())
    assert h2.version() == 2

    # kwarg opt-in on a property-less table
    loc2 = str(tmp_path / "kw_tbl")
    IcebergTable.create(loc2, schema, file_io=_fio(), single_writer=True)
    undeclared = IcebergTable(loc2, file_io=_fio())
    with pytest.raises(UnsafeRemoteCommitError):
        undeclared._commit_metadata(
            undeclared.metadata(), expected_version=undeclared.version()
        )
    # reads never gate
    assert undeclared.metadata()["format-version"] == 2

    # local roots keep the pre-seam behavior: no declaration needed
    IcebergTable.create(str(tmp_path / "local_tbl"), schema)


def test_view_commit_gated_on_remote_root(tmp_path):
    """IcebergView metadata shares the version-file protocol, so it
    shares the gate."""
    from ic_spark.compaction.metafs import UnsafeRemoteCommitError
    from ic_spark.compaction.views import IcebergView

    with pytest.raises(UnsafeRemoteCommitError, match="view metadata"):
        IcebergView.create(
            str(tmp_path / "v"), "SELECT 1 AS x", file_io=_fio()
        )
    v = IcebergView.create(
        str(tmp_path / "v2"), "SELECT 1 AS x", file_io=_fio(),
        single_writer=True,
    )
    assert v.version() == 1


def test_racing_committers_sql_catalog_exactly_one_wins(spark, tmp_path):
    """Two committers racing from the same base version through the
    SQL catalog CAS: every attempt either lands or raises
    CommitConflictError — never a silent overwrite.  The invariant that
    proves exactly-one-wins: snapshots present == successful commits,
    and the version advanced by exactly that count."""
    import threading

    from pyspark.sql.types import IntegerType, StructField, StructType

    from ic_spark.compaction.manifest import CommitConflictError
    from ic_spark.compaction.sql_catalog import SqlCatalog

    cat = SqlCatalog(
        str(tmp_path / "catalog.db"), str(tmp_path / "wh"), file_io=_fio()
    )
    cat.create_namespace("ns")
    schema = StructType([StructField("id", IntegerType())])
    cat.create_table("ns", "race", schema)

    d1 = _write_one_parquet(
        spark, str(tmp_path / "wh/ns/race/d1"), [(1,)], "id int"
    )
    payload = [{"path": d1, "sequence_number": None, "content": "DATA",
                "file_size_in_bytes": os.path.getsize(d1),
                "record_count": 1}]

    outcomes: list[str] = []
    lock = threading.Lock()
    ROUNDS, RACERS = 6, 2
    for _ in range(ROUNDS):
        barrier = threading.Barrier(RACERS)

        def racer():
            handle = cat.load_table("ns", "race")  # own handle, shared base
            barrier.wait()
            try:
                handle.append_snapshot(list(payload))
                with lock:
                    outcomes.append("win")
            except CommitConflictError:
                with lock:
                    outcomes.append("conflict")

        threads = [threading.Thread(target=racer) for _ in range(RACERS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    assert len(outcomes) == ROUNDS * RACERS
    wins = outcomes.count("win")
    assert wins >= ROUNDS  # at least one winner per round
    final = cat.load_table("ns", "race")
    # exactly-one-wins: every successful commit is visible as its own
    # snapshot (a lost-update would collapse two wins into one)
    assert len(final.snapshots()) == wins
    assert final.version() == 1 + wins
