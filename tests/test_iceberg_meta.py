"""Spec-format Iceberg metadata: Avro codec + v2 table layout + planning.

Covers the public Iceberg table-spec behaviors: metadata JSON required
fields, Avro manifest lists/manifests, sequence-number inheritance,
Hadoop-catalog optimistic commits, and the full compact cycle running
over spec metadata through the same orchestrator as the JSON manifest.
"""

from __future__ import annotations

import json
import os

import pytest

from ic_spark.compaction.iceberg_meta import (
    ADDED,
    EXISTING,
    IcebergTable,
    schema_to_iceberg,
    serialize_bound,
)
from ic_spark.compaction.table_model import iceberg_to_spark_schema
from ic_spark.compaction.manifest import CommitConflictError
from ic_spark.sources.avro_io import read_container, write_container

from tests.test_mor import write_parquet


# ------------------------------------------------------------ avro codec


def test_avro_roundtrip_all_types(tmp_path):
    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "u", "type": ["null", "long"]},
            {"name": "arr", "type": {"type": "array", "items": "int"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "x", "type": ["null", "string"]}],
                },
            },
            {"name": "fx", "type": {"type": "fixed", "name": "f8", "size": 4}},
            {
                "name": "e",
                "type": {"type": "enum", "name": "col", "symbols": ["R", "G", "B"]},
            },
        ],
    }
    recs = [
        {
            "b": True, "i": -2**31, "l": 2**62, "f": 0.5, "d": -1.25,
            "s": "héllo", "by": b"\x00\xff", "u": None, "arr": [1, -2, 3],
            "m": {"k1": "v1", "k2": "v2"}, "nested": {"x": "deep"},
            "fx": b"\x01\x02\x03\x04", "e": "G",
        },
        {
            "b": False, "i": 7, "l": -9, "f": 1.0, "d": 2.0, "s": "",
            "by": b"", "u": 42, "arr": [], "m": {}, "nested": {"x": None},
            "fx": b"abcd", "e": "B",
        },
    ]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t_{codec}.avro")
        write_container(p, schema, recs, metadata={"k": "v"}, codec=codec)
        got_schema, meta, got = read_container(p)
        # float survives at 32-bit precision; ours are exactly representable
        assert got == recs
        assert meta["k"] == b"v"
        assert got_schema["name"] == "t"


def test_avro_long_zigzag_boundaries(tmp_path):
    schema = {"type": "record", "name": "z",
              "fields": [{"name": "v", "type": "long"}]}
    vals = [0, -1, 1, 63, 64, -64, -65, 2**31, -(2**31), 2**62, -(2**62)]
    p = str(tmp_path / "z.avro")
    write_container(p, schema, [{"v": v} for v in vals])
    _, _, got = read_container(p)
    assert [r["v"] for r in got] == vals


def test_avro_multi_block_read(tmp_path):
    """Files written block-per-append by other writers must still read:
    emulate by concatenating two single-block bodies with one header."""
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "v", "type": "int"}]}
    p1, p2 = str(tmp_path / "a.avro"), str(tmp_path / "b.avro")
    sync = b"S" * 16
    write_container(p1, schema, [{"v": 1}], codec="null", sync_marker=sync)
    write_container(p2, schema, [{"v": 2}, {"v": 3}], codec="null", sync_marker=sync)
    with open(p1, "rb") as f:
        full = f.read()
    with open(p2, "rb") as f:
        other = f.read()
    # second file's block starts right after its header (same sync)
    block = other[other.index(sync) + 16:]
    with open(p1, "wb") as f:
        f.write(full + block)
    _, _, got = read_container(p1)
    assert [r["v"] for r in got] == [1, 2, 3]


# ------------------------------------------------------- serialization


def test_serialize_bounds_spec_formats():
    from decimal import Decimal

    import pyspark.sql.types as T

    assert serialize_bound(T.IntegerType(), 1) == b"\x01\x00\x00\x00"
    assert serialize_bound(T.LongType(), -1) == b"\xff" * 8
    assert serialize_bound(T.StringType(), "ab") == b"ab"
    assert serialize_bound(T.BooleanType(), True) == b"\x01"
    # decimal: minimal big-endian two's-complement of unscaled value
    assert serialize_bound(T.DecimalType(9, 2), Decimal("1.25")) == b"\x7d"
    # sign bit forces a second byte at 128
    assert serialize_bound(T.DecimalType(9, 2), Decimal("1.28")) == b"\x00\x80"
    assert serialize_bound(T.DecimalType(9, 2), Decimal("-1.25")) == b"\x83"
    assert serialize_bound(T.DoubleType(), None) is None


def test_schema_conversion_roundtrip(spark):
    sch = spark.createDataFrame(
        [], "id long, name string, score double, ok boolean, d date, amt decimal(10,2)"
    ).schema
    ice = schema_to_iceberg(sch)
    assert [f["id"] for f in ice["fields"]] == [1, 2, 3, 4, 5, 6]
    assert ice["fields"][5]["type"] == "decimal(10, 2)"
    back = iceberg_to_spark_schema(ice)
    assert back == sch


# ------------------------------------------------------------ the table


@pytest.fixture()
def simple_schema(spark):
    return spark.createDataFrame([], "id int, name string").schema


def test_create_writes_spec_metadata(tmp_path, simple_schema):
    loc = str(tmp_path / "tbl")
    tbl = IcebergTable.create(loc, simple_schema)
    assert tbl.version() == 1
    meta = tbl.metadata()
    for key in (
        "format-version", "table-uuid", "location", "last-sequence-number",
        "last-updated-ms", "last-column-id", "schemas", "current-schema-id",
        "partition-specs", "default-spec-id", "sort-orders", "snapshots",
    ):
        assert key in meta, key
    assert meta["format-version"] == 2
    assert meta["current-snapshot-id"] == -1
    assert tbl.schema() == simple_schema
    with open(os.path.join(loc, "metadata", "version-hint.text")) as f:
        assert f.read() == "1"
    with pytest.raises(ValueError, match="already exists"):
        IcebergTable.create(loc, simple_schema)


@pytest.mark.slow
def test_append_scan_sequence_inheritance(spark, tmp_path, simple_schema):
    loc = str(tmp_path / "tbl")
    tbl = IcebergTable.create(loc, simple_schema)
    f1 = write_parquet(spark, str(tmp_path / "d1"),
                       [(1, "a"), (2, "b")], "id int, name string")
    f2 = write_parquet(spark, str(tmp_path / "d2"),
                       [(3, "c")], "id int, name string")
    tbl.append_snapshot([
        {"path": f1, "content": "DATA", "record_count": 2,
         "file_size_in_bytes": os.path.getsize(f1),
         "column_stats": {"id": {"min": 1, "max": 2, "null_count": 0}}},
    ])
    tbl.append_snapshot([
        {"path": f2, "content": "DATA", "record_count": 1,
         "file_size_in_bytes": os.path.getsize(f2)},
    ])
    data, pos, eq = tbl.scan_tasks()
    assert pos == [] and eq == []
    by_path = {t.data_file_path: t.sequence_number for t in data}
    # first file committed at seq 1, second at seq 2 — INHERITED (the
    # manifest stores null for ADDED entries)
    assert by_path == {f1: 1, f2: 2}

    # the raw manifest really does store null for the ADDED entry
    snap = tbl._snapshot(None)
    _, _, manifests = read_container(snap["manifest-list"])
    added_entries = []
    for mf in manifests:
        _, mmeta, entries = read_container(mf["manifest_path"])
        assert mmeta["format-version"] == b"2"
        added_entries += [e for e in entries if e["status"] == ADDED]
    assert all(e["sequence_number"] is None for e in added_entries)

    # bounds serialized into the manifest for the stats-bearing file
    all_entries = [e for mf in manifests
                   for e in read_container(mf["manifest_path"])[2]]
    e1 = next(e for e in all_entries if e["data_file"]["file_path"] == f1)
    lows = {kv["key"]: kv["value"] for kv in e1["data_file"]["lower_bounds"]}
    assert lows[1] == b"\x01\x00\x00\x00"  # id field-id=1, int 1 LE


@pytest.mark.slow
def test_mor_plan_from_spec_metadata(spark, tmp_path):
    """Data + equality-delete files committed to spec metadata plan into
    the SAME MoR DataFrame the JSON manifest produces."""
    from ic_spark.compaction.planner import build_merge_on_read
    from ic_spark.compaction.request import RewriteFilesRequest

    schema = spark.createDataFrame([], "id int, name string").schema
    loc = str(tmp_path / "tbl")
    tbl = IcebergTable.create(loc, schema)
    d1 = write_parquet(spark, str(tmp_path / "d1"),
                       [(i, f"n{i}") for i in range(10)], "id int, name string")
    tbl.append_snapshot([
        {"path": d1, "content": "DATA", "record_count": 10,
         "file_size_in_bytes": os.path.getsize(d1)},
    ])
    dl = write_parquet(spark, str(tmp_path / "del"), [(3,), (7,)], "id int")
    tbl.append_snapshot([
        {"path": dl, "content": "EQUALITY_DELETES", "equality_ids": ["id"],
         "record_count": 2, "file_size_in_bytes": os.path.getsize(dl)},
    ])
    data, pos, eq = tbl.scan_tasks()
    assert [t.sequence_number for t in data] == [1]
    assert eq[0].equality_ids == ("id",)  # field-id mapped back to name
    assert eq[0].sequence_number == 2
    req = RewriteFilesRequest(
        schema=schema, data_files=data,
        position_delete_files=pos, equality_delete_files=eq,
    )
    ids = sorted(r.id for r in build_merge_on_read(spark, req).collect())
    assert ids == [0, 1, 2, 4, 5, 6, 8, 9]


def test_commit_conflict_on_version_race(tmp_path, simple_schema, spark, monkeypatch):
    from ic_spark.compaction.metafs import MetaFS

    loc = str(tmp_path / "tbl")
    tbl = IcebergTable.create(loc, simple_schema)
    f1 = write_parquet(spark, str(tmp_path / "d1"), [(1, "a")], "id int, name string")
    entry = {"path": f1, "content": "DATA", "record_count": 1,
             "file_size_in_bytes": 1}
    tbl.append_snapshot([entry])
    # a racer creates v3 after this committer read v2, before its create
    v3 = os.path.join(loc, "metadata", "v3.metadata.json")
    racer_meta = tbl.metadata()
    real_create = MetaFS.create_exclusive

    def racer_first(self, p, data):
        if p == v3 and not os.path.exists(v3):
            with open(v3, "w") as f:
                json.dump(racer_meta, f)
        return real_create(self, p, data)

    monkeypatch.setattr(MetaFS, "create_exclusive", racer_first)
    with pytest.raises(CommitConflictError):
        tbl.append_snapshot([entry])


@pytest.mark.slow
def test_rewrite_commit_and_stale_plan_rejected(spark, tmp_path, simple_schema):
    loc = str(tmp_path / "tbl")
    tbl = IcebergTable.create(loc, simple_schema)
    f1 = write_parquet(spark, str(tmp_path / "d1"), [(1, "a")], "id int, name string")
    f2 = write_parquet(spark, str(tmp_path / "d2"), [(2, "b")], "id int, name string")
    tbl.append_snapshot([
        {"path": f1, "content": "DATA", "record_count": 1, "file_size_in_bytes": 1},
    ])
    sid1 = tbl.current_snapshot_id()
    tbl.commit_rewrite(
        [{"path": f2, "content": "DATA", "record_count": 1, "file_size_in_bytes": 1}],
        {f1},
    )
    data, _, _ = tbl.scan_tasks()
    assert [t.data_file_path for t in data] == [f2]
    # f1 is gone — removing it again is a stale plan
    with pytest.raises(CommitConflictError, match="no longer live"):
        tbl.commit_rewrite([], {f1})
    # expected-snapshot guard
    with pytest.raises(CommitConflictError, match="table moved"):
        tbl.commit_rewrite([], {f2}, expected_snapshot_id=sid1)


@pytest.mark.slow
def test_expire_snapshots_returns_orphans(spark, tmp_path, simple_schema):
    loc = str(tmp_path / "tbl")
    tbl = IcebergTable.create(loc, simple_schema)
    f1 = write_parquet(spark, str(tmp_path / "d1"), [(1, "a")], "id int, name string")
    f2 = write_parquet(spark, str(tmp_path / "d2"), [(2, "b")], "id int, name string")
    tbl.append_snapshot([
        {"path": f1, "content": "DATA", "record_count": 1, "file_size_in_bytes": 1},
    ])
    tbl.commit_rewrite(
        [{"path": f2, "content": "DATA", "record_count": 1, "file_size_in_bytes": 1}],
        {f1},
    )
    orphans = tbl.expire_snapshots()
    assert orphans == [f1]
    assert len(tbl.snapshots()) == 1
    data, _, _ = tbl.scan_tasks()
    assert [t.data_file_path for t in data] == [f2]


@pytest.mark.slow
def test_refs_survive_expiration(spark, tmp_path, simple_schema):
    """Spec ``refs``: a tag pins its snapshot (and that snapshot's
    files) through expire_snapshots; time travel through the tag keeps
    working; removing the tag releases the snapshot."""
    loc = str(tmp_path / "tbl")
    tbl = IcebergTable.create(loc, simple_schema)
    f1 = write_parquet(spark, str(tmp_path / "d1"), [(1, "a")], "id int, name string")
    f2 = write_parquet(spark, str(tmp_path / "d2"), [(2, "b")], "id int, name string")
    sid1 = tbl.append_snapshot(
        [{"path": f1, "content": "DATA", "record_count": 1, "file_size_in_bytes": 1}]
    )
    tbl.set_ref("v1", sid1)
    with pytest.raises(ValueError, match="not found"):
        tbl.set_ref("bad", 123456)
    with pytest.raises(ValueError, match="tag|branch"):
        tbl.set_ref("x", sid1, ref_type="bookmark")
    tbl.commit_rewrite(
        [{"path": f2, "content": "DATA", "record_count": 1, "file_size_in_bytes": 1}],
        {f1},
    )

    orphans = tbl.expire_snapshots()
    assert orphans == []  # f1 pinned by the v1 tag
    assert len(tbl.snapshots()) == 2
    assert tbl.refs() == {"v1": sid1}
    data, _, _ = tbl.scan_tasks(snapshot_id=tbl.resolve_ref("v1"))
    assert [t.data_file_path for t in data] == [f1]

    tbl.remove_ref("v1")
    orphans = tbl.expire_snapshots()
    assert orphans == [f1]  # released with the tag
    assert len(tbl.snapshots()) == 1


@pytest.mark.slow
def test_incremental_and_mor_read_over_spec_metadata(spark, tmp_path, simple_schema):
    """Spec-metadata parity for the consumption paths: incremental
    append scans between snapshots, and the full read_table MoR read
    with planning-time filter + ref-based time travel."""
    from ic_spark.compaction.deletes import read_table

    loc = str(tmp_path / "tbl")
    tbl = IcebergTable.create(loc, simple_schema)
    f1 = write_parquet(spark, str(tmp_path / "d1"),
                       [(i, f"a{i}") for i in range(5)], "id int, name string")
    f2 = write_parquet(spark, str(tmp_path / "d2"),
                       [(i, f"b{i}") for i in range(5, 10)], "id int, name string")
    sid1 = tbl.append_snapshot(
        [{"path": f1, "content": "DATA", "record_count": 5, "file_size_in_bytes": 1}]
    )
    tbl.set_ref("first", sid1)
    tbl.append_snapshot(
        [{"path": f2, "content": "DATA", "record_count": 5, "file_size_in_bytes": 1}]
    )

    inc = tbl.incremental_tasks(sid1)
    assert [t.data_file_path for t in inc] == [f2]
    assert inc[0].sequence_number == 2  # inherited commit seq

    # read_table duck-types over spec metadata: filter + ref travel.
    df = read_table(spark, tbl, where=[("id", ">=", 3)])
    assert sorted(r.id for r in df.collect()) == list(range(3, 10))
    old = read_table(spark, tbl, ref="first")
    assert sorted(r.id for r in old.collect()) == list(range(5))

    # A delete file in the range breaks append-only semantics.
    dl = write_parquet(spark, str(tmp_path / "del"), [(6,)], "id int")
    tbl.append_snapshot(
        [{"path": dl, "content": "EQUALITY_DELETES", "equality_ids": ["id"],
          "record_count": 1, "file_size_in_bytes": 1}]
    )
    with pytest.raises(ValueError, match="delete file"):
        tbl.incremental_tasks(sid1)
    # ...and a rewrite breaks it too.
    f3 = write_parquet(spark, str(tmp_path / "d3"), [(99, "z")], "id int, name string")
    tbl.commit_rewrite(
        [{"path": f3, "content": "DATA", "record_count": 1, "file_size_in_bytes": 1}],
        {f1},
    )
    with pytest.raises(ValueError, match="rewrite"):
        tbl.incremental_tasks(sid1)


@pytest.mark.slow
def test_metadata_tables_over_spec_metadata(spark, tmp_path, simple_schema):
    """The snapshots/files/history/refs metadata tables and file-level
    CDC read spec-format Avro metadata through the same surface as the
    JSON manifest."""
    from ic_spark.compaction.metadata_tables import (
        read_metadata_table,
        snapshot_diff,
    )

    loc = str(tmp_path / "tbl")
    tbl = IcebergTable.create(loc, simple_schema)
    f1 = write_parquet(spark, str(tmp_path / "d1"), [(1, "a")], "id int, name string")
    f2 = write_parquet(spark, str(tmp_path / "d2"), [(2, "b")], "id int, name string")
    sid1 = tbl.append_snapshot(
        [{"path": f1, "content": "DATA", "record_count": 1, "file_size_in_bytes": 11}]
    )
    tbl.set_ref("v1", sid1, ref_type="branch")
    sid2 = tbl.commit_rewrite(
        [{"path": f2, "content": "DATA", "record_count": 1, "file_size_in_bytes": 22}],
        {f1},
    )

    snaps = read_metadata_table(spark, tbl, "snapshots").collect()
    assert [(r.snapshot_id, r.is_current, r.data_files) for r in snaps] == [
        (sid1, "false", 1),
        (sid2, "true", 1),
    ]
    files = read_metadata_table(spark, tbl, "files").collect()
    assert [(r.path, r.content, r.file_size_in_bytes) for r in files] == [
        (f2, "DATA", 22)
    ]
    hist = read_metadata_table(spark, tbl, "history").collect()
    assert [(r.snapshot_id, r.parent_id, r.files_added, r.files_removed) for r in hist] == [
        (sid1, None, 1, 0),
        (sid2, sid1, 1, 1),
    ]
    refs = read_metadata_table(spark, tbl, "refs").collect()
    assert [(r.name, r.snapshot_id, r.type) for r in refs] == [(f"v1", sid1, "branch")]

    diff = snapshot_diff(spark, tbl, sid1).collect()
    assert {(r.change, r.path) for r in diff} == {("added", f2), ("removed", f1)}


@pytest.mark.slow
def test_full_compact_over_spec_metadata(spark, tmp_path):
    """The SAME orchestrator that drives the JSON manifest runs the full
    compact cycle over real Iceberg metadata."""
    from ic_spark.compaction import Compaction

    schema = spark.createDataFrame([], "id int, name string").schema
    loc = str(tmp_path / "tbl")
    tbl = IcebergTable.create(loc, schema)
    d1 = write_parquet(spark, str(tmp_path / "d1"),
                       [(i, f"a{i}") for i in range(10)], "id int, name string")
    d2 = write_parquet(spark, str(tmp_path / "d2"),
                       [(i, f"b{i}") for i in range(10, 20)], "id int, name string")
    tbl.append_snapshot([
        {"path": d1, "content": "DATA", "record_count": 10,
         "file_size_in_bytes": os.path.getsize(d1)},
        {"path": d2, "content": "DATA", "record_count": 10,
         "file_size_in_bytes": os.path.getsize(d2)},
    ])
    dl = write_parquet(spark, str(tmp_path / "del"), [(0,), (15,)], "id int")
    tbl.append_snapshot([
        {"path": dl, "content": "EQUALITY_DELETES", "equality_ids": ["id"],
         "record_count": 2, "file_size_in_bytes": os.path.getsize(dl)},
    ])
    resp = Compaction(spark).full_compact(tbl, schema, target_partitions=1)
    assert sum(f.record_count for f in resp.data_files) == 18

    data, pos, eq = tbl.scan_tasks()
    assert pos == [] and eq == []  # deletes consumed by the rewrite
    out = spark.read.parquet(*[t.data_file_path for t in data])
    ids = sorted(r.id for r in out.collect())
    assert ids == [i for i in range(20) if i not in (0, 15)]
    # rewrite snapshot recorded as a replace with inherited seq 3
    assert [t.sequence_number for t in data] == [3]
    snap = tbl._snapshot(None)
    assert snap["summary"]["operation"] == "replace"


# ------------------------------------------------- schema evolution ops


def test_update_schema_commits_new_schema_version(spark, tmp_path):
    import pyspark.sql.types as T

    schema = spark.createDataFrame([], "id int, bal float").schema
    tbl = IcebergTable.create(str(tmp_path / "tbl"), schema)
    tbl.rename_column("bal", "balance")
    tbl.promote_column("balance", T.DoubleType())
    tbl.promote_column("id", T.LongType())
    tbl.add_column("tag", T.StringType())
    meta = tbl.metadata()
    assert len(meta["schemas"]) == 5  # original + 4 evolutions
    assert meta["last-column-id"] == 3
    cur = tbl.schema()
    assert [(f.name, f.dataType.simpleString()) for f in cur.fields] == [
        ("id", "bigint"), ("balance", "double"), ("tag", "string"),
    ]
    # rename derived from history by FIELD ID
    assert tbl.name_mapping() == {"balance": ["bal"]}
    # illegal updates rejected
    with pytest.raises(ValueError, match="not an Iceberg widening"):
        tbl.promote_column("balance", T.IntegerType())
    with pytest.raises(ValueError, match="already exists"):
        tbl.add_column("tag", T.StringType())
    with pytest.raises(ValueError, match="no column"):
        tbl.rename_column("ghost", "x")


@pytest.mark.slow
def test_full_compact_upgrades_old_schema_files(spark, tmp_path):
    """End-to-end: files written under schema v0, table evolved
    (rename + widen + add), compaction with NO explicit schema rewrites
    everything under the current schema via the history name-mapping."""
    from ic_spark.compaction import Compaction

    old_schema = spark.createDataFrame([], "id int, bal float").schema
    loc = str(tmp_path / "tbl")
    tbl = IcebergTable.create(loc, old_schema)
    f_old = write_parquet(spark, str(tmp_path / "old"),
                          [(1, 1.5), (2, 2.5)], "id int, bal float")
    tbl.append_snapshot([
        {"path": f_old, "content": "DATA", "record_count": 2,
         "file_size_in_bytes": os.path.getsize(f_old)},
    ])
    import pyspark.sql.types as T

    tbl.rename_column("bal", "balance")
    tbl.promote_column("balance", T.DoubleType())
    tbl.promote_column("id", T.LongType())
    tbl.add_column("tag", T.StringType())
    f_new = write_parquet(spark, str(tmp_path / "new"),
                          [(3, 3.5, "x")], "id long, balance double, tag string")
    tbl.append_snapshot([
        {"path": f_new, "content": "DATA", "record_count": 1,
         "file_size_in_bytes": os.path.getsize(f_new)},
    ])
    resp = Compaction(spark).full_compact(tbl, target_partitions=1)
    assert sum(f.record_count for f in resp.data_files) == 3
    data, _, _ = tbl.scan_tasks()
    out = spark.read.parquet(*[t.data_file_path for t in data])
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("id", "bigint"), ("balance", "double"), ("tag", "string"),
    ]
    got = {r.id: (r.balance, r.tag) for r in out.collect()}
    assert got == {1: (1.5, None), 2: (2.5, None), 3: (3.5, "x")}


@pytest.mark.slow
def test_spec_branch_writes_and_fast_forward(spark, tmp_path, simple_schema):
    """Branch commits over spec metadata: refs move, main doesn't, and
    fast_forward proves ancestry via parent-snapshot-id."""
    from ic_spark.compaction.deletes import read_table
    from ic_spark.compaction.manifest import CommitConflictError

    loc = str(tmp_path / "br_tbl")
    tbl = IcebergTable.create(loc, simple_schema)
    f0 = write_parquet(spark, str(tmp_path / "br0"), [(1, "a")], "id int, name string")
    tbl.append_snapshot([{"path": f0, "content": "DATA", "record_count": 1,
                          "file_size_in_bytes": os.path.getsize(f0)}])
    main_head = tbl.current_snapshot_id()

    f1 = write_parquet(spark, str(tmp_path / "br1"), [(2, "b")], "id int, name string")
    tbl.append_snapshot([{"path": f1, "content": "DATA", "record_count": 1,
                          "file_size_in_bytes": os.path.getsize(f1)}], branch="audit")
    f2 = write_parquet(spark, str(tmp_path / "br2"), [(3, "c")], "id int, name string")
    tbl.append_snapshot([{"path": f2, "content": "DATA", "record_count": 1,
                          "file_size_in_bytes": os.path.getsize(f2)}], branch="audit")

    assert tbl.current_snapshot_id() == main_head  # main untouched
    assert read_table(spark, tbl).count() == 1
    assert read_table(spark, tbl, ref="audit").count() == 3
    assert tbl.metadata()["refs"]["audit"]["type"] == "branch"

    head = tbl.fast_forward("audit")
    assert tbl.current_snapshot_id() == head
    assert read_table(spark, tbl).count() == 3

    # diverge: branch then move main -> fast_forward conflicts
    f3 = write_parquet(spark, str(tmp_path / "br3"), [(4, "d")], "id int, name string")
    tbl.append_snapshot([{"path": f3, "content": "DATA", "record_count": 1,
                          "file_size_in_bytes": os.path.getsize(f3)}], branch="b2")
    f4 = write_parquet(spark, str(tmp_path / "br4"), [(5, "e")], "id int, name string")
    tbl.append_snapshot([{"path": f4, "content": "DATA", "record_count": 1,
                          "file_size_in_bytes": os.path.getsize(f4)}])
    with pytest.raises(CommitConflictError, match="ancestor"):
        tbl.fast_forward("b2")
    tbl.fast_forward("b2", force=True)
    assert read_table(spark, tbl).count() == 4
    with pytest.raises(ValueError, match="unknown branch"):
        tbl.fast_forward("ghost")


def test_coerce_partition_value_aware_timestamps_use_utc_epoch():
    """Iceberg timestamptz partition values store micros from the UTC
    epoch: an offset-aware datetime (or ISO string with an offset) must
    convert the INSTANT, not its wall-clock reading (r9 review find —
    an epoch carrying the value's own tzinfo yields wall micros, off
    by the UTC offset)."""
    import datetime as dt

    from ic_spark.compaction.iceberg_meta import _coerce_partition_value

    t = {"type": "long", "logicalType": "timestamp-micros"}
    utc_noon = 1717243200000000  # 2024-06-01T12:00:00Z
    ist = dt.timezone(dt.timedelta(hours=5, minutes=30))
    assert _coerce_partition_value(
        t, dt.datetime(2024, 6, 1, 12, tzinfo=dt.timezone.utc)
    ) == utc_noon
    # Same instant spelled in IST wall-clock.
    assert _coerce_partition_value(
        t, dt.datetime(2024, 6, 1, 17, 30, tzinfo=ist)
    ) == utc_noon
    assert _coerce_partition_value(
        t, "2024-06-01 17:30:00+05:30"
    ) == utc_noon
    # Naive values keep exact naive-epoch arithmetic (UTC sessions).
    assert _coerce_partition_value(t, "2024-06-01 12:00:00") == utc_noon


def test_set_remove_properties_roundtrip(tmp_path, simple_schema):
    """UpdateProperties surface (r12): merge + remove as single
    commits, version-then-metadata discipline, properties() view."""
    from ic_spark.compaction.iceberg_meta import IcebergTable

    tbl = IcebergTable.create(
        str(tmp_path / "pt"), simple_schema,
        properties={"owner": "a"},
    )
    v1 = tbl.version()
    tbl.set_properties({"commit.single-writer": "true", "owner": "b"})
    assert tbl.version() == v1 + 1
    assert tbl.properties() == {
        "owner": "b", "commit.single-writer": "true"
    }
    tbl.remove_properties(["owner", "not-there"])
    assert tbl.properties() == {"commit.single-writer": "true"}
    with pytest.raises(ValueError, match="empty"):
        tbl.set_properties({})


def test_set_properties_declares_single_writer_on_remote_root(tmp_path, simple_schema):
    """The documented migration path: a single_writer=True handle
    declares commit.single-writer on an EXISTING remote-root table,
    after which undeclared handles commit."""
    import pyarrow.fs as pafs

    from ic_spark.compaction.iceberg_meta import IcebergTable
    from ic_spark.compaction.metafs import UnsafeRemoteCommitError

    fio = {
        "pyarrow_filesystem": pafs.SubTreeFileSystem(
            "/", pafs.LocalFileSystem()
        )
    }
    loc = str(tmp_path / "rt")
    IcebergTable.create(loc, simple_schema, file_io=fio, single_writer=True)

    undeclared = IcebergTable(loc, file_io=fio)
    with pytest.raises(UnsafeRemoteCommitError):
        undeclared.set_properties({"x": "1"})

    declaring = IcebergTable(loc, file_io=fio, single_writer=True)
    declaring.set_properties({"commit.single-writer": "true"})
    # now the property travels with the table: undeclared handles commit
    undeclared.set_properties({"x": "1"})
    assert undeclared.properties()["x"] == "1"
