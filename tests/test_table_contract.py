"""The table contract (``ic_spark/table.py`` module docstring): the JSON
``ManifestTable``, the spec ``IcebergTable`` and the catalog-backed
``SqlCatalogTable`` expose one method surface, so callers never ask which
flavor they hold.  The contract tests are metadata-only; the parity test
drives one op sequence through ``Table`` on both flavors and compares
what the shared table model plans and reports."""

from __future__ import annotations

import inspect

import pyspark.sql.types as T
import pytest

from ic_spark.compaction.iceberg_meta import IcebergTable
from ic_spark.compaction.manifest import ManifestTable
from ic_spark.compaction.sql_catalog import SqlCatalog, SqlCatalogTable

CONTRACT = (
    "schema",
    "name_mapping",
    "schema_history",
    "current_snapshot_id",
    "next_sequence_number",
    "default_sort_order",
    "count_rows",
    "statistics",
    "register_statistics",
    "ancestor_ids",
    "main_log",
    "scan_tasks",
    "incremental_tasks",
    "append_snapshot",
    "commit_rewrite",
    "rollback_to_snapshot",
    "fast_forward",
    "expire_snapshots",
    "snapshot_id_as_of",
    "refs",
    "resolve_ref",
    "remove_ref",
    "set_ref",
    "default_spec_id",
    "partition_spec",
    "update_partition_spec",
    "add_column",
    "rename_column",
    "promote_column",
    "drop_column",
    "move_column",
    "make_optional",
    "enable_row_lineage",
    "stream_batch_hwm",
    "mark_stream_batch",
    "remove_orphan_files",
)
PROPERTIES = ("row_lineage", "next_row_id")
SCHEMA = T.StructType([T.StructField("id", T.LongType())])


def _make(flavor: str, tmp_path):
    root = str(tmp_path / "t")
    if flavor == "json":
        t = ManifestTable(root)
        t.register_schema(SCHEMA)
        return t
    if flavor == "spec":
        return IcebergTable.create(root, SCHEMA)
    cat = SqlCatalog(str(tmp_path / "cat.db"), str(tmp_path / "wh"))
    cat.create_namespace("ns")
    return cat.create_table("ns", "t", SCHEMA)


def _recorded_seq(t, snapshot_id: int, path: str) -> int:
    data, _, _ = t.scan_tasks(snapshot_id)
    return next(x.sequence_number for x in data if x.data_file_path == path)


@pytest.mark.parametrize(
    "flavor, cls",
    [("json", ManifestTable), ("spec", IcebergTable), ("sql", SqlCatalogTable)],
)
def test_table_contract(flavor, cls, tmp_path):
    for name in CONTRACT:
        assert inspect.signature(getattr(cls, name)) == inspect.signature(
            getattr(ManifestTable, name)
        ), name
    for name in PROPERTIES:
        assert isinstance(getattr(cls, name), property), name

    t = _make(flavor, tmp_path)
    assert type(t) is cls
    assert t.current_snapshot_id() is None
    assert t.default_sort_order() == (0, [])

    def append(i: int, branch: str | None) -> tuple[int, int]:
        seq = t.next_sequence_number(branch)
        path = str(tmp_path / f"f{i}.parquet")
        entry = {"path": path, "content": "DATA", "sequence_number": seq,
                 "record_count": 1, "file_size_in_bytes": 1}
        sid = t.append_snapshot([entry], branch=branch)
        assert _recorded_seq(t, sid, path) == seq, (branch, i)
        return sid, seq

    s1, q1 = append(1, None)
    assert t.current_snapshot_id() == s1
    s2, q2 = append(2, None)
    assert q2 > q1
    assert t.current_snapshot_id() == s2
    # Successive commits on one branch record strictly increasing
    # sequence numbers taken from the branch head, and main stays put.
    b1, qb1 = append(3, "b")
    b2, qb2 = append(4, "b")
    assert q2 < qb1 < qb2
    assert t.current_snapshot_id() == s2
    assert t.ancestor_ids(b2) == [s1, s2, b1, b2]
    s3, q3 = append(5, None)
    assert q3 > q2

    t.rollback_to_snapshot(s1)
    assert t.current_snapshot_id() == s1
    assert t.ancestor_ids(s1) == [s1]
    assert [sid for sid, _ in t.main_log()][-1] == s1


@pytest.mark.parametrize("flavor", ["json", "spec", "sql"])
def test_ref_types(flavor, tmp_path):
    """A branch commit records a branch and ``set_ref`` records the type
    it is given, on every flavor; a plain ``set_ref`` is a tag."""
    t = _make(flavor, tmp_path)
    entry = {"path": str(tmp_path / "f.parquet"), "content": "DATA",
             "sequence_number": 1, "record_count": 1, "file_size_in_bytes": 1}
    s1 = t.append_snapshot([entry])
    dev = t.append_snapshot([{**entry, "path": str(tmp_path / "g.parquet")}],
                            branch="dev")
    t.set_ref("v1", s1)
    t.set_ref("audit", s1, ref_type="branch")
    assert t.model_state().refs == {
        "dev": (dev, "branch"), "v1": (s1, "tag"), "audit": (s1, "branch"),
    }
    t.set_ref("audit", s1)  # re-pointed as a tag
    t.remove_ref("dev")
    assert t.model_state().refs == {"v1": (s1, "tag"), "audit": (s1, "tag")}
    with pytest.raises(ValueError, match="tag|branch"):
        t.set_ref("x", s1, ref_type="head")


def _append_file(t, root: str, name: str, cols: dict, **entry) -> int:
    """Commit one pyarrow-written data file (footer stats included) as
    a snapshot of its own."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ic_spark.compaction.writer import _stats_from_footer

    d = os.path.join(root, "data")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, name)
    pq.write_table(pa.table(cols), path)
    rc, cs, _ = _stats_from_footer(path, d)
    return t.append_snapshot([{
        "path": path, "content": "DATA", "record_count": rc,
        "column_stats": cs, "file_size_in_bytes": os.path.getsize(path),
        "sequence_number": t.next_sequence_number(), **entry,
    }])


def _parity_ops(spark, root: str, spec_metadata: bool):
    """One op sequence: append; add plus rename (a second and third
    schema); partition-spec evolution and a partitioned append; an
    upsert; position deletes; one deletion vector; a tag, and a branch
    commit.  Returns the table and the snapshot ids of the two appends."""
    import pyarrow as pa
    import pyspark.sql.functions as F

    from ic_spark.table import Table

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = Table.create(spark, root, schema, spec_metadata=spec_metadata)
    s1 = _append_file(t.inner, root, "base.parquet", {
        "k": pa.array(range(8), pa.int64()), "v": [f"a{i}" for i in range(8)],
    })
    t.add_column("w", T.LongType())
    t.rename_column("v", "v2")
    t.update_partition_spec([{"name": "k_trunc", "source": "k",
                              "transform": "truncate", "width": 10,
                              "source_type": "long"}])
    s2 = _append_file(t.inner, root, "k_trunc-10.parquet", {
        "k": pa.array([10, 11, 12], pa.int64()), "v2": ["p10", "p11", "p12"],
        "w": pa.array([1, 2, 3], pa.int64()),
    }, partition={"k_trunc": 10}, spec_id=1)
    batch = spark.createDataFrame(
        [(3, "b3", 30), (20, "b20", 200)], t.inner.schema()
    ).coalesce(1)
    t.upsert(batch, ["k"])
    t.write_position_deletes(F.col("k") == 5)
    t.write_deletion_vectors(F.col("k") == 11)
    t.set_ref("v1", s1)
    t.inner.append_snapshot([], branch="dev")
    return t.inner, s1, s2


@pytest.fixture(scope="module")
def parity(spark, tmp_path_factory):
    """{flavor: (table root, table, first append, second append)} after
    the same op sequence on both flavors."""
    out = {}
    for flavor in ("json", "spec"):
        root = str(tmp_path_factory.mktemp("parity") / flavor)
        out[flavor] = (root, *_parity_ops(spark, root, flavor == "spec"))
    return out


def _norm(value, root: str):
    """A path with its table root and random ids taken out."""
    import re

    if not isinstance(value, str):
        return value
    value = value.replace(root, "<root>")
    return re.sub(r"[0-9a-f]{8}-[0-9a-f-]{27}|[0-9a-f]{12,}", "<id>", value)


def _tasks(tasks, root: str) -> list:
    """Task fields both flavors must agree on.  Null partition values
    are left out: the spec flavor's partition struct holds every field
    of the file's spec, null where the file records none."""
    return sorted(
        (_norm(x.data_file_path, root), x.sequence_number, x.content.name,
         x.equality_ids,
         sorted((k, v) for k, v in (x.partition_values or {}).items() if v is not None),
         x.record_count, x.write_schema_id)
        for x in tasks
    )


def _both(parity, fn) -> tuple:
    return tuple(fn(*parity[flavor]) for flavor in ("json", "spec"))


def test_parity_scan_tasks(parity):
    """Both flavors plan the same data, position- and equality-delete
    tasks: sequence numbers, names of renamed keys, partition values,
    deletion-vector counts and write schemas."""
    js, sp = _both(parity, lambda root, t, s1, s2: [
        _tasks(part, root) for part in t.scan_tasks()
    ])
    assert js == sp
    data, pos, eq = js
    assert len(data) == 3 and len(pos) == 2
    assert [x[3] for x in eq] == [("k",)]
    assert {x[6] for x in data} == {0, 2}


@pytest.mark.parametrize(
    "data_filter, survivors",
    [([("k", ">=", 20)], 1), ([("k", "<", 10)], 2)],
    ids=["stats", "partition"],
)
def test_parity_pruning(parity, data_filter, survivors):
    """A stats predicate and a partition predicate prune the same data
    files on both flavors."""
    js, sp = _both(parity, lambda root, t, s1, s2: [
        _tasks(part, root) for part in t.scan_tasks(data_filter=data_filter)
    ])
    assert js == sp
    assert len(js[0]) == survivors


def test_parity_incremental_and_count(parity):
    js, sp = _both(parity, lambda root, t, s1, s2: (
        _tasks(t.incremental_tasks(s1, s2), root),
        (t.count_rows(s1), t.count_rows(s2), t.count_rows()),
    ))
    assert js == sp
    assert js[1] == (8, 11, None)
    for _, t, s1, _ in parity.values():
        with pytest.raises(ValueError, match="delete file"):
            t.incremental_tasks(s1)


@pytest.mark.parametrize("kind, ignored", [
    ("files", ()),
    ("delete_files", ()),
    ("snapshots", ("snapshot_id", "timestamp_ms")),
    ("history", ("snapshot_id", "timestamp_ms", "parent_id")),
    ("refs", ("snapshot_id",)),
])
def test_parity_metadata_tables(spark, parity, kind, ignored):
    """Both flavors report the same metadata tables, snapshot ids and
    timestamps aside."""
    from ic_spark.compaction.metadata_tables import read_metadata_table

    def rows(root, t, s1, s2):
        return sorted(
            tuple(_norm(v, root) for k, v in r.asDict().items() if k not in ignored)
            for r in read_metadata_table(spark, t, kind).collect()
        )

    js, sp = _both(parity, rows)
    assert js == sp
    if kind == "refs":
        assert js == [("dev", "branch"), ("v1", "tag")]


@pytest.mark.parametrize("flavor", ["json", "spec", "sql"])
def test_equality_delete_on_unknown_column_refused(flavor, tmp_path):
    """An equality-delete key naming no column of the schema is refused
    on every flavor: dropping it would narrow the key and delete more
    rows than asked."""
    t = _make(flavor, tmp_path)
    entry = {"path": str(tmp_path / "eq.parquet"), "content": "EQUALITY_DELETES",
             "equality_ids": ["id", "zz"], "record_count": 1,
             "file_size_in_bytes": 1, "sequence_number": 1}
    with pytest.raises(ValueError, match="zz"):
        t.append_snapshot([entry])
    assert t.current_snapshot_id() is None
    t.append_snapshot([{**entry, "equality_ids": ["id"]}])
    _, _, eq = t.scan_tasks()
    assert [x.equality_ids for x in eq] == [("id",)]


@pytest.mark.parametrize("flavor", ["json", "spec", "sql"])
def test_deletion_vector_file_decodes_once(flavor, tmp_path):
    """A puffin holding vectors for two data files is one live file on
    every flavor, with both vectors and their summed cardinality."""
    t = _make(flavor, tmp_path)
    data = [{"path": str(tmp_path / f"d{i}.parquet"), "content": "DATA",
             "record_count": 5, "file_size_in_bytes": 1, "sequence_number": 1}
            for i in range(2)]
    t.append_snapshot(data)
    dvs = {d["path"]: {"offset": 4 + 10 * i, "length": 10, "cardinality": i + 1}
           for i, d in enumerate(data)}
    t.append_snapshot([{"path": str(tmp_path / "dv.puffin"),
                        "content": "POSITION_DELETES", "file_format": "puffin",
                        "record_count": 3, "file_size_in_bytes": 40,
                        "sequence_number": 2, "deletion_vectors": dvs}])
    files = t.live_files()
    assert len(files) == 3
    (dv,) = [f for f in files if f.get("deletion_vectors")]
    assert dv["deletion_vectors"] == dvs and dv["record_count"] == 3
    _, pos, _ = t.scan_tasks()
    assert [x.record_count for x in pos] == [3]


@pytest.mark.parametrize("flavor", ["json", "spec", "sql"])
def test_one_rule_per_commit_decision(flavor, tmp_path):
    """Partition-spec and fast-forward checks decide alike on every
    flavor: an identity field may carry its source's name, a derived one
    may not, an unknown source is refused, and a tag is not a branch."""
    t = _make(flavor, tmp_path)
    assert t.update_partition_spec([{"name": "id", "transform": "identity"}]) == 1
    with pytest.raises(ValueError, match="differ from source"):
        t.update_partition_spec([{"name": "id", "transform": "bucket", "n": 4}])
    with pytest.raises(ValueError, match="unknown source column: nope"):
        t.update_partition_spec([{"name": "p", "source": "nope",
                                  "transform": "identity"}])
    sid = t.append_snapshot([{"path": str(tmp_path / "f.parquet"),
                              "content": "DATA", "record_count": 1,
                              "file_size_in_bytes": 1, "sequence_number": 1}])
    t.set_ref("v1", sid)
    with pytest.raises(ValueError, match="unknown branch"):
        t.fast_forward("v1")
