"""The table contract (``ic_spark/table.py`` module docstring): the JSON
``ManifestTable``, the spec ``IcebergTable`` and the catalog-backed
``SqlCatalogTable`` expose one method surface, so callers never ask which
flavor they hold.  Metadata-only: no Spark job runs here."""

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
    "commit_rewrite",
    "rollback_to_snapshot",
    "fast_forward",
    "expire_snapshots",
    "snapshot_id_as_of",
    "refs",
    "resolve_ref",
    "remove_ref",
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
