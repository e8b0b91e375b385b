"""Iceberg CALL-procedure façade (compaction/procedures.py)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from ic_spark.compaction import ManifestTable
from ic_spark.compaction.deletes import read_table, write_equality_deletes
from ic_spark.compaction.procedures import call
from ic_spark.compaction.writer import _stats_from_footer


@pytest.fixture()
def proc_table(spark, tmp_path):
    table = ManifestTable(str(tmp_path / "tbl"))
    entries = []
    for i in range(3):  # three small files → binpack fodder
        d = str(tmp_path / f"d{i}")
        spark.range(i * 20, (i + 1) * 20).coalesce(1).write.parquet(d)
        f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
        rc, cs, _ = _stats_from_footer(f, d)
        entries.append(
            {"path": f, "sequence_number": 1, "content": "DATA",
             "file_size_in_bytes": os.path.getsize(f),
             "record_count": rc, "column_stats": cs}
        )
    table.append_snapshot(entries)
    return table


def test_call_dispatch_and_maintenance_cycle(spark, proc_table):
    table = proc_table
    write_equality_deletes(
        spark, table, spark.createDataFrame([(5,)], "id long"), ["id"]
    )
    out = call(spark, "convert_equality_deletes", table=table, to_dvs=True)
    assert out["delete_rows"] == 1
    out = call(spark, "system.rewrite_data_files", table=table, strategy="binpack")
    assert out["rewritten_data_files_count"] == 3
    out = call(spark, "rewrite_data_files", table=table, strategy="full")
    assert out["added_data_files_count"] >= 1
    assert read_table(spark, table).count() == 59

    out = call(spark, "expire_snapshots", table=table)
    assert out["deleted_data_files_count"] > 0
    out = call(spark, "analyze_table", table=table)
    assert out["row-count"] == 59

    anc = call(spark, "ancestors_of", table=table)
    assert anc["snapshot_ids"][-1] == table.current_snapshot().snapshot_id

    with pytest.raises(ValueError, match="unknown procedure"):
        call(spark, "mystery", table=table)
    with pytest.raises(ValueError, match="binpack\\|full"):
        call(spark, "rewrite_data_files", table=table, strategy="sort")


def test_call_rollback_to_snapshot(spark, proc_table, tmp_path):
    """Rollback points main at an earlier snapshot on BOTH flavors."""
    from ic_spark.compaction.iceberg_meta import IcebergTable

    table = proc_table
    first = table.current_snapshot().snapshot_id
    d = str(tmp_path / "extra")
    spark.range(500, 510).coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    table.append_snapshot(
        [{"path": f, "sequence_number": 2, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(f)}]
    )
    assert read_table(spark, table).count() == 70
    out = call(spark, "rollback_to_snapshot", table=table, snapshot_id=first)
    assert out["current_snapshot_id"] == first
    assert read_table(spark, table).count() == 60
    with pytest.raises(ValueError, match="not found"):
        call(spark, "rollback_to_snapshot", table=table, snapshot_id=999)

    df = spark.range(5)
    spec = IcebergTable.create(str(tmp_path / "rb_spec"), df.schema)
    d2 = str(tmp_path / "rb_seed")
    df.coalesce(1).write.parquet(d2)
    f2 = next(os.path.join(d2, n) for n in os.listdir(d2) if n.endswith(".parquet"))
    spec.append_snapshot([{"path": f2, "content": "DATA", "record_count": 5,
                           "file_size_in_bytes": os.path.getsize(f2)}])
    s1 = spec.current_snapshot_id()
    spec.append_snapshot([{"path": f2, "content": "DATA", "record_count": 5,
                           "file_size_in_bytes": os.path.getsize(f2)}])
    assert read_table(spark, spec).count() == 10
    spec.rollback_to_snapshot(s1)
    assert read_table(spark, spec).count() == 5


def test_call_fast_forward(spark, proc_table, tmp_path):
    table = proc_table
    d = str(tmp_path / "branchfile")
    spark.range(100, 105).coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    table.append_snapshot(
        [{"path": f, "sequence_number": 2, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(f)}],
        branch="wip",
    )
    out = call(spark, "fast_forward", table=table, branch="wip")
    assert out["latest_snapshot_id"] == table.current_snapshot().snapshot_id
    assert read_table(spark, table).count() == 65


def test_ancestors_of_excludes_branch_and_staged(spark, tmp_path):
    """ancestors_of must walk recorded parents: unmerged branch commits
    and staged (WAP) snapshots are NOT ancestors of main commits
    (r9 review find — list-order slicing reported them)."""
    table = ManifestTable(str(tmp_path / "anc"))

    def seed(tag, **kw):
        df = spark.range(0, 3)
        d = str(tmp_path / f"anc_{tag}")
        df.coalesce(1).write.parquet(d)
        f = next(
            os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")
        )
        rc, cs, _ = _stats_from_footer(f, d)
        return table.append_snapshot(
            [{"path": f, "sequence_number": 1, "content": "DATA",
              "file_size_in_bytes": os.path.getsize(f),
              "record_count": rc, "column_stats": cs}],
            **kw,
        )

    s1 = seed("m1")
    s2 = seed("m2")
    b1 = seed("b1", branch="audit")  # unmerged branch commit
    w1 = seed("w1", stage=True)  # staged WAP snapshot
    s3 = seed("m3")
    got = call(spark, "ancestors_of", table=table)["snapshot_ids"]
    assert got == [s1, s2, s3]
    assert b1 not in got and w1 not in got
    # explicit older snapshot: prefix only
    assert call(spark, "ancestors_of", table=table, snapshot_id=s2)[
        "snapshot_ids"
    ] == [s1, s2]


def test_rollback_returns_previous_snapshot_id(spark, proc_table):
    before = proc_table.current_snapshot().snapshot_id
    first = proc_table.snapshots()[0].snapshot_id
    out = call(spark, "rollback_to_snapshot", table=proc_table,
               snapshot_id=first)
    assert out["previous_snapshot_id"] == before
    assert out["current_snapshot_id"] == first


def test_create_changelog_view_rejects_unknown_options(spark, proc_table):
    first = proc_table.snapshots()[0].snapshot_id
    with pytest.raises(ValueError, match="unknown options"):
        call(
            spark, "create_changelog_view", table=proc_table,
            from_snapshot_id=first, compute_update_rows=True,  # typo'd name
        )


def test_call_remove_orphan_files(spark, proc_table, tmp_path):
    """``older_than_ms`` / ``dry_run`` reach the table as its age in
    seconds and its delete switch: fresh orphans are kept under the
    default age, listed at age 0, and deleted only with dry_run=False,
    on both metadata flavors."""
    import pyspark.sql.types as T

    from ic_spark.compaction.iceberg_meta import IcebergTable

    table = proc_table
    stray_dir = os.path.join(table.root, "aborted")
    spark.range(3).coalesce(1).write.parquet(stray_dir)
    stray = next(
        os.path.join(stray_dir, n)
        for n in os.listdir(stray_dir)
        if n.endswith(".parquet")
    )
    out = call(spark, "remove_orphan_files", table=table)
    assert out == {"orphan_file_location_count": 0, "paths": []}
    out = call(spark, "remove_orphan_files", table=table, older_than_ms=0)
    assert out["paths"] == [os.path.abspath(stray)]
    assert os.path.exists(stray)
    out = call(
        spark, "remove_orphan_files", table=table, older_than_ms=0, dry_run=False
    )
    assert out["orphan_file_location_count"] == 1
    assert not os.path.exists(stray)
    # The spec flavor sweeps the same way: a committed file is kept,
    # the stray one is listed and, with dry_run=False, deleted.
    spec = IcebergTable.create(
        str(tmp_path / "spec"), T.StructType([T.StructField("id", T.LongType())])
    )
    paths = {}
    for name in ("live", "aborted"):
        d = os.path.join(spec.root, name)
        spark.range(3).coalesce(1).write.parquet(d)
        paths[name] = next(
            os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")
        )
    spec.append_snapshot([{"path": paths["live"], "content": "DATA",
                           "record_count": 3, "file_size_in_bytes": 1}])
    out = call(spark, "remove_orphan_files", table=spec, older_than_ms=0)
    assert out["paths"] == [os.path.abspath(paths["aborted"])]
    call(spark, "remove_orphan_files", table=spec, older_than_ms=0, dry_run=False)
    assert not os.path.exists(paths["aborted"])
    assert os.path.exists(paths["live"])
