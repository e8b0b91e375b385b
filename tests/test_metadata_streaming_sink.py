"""Metadata tables, snapshot diff, and the streaming append sink."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from ic_spark.compaction.deletes import read_table, write_equality_deletes
from ic_spark.compaction.manifest import ManifestTable
from ic_spark.compaction.metadata_tables import read_metadata_table, snapshot_diff
from ic_spark.streaming.sink import manifest_append_sink


def _mk_table(spark, tmp_path, rows, name):
    table = ManifestTable(str(tmp_path / name))
    out = str(tmp_path / f"{name}-data")
    spark.range(rows).withColumn("v", F.col("id") * 2).coalesce(1).write.parquet(out)
    files = [
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    ]
    table.append_snapshot(
        [
            {
                "path": p,
                "sequence_number": 1,
                "content": "DATA",
                "file_size_in_bytes": os.path.getsize(p),
            }
            for p in files
        ]
    )
    return table


def test_metadata_snapshots_files_history(spark, tmp_path):
    table = _mk_table(spark, tmp_path, 10, "meta")
    write_equality_deletes(
        spark, table, spark.range(2).select(F.col("id")), ["id"]
    )

    snaps = read_metadata_table(spark, table, "snapshots").collect()
    assert [s.snapshot_id for s in snaps] == [1, 2]
    assert [s.is_current for s in snaps] == ["false", "true"]
    assert snaps[1].data_files == 1
    assert snaps[1].equality_delete_files == 1
    assert snaps[1].total_size_bytes > 0

    files = read_metadata_table(spark, table, "files")
    by_content = {r.content: r for r in files.collect()}
    assert set(by_content) == {"DATA", "EQUALITY_DELETES"}
    assert by_content["EQUALITY_DELETES"].equality_ids == ["id"]
    # Metadata is queryable like any relation.
    assert files.where(F.col("content") == "DATA").count() == 1

    hist = read_metadata_table(spark, table, "history").collect()
    assert [(h.snapshot_id, h.parent_id) for h in hist] == [(1, None), (2, 1)]
    assert hist[1].files_added == 1 and hist[1].files_removed == 0


def test_snapshot_diff_added_removed(spark, tmp_path):
    table = _mk_table(spark, tmp_path, 10, "diff")
    write_equality_deletes(spark, table, spark.range(3), ["id"])
    diff = {
        (r.change, r.content)
        for r in snapshot_diff(spark, table, 1).collect()
    }
    assert diff == {("added", "EQUALITY_DELETES")}


def test_streaming_append_sink_exactly_once(spark, tmp_path):
    # Three single-file inputs -> maxFilesPerTrigger=1 gives three
    # micro-batches under availableNow.
    src = str(tmp_path / "src")
    for i in range(3):
        spark.range(i * 10, (i + 1) * 10).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    table = ManifestTable(str(tmp_path / "sink_tbl"))
    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(manifest_append_sink(table))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    snaps = table.snapshots()
    assert len(snaps) == 3, [s.snapshot_id for s in snaps]
    got = sorted(r.id for r in read_table(spark, table).collect())
    assert got == list(range(30))

    # Replay of a committed batch id must be a no-op (foreachBatch is
    # at-least-once; the manifest is the commit log).
    sink = manifest_append_sink(table)
    sink(spark.range(5), 2)
    assert len(table.snapshots()) == 3
    assert sorted(r.id for r in read_table(spark, table).collect()) == list(
        range(30)
    )

    # A genuinely new batch id commits.
    sink(spark.range(30, 35).coalesce(1), 3)
    assert len(table.snapshots()) == 4
    assert sorted(r.id for r in read_table(spark, table).collect()) == list(
        range(35)
    )


@pytest.mark.slow
def test_streaming_dedup_append_sink(spark, tmp_path):
    """Dedup-on-ingest: each micro-batch is deduped against the
    committed corpus and within itself before appending."""
    from ic_spark.streaming.sink import manifest_dedup_append_sink

    src = str(tmp_path / "dsrc")
    # Batch files arrive in name order (FileStreamSource sorts): batch 0
    # has an internal dup (ids 1/2 share text), batch 1 re-sends "aa"
    # and adds fresh "cc".
    spark.createDataFrame(
        [(0, "aa"), (1, "bb"), (2, "bb")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/b0")
    spark.createDataFrame(
        [(10, "aa"), (11, "cc")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src + "/b1")

    table = ManifestTable(str(tmp_path / "dedup_tbl"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src + "/*")
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(manifest_dedup_append_sink(table, "text", "doc_id"))
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {(r.doc_id, r.text) for r in read_table(spark, table).collect()}
    # Batch order isn't guaranteed between b0/b1 globs, but either order
    # keeps exactly one row per distinct text with the batch-local min id.
    texts = sorted(t for _, t in got)
    assert texts == ["aa", "bb", "cc"]
    by_text = {t: i for i, t in got}
    assert by_text["bb"] == 1  # min-id survivor within its batch
    assert by_text["aa"] in (0, 10) and by_text["cc"] == 11

    # Replay of a committed batch id is a no-op.
    sink = manifest_dedup_append_sink(table, "text", "doc_id")
    sink(spark.createDataFrame([(99, "zz")], "doc_id long, text string"), 0)
    assert {t for _, t in
            {(r.doc_id, r.text) for r in read_table(spark, table).collect()}
            } == {"aa", "bb", "cc"}


def test_refs_protect_snapshots_and_vacuum(spark, tmp_path):
    table = _mk_table(spark, tmp_path, 10, "refs")
    write_equality_deletes(spark, table, spark.range(2), ["id"])  # snap 2
    write_equality_deletes(spark, table, spark.range(4), ["id"])  # snap 3

    table.set_ref("before-deletes", 1)
    with pytest.raises(ValueError):
        table.set_ref("nope", 99)

    orphans = table.expire_snapshots()
    # Snapshot 2's delete file is referenced by snapshot 3 (cumulative
    # file list), so nothing is orphaned; snapshots 1 and 3 survive.
    assert orphans == []
    assert [s.snapshot_id for s in table.snapshots()] == [1, 3]

    # The tagged snapshot is addressable by name and readable.
    assert table.resolve_ref("before-deletes") == 1
    got = sorted(r.id for r in read_table(spark, table, ref="before-deletes").collect())
    assert got == list(range(10))
    # Current view applies both delete sets.
    assert sorted(r.id for r in read_table(spark, table).collect()) == list(range(4, 10))

    # Dropping the ref exposes snapshot 1's files... but they live
    # OUTSIDE the table root (shared fixture dir) -> vacuum skips them.
    table.remove_ref("before-deletes")
    deleted, skipped = table.vacuum()
    assert deleted == []  # eq-del files of snap 2/3 are still live
    assert skipped == []  # data file is still in the current snapshot
    assert [s.snapshot_id for s in table.snapshots()] == [3]


def test_vacuum_unlinks_only_table_local_orphans(spark, tmp_path):
    table = _mk_table(spark, tmp_path, 6, "vac")
    write_equality_deletes(spark, table, spark.range(1), ["id"])  # snap 2, in-root
    eq_path = [
        f["path"] for f in table.current_snapshot().files
        if f["content"] == "EQUALITY_DELETES"
    ][0]
    assert eq_path.startswith(str(tmp_path / "vac"))
    # Replace table contents entirely: a rewrite commit removing everything.
    out = str(tmp_path / "vac" / "newdata")
    spark.range(100, 104).coalesce(1).write.parquet(out)
    new_files = [
        {"path": os.path.join(out, f), "sequence_number": 3, "content": "DATA",
         "file_size_in_bytes": 1}
        for f in os.listdir(out) if f.endswith(".parquet")
    ]
    removed = {f["path"] for f in table.current_snapshot().files}
    table.commit_rewrite(new_files, removed)

    deleted, skipped = table.vacuum()
    # The in-root equality-delete file is physically gone; the original
    # data file (outside the table root) is skipped, not unlinked.
    assert eq_path in deleted and not os.path.exists(eq_path)
    assert len(skipped) == 1 and os.path.exists(skipped[0])
    assert sorted(r.id for r in read_table(spark, table).collect()) == [100, 101, 102, 103]


@pytest.mark.slow
def test_streaming_upsert_sink_cdc(spark, tmp_path):
    """Keyed micro-batches upsert: later batches replace same-key rows,
    replays are no-ops, and the final state equals last-writer-wins."""
    from ic_spark.streaming.sink import manifest_upsert_sink

    table = ManifestTable(str(tmp_path / "ups_tbl"))
    sink = manifest_upsert_sink(table, ["id"])

    mk = lambda rows: spark.createDataFrame(rows, "id long, v string")
    sink(mk([(1, "a1"), (2, "a2"), (3, "a3")]), 0)
    sink(mk([(2, "b2"), (4, "b4")]), 1)

    got = sorted((r.id, r.v) for r in read_table(spark, table).collect())
    assert got == [(1, "a1"), (2, "b2"), (3, "a3"), (4, "b4")]

    # Replay of batch 1 (at-least-once foreachBatch): no new snapshot.
    n = len(table.snapshots())
    sink(mk([(2, "XX"), (4, "XX")]), 1)
    assert len(table.snapshots()) == n
    assert sorted((r.id, r.v) for r in read_table(spark, table).collect()) == got

    # Empty micro-batch: no-op.
    sink(mk([]), 2)
    assert len(table.snapshots()) == n

    # Through a real stream: per-row files -> one micro-batch per file.
    src = str(tmp_path / "ups_src")
    mk([(3, "c3")]).coalesce(1).write.mode("append").parquet(src)
    mk([(5, "c5")]).coalesce(1).write.mode("append").parquet(src)
    q = (
        spark.readStream.schema("id long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.outputMode("append")
        .foreachBatch(manifest_upsert_sink(table, ["id"], name="s2"))
        .option("checkpointLocation", str(tmp_path / "ups_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final = dict(
        (r.id, r.v) for r in read_table(spark, table).collect()
    )
    assert final[3] == "c3" and final[5] == "c5"
    assert final[1] == "a1" and final[2] == "b2" and final[4] == "b4"


def test_write_audit_publish(spark, tmp_path):
    """WAP: a staged append is invisible to readers, auditable by
    snapshot id, published atomically after validation, and conflicts
    if the table moved since staging."""
    from ic_spark.compaction.manifest import CommitConflictError

    table = _mk_table(spark, tmp_path, 5, "wap")

    d = str(tmp_path / "wap_new")
    spark.range(100, 103).coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    sid = table.append_snapshot(
        [{"path": f, "sequence_number": 2, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(f)}],
        stage=True,
    )

    # Readers still see the old table; the staged snapshot is auditable.
    assert sorted(r.id for r in read_table(spark, table).collect()) == list(range(5))
    audited = sorted(r.id for r in read_table(spark, table, snapshot_id=sid).collect())
    assert audited == list(range(5)) + [100, 101, 102]

    table.publish_snapshot(sid)
    assert table.current_snapshot().snapshot_id == sid
    assert sorted(r.id for r in read_table(spark, table).collect()) == audited
    with pytest.raises(ValueError, match="not staged"):
        table.publish_snapshot(sid)

    # Stage again, move the table concurrently -> publish conflicts.
    sid2 = table.append_snapshot(
        [{"path": f, "sequence_number": 3, "content": "DATA",
          "file_size_in_bytes": 1}],
        stage=True,
    )
    write_equality_deletes(spark, table, spark.range(1), ["id"])  # moves current
    with pytest.raises(CommitConflictError, match="moved since staging"):
        table.publish_snapshot(sid2)
    table.publish_snapshot(sid2, force=True)  # caller re-audited
    assert table.current_snapshot().snapshot_id == sid2

    # refs metadata table exposes tags.
    from ic_spark.compaction.metadata_tables import read_metadata_table
    table.set_ref("audit-base", 1)
    refs = [(r.name, r.snapshot_id, r.type)
            for r in read_metadata_table(spark, table, "refs").collect()]
    assert refs == [("audit-base", 1, "tag")]


@pytest.mark.slow
def test_streaming_dv_delete_sink(spark, tmp_path):
    """CDC delete batches land as deletion vectors: per-batch key sets
    become per-file bitmaps, later batches supersede by union, replays
    are no-ops, and misses/empty batches commit nothing."""
    from ic_spark.streaming.sink import manifest_dv_delete_sink

    table = _mk_table(spark, tmp_path, 20, "dvdel_tbl")
    sink = manifest_dv_delete_sink(table, ["id"])

    mk = lambda ids: spark.createDataFrame([(i,) for i in ids], "id long")
    sink(mk([3, 4]), 0)
    got = sorted(r.id for r in read_table(spark, table).collect())
    assert got == [i for i in range(20) if i not in (3, 4)]
    _, pos, _ = table.scan_tasks()
    assert [t.file_format for t in pos] == ["puffin"]

    sink(mk([10]), 1)  # supersede: still ONE puffin entry
    _, pos, _ = table.scan_tasks()
    assert len(pos) == 1 and pos[0].file_format == "puffin"
    assert read_table(spark, table).count() == 17

    # replay of committed batch 1: no new snapshot
    n = len(table.snapshots())
    sink(mk([10]), 1)
    assert len(table.snapshots()) == n

    # keys matching nothing / empty batch: no commit
    sink(mk([999]), 2)
    sink(mk([]), 3)
    assert len(table.snapshots()) == n
    assert read_table(spark, table).count() == 17


def test_branch_writes_and_fast_forward(spark, tmp_path):
    """Iceberg branching: writes on a branch are invisible to main,
    readable via ref, and fast_forward advances main only when it is an
    ancestor of the branch head."""
    from ic_spark.compaction.manifest import CommitConflictError

    table = _mk_table(spark, tmp_path, 10, "br")
    main_count = read_table(spark, table).count()

    def extra(name, lo, hi):
        out = str(tmp_path / name)
        spark.range(lo, hi).withColumn("v", F.col("id") * 2).coalesce(1).write.parquet(out)
        f = next(os.path.join(out, x) for x in os.listdir(out) if x.endswith(".parquet"))
        return {"path": f, "sequence_number": 2, "content": "DATA",
                "file_size_in_bytes": os.path.getsize(f)}

    table.append_snapshot([extra("b1", 100, 110)], branch="audit")
    table.append_snapshot([extra("b2", 110, 115)], branch="audit")
    assert read_table(spark, table).count() == main_count  # main untouched
    assert read_table(spark, table, ref="audit").count() == main_count + 15

    head = table.fast_forward("audit")
    assert table.current_snapshot().snapshot_id == head
    assert read_table(spark, table).count() == main_count + 15

    # diverge: a main commit after branching blocks fast_forward
    table.append_snapshot([extra("m1", 200, 201)], branch="audit2")
    table.append_snapshot([extra("m2", 300, 302)])  # main moves
    with pytest.raises(CommitConflictError, match="ancestor"):
        table.fast_forward("audit2")
    table.fast_forward("audit2", force=True)  # explicit overwrite works
    assert read_table(spark, table).count() == main_count + 16

    with pytest.raises(ValueError, match="unknown branch"):
        table.fast_forward("ghost")
    with pytest.raises(ValueError, match="not both"):
        table.append_snapshot([], stage=True, branch="x")


def test_delete_files_metadata_table(spark, tmp_path):
    """delete_files metadata table lists both flavors, DVs expanded one
    row per vector with v3 addressing — over JSON and spec metadata."""
    import pyspark.sql.functions as F

    from ic_spark.compaction.deletes import (
        write_deletion_vectors,
        write_equality_deletes,
    )
    from ic_spark.compaction.iceberg_meta import IcebergTable
    from ic_spark.compaction.metadata_tables import read_metadata_table

    table = _mk_table(spark, tmp_path, 30, "delfiles")
    write_equality_deletes(
        spark, table, spark.createDataFrame([(1,)], "id long"), ["id"]
    )
    write_deletion_vectors(spark, table, F.col("id") >= 28)
    rows = read_metadata_table(spark, table, "delete_files").collect()
    by_content = {r.content: r for r in rows}
    assert set(by_content) == {"EQUALITY_DELETES", "POSITION_DELETES"}
    dv = by_content["POSITION_DELETES"]
    assert dv.file_format == "puffin" and dv.record_count == 2
    assert dv.referenced_data_file and dv.content_size_in_bytes > 0
    assert by_content["EQUALITY_DELETES"].equality_ids == ["id"]

    # spec flavor: per-vector rows come from the Avro manifest fields
    df = spark.range(0, 20).withColumn("v", F.col("id"))
    spec = IcebergTable.create(str(tmp_path / "delfiles_spec"), df.schema)
    out = str(tmp_path / "delfiles_spec_seed")
    df.coalesce(1).write.parquet(out)
    f = next(
        os.path.join(out, n) for n in os.listdir(out) if n.endswith(".parquet")
    )
    spec.append_snapshot(
        [{"path": f, "content": "DATA", "record_count": 20,
          "file_size_in_bytes": os.path.getsize(f)}]
    )
    write_deletion_vectors(spark, spec, F.col("id") < 3)
    rows = read_metadata_table(spark, spec, "delete_files").collect()
    assert len(rows) == 1 and rows[0].file_format == "puffin"
    assert rows[0].referenced_data_file.endswith(".parquet")
    assert rows[0].record_count == 3 and rows[0].content_offset is not None


def test_compact_deletion_vectors_merges_puffin_files(spark, tmp_path):
    """Disjoint-file delete batches leave one puffin file per batch;
    compact_deletion_vectors folds them into one, dropping dangling
    vectors, with identical visible rows."""
    from ic_spark.compaction import Compaction
    from ic_spark.streaming.sink import manifest_dv_delete_sink

    table = ManifestTable(str(tmp_path / "dvc_tbl"))
    out = str(tmp_path / "dvc-data")
    # two data files with disjoint id ranges
    spark.range(0, 50).coalesce(1).write.parquet(out + "0")
    spark.range(50, 100).coalesce(1).write.parquet(out + "1")
    entries = []
    for i in range(2):
        f = next(
            os.path.join(out + str(i), n)
            for n in os.listdir(out + str(i))
            if n.endswith(".parquet")
        )
        entries.append(
            {"path": f, "sequence_number": 1, "content": "DATA",
             "file_size_in_bytes": os.path.getsize(f)}
        )
    table.append_snapshot(entries)
    sink = manifest_dv_delete_sink(table, ["id"])
    mk = lambda ids: spark.createDataFrame([(i,) for i in ids], "id long")
    sink(mk([1, 2]), 0)    # hits file 0 only
    sink(mk([60, 61]), 1)  # hits file 1 only -> second puffin file
    _, pos, _ = table.scan_tasks()
    assert len(pos) == 2
    before = sorted(r.id for r in read_table(spark, table).collect())

    stats = Compaction(spark).compact_deletion_vectors(table)
    assert stats == {"merged": 2, "dvs": 2}
    _, pos, _ = table.scan_tasks()
    assert len(pos) == 1 and pos[0].file_format == "puffin"
    assert sorted(r.id for r in read_table(spark, table).collect()) == before
    # idempotent below the 2-file threshold
    assert Compaction(spark).compact_deletion_vectors(table) == {
        "merged": 0,
        "dvs": 0,
    }


def test_streaming_sinks_over_spec_metadata(spark, tmp_path):
    """The foreachBatch sinks duck-type over spec-format Iceberg
    metadata: append + keyed upsert + DV delete batches commit real
    Avro-manifest snapshots, replays are no-ops."""
    from ic_spark.compaction.iceberg_meta import IcebergTable
    from ic_spark.streaming.sink import (
        manifest_append_sink,
        manifest_dv_delete_sink,
        manifest_upsert_sink,
    )

    schema = spark.createDataFrame([], "id long, v string").schema
    tbl = IcebergTable.create(str(tmp_path / "spec_sink"), schema)
    mk = lambda rows: spark.createDataFrame(rows, schema)

    append = manifest_append_sink(tbl)
    append(mk([(1, "a"), (2, "b")]), 0)
    append(mk([(3, "c")]), 1)
    assert read_table(spark, tbl).count() == 3
    n = len(tbl.snapshots())
    append(mk([(9, "x")]), 1)  # replay: no-op
    assert len(tbl.snapshots()) == n and read_table(spark, tbl).count() == 3

    upsert = manifest_upsert_sink(tbl, ["id"])
    upsert(mk([(2, "B2"), (4, "d")]), 2)
    got = dict((r.id, r.v) for r in read_table(spark, tbl).collect())
    assert got == {1: "a", 2: "B2", 3: "c", 4: "d"}

    dv = manifest_dv_delete_sink(tbl, ["id"])
    dv(spark.createDataFrame([(1,)], "id long"), 3)
    got = dict((r.id, r.v) for r in read_table(spark, tbl).collect())
    assert got == {2: "B2", 3: "c", 4: "d"}
    _, pos, _ = tbl.scan_tasks()
    assert any(t.file_format == "puffin" for t in pos)

    # The spec-flavor ledger (table properties) records every sink's
    # committed batches — the signal that survives compaction rewriting
    # the batch directories.
    assert tbl.stream_batch_hwm("stream") == 1
    assert tbl.stream_batch_hwm("upsert") == 2
    assert tbl.stream_batch_hwm("dvdel") == 3
    assert tbl.stream_batch_hwm("nope") == -1
    # append replay suppressed by the ledger alone (marker paths gone)
    import ic_spark.streaming.sink as sink_mod

    orig = sink_mod._live_paths
    sink_mod._live_paths = lambda t: set()  # simulate post-compaction
    try:
        append(mk([(9, "x")]), 1)  # must still be a no-op
        assert read_table(spark, tbl).count() == 3
    finally:
        sink_mod._live_paths = orig


def test_spec_count_after_sink_append(spark, tmp_path):
    """COUNT(*) from manifest stats on spec metadata: the append sink
    records each file's footer count, so ``Table.count()`` equals a
    scan; a data file recording 0 rows (spec manifests written before
    counts were required hold 0 for "unknown") sends the count to the
    scan; a data entry with no count is refused."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ic_spark.compaction.iceberg_meta import IcebergTable
    from ic_spark.table import Table

    schema = spark.createDataFrame([], "id long, v string").schema
    tbl = IcebergTable.create(str(tmp_path / "spec_count"), schema)
    t = Table(spark, tbl)
    mk = lambda rows: spark.createDataFrame(rows, schema)
    append = manifest_append_sink(tbl)
    append(mk([(1, "a"), (2, "b")]), 0)
    append(mk([(3, "c")]), 1)
    assert tbl.count_rows() == 3
    assert t.count() == t.read().count() == 3

    path = str(tmp_path / "old.parquet")
    pq.write_table(pa.table({"id": pa.array([7, 8], pa.int64()),
                             "v": ["x", "y"]}), path)
    entry = {"path": path, "content": "DATA",
             "sequence_number": tbl.next_sequence_number(),
             "file_size_in_bytes": os.path.getsize(path)}
    with pytest.raises(ValueError, match="record_count"):
        tbl.append_snapshot([entry])
    tbl.append_snapshot([{**entry, "record_count": 0}])
    assert tbl.count_rows() is None
    assert t.count() == t.read().count() == 5


def test_empty_appends_read_zero_rows(spark, tmp_path):
    """The append paths leave out Spark's 0-row parts, but an append of
    no rows keeps one, so the table still reads (0 rows) instead of
    having no data file; a non-empty append commits only parts with
    rows."""
    from ic_spark.compaction.iceberg_meta import IcebergTable
    from ic_spark.table import Table

    schema = spark.createDataFrame([], "id long, v string").schema
    mk = lambda rows: spark.createDataFrame(rows, schema)
    for name in ("sink", "append"):
        tbl = IcebergTable.create(str(tmp_path / name), schema)
        t = Table(spark, tbl)
        write = manifest_append_sink(tbl) if name == "sink" else None
        if write is None:
            t.append(mk([]))
        else:
            write(mk([]), 0)
        assert t.read().count() == t.count() == 0
        if write is None:
            t.append(mk([(1, "a"), (2, "b")]))
        else:
            write(mk([(1, "a"), (2, "b")]), 1)
        counts = sorted(f["record_count"] for f in tbl.live_files())
        assert counts[0] == 0 and counts[1:] and all(counts[1:])
        assert t.read().count() == t.count() == 2


@pytest.mark.slow
def test_streaming_span_dedup_sink(spark, tmp_path):
    """Continuous-ingest substring-span dedup: per-batch spans equal the
    BATCH operator over everything-ingested-so-far restricted to the
    batch's docs (the incremental==batch contract), the gram index is
    log-structured (delta appends, sum-on-read), replays are no-ops,
    and a partial crash (spans committed, docs/index not) replays to
    the identical final state because the index delta commits LAST."""
    from ic_spark.operators.dedup import substring_dup_spans
    from ic_spark.streaming.sink import (
        compact_gram_index,
        manifest_span_dedup_sink,
    )

    shared = " ".join(f"s{i}" for i in range(10))
    b0 = [
        (0, "u0a u0b u0c " + shared),
        (1, shared + " v1 v2 v3 v4"),
        (2, " ".join(f"w{i}" for i in range(12))),
    ]
    b1 = [
        (10, "z1 z2 " + shared + " z3"),  # repeats b0's run -> flagged
        (11, " ".join(f"q{i}" for i in range(15))),  # unique
    ]
    src = str(tmp_path / "ssrc")
    spark.createDataFrame(b0, "doc_id long, text string").coalesce(1).write.parquet(
        src + "/b0"
    )
    spark.createDataFrame(b1, "doc_id long, text string").coalesce(1).write.parquet(
        src + "/b1"
    )

    docs_t = ManifestTable(str(tmp_path / "span_docs"))
    idx_t = ManifestTable(str(tmp_path / "span_idx"))
    spans_t = ManifestTable(str(tmp_path / "span_spans"))
    sink = manifest_span_dedup_sink(
        docs_t, idx_t, "text", "doc_id", k=8, spans_table=spans_t
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src + "/*")
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "sckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    all_docs = spark.createDataFrame(b0 + b1, "doc_id long, text string")
    got_docs = {
        (r.doc_id, r.text) for r in read_table(spark, docs_t).collect()
    }
    assert got_docs == set(b0) | set(b1)
    got_spans = sorted(
        map(tuple, read_table(spark, spans_t).select(
            "doc_id", "span_start", "span_end", "span_tokens"
        ).collect())
    )
    # batch order between the two glob files is deterministic here
    # (name order), so expected = batch operator over the union
    # restricted per arrival batch: b0's spans computed within b0,
    # b1's computed over b0 ∪ b1.
    want_b0 = [
        tuple(r)
        for r in substring_dup_spans(
            spark.createDataFrame(b0, "doc_id long, text string"),
            "doc_id", "text", k=8,
        ).collect()
    ]
    want_b1 = [
        tuple(r)
        for r in substring_dup_spans(all_docs, "doc_id", "text", k=8).collect()
        if r.doc_id in {10, 11}
    ]
    assert got_spans == sorted(want_b0 + want_b1)
    assert {d for d, *_ in got_spans} == {0, 1, 10}

    # the index equals a from-scratch rebuild after sum-on-read merge
    from ic_spark.operators.dedup import substring_gram_index

    merged = {
        (r.gram, r.doc_freq)
        for r in read_table(spark, idx_t)
        .groupBy("gram")
        .agg(F.sum("doc_freq").alias("doc_freq"))
        .collect()
    }
    rebuilt = {
        (r.gram, r.doc_freq)
        for r in substring_gram_index(all_docs, "doc_id", "text", k=8).collect()
    }
    assert merged == rebuilt

    # full replay of a committed batch id: no-op on all three tables
    before = (
        read_table(spark, docs_t).count(),
        read_table(spark, spans_t).count(),
        read_table(spark, idx_t).count(),
    )
    sink(spark.createDataFrame(b0, "doc_id long, text string"), 0)
    after = (
        read_table(spark, docs_t).count(),
        read_table(spark, spans_t).count(),
        read_table(spark, idx_t).count(),
    )
    assert after == before

    # compaction: one snapshot, same merged content, new batches still
    # compute against it correctly
    nfiles_before = len(idx_t.scan_tasks()[0])
    assert compact_gram_index(spark, idx_t) is not None
    assert len(idx_t.scan_tasks()[0]) <= nfiles_before
    merged2 = {
        (r.gram, r.doc_freq)
        for r in read_table(spark, idx_t)
        .groupBy("gram")
        .agg(F.sum("doc_freq").alias("doc_freq"))
        .collect()
    }
    assert merged2 == merged

    b2 = [(20, shared + " tail20")]  # repeats the run again
    sink(spark.createDataFrame(b2, "doc_id long, text string"), 2)
    got2 = {
        r.doc_id
        for r in read_table(spark, spans_t).collect()
    }
    assert got2 == {0, 1, 10, 20}


def test_streaming_span_dedup_partial_crash_replay(spark, tmp_path):
    """Crash between the spans append and the docs/index appends:
    the replay must complete the batch WITHOUT duplicating spans and
    with identical span content (the index delta lands last, so the
    recompute sees the same pre-batch index)."""
    from ic_spark.streaming.sink import (
        manifest_append_sink,
        manifest_span_dedup_sink,
    )
    from ic_spark.operators.dedup import (
        incremental_substring_spans,
        substring_gram_index,
    )

    shared = " ".join(f"s{i}" for i in range(10))
    b0 = [(0, "a1 a2 " + shared), (1, shared + " b1 b2")]
    docs_t = ManifestTable(str(tmp_path / "pc_docs"))
    idx_t = ManifestTable(str(tmp_path / "pc_idx"))
    spans_t = ManifestTable(str(tmp_path / "pc_spans"))
    df0 = spark.createDataFrame(b0, "doc_id long, text string")

    # simulate attempt 1 dying right after the spans append: commit
    # ONLY the spans portion exactly as the sink would (same sink name
    # => same batch-scoped marker), nothing else
    empty_idx = substring_gram_index(df0.limit(0), "doc_id", "text", k=8)
    spans0 = incremental_substring_spans(df0, empty_idx, "doc_id", "text", k=8)
    manifest_append_sink(spans_t, name="spans-sp")(spans0, 0)
    n_spans_after_crash = read_table(spark, spans_t).count()
    assert n_spans_after_crash > 0
    assert not docs_t.scan_tasks()[0] and not idx_t.scan_tasks()[0]

    # replay: the full sink runs the whole batch
    sink = manifest_span_dedup_sink(
        docs_t, idx_t, "text", "doc_id", k=8, spans_table=spans_t
    )
    sink(df0, 0)
    assert read_table(spark, spans_t).count() == n_spans_after_crash  # no dup
    assert read_table(spark, docs_t).count() == 2
    assert read_table(spark, idx_t).count() > 0
    spans = sorted(
        map(tuple, read_table(spark, spans_t).select(
            "doc_id", "span_start", "span_end", "span_tokens"
        ).collect())
    )
    assert spans == sorted(map(tuple, spans0.collect()))


@pytest.mark.slow
def test_ivfpq_index_streaming_append_sink(spark, tmp_path):
    """Streaming ANN index maintenance: micro-batches of embeddings
    fold into a persisted IVF-PQ index (frozen quantizers); the served
    answer equals encoding the full union with the frozen parameters,
    and a replayed batch id publishes the same deterministic file names
    (exactly-once without a ledger)."""
    from ic_spark.operators.similarity import (
        _ivfpq_adc_topk,
        _ivfpq_encode_corpus,
        _ivfpq_query_side,
        build_ivf_pq_index,
        ivf_pq_index_top_k,
    )
    from ic_spark.streaming.sink import ivfpq_index_append_sink
    from ic_spark.tables import load_table
    from tests.conftest import SF_DIR

    e = load_table(spark, SF_DIR, "embeddings")
    base = e.where(F.col("vec_id") >= 100)
    idx = str(tmp_path / "idx")
    meta = build_ivf_pq_index(base, idx, nlist=8, m=8, ksub=16)

    # stream the remaining vectors in as two file-batches
    src = str(tmp_path / "stream_src")
    e.where(F.col("vec_id") < 50).coalesce(1).write.mode("append").parquet(src)
    e.where((F.col("vec_id") >= 50) & (F.col("vec_id") < 100)).coalesce(
        1
    ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = ivfpq_index_append_sink(idx)
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    queries = e.where(F.col("vec_id") < 5)
    served = sorted(
        tuple(r)
        for r in ivf_pq_index_top_k(spark, idx, queries, k=10, nprobe=3).collect()
    )
    cb = _ivfpq_encode_corpus(
        e, meta["centroids"], meta["codebooks"], "vec_id", "embedding", True, False
    )
    qs = _ivfpq_query_side(
        queries, meta["centroids"], meta["codebooks"], 3, "vec_id", "embedding", True, False
    )
    want = sorted(tuple(r) for r in _ivfpq_adc_topk(cb, qs, 10).collect())
    assert served == want

    # replay: re-running a committed batch publishes the SAME names —
    # served results unchanged (no duplicate candidates)
    sink(e.where(F.col("vec_id") < 50), 0)
    replay = sorted(
        tuple(r)
        for r in ivf_pq_index_top_k(spark, idx, queries, k=10, nprobe=3).collect()
    )
    assert replay == served

    # replay under a DIFFERENT shuffle width: a wide write of batch 1
    # lands more files per cell than a narrow replay produces — stale
    # b00000001-<i>.parquet leftovers would serve DUPLICATE (or
    # retracted) neighbor rows.  The sink clears the batch's files
    # across every cell before publishing.
    import glob

    b1 = e.where((F.col("vec_id") >= 50) & (F.col("vec_id") < 100))
    sink(b1.repartition(6), 1)
    files_wide = set(glob.glob(os.path.join(idx, "codes", "*", "b00000001-*")))
    sink(b1.where(F.col("vec_id") >= 60).coalesce(1), 1)
    files_narrow = set(glob.glob(os.path.join(idx, "codes", "*", "b00000001-*")))
    assert len(files_narrow) < len(files_wide), (
        len(files_wide), len(files_narrow)
    )
    codes_df = spark.read.parquet(os.path.join(idx, "codes"))
    ids = sorted(r.neighbor_id for r in codes_df.select("neighbor_id").collect())
    assert len(ids) == len(set(ids)), "stale replay files serve duplicates"
    # rows 50-59 existed only in the wide write of batch 1 — gone
    assert not any(50 <= i < 60 for i in ids)


def test_append_sink_replay_after_compaction_is_noop(spark, tmp_path):
    """The manifest sinks' commit log must survive table maintenance:
    compaction rewrites a batch's files, erasing the path marker, and
    without the per-sink batch ledger a crash-replay of that batch
    re-commits it — permanently double-counted rows.  The ledger is
    written in the SAME atomic commit as the batch's files."""
    from ic_spark.compaction import Compaction

    table = ManifestTable(str(tmp_path / "t"))
    sink = manifest_append_sink(table)
    sink(spark.range(0, 10).coalesce(1), 0)
    sink(spark.range(10, 20).coalesce(1), 1)
    assert table.stream_batch_hwm("stream") == 1
    # maintenance rewrites every batch file -> path markers gone
    schema = spark.range(1).selectExpr("id").schema
    Compaction(spark).full_compact(table, schema)
    live = {t.data_file_path for t in table.scan_tasks()[0]}
    assert not any("stream-batch-" in p for p in live)
    # crash-replay of the LAST batch: must be a no-op via the ledger
    sink(spark.range(10, 20).coalesce(1), 1)
    got = sorted(r.id for r in read_table(spark, table).collect())
    assert got == list(range(20)), "replayed batch double-committed"
    # genuinely new batch still lands
    sink(spark.range(20, 25).coalesce(1), 2)
    assert sorted(r.id for r in read_table(spark, table).collect()) == list(
        range(25)
    )
    assert table.stream_batch_hwm("stream") == 2


def test_span_sink_index_replay_after_gram_compaction(spark, tmp_path):
    """Same hazard for the span sink's log-structured gram index: after
    compact_gram_index folds the deltas, a replay of the last batch's
    delta must stay a no-op or every gram's doc_freq double-counts and
    spans over-flag forever."""
    import pyspark.sql.functions as F

    from ic_spark.streaming.sink import (
        compact_gram_index,
        manifest_span_dedup_sink,
    )

    docs = ManifestTable(str(tmp_path / "docs"))
    idx = ManifestTable(str(tmp_path / "idx"))
    sink = manifest_span_dedup_sink(docs, idx, "content", "id", k=3)
    b0 = spark.createDataFrame(
        [(1, "aaa bbb ccc ddd eee")], "id long, content string"
    )
    b1 = spark.createDataFrame(
        [(2, "aaa bbb ccc xxx yyy")], "id long, content string"
    )
    sink(b0, 0)
    sink(b1, 1)
    before = {
        r.gram: r.df
        for r in read_table(spark, idx)
        .groupBy("gram")
        .agg(F.sum("doc_freq").alias("df"))
        .collect()
    }
    assert compact_gram_index(spark, idx) is not None
    sink(b1, 1)  # crash-replay of the folded batch
    after = {
        r.gram: r.df
        for r in read_table(spark, idx)
        .groupBy("gram")
        .agg(F.sum("doc_freq").alias("df"))
        .collect()
    }
    assert after == before, "gram doc_freq double-counted after replay"


def test_compact_gram_index_conflicts_with_concurrent_delta(
    spark, tmp_path, monkeypatch
):
    """A streaming delta committed between compact_gram_index's scan
    and its rewrite would be folded AND left live (double-counted);
    the pinned expected_snapshot_id turns that window into a
    CommitConflictError instead."""
    import pyspark.sql.functions as F

    import ic_spark.compaction.deletes as deletes_mod
    from ic_spark.compaction.manifest import CommitConflictError
    from ic_spark.streaming.sink import (
        compact_gram_index,
        manifest_append_sink,
    )
    from ic_spark.operators.dedup import substring_gram_index

    idx = ManifestTable(str(tmp_path / "idx"))
    append = manifest_append_sink(idx, name="spans-idx")
    d0 = spark.createDataFrame(
        [(1, "aaa bbb ccc ddd")], "id long, content string"
    )
    append(substring_gram_index(d0, "id", "content", k=3), 0)

    real_read = deletes_mod.read_table
    fired = {"n": 0}

    def racing_read(s, table, *a, **kw):
        out = real_read(s, table, *a, **kw)
        if fired["n"] == 0 and table.root == idx.root:
            fired["n"] = 1
            # concurrent stream commits another delta mid-compaction
            append(
                substring_gram_index(
                    spark.createDataFrame(
                        [(2, "xxx yyy zzz www")], "id long, content string"
                    ),
                    "id",
                    "content",
                    k=3,
                ),
                1,
            )
        return out

    monkeypatch.setattr(deletes_mod, "read_table", racing_read)
    with pytest.raises(CommitConflictError):
        compact_gram_index(spark, idx)
    monkeypatch.undo()
    # totals intact: nothing folded twice, nothing lost
    total = (
        read_table(spark, idx).agg(F.sum("doc_freq").alias("s")).first().s
    )
    assert total == 4  # 2 grams per doc x 2 docs... recomputed below
    # retry succeeds once quiet
    assert compact_gram_index(spark, idx) is not None
    total2 = (
        read_table(spark, idx).agg(F.sum("doc_freq").alias("s")).first().s
    )
    assert total2 == total


def test_upsert_replay_overwrites_its_delete_file(spark, tmp_path, monkeypatch):
    """A batch_tag replay after a crash between the file writes and the
    commit overwrites the half-written files: its ``eq-del-{tag}/``
    directory holds one delete file, and the read sees the batch once."""
    from ic_spark.compaction.deletes import merge_upsert

    table = _mk_table(spark, tmp_path, 6, "replay")
    batch = spark.createDataFrame([(2, 20), (9, 90)], "id long, v long")

    def crash(entries):
        raise OSError("crashed before the commit")

    monkeypatch.setattr(table, "append_snapshot", crash)
    with pytest.raises(OSError):
        merge_upsert(spark, table, batch, ["id"], batch_tag="t-00000001")
    monkeypatch.undo()
    merge_upsert(spark, table, batch, ["id"], batch_tag="t-00000001")

    eq_dir = os.path.join(table.root, "eq-del-t-00000001")
    files = [n for n in os.listdir(eq_dir) if n.endswith(".parquet")]
    _, _, eq = table.scan_tasks()
    assert [os.path.join(eq_dir, n) for n in files] == [e.data_file_path for e in eq]
    got = sorted(tuple(r) for r in read_table(spark, table).collect())
    assert got == sorted(({i: i * 2 for i in range(6)} | {2: 20, 9: 90}).items())
