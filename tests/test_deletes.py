"""Delete writers + MoR read path + time travel: the full DELETE
lifecycle (write data → delete by predicate → delete by key → read →
compact → read), verified against a DuckDB oracle."""

from __future__ import annotations

import os

import duckdb
import pyspark.sql.functions as F
import pytest

from ic_spark.compaction import Compaction, ManifestTable
from ic_spark.compaction.deletes import (
    read_table,
    write_equality_deletes,
    write_position_deletes,
)

from tests.conftest import SF_DIR, normalize


@pytest.fixture()
def table_with_data(spark, tmp_path):
    """ManifestTable over two data files split from sf0.001 lineitem."""
    table = ManifestTable(str(tmp_path / "tbl"))
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    files = []
    for i, pred in enumerate(["l_orderkey % 2 = 0", "l_orderkey % 2 = 1"]):
        d = str(tmp_path / f"data{i}")
        li.where(pred).coalesce(1).write.parquet(d)
        f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
        files.append(
            {"path": f, "sequence_number": 1, "content": "DATA",
             "file_size_in_bytes": os.path.getsize(f)}
        )
    table.append_snapshot(files)
    return table, li


def test_position_delete_lifecycle(spark, table_with_data):
    table, li = table_with_data
    n0 = li.count()
    write_position_deletes(spark, table, F.col("l_quantity") > 45)
    out = read_table(spark, table)
    n_deleted = li.where("l_quantity > 45").count()
    assert out.count() == n0 - n_deleted
    assert out.where("l_quantity > 45").count() == 0


def test_equality_delete_strict_seq_on_new_data(spark, table_with_data, tmp_path):
    """Keys deleted at seq N do not affect data appended at seq > N."""
    table, li = table_with_data
    keys = spark.createDataFrame([(1,), (2,), (3,)], "l_orderkey long")
    write_equality_deletes(spark, table, keys, ["l_orderkey"])

    out = read_table(spark, table)
    assert out.where("l_orderkey in (1,2,3)").count() == 0

    # Append NEW data for orderkey=1 at a later sequence — must survive.
    newer = li.where("l_orderkey = 1").limit(2)
    d = str(tmp_path / "newer")
    newer.coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    table.append_snapshot(
        [{"path": f, "sequence_number": 99, "content": "DATA"}]
    )
    out2 = read_table(spark, table)
    assert out2.where("l_orderkey = 1").count() == 2  # strict '<' keeps them


def test_delete_then_compact_oracle(spark, table_with_data):
    """After deletes + compaction, the rewritten table matches a DuckDB
    oracle computing the same predicate/key filters directly."""
    table, li = table_with_data
    write_position_deletes(spark, table, F.col("l_linenumber") == 7)
    keys = spark.createDataFrame([(10,), (20,)], "l_orderkey long")
    write_equality_deletes(spark, table, keys, ["l_orderkey"])

    comp = Compaction(spark)
    resp = comp.full_compact(table, li.schema)
    assert resp.stat.added_files_count >= 1
    data, pos, eq = table.scan_tasks()
    assert pos == [] and eq == []

    out = spark.read.parquet(*[t.data_file_path for t in data])
    con = duckdb.connect()
    oracle = con.sql(
        f"""
        SELECT * FROM read_parquet('{SF_DIR}/lineitem.parquet')
        WHERE l_linenumber <> 7 AND l_orderkey NOT IN (10, 20)
        """
    ).fetchall()
    got = [tuple(r) for r in out.collect()]
    assert normalize(got) == normalize(oracle)
    con.close()


def test_time_travel(spark, table_with_data):
    table, li = table_with_data
    n0 = li.count()
    s1 = table.current_snapshot().snapshot_id
    write_position_deletes(spark, table, F.col("l_quantity") > 45)
    s2 = table.current_snapshot().snapshot_id
    assert s2 != s1
    # current read sees the delete; read at s1 sees the original rows.
    assert read_table(spark, table).count() < n0
    assert read_table(spark, table, snapshot_id=s1).count() == n0
    # snapshots are enumerable for inspection
    assert [s.snapshot_id for s in table.snapshots()] == [s1, s2]


def test_equality_delete_requires_key_columns(spark, table_with_data):
    table, _ = table_with_data
    bad = spark.createDataFrame([(1,)], "wrong_col long")
    with pytest.raises(ValueError, match="missing equality columns"):
        write_equality_deletes(spark, table, bad, ["l_orderkey"])


def test_incremental_append_scan(spark, table_with_data, tmp_path):
    """read_incremental returns exactly the rows appended in the
    snapshot range, never history; rewrite/delete ranges are rejected."""
    from ic_spark.compaction.deletes import read_incremental

    table, li = table_with_data
    s1 = table.current_snapshot().snapshot_id

    add1 = li.limit(3)
    d = str(tmp_path / "inc1")
    add1.coalesce(1).write.parquet(d)
    f1 = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    s2 = table.append_snapshot([{"path": f1, "sequence_number": 2, "content": "DATA"}])

    add2 = li.limit(5)
    d = str(tmp_path / "inc2")
    add2.coalesce(1).write.parquet(d)
    f2 = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    s3 = table.append_snapshot([{"path": f2, "sequence_number": 3, "content": "DATA"}])

    assert read_incremental(spark, table, s1, s2).count() == 3
    assert read_incremental(spark, table, s2, s3).count() == 5
    assert read_incremental(spark, table, s1).count() == 8  # to current
    assert read_incremental(spark, table, s3).count() == 0  # empty range
    assert read_incremental(spark, table, s3).schema == add2.schema

    # A delete snapshot in the range breaks append-only semantics.
    write_position_deletes(spark, table, F.col("l_linenumber") == 1)
    with pytest.raises(ValueError, match="delete file"):
        read_incremental(spark, table, s1)

    # A compaction (rewrite) in the range does too.
    comp = Compaction(spark)
    comp.full_compact(table, li.schema)
    with pytest.raises(ValueError, match="rewrite"):
        read_incremental(spark, table, s1)


@pytest.mark.slow
def test_incremental_dedup_against_corpus(spark, tmp_path):
    """Continuous-ingest dedup: a snapshot delta is deduped against the
    pre-existing corpus (anti-join on content hashes) AND within itself
    (min-id survivor) — history is probed, never re-deduped."""
    from ic_spark.compaction.deletes import read_incremental, read_table
    from ic_spark.compaction.manifest import ManifestTable
    from ic_spark.operators.dedup import incremental_dedup

    table = ManifestTable(str(tmp_path / "docs"))
    base = spark.createDataFrame(
        [(0, "alpha text"), (1, "beta text"), (2, "gamma text")],
        "doc_id long, text string",
    )

    def commit(df, seq):
        d = str(tmp_path / f"seq{seq}")
        df.coalesce(1).write.parquet(d)
        f = next(
            os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")
        )
        return table.append_snapshot(
            [{"path": f, "sequence_number": seq, "content": "DATA"}]
        )

    s1 = commit(base, 1)
    # Delta: 10 dups base row 0; 11/13 duplicate each other; 12 is fresh.
    delta = spark.createDataFrame(
        [(10, "alpha text"), (11, "delta text"), (12, "epsilon text"),
         (13, "delta text")],
        "doc_id long, text string",
    )
    s2 = commit(delta, 2)

    inc = read_incremental(spark, table, s1, s2)
    corpus = read_table(spark, table, snapshot_id=s1)
    out = incremental_dedup(inc, corpus, "text", "doc_id")
    assert {(r.doc_id, r.text) for r in out.collect()} == {
        (11, "delta text"),
        (12, "epsilon text"),
    }

    # Normalized mode catches whitespace/case variants already ingested.
    messy = spark.createDataFrame(
        [(20, "  ALPHA   text "), (21, "zeta text")], "doc_id long, text string"
    )
    out2 = incremental_dedup(messy, corpus, "text", "doc_id", normalize=True)
    assert [r.doc_id for r in out2.collect()] == [21]


@pytest.mark.slow
def test_merge_upsert_lifecycle(spark, tmp_path):
    """Upsert commits data + equality delete at ONE sequence: matched
    keys replaced, new keys inserted, batch's own rows survive; a later
    upsert wins over an earlier one (DuckDB-oracle checked)."""
    from ic_spark.compaction.deletes import merge_upsert

    table = ManifestTable(str(tmp_path / "ups"))
    base = spark.createDataFrame(
        [(i, f"v{i}", 1) for i in range(8)], "id long, val string, gen int"
    )
    d = str(tmp_path / "base")
    base.coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    table.append_snapshot(
        [{"path": f, "sequence_number": 1, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(f)}]
    )

    # Batch 1: replace ids 2,3; insert ids 8,9.
    merge_upsert(
        spark, table,
        spark.createDataFrame(
            [(2, "b2", 2), (3, "b3", 2), (8, "b8", 2), (9, "b9", 2)],
            "id long, val string, gen int",
        ),
        ["id"],
    )
    got = {(r.id, r.val, r.gen) for r in read_table(spark, table).collect()}
    want = {(i, f"v{i}", 1) for i in range(8) if i not in (2, 3)} | {
        (2, "b2", 2), (3, "b3", 2), (8, "b8", 2), (9, "b9", 2)
    }
    assert got == want

    # Batch 2 over batch 1: id 3 again + id 9 again -> latest wins.
    merge_upsert(
        spark, table,
        spark.createDataFrame(
            [(3, "c3", 3), (9, "c9", 3)], "id long, val string, gen int"
        ),
        ["id"],
    )
    got2 = {(r.id, r.val, r.gen) for r in read_table(spark, table).collect()}
    want2 = (want - {(3, "b3", 2), (9, "b9", 2)}) | {(3, "c3", 3), (9, "c9", 3)}
    assert got2 == want2

    # One snapshot per upsert; each carries DATA + EQUALITY_DELETES.
    snap = table.current_snapshot()
    last_seq = max(fi["sequence_number"] for fi in snap.files)
    contents = {fi["content"] for fi in snap.files
                if fi["sequence_number"] == last_seq}
    assert contents == {"DATA", "EQUALITY_DELETES"}

    # Compaction folds everything back into plain data files.
    Compaction(spark).full_compact(table, base.schema)
    got3 = {(r.id, r.val, r.gen) for r in read_table(spark, table).collect()}
    assert got3 == want2
    assert all(fi["content"] == "DATA" for fi in table.current_snapshot().files)

    with pytest.raises(ValueError, match="missing key columns"):
        merge_upsert(spark, table, base.select("val"), ["id"])


def test_manifest_file_skipping(spark, tmp_path):
    """Stat-filtered scans prune files at PLANNING time (Iceberg
    manifest min/max skipping): unmatched files never enter the Spark
    plan, results are unchanged, and deletes still apply."""
    from ic_spark.compaction.writer import _stats_from_footer

    table = ManifestTable(str(tmp_path / "fs"))
    entries = []
    for i in range(3):  # disjoint id ranges: [0,100) [100,200) [200,300)
        d = str(tmp_path / f"fs_data{i}")
        spark.range(i * 100, (i + 1) * 100).selectExpr(
            "id", "id * 2 AS v"
        ).coalesce(1).write.parquet(d)
        p = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
        rc, cs, _ = _stats_from_footer(p, d)
        entries.append(
            {"path": p, "sequence_number": 1, "content": "DATA",
             "file_size_in_bytes": os.path.getsize(p),
             "record_count": rc, "column_stats": cs}
        )
    table.append_snapshot(entries)

    data, _, _ = table.scan_tasks(data_filter=[("id", ">=", 150), ("id", "<", 250)])
    assert len(data) == 2
    data, _, _ = table.scan_tasks(data_filter=[("id", "=", 50)])
    assert len(data) == 1
    # Missing stats / unknown column -> conservative keep.
    data, _, _ = table.scan_tasks(data_filter=[("nope", "=", 1)])
    assert len(data) == 3

    df = read_table(spark, table, where=[("id", ">=", 150), ("id", "<", 250)])
    assert len(df.inputFiles()) == 2  # file 0 skipped at planning
    assert sorted(r.id for r in df.collect()) == list(range(150, 250))

    # Pruned-to-nothing: empty result with the table schema, no error.
    empty = read_table(spark, table, where=[("id", ">", 10_000)])
    assert empty.count() == 0 and empty.schema == df.schema

    # Deletes still apply inside a stat-filtered read.
    write_equality_deletes(
        spark, table, spark.createDataFrame([(160,)], "id long"), ["id"]
    )
    got = read_table(spark, table, where=[("id", ">=", 150), ("id", "<", 250)])
    assert sorted(r.id for r in got.collect()) == [
        i for i in range(150, 250) if i != 160
    ]


def test_compaction_commits_column_stats(spark, table_with_data):
    """full_compact writes footer-derived stats into the manifest, so a
    freshly compacted table is immediately file-skippable."""
    table, li = table_with_data
    Compaction(spark).full_compact(table, li.schema)
    snap = table.current_snapshot()
    assert snap.files and all(
        f["record_count"] > 0 and "l_orderkey" in f["column_stats"]
        for f in snap.files
    )
    top = max(f["column_stats"]["l_orderkey"]["max"] for f in snap.files)
    data, _, _ = table.scan_tasks(data_filter=[("l_orderkey", ">", top)])
    assert data == []


def test_register_mor_view_sql(spark, table_with_data):
    """SQL over a MoR table: deletes applied, pushdown through the view."""
    from ic_spark.compaction.deletes import register_mor_view

    table, li = table_with_data
    keys = spark.createDataFrame([(1,), (2,)], "l_orderkey long")
    write_equality_deletes(spark, table, keys, ["l_orderkey"])
    register_mor_view(spark, table, "mor_li")

    got = spark.sql(
        "SELECT COUNT(*) AS n, SUM(l_quantity) AS q FROM mor_li"
    ).collect()[0]
    expect = li.where("l_orderkey NOT IN (1, 2)")
    assert got.n == expect.count()
    # Aggregations/joins compose over the view.
    top = spark.sql(
        """SELECT l_orderkey, COUNT(*) AS lines FROM mor_li
           GROUP BY l_orderkey ORDER BY lines DESC, l_orderkey LIMIT 3"""
    ).collect()
    assert len(top) == 3 and all(r.lines >= 1 for r in top)
    # Filter through the view reaches the parquet scan (pushdown).
    plan = spark.sql(
        "SELECT l_orderkey FROM mor_li WHERE l_orderkey = 7"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_orderkey" in plan


@pytest.mark.slow
def test_externally_spelled_position_deletes_apply(spark, tmp_path):
    """Position-delete files written by OTHER engines record the
    manifest's plain path, while the scan's hidden path column spells
    Hadoop URIs ('file:' scheme) — without normalization the anti-join
    matches nothing and every deleted row silently resurfaces."""
    from ic_spark.compaction.manifest import ManifestTable

    table = ManifestTable(str(tmp_path / "ext"))
    d = str(tmp_path / "ext_data")
    spark.range(0, 10).selectExpr("id", "id * 2 AS v").coalesce(
        1
    ).write.parquet(d)
    f = next(
        os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")
    )
    table.append_snapshot(
        [{"path": f, "sequence_number": 1, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(f)}]
    )
    # externally written delete: PLAIN manifest path, positions 2 and 5
    del_dir = str(tmp_path / "ext_del")
    spark.createDataFrame(
        [(f, 2), (f, 5)], "file_path string, pos long"
    ).coalesce(1).write.parquet(del_dir)
    dp = next(
        os.path.join(del_dir, n)
        for n in os.listdir(del_dir)
        if n.endswith(".parquet")
    )
    table.append_snapshot(
        [{"path": dp, "sequence_number": 2,
          "content": "POSITION_DELETES",
          "file_size_in_bytes": os.path.getsize(dp)}]
    )
    ids = sorted(r.id for r in read_table(spark, table).collect())
    assert ids == [0, 1, 3, 4, 6, 7, 8, 9], (
        "externally spelled position deletes did not apply"
    )


def test_empty_equality_ids_rejected(spark):
    """An equality-delete task with NO equality ids would anti-join on
    the sequence guard alone and wipe every older row — it must fail
    loudly."""
    from ic_spark.compaction.request import (
        FileContent,
        FileScanTask,
        split_equality_delete_groups,
    )

    bad = FileScanTask(
        data_file_path="/x.parquet",
        sequence_number=2,
        content=FileContent.EQUALITY_DELETES,
        equality_ids=(),
    )
    with pytest.raises(ValueError, match="no equality_ids"):
        split_equality_delete_groups([bad])


def test_position_delete_no_match_raises_not_commits(spark, tmp_path):
    """A predicate matching nothing must not burn a sequence number on
    a 0-row delete file (same contract as the DV flavors)."""
    from ic_spark.compaction.manifest import ManifestTable

    table = ManifestTable(str(tmp_path / "nm"))
    d = str(tmp_path / "nm_data")
    spark.range(0, 5).coalesce(1).write.parquet(d)
    f = next(
        os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")
    )
    table.append_snapshot(
        [{"path": f, "sequence_number": 1, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(f)}]
    )
    before = len(table.snapshots())
    with pytest.raises(ValueError, match="matched no rows"):
        write_position_deletes(spark, table, F.col("id") > 100)
    assert len(table.snapshots()) == before
    _, pos, _ = table.scan_tasks()
    assert pos == []


def test_merge_upsert_is_one_job_and_keys_match_oracle(spark, tmp_path):
    """An upsert runs one Spark job, the batch write: its equality-delete
    file holds exactly the batch's distinct keys, derived on the driver,
    and the merge-on-read result equals a pyarrow oracle.  The key mixes
    long, string with a null, decimal, date and a pre-1900 TIMESTAMP
    (Spark writes TIMESTAMP as INT96)."""
    import datetime as dt
    from decimal import Decimal

    import pyarrow as pa

    from ic_spark.table import Table

    schema = (
        "k long, s string, d decimal(12,2), day date, ts timestamp, v long"
    )
    keys = ["k", "s", "d", "day", "ts"]

    def row(k, s, v, year=1850):
        return (
            k, s, Decimal(f"{k}.25"), dt.date(year, 3, k % 28 + 1),
            dt.datetime(year, 6, 1, 12, 30, k % 60, 123456), v,
        )

    base = [row(k, f"s{k}", 0) for k in range(10)]
    # Keys 2 and 7 replace base rows; key 3 carries a NULL string and
    # key 11 a year-2999 date and timestamp, so both are inserts.  Key 12
    # appears twice, so the batch has fewer distinct keys than rows.
    batch = [row(2, "s2", 1), row(7, "s7", 1), row(3, None, 1),
             row(11, "s11", 1, year=2999), row(12, "s12", 1),
             row(12, "s12", 2)]
    t = Table.create(
        spark, str(tmp_path / "t"), spark.createDataFrame([], schema).schema
    )
    t.append(spark.createDataFrame(base, schema))
    source = spark.createDataFrame(batch, schema)

    before = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    t.upsert(source, keys)
    jobs = spark.sparkContext._jsc.sc().dagScheduler().nextJobId() - before
    assert jobs == 1, f"upsert ran {jobs} Spark jobs"

    arrow_schema = pa.schema(
        [("k", pa.int64()), ("s", pa.string()), ("d", pa.decimal128(12, 2)),
         ("day", pa.date32()), ("ts", pa.timestamp("us")), ("v", pa.int64())]
    )
    names = arrow_schema.names

    def arrow(rows):
        return pa.Table.from_pylist([dict(zip(names, r)) for r in rows], arrow_schema)

    arrow_batch = arrow(batch)
    want_keys = arrow_batch.group_by(keys).aggregate([]).select(keys).to_pylist()
    _, _, eq = t.inner.scan_tasks()
    assert len(eq) == 1
    # TIMESTAMP is an instant: the delete file declares it UTC-adjusted,
    # as the table does, not as a zone-less TIMESTAMP_NTZ.
    import pyarrow.parquet as pq

    ts_type = pq.read_schema(eq[0].data_file_path).field("ts").type
    assert ts_type == pa.timestamp("us", tz="UTC")
    key_schema = source.select(*keys).schema
    got_keys = spark.read.schema(key_schema).parquet(eq[0].data_file_path)
    assert sorted(got_keys.collect(), key=repr) == sorted(
        (tuple(r[c] for c in keys) for r in want_keys), key=repr
    )

    survivors = arrow(base).join(
        arrow_batch.select(keys).group_by(keys).aggregate([]),
        keys=keys, join_type="left anti",
    )
    want = [
        tuple(r.values())
        for r in pa.concat_tables([survivors.select(names), arrow_batch]).to_pylist()
    ]
    assert sorted(map(tuple, t.read().collect()), key=repr) == sorted(want, key=repr)


def test_merge_upsert_commits_no_empty_parts(spark, tmp_path):
    """An upsert whose write leaves empty tasks commits (and keeps) only
    the parts that hold rows, as ``Table.append`` and the append sink
    do; the table reads the upserted rows."""
    import pyspark.sql.types as T

    from ic_spark.table import Table

    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    t = Table.create(spark, str(tmp_path / "t"), schema)
    batch = spark.createDataFrame([(1, 10), (2, 20)], schema).repartition(4)
    t.upsert(batch, ["k"])
    data = [f for f in t.inner.live_files() if f["content"] == "DATA"]
    assert data and all(f["record_count"] for f in data)
    (part_dir,) = {os.path.dirname(f["path"]) for f in data}
    on_disk = [n for n in os.listdir(part_dir) if n.endswith(".parquet")]
    assert len(on_disk) == len(data)
    assert sorted(t.read().collect()) == [(1, 10), (2, 20)]
