"""Changelog (CDC) reads — compaction/changelog.py.

Iceberg create_changelog_view semantics: appends emit INSERTs, delete
commits emit the newly hidden rows, COW overwrites emit removed-file
rows as DELETE + added-file rows as INSERT, compaction emits nothing,
and supersede-by-union DV commits report only the POSITION DIFF."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from ic_spark.compaction.changelog import read_changelog
from ic_spark.compaction.deletes import (
    merge_upsert,
    read_table,
    write_deletion_vectors,
    write_position_deletes,
)
from ic_spark.compaction.iceberg_meta import IcebergTable
from ic_spark.compaction.manifest import ManifestTable
from ic_spark.compaction.writer import _stats_from_footer


def _append(spark, tbl, df, tmp_path, tag):
    d = str(tmp_path / f"seed_{tag}")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    rc, cs, _ = _stats_from_footer(f, d)
    e = {
        "path": f,
        "content": "DATA",
        "record_count": rc,
        "file_size_in_bytes": os.path.getsize(f),
        "column_stats": cs,
    }
    e["sequence_number"] = tbl.next_sequence_number()
    return tbl.append_snapshot([e])


def _mk(spark, tmp_path, flavor, tag):
    root = str(tmp_path / f"{flavor}_{tag}")
    df = spark.range(0, 20).select("id", (F.col("id") % 4).alias("k"))
    if flavor == "spec":
        tbl = IcebergTable.create(root, df.schema)
    else:
        os.makedirs(root, exist_ok=True)
        tbl = ManifestTable(root)
    snap0 = _append(spark, tbl, df, tmp_path, f"{flavor}_{tag}_0")
    return tbl, snap0


def _changes(df):
    return sorted(
        (r._change_type, r.id, r._change_ordinal) for r in df.collect()
    )


@pytest.mark.parametrize("flavor", ["spec", "json"])
def test_changelog_append_delete_upsert(spark, tmp_path, flavor):
    tbl, snap0 = _mk(spark, tmp_path, flavor, "adu")

    # commit 1: append 5 rows
    _append(
        spark,
        tbl,
        spark.range(20, 25).select("id", (F.col("id") % 4).alias("k")),
        tmp_path,
        f"{flavor}_adu_1",
    )
    # commit 2: positional delete (DV) of k == 1 rows visible so far
    write_deletion_vectors(spark, tbl, F.col("k") == 1)
    # commit 3: second DV delete — supersede+union; only the NEW
    # positions may be reported
    write_deletion_vectors(spark, tbl, F.col("id") == 2)
    # commit 4: upsert replacing id 4 and inserting id 100
    merge_upsert(
        spark,
        tbl,
        spark.createDataFrame([(4, 40), (100, 0)], "id long, k long"),
        ["id"],
    )

    log = read_changelog(spark, tbl, snap0)
    got = _changes(log)
    k1 = [i for i in range(25) if i % 4 == 1]
    want = (
        [("INSERT", i, 0) for i in range(20, 25)]
        + [("DELETE", i, 1) for i in k1]
        + [("DELETE", 2, 2)]
        + [("INSERT", 4, 3), ("INSERT", 100, 3), ("DELETE", 4, 3)]
    )
    assert got == sorted(want)

    # ordinal-0-only slice via to_snapshot
    ids = [x[0] for x in _main_ids(tbl, snap0)]
    first = read_changelog(spark, tbl, snap0, to_snapshot_id=ids[0])
    assert _changes(first) == sorted([("INSERT", i, 0) for i in range(20, 25)])


def _main_ids(tbl, from_id):
    from ic_spark.compaction.changelog import _main_chain

    _, chain = _main_chain(tbl, from_id, None)
    return chain


@pytest.mark.parametrize("flavor", ["spec", "json"])
def test_changelog_overwrite_and_replace(spark, tmp_path, flavor):
    from ic_spark.compaction.orchestrator import Compaction
    from ic_spark.compaction.rowops import delete_where

    tbl, snap0 = _mk(spark, tmp_path, flavor, "ovr")
    # COW delete: rewrites the file without id==3 -> overwrite commit.
    delete_where(spark, tbl, [("id", "=", 3)])
    # compaction: replace commit, must emit nothing
    schema = spark.createDataFrame([], "id long, k long").schema
    Compaction(spark).full_compact(tbl, schema)

    log = read_changelog(spark, tbl, snap0)
    got = _changes(log)
    # overwrite: all 20 previously-visible rows deleted, 19 re-inserted
    want = [("DELETE", i, 0) for i in range(20)] + [
        ("INSERT", i, 0) for i in range(20) if i != 3
    ]
    assert got == sorted(want)

    # SQL surface via the CALL procedure
    from ic_spark.compaction.procedures import call

    out = call(
        spark,
        "system.create_changelog_view",
        table=tbl,
        changelog_view=f"cl_{flavor}",
        from_snapshot_id=snap0,
    )
    assert out["changelog_view"] == f"cl_{flavor}"
    n = spark.sql(
        f"SELECT count(*) AS n FROM cl_{flavor} WHERE _change_type = 'DELETE'"
    ).collect()[0].n
    assert n == 20


def test_changelog_position_delete_diff_not_union(spark, tmp_path):
    """Two parquet position-delete commits: the second reports only its
    own rows even though both files stay live."""
    tbl, snap0 = _mk(spark, tmp_path, "json", "pdiff")
    write_position_deletes(spark, tbl, F.col("id").isin(1, 2))
    write_position_deletes(spark, tbl, F.col("id") == 5)
    got = _changes(read_changelog(spark, tbl, snap0))
    assert got == sorted(
        [("DELETE", 1, 0), ("DELETE", 2, 0), ("DELETE", 5, 1)]
    )
    assert read_table(spark, tbl).count() == 17


def test_changelog_empty_range_and_errors(spark, tmp_path):
    tbl, snap0 = _mk(spark, tmp_path, "json", "edge")
    log = read_changelog(spark, tbl, snap0)
    assert log.count() == 0
    assert "_change_type" in log.columns
    with pytest.raises(ValueError, match="not found"):
        read_changelog(spark, tbl, 999999)


@pytest.mark.parametrize("flavor", ["spec", "json"])
def test_changelog_net_changes_collapses_carryovers(spark, tmp_path, flavor):
    """net_changes=True (Iceberg create_changelog_view option): a row
    value inserted then deleted inside the range nets to nothing; the
    survivors carry the LAST touching commit.  Checked against a DuckDB
    oracle applying the net rule to the plain changelog rows."""
    import duckdb

    tbl, snap0 = _mk(spark, tmp_path, flavor, "net")
    # commit 1: insert ids 20..24 (id 21 will be deleted in commit 3 —
    # a pure carry-over that must vanish from the net view)
    _append(
        spark,
        tbl,
        spark.range(20, 25).select("id", (F.col("id") % 4).alias("k")),
        tmp_path,
        f"{flavor}_net_1",
    )
    # commit 2: update id 4 (DELETE old value + INSERT new value)
    merge_upsert(
        spark,
        tbl,
        spark.createDataFrame([(4, 40)], "id long, k long"),
        ["id"],
    )
    # commit 3: delete id 21 (inserted in-range -> carry-over) and id 7
    # (pre-range -> net DELETE)
    write_position_deletes(spark, tbl, F.col("id").isin(21, 7))

    plain = read_changelog(spark, tbl, snap0)
    net = read_changelog(spark, tbl, snap0, net_changes=True)

    con = duckdb.connect()
    con.register("plain", plain.toPandas())
    oracle = con.execute(
        """
        WITH agg AS (
            SELECT id, k,
                   SUM(CASE WHEN _change_type = 'INSERT' THEN 1 ELSE -1 END)
                     AS net,
                   MAX(_change_ordinal) AS last_ord
            FROM plain GROUP BY id, k
        )
        SELECT id, k,
               CASE WHEN net > 0 THEN 'INSERT' ELSE 'DELETE' END AS t,
               last_ord
        FROM agg WHERE net != 0
        """
    ).fetchall()
    want = sorted((t, i, k, o) for i, k, t, o in oracle)
    got = sorted(
        (r._change_type, r.id, r.k, r._change_ordinal) for r in net.collect()
    )
    assert got == want
    # the carry-over (id 21) is gone; the update survives as one
    # DELETE(old)+INSERT(new); id 7's delete survives
    ids_by_type = {}
    for t, i, _, _ in got:
        ids_by_type.setdefault(t, set()).add(i)
    assert 21 not in ids_by_type.get("INSERT", set())
    assert 21 not in ids_by_type.get("DELETE", set())
    assert 4 in ids_by_type["INSERT"] and 4 in ids_by_type["DELETE"]
    assert 7 in ids_by_type["DELETE"]

    with pytest.raises(ValueError, match="net_changes must be false"):
        read_changelog(
            spark, tbl, snap0, compute_updates_key=["id"], net_changes=True
        )


def test_changelog_feed_microbatches_and_replay(spark, tmp_path):
    """ChangelogFeed: one batch per commit, checkpointed progress, a
    failing handler re-delivers its batch, and a restarted feed resumes
    from the checkpoint."""
    from ic_spark.streaming.changelog_feed import ChangelogFeed

    tbl, snap0 = _mk(spark, tmp_path, "json", "feed")
    ckpt = str(tmp_path / "feed.ckpt")
    feed = ChangelogFeed(spark, tbl, ckpt, from_snapshot_id=snap0)
    assert feed.process_available(lambda df, sid: None) == 0

    _append(
        spark,
        tbl,
        spark.range(20, 23).select("id", (F.col("id") % 4).alias("k")),
        tmp_path,
        "feed_1",
    )
    write_position_deletes(spark, tbl, F.col("id") == 5)

    seen: list[tuple[int, list]] = []

    def handler(df, sid):
        seen.append((sid, sorted((r._change_type, r.id) for r in df.collect())))

    assert feed.process_available(handler) == 2
    assert seen[0][1] == [("INSERT", 20), ("INSERT", 21), ("INSERT", 22)]
    assert seen[1][1] == [("DELETE", 5)]

    # failing handler: checkpoint stays put, batch re-delivers
    write_position_deletes(spark, tbl, F.col("id") == 6)
    with pytest.raises(RuntimeError, match="sink down"):
        feed.process_available(lambda df, sid: (_ for _ in ()).throw(RuntimeError("sink down")))
    resumed = ChangelogFeed(spark, tbl, ckpt)  # restart from checkpoint
    seen2 = []
    resumed.process_available(lambda df, sid: seen2.append(
        sorted((r._change_type, r.id) for r in df.collect())
    ))
    assert seen2 == [[("DELETE", 6)]]
    assert resumed.process_available(lambda df, sid: None) == 0

    # fresh feed without a baseline is rejected
    with pytest.raises(ValueError, match="from_snapshot_id"):
        ChangelogFeed(spark, tbl, str(tmp_path / "other.ckpt"))


@pytest.mark.slow
@pytest.mark.parametrize("flavor", ["spec", "json"])
@pytest.mark.parametrize("seed", [11, 29])
def test_changelog_replay_reconstructs_table(spark, tmp_path, flavor, seed):
    """THE changelog invariant: baseline rows + replayed INSERT/DELETE
    events (in commit order) == final visible rows, for a randomized
    sequence of appends / position deletes / keyed upserts.  The same
    must hold applying net_changes events in one shot."""
    import random
    from collections import Counter

    rng = random.Random(seed)
    tbl, snap0 = _mk(spark, tmp_path, flavor, f"rr{seed}")
    baseline = Counter(
        (r.id, r.k) for r in read_table(spark, tbl).collect()
    )

    next_id = 20
    for _ in range(4):
        op = rng.choice(["append", "pos_delete", "upsert"])
        if op == "append":
            _append(
                spark,
                tbl,
                spark.range(next_id, next_id + 3).select(
                    "id", (F.col("id") % 4).alias("k")
                ),
                tmp_path,
                f"{flavor}_rr{seed}_{next_id}",
            )
            next_id += 3
        elif op == "pos_delete":
            visible = [r.id for r in read_table(spark, tbl).collect()]
            if not visible:
                continue
            victims = rng.sample(visible, min(2, len(visible)))
            write_position_deletes(spark, tbl, F.col("id").isin(victims))
        else:
            visible = [r.id for r in read_table(spark, tbl).collect()]
            keys = rng.sample(visible, min(2, len(visible))) + [next_id]
            next_id += 1
            merge_upsert(
                spark,
                tbl,
                spark.createDataFrame(
                    [(i, rng.randrange(100, 200)) for i in keys],
                    "id long, k long",
                ),
                ["id"],
            )

    final = Counter((r.id, r.k) for r in read_table(spark, tbl).collect())

    log = read_changelog(spark, tbl, snap0)
    events = sorted(
        ((r._change_ordinal, r._change_type, r.id, r.k) for r in log.collect())
    )
    state = Counter(baseline)
    for _ord, typ, i, k in events:
        if typ == "DELETE":
            assert state[(i, k)] > 0, f"DELETE of non-visible row {(i, k)}"
            state[(i, k)] -= 1
        else:
            state[(i, k)] += 1
    assert +state == final

    net = read_changelog(spark, tbl, snap0, net_changes=True)
    state2 = Counter(baseline)
    for r in net.collect():
        if r._change_type == "DELETE":
            assert state2[(r.id, r.k)] > 0
            state2[(r.id, r.k)] -= 1
        else:
            state2[(r.id, r.k)] += 1
    assert +state2 == final


@pytest.mark.slow
def test_changelog_feed_replicates_table(spark, tmp_path):
    """End-to-end CDC replication: a ChangelogFeed applies each source
    commit to an independent target table (position deletes for DELETE
    events, appends for INSERTs); after draining, target == source."""
    from ic_spark.streaming.changelog_feed import ChangelogFeed

    src, snap0 = _mk(spark, tmp_path, "json", "repl_src")
    tgt = ManifestTable(str(tmp_path / "repl_tgt"))
    os.makedirs(tgt.root, exist_ok=True)
    _append(
        spark,
        tgt,
        spark.range(0, 20).select("id", (F.col("id") % 4).alias("k")),
        tmp_path,
        "repl_tgt_seed",
    )

    # source evolves: append, upsert (update + fresh insert), delete
    _append(
        spark,
        src,
        spark.range(20, 24).select("id", (F.col("id") % 4).alias("k")),
        tmp_path,
        "repl_src_1",
    )
    merge_upsert(
        spark,
        src,
        spark.createDataFrame([(3, 33), (50, 5)], "id long, k long"),
        ["id"],
    )
    write_position_deletes(spark, src, F.col("id").isin(8, 21))

    def apply_batch(df, sid):
        rows = df.collect()
        dead = [r.id for r in rows if r._change_type == "DELETE"]
        live = [(r.id, r.k) for r in rows if r._change_type == "INSERT"]
        if dead:
            write_position_deletes(spark, tgt, F.col("id").isin(dead))
        if live:
            _append(
                spark,
                tgt,
                spark.createDataFrame(live, "id long, k long"),
                tmp_path,
                f"repl_apply_{sid}",
            )

    feed = ChangelogFeed(spark, src, str(tmp_path / "repl.ckpt"), snap0)
    assert feed.process_available(apply_batch) == 3
    s = sorted((r.id, r.k) for r in read_table(spark, src).collect())
    t = sorted((r.id, r.k) for r in read_table(spark, tgt).collect())
    assert s == t


def test_changelog_compute_updates(spark, tmp_path):
    """identifier-column pairing: same-commit DELETE+INSERT sharing the
    key re-type as UPDATE_BEFORE/UPDATE_AFTER; unpaired rows keep their
    plain types."""
    tbl, snap0 = _mk(spark, tmp_path, "json", "updates")
    # upsert: id 4 replaced (update), id 100 fresh (plain insert)
    merge_upsert(
        spark,
        tbl,
        spark.createDataFrame([(4, 40), (100, 0)], "id long, k long"),
        ["id"],
    )
    # separate commit: plain delete of id 7
    write_position_deletes(spark, tbl, F.col("id") == 7)

    log = read_changelog(spark, tbl, snap0, compute_updates_key=["id"])
    got = sorted((r._change_type, r.id, r.k) for r in log.collect())
    assert got == sorted(
        [
            ("UPDATE_BEFORE", 4, 0),   # old row (k = id % 4)
            ("UPDATE_AFTER", 4, 40),   # new row
            ("INSERT", 100, 0),
            ("DELETE", 7, 3),
        ]
    )


def test_net_changes_per_commit_attribution(spark):
    """Surviving net rows carry the commit whose insert/delete actually
    survives under LIFO pairing (deletes cancel the most recent
    outstanding in-range insert), NOT a collapsed last-toucher stamp —
    the removeNetCarryovers behavior where each surviving row keeps its
    own commit metadata.  Pure-function pin on _net_changes."""
    from ic_spark.compaction.changelog import _net_changes

    rows = []

    def ev(v, typ, ordinal):
        rows.append((v, typ, 100 + ordinal, ordinal))

    # a: two inserts in different commits, both survive with their own
    # commit (the old collapsed version stamped both with ordinal 2).
    ev("a", "INSERT", 1)
    ev("a", "INSERT", 2)
    # b: insert, delete (pops it), re-insert -> the re-insert survives.
    ev("b", "INSERT", 1)
    ev("b", "DELETE", 2)
    ev("b", "INSERT", 3)
    # c: double insert @1, delete @2 pops the most recent outstanding
    # copy (LIFO), re-insert @3 -> survivors are one @1 and one @3.
    ev("c", "INSERT", 1)
    ev("c", "INSERT", 1)
    ev("c", "DELETE", 2)
    ev("c", "INSERT", 3)
    # d: two pre-range deletes in different commits, each emitted with
    # its own commit (old version stamped both with ordinal 2).
    ev("d", "DELETE", 1)
    ev("d", "DELETE", 2)
    # e: pre-range delete refilled by a later insert -> net zero.
    ev("e", "DELETE", 1)
    ev("e", "INSERT", 2)
    # f: delete + two inserts -> net +1, attributed to the LAST insert
    # (the first insert refills the pre-range slot).
    ev("f", "DELETE", 1)
    ev("f", "INSERT", 2)
    ev("f", "INSERT", 3)

    df = spark.createDataFrame(
        rows,
        "v string, _change_type string, _commit_snapshot_id long, "
        "_change_ordinal int",
    )
    got = sorted(
        (r.v, r._change_type, r._commit_snapshot_id, r._change_ordinal)
        for r in _net_changes(df, ["v"]).collect()
    )
    assert got == sorted(
        [
            ("a", "INSERT", 101, 1),
            ("a", "INSERT", 102, 2),
            ("b", "INSERT", 103, 3),
            ("c", "INSERT", 101, 1),
            ("c", "INSERT", 103, 3),
            ("d", "DELETE", 101, 1),
            ("d", "DELETE", 102, 2),
            ("f", "INSERT", 103, 3),
        ]
    )


@pytest.mark.slow
@pytest.mark.parametrize("flavor", ["spec", "json"])
def test_changelog_feed_crash_replay_exactly_once(spark, tmp_path, flavor):
    """At-least-once delivery + idempotent sink == exactly-once EFFECT:
    a crash injected AFTER the handler applied its batch but BEFORE the
    checkpoint advanced must re-deliver that commit on restart, and the
    upsert/position-delete sink must absorb the duplicate application —
    final target state equals source on both metadata flavors."""
    from ic_spark.streaming.changelog_feed import ChangelogFeed

    src, snap0 = _mk(spark, tmp_path, flavor, "crash_src")
    tgt_root = str(tmp_path / f"{flavor}_crash_tgt")
    if flavor == "spec":
        tgt = IcebergTable.create(
            tgt_root,
            spark.range(0).select("id", F.col("id").alias("k")).schema,
        )
    else:
        os.makedirs(tgt_root, exist_ok=True)
        tgt = ManifestTable(tgt_root)
    _append(
        spark,
        tgt,
        spark.range(0, 20).select("id", (F.col("id") % 4).alias("k")),
        tmp_path,
        f"{flavor}_crash_tgt_seed",
    )

    # source evolves over three commits: append, upsert, delete
    _append(
        spark,
        src,
        spark.range(20, 24).select("id", (F.col("id") % 4).alias("k")),
        tmp_path,
        f"{flavor}_crash_src_1",
    )
    merge_upsert(
        spark,
        src,
        spark.createDataFrame([(3, 33), (50, 5)], "id long, k long"),
        ["id"],
    )
    write_position_deletes(spark, src, F.col("id").isin(8, 21))

    applied_sids = []
    crashed = {}

    def apply_batch(df, sid):
        # IDEMPOTENT sink: deletes are delete-if-present, inserts are
        # keyed upserts — re-applying the same batch is a no-op.
        rows = df.collect()
        dead = [r.id for r in rows if r._change_type == "DELETE"]
        live = [(r.id, r.k) for r in rows if r._change_type == "INSERT"]
        # upserts pair DELETE(old)+INSERT(new) per key: apply deletes
        # only for keys with no replacement insert
        live_ids = {i for i, _ in live}
        dead = [i for i in dead if i not in live_ids]
        if dead:
            write_position_deletes(spark, tgt, F.col("id").isin(dead))
        if live:
            merge_upsert(
                spark,
                tgt,
                spark.createDataFrame(live, "id long, k long"),
                ["id"],
            )
        applied_sids.append(sid)
        # crash AFTER the side effect, BEFORE the checkpoint advances
        if len(applied_sids) == 2 and not crashed:
            crashed["yes"] = True
            raise RuntimeError("injected crash between handler and checkpoint")

    ckpt = str(tmp_path / f"{flavor}_crash.ckpt")
    feed = ChangelogFeed(spark, src, ckpt, snap0)
    with pytest.raises(RuntimeError, match="injected crash"):
        feed.process_available(apply_batch)
    # checkpoint sits at the last COMPLETED commit: batch 2 re-delivers
    resumed = ChangelogFeed(spark, src, ckpt)
    assert resumed.process_available(apply_batch) == 2
    # commit 2 was applied twice (once before the crash, once after)
    assert len(applied_sids) == 4
    assert applied_sids[1] == applied_sids[2]

    s = sorted((r.id, r.k) for r in read_table(spark, src).collect())
    t = sorted((r.id, r.k) for r in read_table(spark, tgt).collect())
    assert s == t


@pytest.mark.parametrize("flavor", ["spec", "json"])
def test_changelog_metadata_only_file_removal_emits_deletes(
    spark, tmp_path, flavor
):
    """A 'delete' commit that removes WHOLE data files (the
    metadata-only DELETE real Iceberg engines write when a predicate
    aligns with partition bounds — no new delete files) must emit those
    rows as DELETE events; the generic branch silently skipped
    `removed` and CDC consumers lost whole partitions (r9 review
    find)."""
    tbl, snap0 = _mk(spark, tmp_path, flavor, "metadel")
    snap1 = _append(
        spark,
        tbl,
        spark.range(100, 105).select("id", (F.col("id") % 4).alias("k")),
        tmp_path,
        f"{flavor}_metadel_1",
    )
    # drop the second file outright, no replacement: operation=delete
    data, _, _ = tbl.scan_tasks()
    victim = next(t for t in data if "metadel_1" in t.data_file_path)
    tbl.commit_rewrite([], {victim.data_file_path}, operation="delete")
    got = _changes(read_changelog(spark, tbl, snap1))
    assert got == [("DELETE", i, 0) for i in range(100, 105)]
    # the full range still reports the earlier INSERTs once
    full = _changes(read_changelog(spark, tbl, snap0))
    assert ("INSERT", 100, 0) in full and ("DELETE", 100, 1) in full


def test_changelog_feed_checkpoint_through_injected_fs(spark, tmp_path):
    """r12: the feed's progress record routes through the fileio seam —
    checkpoint publish, resume-read, and the torn-file guarantee all
    through an injected connector (the branch s3://gs:// take)."""
    import os

    import pyarrow.fs as pafs

    from ic_spark.streaming.changelog_feed import ChangelogFeed

    fio = {
        "pyarrow_filesystem": pafs.SubTreeFileSystem(
            "/", pafs.LocalFileSystem()
        )
    }
    tbl, snap0 = _mk(spark, tmp_path, "json", "feedfs")
    ckpt = str(tmp_path / "feedfs.ckpt")
    feed = ChangelogFeed(
        spark, tbl, ckpt, from_snapshot_id=snap0, file_io=fio
    )
    assert feed._mfs.fs is not None  # connector-routed
    _append(
        spark,
        tbl,
        spark.range(40, 42).select("id", (F.col("id") % 4).alias("k")),
        tmp_path,
        "feedfs_1",
    )
    assert feed.process_available(lambda df, sid: None) == 1
    assert os.path.exists(ckpt)  # landed at the caller-spelled path
    assert not [
        n for n in os.listdir(str(tmp_path)) if ".tmp" in n
    ]  # no torn/temp litter
    # restart resumes from the connector-read checkpoint
    resumed = ChangelogFeed(spark, tbl, ckpt, file_io=fio)
    assert resumed.last_snapshot_id == feed.last_snapshot_id
    assert resumed.process_available(lambda df, sid: None) == 0
