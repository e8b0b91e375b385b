"""Iceberg v3 row lineage (spec "Row Lineage") on the compaction core.

Every data row gets a durable ``_row_id`` (the file's ``first_row_id``
+ position) and a ``_last_updated_sequence_number``; the table claims
contiguous id ranges from ``next_row_id`` at commit time.  The
compaction obligation under test: a rewrite must PRESERVE both values
for every surviving row by materializing them as physical columns in
its outputs (null ``first_row_id`` on the new entries, per the spec's
"null first-row-id => materialized lineage" rule).
"""

from __future__ import annotations

import pytest
import os

import pyspark.sql.functions as F

from ic_spark.compaction import Compaction, ManifestTable
from ic_spark.compaction.deletes import (
    read_table,
    write_equality_deletes,
)
from tests.test_mor import spark_uri, write_parquet

SCHEMA = "id int, name string, v double"


def _rows(a, b):
    return [(i, f"n{i}", float(i)) for i in range(a, b)]


def _mk_lineage_table(spark, base, with_record_count=True):
    t = ManifestTable(str(base / "tbl"))
    f1 = write_parquet(spark, str(base / "d1"), _rows(0, 10), SCHEMA)
    e1 = {"path": f1, "sequence_number": 1, "content": "DATA"}
    if with_record_count:
        e1["record_count"] = 10
    t.append_snapshot([e1])
    t.enable_row_lineage()
    f2 = write_parquet(spark, str(base / "d2"), _rows(10, 16), SCHEMA)
    t.append_snapshot(
        [{"path": f2, "sequence_number": 2, "content": "DATA",
          "record_count": 6}]
    )
    return t, f1, f2


@pytest.mark.slow
def test_enable_backfills_and_appends_claim_ranges(spark, tmp_path):
    """Enable backfills live files (footer-read when record_count is
    absent), appends claim disjoint ranges, next_row_id advances."""
    t, f1, f2 = _mk_lineage_table(spark, tmp_path, with_record_count=False)
    data, _, _ = t.scan_tasks()
    by_path = {d.data_file_path: d for d in data}
    assert by_path[f1].first_row_id == 0
    assert by_path[f2].first_row_id == 10
    assert t.next_row_id == 16

    got = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in read_table(spark, t, with_lineage=True).collect()
    }
    assert got == {
        **{i: (i, 1) for i in range(10)},
        **{i: (i, 2) for i in range(10, 16)},
    }
    # without the flag the metadata columns stay hidden
    assert set(read_table(spark, t).columns) == {"id", "name", "v"}
    # the files metadata table surfaces the assigned ranges
    from ic_spark.compaction.metadata_tables import read_metadata_table

    frid = {
        r.path: r.first_row_id
        for r in read_metadata_table(spark, t, "files").collect()
    }
    assert frid == {f1: 0, f2: 10}


@pytest.mark.slow
def test_lineage_survives_deletes_and_compaction(spark, tmp_path):
    """Position + equality deletes drop rows; full_compact preserves
    every SURVIVOR's (_row_id, _last_updated_sequence_number) exactly,
    commits materialized entries, and leaves next_row_id untouched."""
    t, f1, f2 = _mk_lineage_table(spark, tmp_path)
    # position-delete rows 0,1 of file 1
    pd = write_parquet(
        spark,
        str(tmp_path / "pd"),
        [(spark_uri(f1), 0), (spark_uri(f1), 1)],
        "file_path string, pos long",
    )
    t.append_snapshot(
        [{"path": pd, "sequence_number": 3, "content": "POSITION_DELETES"}]
    )
    # equality-delete id=12 (seq 4 > data seq 2)
    write_equality_deletes(
        spark, t, spark.createDataFrame([(12,)], "id int"), ["id"]
    )
    before = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in read_table(spark, t, with_lineage=True).collect()
    }
    assert set(before) == set(range(2, 16)) - {12}
    assert before[5] == (5, 1) and before[11] == (11, 2)
    next_before = t.next_row_id

    schema = spark.createDataFrame([], SCHEMA).schema
    Compaction(spark).full_compact(t, schema)

    data, pos, eq = t.scan_tasks()
    assert not pos and not eq
    assert all(d.first_row_id is None for d in data)  # materialized
    assert t.next_row_id == next_before  # rewrite claims no new ids
    after = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in read_table(spark, t, with_lineage=True).collect()
    }
    assert after == before  # ids AND last-updated preserved exactly
    # the physical files really carry the materialized columns
    raw = spark.read.parquet(*[d.data_file_path for d in data])
    assert "_row_id" in raw.columns
    assert "_last_updated_sequence_number" in raw.columns
    # plain reads keep hiding them
    assert set(read_table(spark, t).columns) == {"id", "name", "v"}


@pytest.mark.slow
def test_post_compaction_appends_and_second_compaction(spark, tmp_path):
    """Ids keep advancing after a compaction (no reuse, no collision);
    a second compaction over mixed materialized + plain files still
    preserves everything."""
    t, f1, f2 = _mk_lineage_table(spark, tmp_path)
    schema = spark.createDataFrame([], SCHEMA).schema
    Compaction(spark).full_compact(t, schema)
    f3 = write_parquet(spark, str(tmp_path / "d3"), _rows(16, 20), SCHEMA)
    t.append_snapshot(
        [{"path": f3, "sequence_number": 10, "content": "DATA",
          "record_count": 4}]
    )
    data, _, _ = t.scan_tasks()
    fresh = [d for d in data if d.data_file_path == f3]
    assert fresh and fresh[0].first_row_id == 16
    assert t.next_row_id == 20
    want = {
        **{i: (i, None) for i in range(16)},  # seq checked loosely below
        **{i: (i, 10) for i in range(16, 20)},
    }
    got = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in read_table(spark, t, with_lineage=True).collect()
    }
    assert {i: rid for i, (rid, _) in got.items()} == {
        i: rid for i, (rid, _) in want.items()
    }
    assert all(got[i][1] == 10 for i in range(16, 20))
    # original rows kept their pre-compaction last-updated seqs
    assert got[0][1] == 1 and got[12][1] == 2

    Compaction(spark).full_compact(t, schema)
    got2 = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in read_table(spark, t, with_lineage=True).collect()
    }
    assert got2 == got
    assert t.next_row_id == 20


@pytest.mark.slow
def test_lineage_on_spec_metadata_table(spark, tmp_path):
    """The same lifecycle over the SPEC-metadata flavor (IcebergTable):
    enable upgrades to format-version 3 + next-row-id, backfills live
    files through a manifest-rewriting replace commit, appends claim
    ranges, Avro manifests round-trip the explicit first_row_id (field
    id 142), and full_compact preserves ids via materialized columns."""
    from ic_spark.compaction.iceberg_meta import IcebergTable

    schema_df = spark.createDataFrame([], SCHEMA)
    t = IcebergTable.create(str(tmp_path / "ice"), schema_df.schema)
    f1 = write_parquet(spark, str(tmp_path / "i1"), _rows(0, 10), SCHEMA)
    t.append_snapshot(
        [{"path": f1, "sequence_number": 1, "content": "DATA",
          "record_count": 10}]
    )
    t.enable_row_lineage()
    assert t.metadata()["format-version"] == 3
    f2 = write_parquet(spark, str(tmp_path / "i2"), _rows(10, 16), SCHEMA)
    t.append_snapshot(
        [{"path": f2, "sequence_number": 2, "content": "DATA",
          "record_count": 6}]
    )
    data, _, _ = t.scan_tasks()
    by_path = {d.data_file_path: d.first_row_id for d in data}
    assert by_path == {f1: 0, f2: 10}  # Avro manifests round-trip ids
    assert t.next_row_id == 16

    write_equality_deletes(
        spark, t, spark.createDataFrame([(3,)], "id int"), ["id"]
    )
    before = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in read_table(spark, t, with_lineage=True).collect()
    }
    assert set(before) == set(range(16)) - {3}
    Compaction(spark).full_compact(t)
    data, pos, eq = t.scan_tasks()
    assert not pos and not eq
    assert all(d.first_row_id is None for d in data)
    after = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in read_table(spark, t, with_lineage=True).collect()
    }
    assert after == before
    assert t.next_row_id == 16
    assert set(read_table(spark, t).columns) == {"id", "name", "v"}


@pytest.mark.slow
def test_read_incremental_with_lineage(spark, tmp_path):
    """Incremental consumers get the durable row identity: ids of the
    appended range only, matching the full-table lineage read."""
    from ic_spark.compaction.deletes import read_incremental

    t, f1, f2 = _mk_lineage_table(spark, tmp_path)
    snaps = [s.snapshot_id for s in t.snapshots()]
    inc = read_incremental(
        spark, t, from_snapshot_id=snaps[-2], with_lineage=True
    )
    got = {r.id: (r._row_id, r._last_updated_sequence_number)
           for r in inc.collect()}
    assert got == {i: (i, 2) for i in range(10, 16)}
    full = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in read_table(spark, t, with_lineage=True).collect()
    }
    assert all(full[i] == got[i] for i in got)
    # empty range keeps the lineage schema
    empty = read_incremental(
        spark, t, from_snapshot_id=snaps[-1], with_lineage=True
    )
    assert "_row_id" in empty.columns and empty.count() == 0


@pytest.mark.slow
def test_lineage_invariants_random_histories(spark, tmp_path):
    """Property sweep over randomized table histories (appends of
    varying sizes, position deletes, equality deletes, compactions at
    random points): after every step, (1) live _row_ids are unique,
    (2) a row's (_row_id, _last_updated_sequence_number) never changes
    once assigned unless the row is deleted, (3) next_row_id equals
    total rows ever appended, (4) compaction changes nothing
    observable."""
    import random

    from ic_spark.compaction.deletes import read_table

    rng = random.Random(42)
    t = ManifestTable(str(tmp_path / "prop"))
    t.enable_row_lineage()
    schema = spark.createDataFrame([], SCHEMA).schema
    next_id = 0
    appended = 0
    seq = 0
    tracked: dict = {}  # uid -> (_row_id, _last_seq) at first sight
    alive: set = set()
    file_no = 0

    def snapshot_state():
        rows = read_table(spark, t, with_lineage=True).collect()
        got = {r.id: (r._row_id, r._last_updated_sequence_number)
               for r in rows}
        assert len(rows) == len(got), "duplicate uid"
        rids = [v[0] for v in got.values()]
        assert len(set(rids)) == len(rids), "duplicate _row_id"
        assert set(got) == alive
        for uid, pair in got.items():
            if uid in tracked:
                assert tracked[uid] == pair, f"lineage moved for {uid}"
            else:
                tracked[uid] = pair
        assert t.next_row_id == appended
        return got

    for step in range(10):
        op = rng.choice(["append", "append", "posdel", "eqdel", "compact"])
        if op == "append" or not alive:
            n = rng.randint(1, 12)
            rows = [(next_id + i, f"n{next_id + i}", float(i)) for i in range(n)]
            # strictly newer than every live file INCLUDING delete
            # files, so the eq-delete strict-< guard never hides new rows
            seq = t.next_sequence_number()
            file_no += 1
            path = write_parquet(
                spark, str(tmp_path / f"f{file_no}"), rows, SCHEMA
            )
            t.append_snapshot(
                [{"path": path, "sequence_number": seq, "content": "DATA",
                  "record_count": n}]
            )
            alive.update(r[0] for r in rows)
            next_id += n
            appended += n
        elif op == "eqdel":
            victims = rng.sample(sorted(alive), min(3, len(alive)))
            write_equality_deletes(
                spark,
                t,
                spark.createDataFrame([(v,) for v in victims], "id int"),
                ["id"],
            )
            alive.difference_update(victims)
        elif op == "posdel":
            # delete one random live row by its (file, pos): find via a
            # lineage read (path+pos not tracked here), so emulate with
            # an equality delete instead — position deletes are already
            # pinned in test_lineage_survives_deletes_and_compaction
            victims = rng.sample(sorted(alive), min(2, len(alive)))
            write_equality_deletes(
                spark,
                t,
                spark.createDataFrame([(v,) for v in victims], "id int"),
                ["id"],
            )
            alive.difference_update(victims)
        else:
            before = snapshot_state()
            Compaction(spark).full_compact(t, schema)
            after = snapshot_state()
            assert after == before
        snapshot_state()


@pytest.mark.slow
def test_changelog_with_lineage(spark, tmp_path):
    """CDC change rows carry the durable identity: INSERTs get the ids
    assigned to the appended files, DELETEs get the ids of the rows the
    commit hid (pairing a DELETE with its INSERT by _row_id — v3's
    core use case); compaction in-range emits nothing and changes no
    ids; value-collapsing options are rejected."""
    import pytest

    from ic_spark.compaction.changelog import read_changelog

    t, f1, f2 = _mk_lineage_table(spark, tmp_path)
    snaps = [s.snapshot_id for s in t.snapshots()]
    base = snaps[0]  # after f1, before f2
    # delete two rows spanning both files
    write_equality_deletes(
        spark, t, spark.createDataFrame([(4,), (11,)], "id int"), ["id"]
    )
    schema = spark.createDataFrame([], SCHEMA).schema
    Compaction(spark).full_compact(t, schema)  # replace: must emit nothing

    log = read_changelog(spark, t, base, with_lineage=True)
    assert "_row_id" in log.columns
    rows = log.collect()
    ins = {r.id: r._row_id for r in rows if r._change_type == "INSERT"}
    dels = {r.id: r._row_id for r in rows if r._change_type == "DELETE"}
    assert ins == {i: i for i in range(10, 16)}  # f2's appended rows
    assert dels == {4: 4, 11: 11}  # identity pairs the delete to its row
    # the delete of id=11 pairs with the in-range insert by _row_id
    assert dels[11] == ins[11]
    # last-updated seq on INSERTs = the appending file's seq
    for r in rows:
        if r._change_type == "INSERT":
            assert r._last_updated_sequence_number == 2

    with pytest.raises(ValueError, match="not combinable"):
        read_changelog(spark, t, base, with_lineage=True, net_changes=True)
    plain = ManifestTable(str(tmp_path / "nolin"))
    with pytest.raises(ValueError, match="enable_row_lineage"):
        read_changelog(spark, plain, 0, with_lineage=True)


def test_lineage_values_pinned_on_many_file_table(spark, tmp_path):
    """Every row of a 48-file lineage table spread over 12 sequence
    numbers reads ``_row_id`` = its file's first_row_id + position and
    ``_last_updated_sequence_number`` = its file's sequence number (the
    pyarrow oracle below), from ONE data scan with no join: the
    per-file values come from the scan's file lookup."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = ManifestTable(str(tmp_path / "tbl"))
    next_id = 0
    for seq in range(1, 13):
        entries = []
        for k in range(4):
            n = 3 + (seq + k) % 4
            ids = list(range(next_id, next_id + n))
            next_id += n
            f = str(tmp_path / f"d{seq:02d}_{k}.parquet")
            pq.write_table(
                pa.table(
                    {
                        "id": pa.array(ids, pa.int32()),
                        "name": [f"n{i}" for i in ids],
                        "v": [float(i) for i in ids],
                    }
                ),
                f,
            )
            entries.append(
                {"path": f, "sequence_number": seq, "content": "DATA",
                 "record_count": n}
            )
        t.append_snapshot(entries)
        if seq == 1:
            t.enable_row_lineage()
    data, _, _ = t.scan_tasks()
    assert len(data) == 48
    expect = set()
    for d in data:
        ids = pq.read_table(d.data_file_path).column("id").to_pylist()
        for pos, i in enumerate(ids):
            expect.add((i, d.first_row_id + pos, d.sequence_number))
    schema = spark.createDataFrame([], SCHEMA).schema
    df = read_table(spark, t, schema=schema, with_lineage=True)
    got = {
        (r.id, r._row_id, r._last_updated_sequence_number)
        for r in df.collect()
    }
    assert got == expect
    assert {r[1] for r in got} == set(range(next_id))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan


@pytest.mark.slow
def test_changelog_compute_updates_by_lineage(spark, tmp_path):
    """v3's core CDC use case: ``compute_updates=True`` pairs
    same-commit DELETE+INSERT by ``_row_id`` with NO identifier
    columns supplied — a COW update_where reads back as
    UPDATE_BEFORE/UPDATE_AFTER pairs; rows the rewrite merely carried
    (identical values AND identical _last_updated_sequence_number) are
    dropped as carry-overs; a value-identical UPDATE still pairs
    because its sequence number advances."""
    import pytest

    from ic_spark.compaction.changelog import read_changelog
    from ic_spark.compaction.rowops import update_where

    t, f1, f2 = _mk_lineage_table(spark, tmp_path)
    base = [s.snapshot_id for s in t.snapshots()][-1]
    schema = spark.createDataFrame([], SCHEMA).schema
    update_where(spark, t, [("id", "=", 5)], {"v": "v + 100"}, schema)
    # value-identical update: carried rows and this row have the same
    # values — only the advanced seq distinguishes UPDATE from noise
    update_where(spark, t, [("id", "=", 12)], {"v": "v"}, schema)

    log = read_changelog(
        spark, t, base, with_lineage=True, compute_updates=True
    )
    by: dict[str, list] = {}
    for r in log.collect():
        by.setdefault(r._change_type, []).append(r)
    # ONLY the two updated rows appear; every carried row is dropped
    assert sorted(r.id for r in by.get("UPDATE_BEFORE", [])) == [5, 12]
    assert sorted(r.id for r in by.get("UPDATE_AFTER", [])) == [5, 12]
    assert "DELETE" not in by and "INSERT" not in by
    ub = {r.id: r for r in by["UPDATE_BEFORE"]}
    ua = {r.id: r for r in by["UPDATE_AFTER"]}
    assert ub[5]._row_id == 5 and ua[5]._row_id == 5
    assert ub[5].v == 5.0 and ua[5].v == 105.0
    assert ub[5]._change_ordinal == ua[5]._change_ordinal
    assert ub[12].v == 12.0 and ua[12].v == 12.0  # same value, paired
    assert (
        ua[12]._last_updated_sequence_number
        > ub[12]._last_updated_sequence_number
    )

    with pytest.raises(ValueError, match="requires"):
        read_changelog(spark, t, base, compute_updates=True)
    with pytest.raises(ValueError, match="pick one"):
        read_changelog(
            spark,
            t,
            base,
            with_lineage=True,
            compute_updates=True,
            compute_updates_key=["id"],
        )
    with pytest.raises(ValueError, match="net_changes"):
        read_changelog(
            spark,
            t,
            base,
            with_lineage=True,
            compute_updates=True,
            net_changes=True,
        )


@pytest.mark.slow
def test_lineage_preserved_by_binpack_and_row_ops(spark, tmp_path):
    """EVERY rewrite path preserves row identity, not just full_compact:
    binpack (compact_small_files) materializes ids with no new claims;
    COW delete/update/merge carry ids through their transforms —
    updated rows keep _row_id and inherit the NEW commit's sequence
    number, inserted rows get fresh unique ids."""
    from ic_spark.compaction.rowops import delete_where, merge_into, update_where

    t, f1, f2 = _mk_lineage_table(spark, tmp_path)
    schema = spark.createDataFrame([], SCHEMA).schema
    before = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in read_table(spark, t, with_lineage=True).collect()
    }

    # binpack: both fixture files are tiny -> merged; ids must not move
    Compaction(spark).compact_small_files(t, schema)
    assert t.next_row_id == 16
    after = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in read_table(spark, t, with_lineage=True).collect()
    }
    assert after == before

    # COW delete: survivors keep identity exactly
    delete_where(spark, t, [("id", "=", 3)], schema)
    got = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in read_table(spark, t, with_lineage=True).collect()
    }
    assert set(got) == set(range(16)) - {3}
    assert all(got[i] == before[i] for i in got)

    # COW update: updated row keeps _row_id, seq bumps to the rewrite's
    update_where(spark, t, [("id", "=", 5)], {"v": "v + 100"}, schema)
    data, _, _ = t.scan_tasks()
    max_seq = max(d.sequence_number for d in data)
    got = {
        r.id: (r._row_id, r._last_updated_sequence_number, r.v)
        for r in read_table(spark, t, with_lineage=True).collect()
    }
    assert got[5][0] == 5 and got[5][1] == max_seq and got[5][2] == 105.0
    # untouched rows in the rewritten file keep their original seq
    assert got[6][:2] == before[6]

    # MERGE: matched row updated in place (id kept, seq bumped),
    # unmatched source rows inserted under fresh unique ids
    src = spark.createDataFrame(
        [(6, "n6", 999.0), (100, "n100", 1.0)], SCHEMA
    )
    merge_into(spark, t, src, ["id"], schema)
    got = {
        r.id: (r._row_id, r._last_updated_sequence_number, r.v)
        for r in read_table(spark, t, with_lineage=True).collect()
    }
    assert got[6][0] == 6 and got[6][2] == 999.0
    assert got[6][1] > before[6][1]
    rids = [v[0] for v in got.values()]
    assert len(set(rids)) == len(rids)  # all ids unique incl. insert
    assert got[100][0] not in {v[0] for k, v in before.items()}
    assert got[9] == (*before[9], 9.0)  # untouched row fully intact


@pytest.mark.slow
def test_lineage_commit_conflict_leaves_no_stale_ids(spark, tmp_path):
    """A commit that loses the optimistic-concurrency race must leave
    the caller's entry dicts unstamped and next_row_id untouched, so a
    retry claims a FRESH range instead of re-committing a stale one."""
    import pytest

    from ic_spark.compaction.manifest import CommitConflictError

    t, f1, f2 = _mk_lineage_table(spark, tmp_path)
    f3 = write_parquet(spark, str(tmp_path / "c3"), _rows(16, 20), SCHEMA)
    entry = {"path": f3, "sequence_number": 5, "content": "DATA",
             "record_count": 4}
    with pytest.raises(CommitConflictError):
        t.commit_rewrite([entry], set(), expected_snapshot_id=999)
    assert "first_row_id" not in entry  # caller's dict unstamped
    assert t.next_row_id == 16  # nothing claimed
    # retry (appends also assign on copies)
    t.append_snapshot([entry])
    assert "first_row_id" not in entry
    assert t.next_row_id == 20
    data, _, _ = t.scan_tasks()
    assert {d.first_row_id for d in data if d.data_file_path == f3} == {16}


@pytest.mark.slow
def test_lineage_requires_record_count_and_flag(spark, tmp_path):
    import pytest

    t = ManifestTable(str(tmp_path / "t2"))
    f1 = write_parquet(spark, str(tmp_path / "x1"), _rows(0, 3), SCHEMA)
    t.append_snapshot(
        [{"path": f1, "sequence_number": 1, "content": "DATA",
          "record_count": 3}]
    )
    with pytest.raises(ValueError, match="enable_row_lineage"):
        read_table(spark, t, with_lineage=True)
    t.enable_row_lineage()
    f2 = write_parquet(spark, str(tmp_path / "x2"), _rows(3, 5), SCHEMA)
    with pytest.raises(ValueError, match="record_count"):
        t.append_snapshot(
            [{"path": f2, "sequence_number": 2, "content": "DATA"}]
        )


def test_read_table_pruned_to_empty_keeps_lineage_schema(spark, tmp_path):
    """A filter that prunes every file must return an empty frame with
    the SAME columns as a non-empty read — with_lineage appends the
    lineage metadata and inferred schemas strip materialized lineage
    fields; a schema that flips with the filter's selectivity crashes
    downstream unions (r9 review find)."""
    import os

    import pyspark.sql.functions as F

    from ic_spark.compaction.deletes import read_table
    from ic_spark.compaction.manifest import ManifestTable
    from ic_spark.compaction.writer import _stats_from_footer

    table = ManifestTable(str(tmp_path / "lin"))
    table.enable_row_lineage()
    d = str(tmp_path / "lin_data")
    spark.range(0, 6).selectExpr("id", "id * 2 AS v").coalesce(
        1
    ).write.parquet(d)
    f = next(
        os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")
    )
    rc, cs, _ = _stats_from_footer(f, d)
    table.append_snapshot(
        [{"path": f, "sequence_number": 1, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(f), "record_count": rc,
          "column_stats": cs}]
    )
    full = read_table(spark, table, with_lineage=True)
    assert full.count() == 6
    empty = read_table(
        spark, table, with_lineage=True, where=[("id", ">=", 1000)]
    )
    assert empty.count() == 0
    assert empty.columns == full.columns, (
        "pruned-to-empty lineage read returned a different schema"
    )
    # plain reads: lineage metadata stays hidden in BOTH shapes
    plain_full = read_table(spark, table)
    plain_empty = read_table(spark, table, where=[("id", ">=", 1000)])
    assert plain_empty.columns == plain_full.columns == ["id", "v"]
