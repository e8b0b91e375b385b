"""Partition-spec evolution: spec registry, per-file-spec pruning, and
compaction-driven layout migration.

Iceberg semantics under test (spec "Partition Evolution"; reference
ships one PartitionSpec per rewrite request, core/proto/iceberg.proto:18-61):
- evolving the spec is metadata-only — existing files keep their spec;
- scans evaluate each file against ITS OWN spec (old and new layouts
  coexist in one snapshot);
- compaction rewrites everything under the CURRENT default spec.
"""

from __future__ import annotations

import os
import struct

import pyspark.sql.functions as F
import pytest

from ic_spark.compaction import Compaction, ManifestTable
from ic_spark.compaction.deletes import read_table, write_position_deletes
from ic_spark.compaction.table_model import (
    _file_may_match,
    _file_may_match_partition,
)
from ic_spark.compaction.transforms import apply_transform_py
from ic_spark.functions.iceberg_hash import py_murmur3_32


# ------------------------------------------------------------- registry

def test_spec_registry_update_and_idempotence(tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    assert t.default_spec_id() == 0
    assert t.partition_spec() == []  # implicit unpartitioned spec

    day = [{"name": "ts_day", "source": "ts", "transform": "day"}]
    sid1 = t.update_partition_spec(day)
    assert sid1 == 1 and t.default_spec_id() == 1
    assert t.partition_spec() == day
    assert t.partition_spec(0) == []  # old spec still addressable

    hour = [{"name": "ts_hour", "source": "ts", "transform": "hour"}]
    sid2 = t.update_partition_spec(hour)
    assert sid2 == 2 and t.default_spec_id() == 2

    # Re-registering an existing spec flips the default, mints no id.
    assert t.update_partition_spec(day) == sid1
    assert t.default_spec_id() == sid1
    assert set(t.model_state().specs) == {"0", "1", "2"}

    # identity fields may reuse the source name (Iceberg's convention;
    # the fanout writer routes dirs through a prefixed derived column —
    # r9); derived transforms still must not shadow their source.
    sid_ident = t.update_partition_spec(
        [{"name": "k", "source": "k", "transform": "identity"}]
    )
    assert t.default_spec_id() == sid_ident
    t.update_partition_spec(day)  # restore for the following asserts
    with pytest.raises(ValueError, match="differ from source"):
        t.update_partition_spec(
            [{"name": "k", "source": "k", "transform": "bucket", "n": 4}]
        )
    with pytest.raises(ValueError, match="name\\+transform"):
        t.update_partition_spec([{"name": "x"}])


# ------------------------------------- driver-side transform evaluation

def test_apply_transform_py_matrix():
    import datetime as dt

    ok, v = apply_transform_py({"transform": "identity"}, 42)
    assert ok and v == 42
    assert apply_transform_py({"transform": "void"}, 42)[0] is False

    ts = dt.datetime(2024, 3, 5, 14, 30)
    assert apply_transform_py({"transform": "year"}, ts) == (True, 54)
    assert apply_transform_py({"transform": "month"}, ts) == (True, 54 * 12 + 2)
    assert apply_transform_py({"transform": "day"}, ts) == (
        True,
        (dt.date(2024, 3, 5) - dt.date(1970, 1, 1)).days,
    )
    hours = int(
        (ts - dt.datetime(1970, 1, 1)).total_seconds() // 3600
    )
    assert apply_transform_py({"transform": "hour"}, ts) == (True, hours)
    # ISO strings evaluate identically (predicate literals are often str).
    assert apply_transform_py({"transform": "day"}, "2024-03-05 14:30:00") == (
        True,
        (dt.date(2024, 3, 5) - dt.date(1970, 1, 1)).days,
    )

    # truncate floors toward -inf (Iceberg), strings cut at width.
    assert apply_transform_py({"transform": "truncate", "width": 100}, 250) == (True, 200)
    assert apply_transform_py({"transform": "truncate", "width": 100}, -1) == (True, -100)
    assert apply_transform_py({"transform": "truncate", "width": 3}, "abcdef") == (True, "abc")

    # bucket without a physical type cannot prune.
    assert apply_transform_py({"transform": "bucket", "n": 8}, 5)[0] is False


def test_engine_bucket_py_matches_f_hash(spark):
    """The driver-side bucket used for pruning must agree with the
    engine's F.hash-based bucket for BOTH physical int and long — a
    mismatch would silently prune files containing matching rows."""
    vals = [0, 1, -1, 7, 150, 2**31 - 1, -(2**31), 123456789]
    n = 8
    rows = spark.createDataFrame(
        [(v, v) for v in vals], "i int, l long"
    ).select(
        "i",
        "l",
        F.pmod(F.hash("i"), F.lit(n)).alias("bi"),
        F.pmod(F.hash("l"), F.lit(n)).alias("bl"),
    ).collect()
    for r in rows:
        ok, bi = apply_transform_py({"transform": "bucket", "n": n}, r.i, "int")
        assert ok and bi == r.bi, f"int bucket mismatch for {r.i}"
        ok, bl = apply_transform_py({"transform": "bucket", "n": n}, r.l, "long")
        assert ok and bl == r.bl, f"long bucket mismatch for {r.l}"

    # iceberg_bucket pruning agrees with the spec-exact expression path
    # (8-byte-LE long serialization, seed 0).
    for v in vals:
        ok, b = apply_transform_py({"transform": "iceberg_bucket", "n": n}, v)
        assert ok and b == (py_murmur3_32(struct.pack("<q", v)) & 0x7FFFFFFF) % n


# ------------------------------------------------- per-spec file pruning

def _entry(path, spec_id, partition, seq=1):
    return {
        "path": path,
        "sequence_number": seq,
        "content": "DATA",
        "file_size_in_bytes": 1,
        "spec_id": spec_id,
        "partition": partition,
    }


def test_file_may_match_partition_per_spec():
    specs = {
        "0": [],
        "1": [{"name": "k_t", "source": "k", "transform": "truncate", "width": 100}],
        "2": [{"name": "k_b", "source": "k", "transform": "bucket", "n": 8,
               "source_type": "long"}],
    }
    old = _entry("f1", 1, {"k_t": "100"})  # hive dirs stringify values
    new = _entry("f2", 2, {"k_b": "3"})
    unpart = _entry("f0", 0, {})

    # truncate is monotone: range + equality pruning.
    assert _file_may_match_partition(old, specs, [("k", "=", 150)])
    assert not _file_may_match_partition(old, specs, [("k", "=", 250)])
    assert _file_may_match_partition(old, specs, [("k", ">=", 199)])
    assert not _file_may_match_partition(old, specs, [("k", "<", 100)])
    assert _file_may_match_partition(old, specs, [("k", "<", 101)])

    # bucket prunes ONLY on equality, judged by the file's own spec.
    ok, b150 = apply_transform_py(
        {"transform": "bucket", "n": 8}, 150, "long"
    )
    assert ok
    hit = _file_may_match_partition(new, specs, [("k", "=", 150)])
    assert hit == (b150 == 3)
    assert _file_may_match_partition(new, specs, [("k", "<", 0)])  # range: keep

    # Unpartitioned-spec files and unknown columns never prune.
    assert _file_may_match_partition(unpart, specs, [("k", "=", 1)])
    assert _file_may_match_partition(old, specs, [("other", "=", 1)])

    # Null/missing partition value -> conservative keep.
    assert _file_may_match_partition(_entry("f3", 1, {}), specs, [("k", "=", 250)])


from hypothesis import given, settings, strategies as st


@settings(max_examples=300, deadline=None)
@given(
    transform=st.sampled_from(["identity", "truncate", "bucket", "day"]),
    width=st.integers(min_value=1, max_value=1000),
    n=st.integers(min_value=1, max_value=64),
    rows=st.lists(st.integers(min_value=-10**6, max_value=10**6), min_size=1, max_size=20),
    op=st.sampled_from(["=", "<", "<=", ">", ">="]),
    lit=st.integers(min_value=-10**6, max_value=10**6),
)
def test_partition_pruning_never_drops_matching_rows(transform, width, n, rows, op, lit):
    """Soundness invariant: if ANY row of a file satisfies the
    predicate, the file must survive pruning — for every transform and
    operator, including the strict-projection boundary adjustment.
    (Day uses integer day ordinals as the source to stay pure-Python.)"""
    if transform == "day":
        return  # temporal literals are datetime-typed; covered by the matrix test
    field = {"name": "p", "source": "k", "transform": transform}
    if transform == "truncate":
        field["width"] = width
    if transform == "bucket":
        field["n"] = n
        field["source_type"] = "long"
    ok0, pv0 = apply_transform_py(field, rows[0], field.get("source_type"))
    if not ok0:
        return
    # A file holds the subset of rows sharing rows[0]'s partition value.
    in_file = [
        v
        for v in rows
        if apply_transform_py(field, v, field.get("source_type"))[1] == pv0
    ]
    entry = _entry("f", 1, {"p": str(pv0)})
    specs = {"1": [field]}

    def sat(v):
        return {
            "=": v == lit, "<": v < lit, "<=": v <= lit,
            ">": v > lit, ">=": v >= lit,
        }[op]

    has_match = any(sat(v) for v in in_file)
    survived = _file_may_match_partition(entry, specs, [("k", op, lit)])
    if has_match:
        assert survived, (
            f"over-pruned: {transform} pv={pv0} rows={in_file} {op} {lit}"
        )


def test_scan_tasks_partition_pruning_two_specs(spark, tmp_path):
    """Files written under two different specs coexist; a filtered scan
    prunes each against its own spec and results stay exact."""
    t = ManifestTable(str(tmp_path / "pe"))
    t.update_partition_spec(
        [{"name": "k_t", "source": "k", "transform": "truncate", "width": 100}]
    )
    entries = []
    for lo in (0, 100, 200):  # three spec-1 files, k in [lo, lo+100)
        d = str(tmp_path / f"pe_s1_{lo}")
        spark.range(lo, lo + 100).selectExpr("id AS k", "id * 2 AS v").coalesce(
            1
        ).write.parquet(d)
        p = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
        # No column_stats on purpose: pruning must come from the
        # partition tuple, not manifest min/max.
        entries.append(_entry(p, 1, {"k_t": str(lo)}))
    t.append_snapshot(entries)

    sid2 = t.update_partition_spec(
        [{"name": "k_b", "source": "k", "transform": "bucket", "n": 4,
          "source_type": "long"}]
    )
    bucket_of = {}
    d2 = str(tmp_path / "pe_s2")
    df2 = spark.range(300, 400).selectExpr(
        "id AS k", "id * 2 AS v", "pmod(hash(id), 4) AS b"
    )
    for b in range(4):
        dd = os.path.join(d2, str(b))
        part = df2.where(F.col("b") == b).drop("b")
        if part.isEmpty():
            continue
        part.coalesce(1).write.parquet(dd)
        p = next(os.path.join(dd, n) for n in os.listdir(dd) if n.endswith(".parquet"))
        bucket_of[b] = p
        t.append_snapshot([_entry(p, sid2, {"k_b": str(b)})])

    n_files = 3 + len(bucket_of)
    data, _, _ = t.scan_tasks()
    assert len(data) == n_files

    # k = 150: one spec-1 file (trunc 100) + one spec-2 bucket survive.
    data, _, _ = t.scan_tasks(data_filter=[("k", "=", 150)])
    ok, b150 = apply_transform_py(
        {"transform": "bucket", "n": 4}, 150, "long"
    )
    assert ok
    got = {d.data_file_path for d in data}
    assert got == {entries[1]["path"], bucket_of[b150]}

    # Range k >= 250: spec-1 file [200,300) + ALL spec-2 buckets
    # (bucket can't range-prune).
    data, _, _ = t.scan_tasks(data_filter=[("k", ">=", 250)])
    got = {d.data_file_path for d in data}
    assert got == {entries[2]["path"], *bucket_of.values()}

    # End-to-end: pruned read returns exactly the filtered rows.
    df = read_table(spark, t, where=[("k", ">=", 250)])
    assert sorted(r.k for r in df.collect()) == list(range(250, 400))


def test_iceberg_table_spec_evolution_and_compact(spark, tmp_path):
    """Spec-format metadata: update_partition_spec commits a new spec in
    partition-specs, compaction migrates the layout, and the manifest's
    typed partition struct round-trips the values."""
    from ic_spark.compaction.iceberg_meta import IcebergTable
    from ic_spark.sources.avro_io import read_container

    schema = spark.createDataFrame([], "k long, v long").schema
    tbl = IcebergTable.create(str(tmp_path / "it"), schema)
    d = str(tmp_path / "it_seed")
    spark.range(0, 400).selectExpr("id AS k", "id * 2 AS v").coalesce(
        1
    ).write.parquet(d)
    p = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    tbl.append_snapshot(
        [{"path": p, "content": "DATA", "record_count": 400,
          "file_size_in_bytes": os.path.getsize(p)}]
    )

    sid = tbl.update_partition_spec(
        [{"name": "k_t", "source": "k", "transform": "truncate", "width": 200}]
    )
    assert sid == 1 and tbl.default_spec_id() == 1
    meta = tbl.metadata()
    assert len(meta["partition-specs"]) == 2
    spec = next(s for s in meta["partition-specs"] if s["spec-id"] == 1)
    assert spec["fields"][0]["transform"] == "truncate[200]"
    assert spec["fields"][0]["field-id"] == 1000
    # Round-trip back to the writer shape (source_type from the schema
    # enables bucket-hash and temporal identity pruning downstream).
    assert tbl.partition_spec() == [
        {"name": "k_t", "source": "k", "transform": "truncate",
         "width": 200, "source_type": "long"}
    ]
    # bucket serializes as spec bucket[N] and reads back spec-exact.
    sid2 = tbl.update_partition_spec(
        [{"name": "k_b", "source": "k", "transform": "bucket", "n": 4}]
    )
    assert tbl.partition_spec(sid2) == [
        {"name": "k_b", "source": "k", "transform": "iceberg_bucket",
         "n": 4, "source_type": "long"}
    ]
    assert tbl.update_partition_spec(
        [{"name": "k_t", "source": "k", "transform": "truncate", "width": 200}]
    ) == sid  # idempotent DDL flips default back

    resp = Compaction(spark).full_compact(tbl, schema)
    assert resp.stat.added_files_count == 2  # one per truncate bin

    # Typed partition values survive the Avro manifest round-trip.
    snap = tbl._snapshot(None)
    _, _, manifests = read_container(snap["manifest-list"])
    _, _, entries = read_container(manifests[0]["manifest_path"])
    assert {e["data_file"]["partition"]["k_t"] for e in entries} == {0, 200}
    assert manifests[0]["partition_spec_id"] == sid

    data, _, _ = tbl.scan_tasks()
    out = spark.read.parquet(*[t.data_file_path for t in data])
    assert sorted(r.k for r in out.collect()) == list(range(400))


@pytest.mark.slow
def test_iceberg_scan_tasks_prunes_on_bounds_and_partition(spark, tmp_path):
    """Spec-metadata planning-time skipping: data files prune on Avro
    manifest lower/upper bounds AND on partition tuples evaluated per
    manifest spec; delete files never prune."""
    from ic_spark.compaction.iceberg_meta import IcebergTable
    from ic_spark.compaction.writer import _stats_from_footer

    schema = spark.createDataFrame([], "k long, v long").schema
    tbl = IcebergTable.create(str(tmp_path / "ip"), schema)
    sid = tbl.update_partition_spec(
        [{"name": "k_t", "source": "k", "transform": "truncate", "width": 100,
          "source_type": "long"}]
    )
    paths = {}
    for lo in (0, 100, 200):
        d = str(tmp_path / f"ip_{lo}")
        spark.range(lo, lo + 100).selectExpr("id AS k", "id AS v").coalesce(
            1
        ).write.parquet(d)
        p = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
        rc, cs, _ = _stats_from_footer(p, d)
        paths[lo] = p
        # File 200 carries ONLY a partition tuple (no stats): pruning
        # must come from the per-spec partition path for it.
        tbl.append_snapshot(
            [{"path": p, "content": "DATA", "record_count": rc,
              "file_size_in_bytes": os.path.getsize(p),
              "column_stats": None if lo == 200 else cs,
              "partition": {"k_t": lo}}]
        )
    dl = str(tmp_path / "ip_del")
    spark.createDataFrame([(5,)], "k long").coalesce(1).write.parquet(dl)
    dp = next(os.path.join(dl, n) for n in os.listdir(dl) if n.endswith(".parquet"))
    tbl.append_snapshot(
        [{"path": dp, "content": "EQUALITY_DELETES", "equality_ids": ["k"],
          "record_count": 1, "file_size_in_bytes": os.path.getsize(dp)}]
    )

    data, _, eq = tbl.scan_tasks(data_filter=[("k", "=", 150)])
    assert {t.data_file_path for t in data} == {paths[100]}  # bounds prune
    assert len(eq) == 1  # delete files survive any filter

    data, _, _ = tbl.scan_tasks(data_filter=[("k", ">=", 250)])
    assert {t.data_file_path for t in data} == {paths[200]}  # partition prunes

    data, _, _ = tbl.scan_tasks(data_filter=[("k", "<", 100)])
    assert {t.data_file_path for t in data} == {paths[0]}

    data, _, _ = tbl.scan_tasks()
    assert len(data) == 3  # no filter, no pruning
    assert tbl.default_spec_id() == sid


def test_full_compact_migrates_to_current_spec(spark, tmp_path):
    """Evolving the spec then compacting rewrites old-layout files under
    the new spec: entries carry the new spec_id + partition values,
    visible rows are unchanged, and the new layout prunes."""
    t = ManifestTable(str(tmp_path / "mig"))
    d = str(tmp_path / "mig_data")
    spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS v").coalesce(
        1
    ).write.parquet(d)
    p = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    t.append_snapshot(
        [{"path": p, "sequence_number": 1, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(p)}]
    )
    # A position delete rides along: compaction must apply it while
    # migrating the layout.
    write_position_deletes(spark, t, F.col("k") == 7)
    before = {(r.k, r.v) for r in read_table(spark, t).collect()}
    assert len(before) == 999

    sid = t.update_partition_spec(
        [{"name": "k_t", "source": "k", "transform": "truncate", "width": 250,
          "source_type": "long"}]
    )
    schema = spark.read.parquet(p).schema
    resp = Compaction(spark).full_compact(t, schema)
    assert resp.stat.added_files_count >= 4  # one per truncate bin

    snap = t.current_snapshot()
    data_entries = [f for f in snap.files if f.get("content", "DATA") == "DATA"]
    assert all(f["spec_id"] == sid for f in data_entries)
    parts = {f["partition"]["k_t"] for f in data_entries}
    assert parts == {"0", "250", "500", "750"}

    after = {(r.k, r.v) for r in read_table(spark, t).collect()}
    assert after == before  # migration is layout-only

    # The migrated layout actually prunes: k = 600 touches one bin.
    data, _, _ = t.scan_tasks(data_filter=[("k", "=", 600)])
    assert {f.data_file_path for f in data} == {
        f["path"] for f in data_entries if f["partition"]["k_t"] == "500"
    }


def test_temporal_identity_partition_pruning_across_value_shapes():
    """Identity partitions over DATE/TIMESTAMP columns arrive in
    flavor-dependent shapes — spec manifests store internal epoch ints,
    hive dirs store ISO strings, predicates carry strings or
    date/datetime objects.  Equality pruning must compare them in ONE
    domain: an int-vs-string `!=` is always-True and silently drops
    matching files (r9 review find)."""
    import datetime as dt

    specs = {
        "1": [{"name": "d", "source": "d", "transform": "identity",
               "source_type": "date"}],
        "2": [{"name": "ts", "source": "ts", "transform": "identity",
               "source_type": "timestamptz"}],
        "3": [{"name": "d2", "source": "d2", "transform": "identity"}],
    }
    days = (dt.date(2024, 6, 1) - dt.date(1970, 1, 1)).days
    spec_file = _entry("f1", 1, {"d": days})
    # Matching literals in every caller spelling: KEEP.
    for lit in ("2024-06-01", dt.date(2024, 6, 1),
                dt.datetime(2024, 6, 1), days):
        assert _file_may_match_partition(spec_file, specs, [("d", "=", lit)]), lit
    # Non-matching: PRUNE (all spellings).
    for lit in ("2024-06-02", dt.date(2024, 6, 2), days + 1):
        assert not _file_may_match_partition(
            spec_file, specs, [("d", "=", lit)]
        ), lit
    # Range ops across domains.
    assert _file_may_match_partition(spec_file, specs, [("d", ">=", "2024-06-01")])
    assert not _file_may_match_partition(spec_file, specs, [("d", ">", "2024-06-01")])
    assert not _file_may_match_partition(
        spec_file, specs, [("d", "<=", dt.date(2024, 5, 31))]
    )

    # timestamptz: internal micros vs aware/naive literals (aware
    # literals measure from the UTC epoch — Iceberg instant semantics).
    micros = 1717243200000000  # 2024-06-01T12:00:00Z
    ts_file = _entry("f2", 2, {"ts": micros})
    for lit in ("2024-06-01 12:00:00",
                dt.datetime(2024, 6, 1, 12, tzinfo=dt.timezone.utc),
                dt.datetime(2024, 6, 1, 17, 30, tzinfo=dt.timezone(
                    dt.timedelta(hours=5, minutes=30)))):
        assert _file_may_match_partition(ts_file, specs, [("ts", "=", lit)]), lit
    assert not _file_may_match_partition(
        ts_file, specs, [("ts", "=", "2024-06-01 12:00:01")]
    )

    # Hive-string partition value vs date-object literal (no declared
    # source_type): normalized through the literal's domain.
    hive_file = _entry("f3", 3, {"d2": "2024-06-01"})
    assert _file_may_match_partition(
        hive_file, specs, [("d2", "=", dt.date(2024, 6, 1))]
    )
    assert not _file_may_match_partition(
        hive_file, specs, [("d2", "=", dt.date(2024, 6, 2))]
    )

    # SAFETY: int partition value against a string literal with no
    # declared source type cannot be compared faithfully — never prune.
    mystery = _entry("f4", 3, {"d2": 19875})
    assert _file_may_match_partition(mystery, specs, [("d2", "=", "x")])


def test_iceberg_scan_tasks_prunes_date_identity_partition(spark, tmp_path):
    """End-to-end spec-flavor proof: a date-identity-partitioned table
    stores epoch-day ints in its manifests; scan_tasks with a date
    equality filter keeps exactly the matching partition's file."""
    import datetime as dt

    from ic_spark.compaction.iceberg_meta import IcebergTable
    from ic_spark.compaction.writer import _stats_from_footer

    schema = spark.createDataFrame([], "d date, v long").schema
    tbl = IcebergTable.create(str(tmp_path / "dp"), schema)
    tbl.update_partition_spec(
        [{"name": "d_p", "source": "d", "transform": "identity"}]
    )
    paths = {}
    for day in ("2024-06-01", "2024-06-02"):
        dd = str(tmp_path / f"dp_{day}")
        spark.sql(
            f"SELECT DATE'{day}' AS d, id AS v FROM range(10)"
        ).coalesce(1).write.parquet(dd)
        p = next(
            os.path.join(dd, n) for n in os.listdir(dd) if n.endswith(".parquet")
        )
        rc, cs, _ = _stats_from_footer(p, dd)
        paths[day] = p
        tbl.append_snapshot(
            [{"path": p, "content": "DATA", "record_count": rc,
              "file_size_in_bytes": os.path.getsize(p),
              "partition": {"d_p": day}}]
        )
    for lit in ("2024-06-01", dt.date(2024, 6, 1)):
        data, _, _ = tbl.scan_tasks(data_filter=[("d", "=", lit)])
        assert {t.data_file_path for t in data} == {paths["2024-06-01"]}, lit
    data, _, _ = tbl.scan_tasks(data_filter=[("d", ">", "2024-06-01")])
    assert {t.data_file_path for t in data} == {paths["2024-06-02"]}
    data, _, _ = tbl.scan_tasks()
    assert len(data) == 2


def test_temporal_identity_pruning_subday_literal_never_prunes_boundary():
    """A sub-day datetime literal has no exact epoch-days image over a
    DATE identity partition: `d < 2024-06-01T12:00` is satisfied by
    rows of day 2024-06-01, so the truncate-then-tighten path must opt
    out instead of pruning the boundary day (r9 second-pass review
    find, repro-confirmed)."""
    import datetime as dt

    specs = {
        "1": [{"name": "d", "source": "d", "transform": "identity",
               "source_type": "date"}],
    }
    days = (dt.date(2024, 6, 1) - dt.date(1970, 1, 1)).days
    f = _entry("f1", 1, {"d": days})
    noon = dt.datetime(2024, 6, 1, 12, 0)
    for op in ("<", "<=", ">", ">=", "="):
        # conservative: keep for every op (the literal is unmappable)
        assert _file_may_match_partition(f, specs, [("d", op, noon)]), op
    # Midnight maps exactly — pruning still applies there.
    midnight = dt.datetime(2024, 6, 2)
    assert not _file_may_match_partition(f, specs, [("d", ">=", midnight)])
    assert _file_may_match_partition(f, specs, [("d", "<", midnight)])


def test_fractional_identity_partition_never_mispruned_by_int_literal():
    """Exclusive-bound tightening (`k < v` -> `k <= v-1`) is only valid
    for integral source domains: a DOUBLE identity partition 4.5
    satisfies `k < 5` but not `k <= 4`, so the int-literal rewrite must
    not fire for it (r9 review find, confirmed by execution)."""
    specs = {
        "0": [{"name": "price", "source": "price", "transform": "identity",
               "source_type": "double"}],
    }
    f = _entry("f1", 0, {"price": 4.5})
    assert _file_may_match_partition(f, specs, [("price", "<", 5)])
    assert _file_may_match_partition(f, specs, [("price", ">", 4)])
    # Float literals were already correct; still are.
    assert _file_may_match_partition(f, specs, [("price", "<", 5.0)])
    assert not _file_may_match_partition(f, specs, [("price", "<", 4)])
    assert not _file_may_match_partition(f, specs, [("price", ">", 5)])
    # Int sources keep the tightening: `k < 100` prunes the 100 bin.
    ispecs = {
        "0": [{"name": "k", "source": "k", "transform": "identity",
               "source_type": "int"}],
    }
    assert not _file_may_match_partition(
        _entry("f2", 0, {"k": 100}), ispecs, [("k", "<", 100)]
    )
    assert _file_may_match_partition(
        _entry("f3", 0, {"k": 99}), ispecs, [("k", "<", 100)]
    )
    # truncate over a declared decimal source: `k < 100` covers 99.50,
    # so the v-1 rewrite must not fire there either (conservative keep).
    dspecs = {
        "0": [{"name": "k", "source": "k", "transform": "truncate",
               "width": 10, "source_type": "decimal(10,2)"}],
    }
    assert _file_may_match_partition(
        _entry("f4", 0, {"k": 100}), dspecs, [("k", "<", 100)]
    )


def test_hive_flavor_iso_spelling_variants_compare_as_instants():
    """Hive-flavor manifests (no source_type) store timestamps as
    str(datetime) — space separator — while predicate literals often use
    the 'T' spelling.  Equal instants must not prune on equality, and
    ordering must follow the instants, not the separator byte
    (r9 review find, confirmed by execution)."""
    specs = {
        "0": [{"name": "ts", "source": "ts", "transform": "identity"}],
    }
    f = _entry("f1", 0, {"ts": "2024-06-01 12:00:00"})
    assert _file_may_match_partition(
        f, specs, [("ts", "=", "2024-06-01T12:00:00")]
    )
    assert not _file_may_match_partition(
        f, specs, [("ts", "=", "2024-06-01T13:00:00")]
    )
    # Ordering across separators (' ' < 'T' lexically would invert this).
    assert _file_may_match_partition(
        f, specs, [("ts", "<", "2024-06-01T13:00:00")]
    )
    assert not _file_may_match_partition(
        f, specs, [("ts", ">", "2024-06-01T13:00:00")]
    )
    # Naive-vs-aware literals have no faithful shared domain: keep.
    assert _file_may_match_partition(
        f, specs, [("ts", "=", "2024-06-01T12:00:00+00:00")]
    )
    # Genuine string partitions are untouched.
    s = _entry("f2", 0, {"name": "apple"})
    sspecs = {
        "0": [{"name": "name", "source": "name", "transform": "identity"}],
    }
    assert not _file_may_match_partition(s, sspecs, [("name", "=", "banana")])
    assert _file_may_match_partition(s, sspecs, [("name", "=", "apple")])


# ---- identity pruning soundness across typed domains, manifest flavors
# and literal spellings (the r9 review bugs — fractional-double
# mis-pruning and ISO-spelling mis-pruning — were both instances of
# this property failing; the fuzz now guards the whole class).

def _ident_truth(v, lit):
    """Ground-truth comparison key for a (row value, literal) pair in
    one shared domain, or None when the pair is genuinely incomparable
    (pruning must then keep the file)."""
    import datetime as dt

    def norm(x):
        if isinstance(x, str):
            try:
                x = dt.datetime.fromisoformat(x)
            except ValueError:
                try:
                    x = dt.date.fromisoformat(x)
                except ValueError:
                    return x
        if isinstance(x, dt.date) and not isinstance(x, dt.datetime):
            x = dt.datetime(x.year, x.month, x.day)
        return x

    a, b = norm(v), norm(lit)
    if isinstance(a, dt.datetime) and isinstance(b, dt.datetime):
        if (a.tzinfo is None) is not (b.tzinfo is None):
            return None
        return a, b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return a, b
    if type(a) is type(b):
        return a, b
    return None


@settings(max_examples=400, deadline=None)
@given(data=st.data())
def test_identity_pruning_sound_across_domains_flavors_spellings(data):
    """Identity-partition soundness fuzz: for int/double/date/timestamp/
    string sources, BOTH manifest flavors (spec: internal representation
    + declared source_type; hive: str(value), no source_type), and every
    literal spelling a caller can pass (native object, ISO string with
    'T' or space separator, internal epoch int), a file whose single
    value satisfies the predicate must survive pruning."""
    import datetime as dt

    from ic_spark.compaction.epochs import epoch_days, epoch_micros

    domain = data.draw(
        st.sampled_from(["int", "double", "date", "timestamp", "string"])
    )
    op = data.draw(st.sampled_from(["=", "<", "<=", ">", ">="]))

    if domain == "int":
        v = data.draw(st.integers(min_value=-10**6, max_value=10**6))
        lit = data.draw(
            st.one_of(
                st.integers(min_value=-10**6, max_value=10**6),
                st.just(v),
            )
        )
        internal, src = v, "int"
    elif domain == "double":
        nums = st.one_of(
            st.integers(min_value=-1000, max_value=1000),
            st.integers(min_value=-2000, max_value=2000).map(
                lambda n: n / 2
            ),
            st.floats(
                min_value=-1000, max_value=1000,
                allow_nan=False, allow_infinity=False,
            ),
        )
        v = data.draw(nums.map(float))
        lit = data.draw(st.one_of(nums, st.just(v)))
        internal, src = v, "double"
    elif domain == "date":
        days = st.integers(min_value=-20000, max_value=20000)
        v = dt.date(1970, 1, 1) + dt.timedelta(days=data.draw(days))
        d2 = dt.date(1970, 1, 1) + dt.timedelta(days=data.draw(days))
        lit = data.draw(
            st.sampled_from(
                [d2, d2.isoformat(), dt.datetime(d2.year, d2.month, d2.day),
                 epoch_days(d2), v, v.isoformat()]
            )
        )
        internal, src = epoch_days(v), "date"
    elif domain == "timestamp":
        micros = st.integers(min_value=0, max_value=2**41)
        v = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=data.draw(micros)
        )
        t2 = dt.datetime(1970, 1, 1) + dt.timedelta(
            microseconds=data.draw(micros)
        )
        lit = data.draw(
            st.sampled_from(
                [t2, t2.isoformat(sep="T"), t2.isoformat(sep=" "),
                 epoch_micros(t2), v, v.isoformat(sep="T"),
                 v.isoformat(sep=" ")]
            )
        )
        internal, src = epoch_micros(v), "timestamp"
    else:
        words = st.text(
            alphabet="abz-19 T:", min_size=0, max_size=12
        )
        v = data.draw(words)
        lit = data.draw(st.one_of(words, st.just(v)))
        internal, src = v, "string"

    flavor = data.draw(st.sampled_from(["spec", "hive"]))
    if flavor == "spec":
        field = {"name": "k", "source": "k", "transform": "identity",
                 "source_type": src}
        entry = _entry("f", 1, {"k": internal})
    else:
        # Epoch-int literals only make sense against spec manifests;
        # a hive-flavor string partition can't be told apart from a
        # plain number, so pruning conservatism is all that's required
        # — skip the truth assertion for that pairing.
        if domain in ("date", "timestamp") and isinstance(lit, int):
            return
        field = {"name": "k", "source": "k", "transform": "identity"}
        entry = _entry("f", 1, {"k": str(v)})

    pair = _ident_truth(v, lit)
    if pair is None:
        has_match = None  # incomparable: only conservatism is checkable
    else:
        a, b = pair
        has_match = {
            "=": a == b, "<": a < b, "<=": a <= b,
            ">": a > b, ">=": a >= b,
        }[op]

    survived = _file_may_match_partition(
        entry, {"1": [field]}, [("k", op, lit)]
    )
    if has_match:
        assert survived, (
            f"over-pruned: {domain}/{flavor} v={v!r} {op} {lit!r}"
        )


def test_stats_pruning_temporal_and_numeric_string_soundness():
    """Manifest column stats serialize temporals as str(datetime) —
    SPACE separator — and decimals as digit strings; the min/max check
    must not compare those lexically against 'T'-spelled ISO literals
    (' ' < 'T' inverts ordering) or numeric literals ("200.0" < "99.0")
    — both wrongly pruned files whose rows match (same class as the r9
    identity-partition finds)."""
    import datetime as dt

    fe = {"column_stats": {"ts": {"min": "2024-06-01 01:00:00",
                                  "max": "2024-06-01 23:00:00"}}}
    # '>' with a T-spelled literal below max: rows match — KEEP
    # (lexically ' ' < 'T' made hi < value, pruning the file).
    assert _file_may_match(fe, [("ts", ">", "2024-06-01T00:00:00")])
    assert not _file_may_match(fe, [("ts", ">", "2024-06-01T23:30:00")])
    assert _file_may_match(fe, [("ts", "=", "2024-06-01T12:00:00")])
    # '= below min' with INVERTED lexical-vs-instant order: the untyped
    # comparator cannot tell a timestamp stat from a genuine string
    # column, so where the two readings disagree it must KEEP (the
    # typed path prunes this — see the column_types cases below).
    assert _file_may_match(fe, [("ts", "=", "2024-06-01T00:30:00")])
    assert not _file_may_match(
        fe,
        [("ts", "=", "2024-06-01T00:30:00")],
        column_types={"ts": "temporal"},
    )
    # Declared STRING columns keep exact lexical semantics even for
    # ISO-parseable values (r9 second-pass find: force-instant
    # comparison mis-pruned genuine string columns).
    iso_str = {"column_stats": {"s": {"min": "2024-06-01T00:00:00",
                                      "max": "2024-06-01T10:00:00"}}}
    assert _file_may_match(
        iso_str,
        [("s", ">", "2024-06-01 11:00:00")],
        column_types={"s": "string"},
    )
    # …and the untyped fallback keeps it too (orders disagree).
    assert _file_may_match(iso_str, [("s", ">", "2024-06-01 11:00:00")])
    # date/datetime OBJECT literals now compare faithfully too
    # (previously TypeError → always keep; pruning is a bonus,
    # keeping is required).
    assert _file_may_match(fe, [("ts", ">", dt.datetime(2024, 6, 1))])
    assert not _file_may_match(fe, [("ts", "<", dt.datetime(2024, 6, 1))])

    # Digit-string stats (decimal columns serialize via str()): prune
    # only when the lexical and numeric readings AGREE — a bare string
    # has no type marker, and the two orders diverge exactly where the
    # old code mis-pruned ("200.0" < "99.0" lexically).
    d = {"column_stats": {"p": {"min": "100.0", "max": "200.0"}}}
    assert _file_may_match(d, [("p", ">", "99.0")])   # numeric: matches
    assert _file_may_match(d, [("p", "<", "99.0")])   # ambiguous → keep
    assert not _file_may_match(d, [("p", ">", "300.0")])  # orders agree
    assert not _file_may_match(d, [("p", "<", "0.5")])    # hmm lex: "100.0" < "0.5"? '1' > '0' → False → prune; num 100<0.5 False → prune; agree
    # Plain string columns keep exact lexical semantics.
    s = {"column_stats": {"s": {"min": "apple", "max": "pear"}}}
    assert _file_may_match(s, [("s", "=", "mango")])
    assert not _file_may_match(s, [("s", "=", "zebra")])
    assert not _file_may_match(s, [("s", "<", "alpha")])


@settings(max_examples=400, deadline=None)
@given(data=st.data())
def test_stats_pruning_sound_across_domains_and_spellings(data):
    """Min/max stats soundness fuzz, mirroring the identity fuzz: stats
    arrive as the writer serializes them (_json_safe: temporals →
    str(datetime), decimals → digit strings, numerics native); if ANY
    row between min and max satisfies the predicate, the file survives."""
    import datetime as dt
    from decimal import Decimal

    domain = data.draw(
        st.sampled_from(["int", "double", "timestamp", "decimal", "string"])
    )
    op = data.draw(st.sampled_from(["=", "<", "<=", ">", ">="]))

    if domain == "int":
        rows = data.draw(
            st.lists(st.integers(-10**6, 10**6), min_size=1, max_size=8)
        )
        lit = data.draw(
            st.one_of(
                st.integers(-10**6, 10**6), st.sampled_from(rows)
            )
        )
        ser = lambda v: v
        key = lambda v: v
    elif domain == "double":
        nums = st.one_of(
            st.integers(-1000, 1000).map(float),
            st.integers(-2000, 2000).map(lambda n: n / 2),
        )
        rows = data.draw(st.lists(nums, min_size=1, max_size=8))
        lit = data.draw(
            st.one_of(nums, st.integers(-1000, 1000), st.sampled_from(rows))
        )
        ser = lambda v: v
        key = lambda v: float(v)
    elif domain == "timestamp":
        micros = st.integers(min_value=0, max_value=2**41)
        mk = lambda m: dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=m)
        rows = [mk(m) for m in data.draw(
            st.lists(micros, min_size=1, max_size=8)
        )]
        t2 = data.draw(st.sampled_from(rows + [mk(data.draw(micros))]))
        lit = data.draw(
            st.sampled_from(
                [t2, t2.isoformat(sep="T"), t2.isoformat(sep=" ")]
            )
        )
        ser = str  # the writer's _json_safe: str(datetime), space sep
        key = lambda v: v if isinstance(v, dt.datetime) else (
            dt.datetime.fromisoformat(v)
        )
    elif domain == "decimal":
        decs = st.integers(-10**6, 10**6).map(
            lambda n: Decimal(n).scaleb(-2)
        )
        rows = data.draw(st.lists(decs, min_size=1, max_size=8))
        d2 = data.draw(st.one_of(decs, st.sampled_from(rows)))
        lit = data.draw(st.sampled_from([d2, str(d2)]))
        ser = str
        key = lambda v: Decimal(v)
    else:
        words = st.text(alphabet="abz-19 T:.", min_size=0, max_size=10)
        rows = data.draw(st.lists(words, min_size=1, max_size=8))
        lit = data.draw(st.one_of(words, st.sampled_from(rows)))
        ser = lambda v: v
        key = lambda v: v

    lo, hi = min(rows, key=key), max(rows, key=key)
    entry = {"column_stats": {"k": {"min": ser(lo), "max": ser(hi)}}}

    kl = key(lit)
    sat = {
        "=": lambda v: key(v) == kl, "<": lambda v: key(v) < kl,
        "<=": lambda v: key(v) <= kl, ">": lambda v: key(v) > kl,
        ">=": lambda v: key(v) >= kl,
    }[op]
    has_match = any(sat(v) for v in rows)
    # Half the runs also declare the column's domain tag (the Iceberg
    # caller threads schema types) — typed pruning must stay sound too.
    tag = {
        "int": "numeric", "double": "numeric", "decimal": "numeric",
        "timestamp": "temporal", "string": "string",
    }[domain]
    types = data.draw(st.sampled_from([None, {"k": tag}]))
    survived = _file_may_match(entry, [("k", op, lit)], types)
    if has_match:
        assert survived, (
            f"over-pruned: {domain} [{lo!r},{hi!r}] {op} {lit!r}"
        )


@pytest.mark.slow
def test_temporal_bounds_serialize_roundtrip_and_scan_pruning(spark, tmp_path):
    """Iceberg temporal bounds (spec Appendix D: date = int32 epoch
    days, timestamp(tz) = int64 epoch micros) now serialize from the
    writer's string-shaped footer stats and decode back to typed
    objects the stats comparator can prune with — time-range filters
    skip files at planning time, THE dominant scan pattern at scale."""
    import datetime as dt

    import pyspark.sql.types as T

    from ic_spark.compaction.iceberg_meta import (
        IcebergTable,
        deserialize_bound,
        serialize_bound,
    )
    from ic_spark.compaction.writer import _stats_from_footer

    # Round-trips across producer shapes (string and object).
    d0 = dt.date(2024, 6, 1)
    assert deserialize_bound(T.DateType(), serialize_bound(T.DateType(), d0)) == d0
    assert (
        deserialize_bound(T.DateType(), serialize_bound(T.DateType(), "2024-06-01"))
        == d0
    )
    naive = dt.datetime(2024, 6, 1, 12, 30, 0, 123456)
    got = deserialize_bound(
        T.TimestampNTZType(), serialize_bound(T.TimestampNTZType(), str(naive))
    )
    assert got == naive and got.tzinfo is None
    aware = naive.replace(tzinfo=dt.timezone.utc)
    got = deserialize_bound(
        T.TimestampType(), serialize_bound(T.TimestampType(), str(aware))
    )
    assert got == aware and got.tzinfo is not None

    # End to end: date-typed column, three files, a date-range filter
    # must prune to the matching file at planning time.
    schema = T.StructType(
        [T.StructField("d", T.DateType()), T.StructField("v", T.LongType())]
    )
    tbl = IcebergTable.create(str(tmp_path / "tb"), schema)
    paths = {}
    for m in (1, 2, 3):
        loc = str(tmp_path / f"tb_{m}")
        spark.createDataFrame(
            [(dt.date(2024, m, day), day) for day in (1, 10, 20)], schema
        ).coalesce(1).write.parquet(loc)
        p = next(
            os.path.join(loc, n) for n in os.listdir(loc) if n.endswith(".parquet")
        )
        rc, cs, _ = _stats_from_footer(p, loc)
        # footer stats carry str(date) — the serialize path under test
        assert isinstance(cs["d"]["min"], str)
        paths[m] = p
        tbl.append_snapshot(
            [{"path": p, "content": "DATA", "record_count": rc,
              "file_size_in_bytes": os.path.getsize(p), "column_stats": cs}]
        )

    data, _, _ = tbl.scan_tasks(
        data_filter=[("d", ">=", "2024-02-01"), ("d", "<", dt.date(2024, 3, 1))]
    )
    assert {t.data_file_path for t in data} == {paths[2]}
    data, _, _ = tbl.scan_tasks(data_filter=[("d", "=", dt.date(2024, 3, 10))])
    assert {t.data_file_path for t in data} == {paths[3]}
    data, _, _ = tbl.scan_tasks(data_filter=[("d", "<=", "2024-12-31")])
    assert len(data) == 3  # boundary: all kept


def test_footer_stats_merge_in_native_domain_and_bound_hardening(tmp_path):
    """Three r9 second-pass finds: (1) row-group stats must merge in
    the VALUE domain — min()/max() over stringified decimals compared
    '550.00' > '1600.00' lexically and recorded a max below real rows,
    silently skipping their file; (2) out-of-range temporal bounds in
    foreign manifests must decode to None (keep), not crash the scan
    with OverflowError; (3) serialize_bound must refuse
    awareness-mismatched timestamps and time-carrying date values
    instead of persisting bounds off by an offset/truncation."""
    import datetime as dtm
    import struct
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.types as T

    from ic_spark.compaction.iceberg_meta import (
        deserialize_bound,
        serialize_bound,
    )
    from ic_spark.compaction.table_model import _file_may_match
    from ic_spark.compaction.writer import _stats_from_footer

    # (1) two row groups whose lexical and numeric maxima disagree
    tblpath = str(tmp_path / "rg.parquet")
    vals = [Decimal("500.00"), Decimal("550.00"),
            Decimal("1500.00"), Decimal("1600.00")]
    pq.write_table(
        pa.table({"p": pa.array(vals, pa.decimal128(10, 2))}),
        tblpath,
        row_group_size=2,
    )
    _, cs, _ = _stats_from_footer(tblpath, str(tmp_path))
    assert cs["p"]["min"] == "500.00" and cs["p"]["max"] == "1600.00"
    probe = {"column_stats": cs}
    assert _file_may_match(probe, [("p", ">", "600.00")])  # 1600 matches
    assert _file_may_match(
        probe, [("p", ">", Decimal("600.00"))],
    )

    # (2) hostile temporal ints degrade to no-bound, never crash
    assert deserialize_bound(
        T.DateType(), struct.pack("<i", 2**31 - 1)
    ) is None
    assert deserialize_bound(
        T.TimestampType(), struct.pack("<q", 2**62)
    ) is None

    # (3) awareness/truncation strictness
    aware = dtm.datetime(2024, 6, 1, 10, tzinfo=dtm.timezone.utc)
    naive = dtm.datetime(2024, 6, 1, 10)
    assert serialize_bound(T.TimestampType(), naive) is None
    assert serialize_bound(T.TimestampNTZType(), aware) is None
    assert serialize_bound(T.TimestampType(), aware) is not None
    assert serialize_bound(T.TimestampNTZType(), naive) is not None
    assert serialize_bound(T.DateType(), naive) is None  # time parts
    assert serialize_bound(
        T.DateType(), dtm.datetime(2024, 6, 1)
    ) == serialize_bound(T.DateType(), dtm.date(2024, 6, 1))


def test_footer_stats_rowgroup_gaps_poison_bounds(tmp_path):
    """r9 third-pass finds: a row group with ABSENT or suppressed
    min/max (oversized strings, missing stats) hides real values, so
    bounds accumulated from other row groups must be dropped — except
    for all-null row groups, whose rows extend no bound; and an unset
    per-row-group null count must poison the total, not count as 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ic_spark.compaction.table_model import _file_may_match
    from ic_spark.compaction.writer import _stats_from_footer

    # rg0 has stats ('aaa','bbb'); rg1's huge strings suppress min/max.
    big = "z" * 100_000
    path = str(tmp_path / "gap.parquet")
    pq.write_table(
        pa.table({"s": pa.array(["aaa", "bbb", big, big])}),
        path,
        row_group_size=2,
    )
    _, cs, _ = _stats_from_footer(path, str(tmp_path))
    assert cs["s"]["min"] is None and cs["s"]["max"] is None
    # the 'zzz…' rows match; bounds of ('aaa','bbb') would have pruned
    assert _file_may_match({"column_stats": cs}, [("s", ">", "y")])

    # All-null row group: bounds from the valued groups stay usable.
    path2 = str(tmp_path / "nulls.parquet")
    pq.write_table(
        pa.table({"v": pa.array([1, 2, None, None], pa.int64())}),
        path2,
        row_group_size=2,
    )
    _, cs2, _ = _stats_from_footer(path2, str(tmp_path))
    assert cs2["v"]["min"] == 1 and cs2["v"]["max"] == 2
    assert cs2["v"]["null_count"] == 2


def test_serialize_bound_foreign_shapes_and_typed_numeric_objects():
    """serialize_bound degrades producer-supplied foreign stat shapes
    to 'no bound' (no AttributeError), accepts spec-internal ints, and
    the typed-numeric comparator prunes object-valued Decimal bounds
    against string literals (the shapes Iceberg binary bounds decode
    to)."""
    import datetime as dtm
    import struct
    from decimal import Decimal

    import pyspark.sql.types as T

    from ic_spark.compaction.iceberg_meta import serialize_bound
    from ic_spark.compaction.table_model import _file_may_match

    # foreign shapes: degrade, never crash
    assert serialize_bound(T.TimestampType(), dtm.date(2024, 6, 1)) is None
    assert serialize_bound(T.DateType(), object()) is None
    assert serialize_bound(T.TimestampType(), True) is None
    # spec-internal ints pass through
    assert serialize_bound(T.DateType(), 19875) == struct.pack("<i", 19875)
    assert serialize_bound(
        T.TimestampType(), 1_717_200_000_000_000
    ) == struct.pack("<q", 1_717_200_000_000_000)

    # declared-numeric column, Decimal object bounds, string literal
    probe = {"column_stats": {"p": {"min": Decimal("500.00"),
                                    "max": Decimal("1600.00")}}}
    types = {"p": "numeric"}
    assert _file_may_match(probe, [("p", ">", "600.00")], types)
    assert not _file_may_match(probe, [("p", ">", "1700.00")], types)
    assert not _file_may_match(probe, [("p", "<", "400.00")], types)
    assert _file_may_match(probe, [("p", "=", "1600.00")], types)
