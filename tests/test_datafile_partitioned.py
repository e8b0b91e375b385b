"""Partitioned (fanout) Avro/ORC data-file writes.

The executor-side writer routes rows into hive-style ``col=value``
directories inside each task — rows were already shuffled to their
partition by ``rewrite_files`` (same repartition the parquet path
uses), so each partition value is written by exactly one task and the
file count stays bounded at any scale.  Partition columns are dropped
from the data pages and recorded in ``DataFileMeta.partition_values``
(exact from the directory name), mirroring the parquet
``partitionBy`` layout byte-for-byte in semantics.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ic_spark.compaction.request import FileScanTask, RewriteFilesRequest
from ic_spark.compaction.writer import rewrite_files
from ic_spark.sources.avro_scan import read_avro_distributed


def _src_file(spark, tmp_path, rows, schema):
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    return next(
        os.path.join(src, n) for n in os.listdir(src) if n.endswith(".parquet")
    )


@pytest.mark.parametrize("fmt", ["avro", "orc"])
def test_partitioned_fanout_write_nonparquet(spark, tmp_path, fmt):
    rows = [(i, ["x", "y", None][i % 3], float(i)) for i in range(30)]
    f = _src_file(spark, tmp_path, rows, "id int, name string, v double")
    out = str(tmp_path / "out")
    resp = rewrite_files(
        spark,
        RewriteFilesRequest(
            schema=spark.createDataFrame(rows, "id int, name string, v double").schema,
            data_files=[FileScanTask(data_file_path=f, sequence_number=1)],
            dir_path=out,
            partition_by=["name"],
            data_file_format=fmt,
        ),
    )
    # hive-style dirs incl. the null partition
    dirs = sorted(os.listdir(out))
    assert dirs == ["name=__HIVE_DEFAULT_PARTITION__", "name=x", "name=y"]
    # metadata: partition values exact from the dir, stats exclude the
    # partition column from data pages but still record it
    by_part: dict[str, int] = {}
    for m in resp.data_files:
        assert m.file_format == fmt
        pv = m.partition_values["name"]
        by_part[pv] = by_part.get(pv, 0) + m.record_count
        assert "id" in m.column_stats
        ps = m.column_stats["name"]
        if pv == "__HIVE_DEFAULT_PARTITION__":
            assert ps["null_count"] == m.record_count
        else:
            assert ps == {"null_count": 0, "min": pv, "max": pv}
    assert by_part == {"x": 10, "y": 10, "__HIVE_DEFAULT_PARTITION__": 10}
    # data pages do NOT carry the partition column; ids all survive
    if fmt == "avro":
        ids = [
            r.id
            for r in read_avro_distributed(
                spark, [m.file_path for m in resp.data_files]
            ).collect()
        ]
        cols = read_avro_distributed(spark, resp.data_files[0].file_path).columns
    else:
        df = spark.read.orc([m.file_path for m in resp.data_files])
        ids = [r.id for r in df.collect()]
        cols = df.columns
    assert sorted(ids) == list(range(30))
    assert cols == ["id", "v"]


@pytest.mark.slow
@pytest.mark.parametrize("fmt", ["avro", "orc"])
def test_partition_spec_transform_write_nonparquet(spark, tmp_path, fmt):
    """Iceberg-transform fanout: the DERIVED column goes to directory
    names only; the source column stays in the data pages (Iceberg's
    metadata-held partition values)."""
    rows = [(i, f"n{i}") for i in range(40)]
    f = _src_file(spark, tmp_path, rows, "id int, name string")
    out = str(tmp_path / "out")
    resp = rewrite_files(
        spark,
        RewriteFilesRequest(
            schema=spark.createDataFrame(rows, "id int, name string").schema,
            data_files=[FileScanTask(data_file_path=f, sequence_number=1)],
            dir_path=out,
            partition_spec=[
                {"name": "id_bucket", "source": "id", "transform": "bucket", "n": 4}
            ],
            data_file_format=fmt,
        ),
    )
    assert all(d.startswith("id_bucket=") for d in os.listdir(out))
    total = 0
    for m in resp.data_files:
        assert set(m.partition_values) == {"id_bucket"}
        total += m.record_count
    assert total == 40
    # source column survives in the data pages
    if fmt == "avro":
        df = read_avro_distributed(spark, [m.file_path for m in resp.data_files])
    else:
        df = spark.read.orc([m.file_path for m in resp.data_files])
    assert sorted(df.columns) == ["id", "name"]
    assert sorted(r.id for r in df.collect()) == list(range(40))


@pytest.mark.slow
def test_partitioned_max_records_split(spark, tmp_path):
    """File splitting applies per partition group."""
    rows = [(i, "a" if i < 20 else "b") for i in range(30)]
    f = _src_file(spark, tmp_path, rows, "id int, g string")
    resp = rewrite_files(
        spark,
        RewriteFilesRequest(
            schema=spark.createDataFrame(rows, "id int, g string").schema,
            data_files=[FileScanTask(data_file_path=f, sequence_number=1)],
            dir_path=str(tmp_path / "out"),
            partition_by=["g"],
            data_file_format="avro",
            max_records_per_file=8,
        ),
    )
    assert all(m.record_count <= 8 for m in resp.data_files)
    assert sum(m.record_count for m in resp.data_files) == 30
    # every file sits in its partition's directory
    for m in resp.data_files:
        seg = os.path.basename(os.path.dirname(m.file_path))
        assert seg in ("g=a", "g=b")


@pytest.mark.slow
def test_full_compact_partitioned_avro_manifest_partition_values(spark, tmp_path):
    """Orchestrator integration: an ad-hoc partition_by full_compact
    INTO avro lands partition values in the committed manifest entries,
    marked ``adhoc_partition`` so spec-based pruning never evaluates
    them under spec-0 transforms (stats-based equality skipping still
    applies via the min==max==value column_stats)."""
    from ic_spark.compaction import Compaction, ManifestTable

    rows = [(i, i % 3) for i in range(30)]
    df = spark.createDataFrame(rows, "id int, grp int")
    f = _src_file(spark, tmp_path, rows, "id int, grp int")
    t = ManifestTable(str(tmp_path / "tbl"))
    t.append_snapshot(
        [{"path": f, "sequence_number": t.next_sequence_number(), "content": "DATA"}]
    )
    Compaction(spark).full_compact(
        t, df.schema, data_file_format="avro", partition_by=["grp"]
    )
    snap = t.current_snapshot()
    parts = sorted(e.get("partition", {}).get("grp") for e in snap.files)
    assert parts == ["0", "1", "2"]
    total = 0
    for e in snap.files:
        df_part = read_avro_distributed(spark, e["path"])
        total += df_part.count()
    assert total == 30


@pytest.mark.slow
def test_partitioned_nan_values_share_one_group(spark, tmp_path):
    """NaN partition keys share a partition (arrow NaN != NaN would
    otherwise split every NaN row into its own one-row file)."""
    rows = [(i, float("nan") if i < 20 else 1.5) for i in range(30)]
    f = _src_file(spark, tmp_path, rows, "id int, g double")
    resp = rewrite_files(
        spark,
        RewriteFilesRequest(
            schema=spark.createDataFrame(rows, "id int, g double").schema,
            data_files=[FileScanTask(data_file_path=f, sequence_number=1)],
            dir_path=str(tmp_path / "out"),
            partition_by=["g"],
            data_file_format="avro",
            target_partitions=1,
        ),
    )
    assert len(resp.data_files) == 2, [m.file_path for m in resp.data_files]
    counts = sorted(m.record_count for m in resp.data_files)
    assert counts == [10, 20]


@pytest.mark.slow
def test_avro_unsupported_compression_gated(spark, tmp_path):
    rows = [(1, "a", 1.0)]
    f = _src_file(spark, tmp_path, rows, "id int, name string, v double")
    with pytest.raises(ValueError, match="deflate/none"):
        rewrite_files(
            spark,
            RewriteFilesRequest(
                schema=spark.createDataFrame(rows, "id int, name string, v double").schema,
                data_files=[FileScanTask(data_file_path=f, sequence_number=1)],
                dir_path=str(tmp_path / "out"),
                data_file_format="avro",
                compression="zstd",
            ),
        )


def test_adhoc_partition_entries_never_spec_pruned(spark, tmp_path):
    """Manifest entries from ad-hoc partition_by carry adhoc_partition
    and survive partition pruning unconditionally (conservative), even
    when a registered spec would transform a colliding column name."""
    from ic_spark.compaction.manifest import _file_may_match_partition

    entry = {"partition": {"grp": "7"}, "adhoc_partition": True}
    specs = {"0": [{"name": "grp", "source": "grp", "transform": "bucket", "n": 4}]}
    assert _file_may_match_partition(entry, specs, [("grp", "=", 7)])


def _tbl_with_partitioned_compact(spark, tmp_path, fmt, rows, schema, pcols):
    from ic_spark.compaction import Compaction, ManifestTable

    df = spark.createDataFrame(rows, schema)
    f = _src_file(spark, tmp_path, rows, schema)
    t = ManifestTable(str(tmp_path / "tbl"))
    t.append_snapshot(
        [{"path": f, "sequence_number": t.next_sequence_number(), "content": "DATA"}]
    )
    Compaction(spark).full_compact(
        t, df.schema, data_file_format=fmt, partition_by=pcols
    )
    return t, df


@pytest.mark.slow
@pytest.mark.parametrize("fmt", ["parquet", "avro"])
def test_partitioned_read_back_fills_partition_column(spark, tmp_path, fmt):
    """Identity partition columns dropped from the data pages are
    re-attached from manifest partition values at scan time — without
    the fill, read_table silently returned NULL for every row of the
    partition column (parquet partitionBy path included)."""
    from ic_spark.compaction.deletes import read_table

    rows = [(i, ["x", None][i % 2]) for i in range(10)]
    t, df = _tbl_with_partitioned_compact(
        spark, tmp_path, fmt, rows, "id int, g string", ["g"]
    )
    out = sorted([tuple(r) for r in read_table(spark, t, schema=df.schema).collect()])
    assert out == sorted(rows)


@pytest.mark.slow
def test_partitioned_read_equality_delete_on_partition_col(spark, tmp_path):
    """Fill happens BEFORE delete application: an equality delete keyed
    on the partition column must match real values, not page nulls."""
    from ic_spark.compaction.deletes import read_table, write_equality_deletes

    rows = [(i, i % 3) for i in range(12)]
    t, df = _tbl_with_partitioned_compact(
        spark, tmp_path, "parquet", rows, "id int, grp int", ["grp"]
    )
    write_equality_deletes(
        spark, t, spark.createDataFrame([(1,)], "grp int"), ["grp"]
    )
    out = sorted([tuple(r) for r in read_table(spark, t, schema=df.schema).collect()])
    assert out == sorted((i, i % 3) for i in range(12) if i % 3 != 1)


@pytest.mark.slow
def test_partitioned_recompaction_materializes_column(spark, tmp_path):
    """Re-compacting a partitioned table writes the filled values back
    into data pages (no silent null corruption on rewrite)."""
    from ic_spark.compaction import Compaction
    from ic_spark.compaction.deletes import read_table

    rows = [(i, i % 3) for i in range(12)]
    t, df = _tbl_with_partitioned_compact(
        spark, tmp_path, "avro", rows, "id int, grp int", ["grp"]
    )
    Compaction(spark).full_compact(t, df.schema)  # unpartitioned rewrite
    snap = t.current_snapshot()
    assert all("partition" not in e or not e.get("partition") for e in snap.files)
    out = sorted([tuple(r) for r in read_table(spark, t).collect()])
    assert out == sorted(rows)


@pytest.mark.slow
def test_partitioned_plus_plain_files_mixed_read(spark, tmp_path):
    """Mixed layout: files that DO carry the column in their pages win
    (coalesce order) while dropped-column files fill from metadata."""
    from ic_spark.compaction.deletes import read_table

    rows = [(i, i % 2) for i in range(8)]
    t, df = _tbl_with_partitioned_compact(
        spark, tmp_path, "parquet", rows, "id int, grp int", ["grp"]
    )
    extra = [(100, 7), (101, None)]
    f2 = _src_file(spark, tmp_path / "extra", extra, "id int, grp int")
    t.append_snapshot(
        [{"path": f2, "sequence_number": t.next_sequence_number(), "content": "DATA"}]
    )
    out = sorted(
        [tuple(r) for r in read_table(spark, t, schema=df.schema).collect()],
        key=repr,
    )
    assert out == sorted(rows + extra, key=repr)


@pytest.mark.slow
def test_changelog_over_partitioned_table_fills_partition_column(spark, tmp_path):
    """The changelog reader shares _scan_with_hidden_cols, so DELETE
    rows sourced from hive-layout files carry real partition values,
    not page nulls."""
    from ic_spark.compaction.changelog import read_changelog
    from ic_spark.compaction.deletes import write_equality_deletes

    rows = [(i, i % 3) for i in range(12)]
    t, df = _tbl_with_partitioned_compact(
        spark, tmp_path, "parquet", rows, "id int, grp int", ["grp"]
    )
    base = t.current_snapshot().snapshot_id
    write_equality_deletes(
        spark, t, spark.createDataFrame([(4,), (7,)], "id int"), ["id"]
    )
    ch = read_changelog(spark, t, from_snapshot_id=base, schema=df.schema)
    dels = sorted(
        (r.id, r.grp)
        for r in ch.collect()
        if r._change_type == "DELETE"
    )
    assert dels == [(4, 1), (7, 1)]


@pytest.mark.slow
def test_partition_fill_plan_lookup_no_join_no_regexp(spark, tmp_path):
    """Plan pin: the partition-value fill is a constant per-file lookup
    on the unmodified hidden path column — no join, no per-row regexp,
    no shuffle of the data side."""
    from ic_spark.compaction.deletes import read_table

    rows = [(i, i % 3) for i in range(12)]
    t, df = _tbl_with_partitioned_compact(
        spark, tmp_path, "parquet", rows, "id int, grp int", ["grp"]
    )
    out = read_table(spark, t, schema=df.schema)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "regexp" not in plan.lower()
    assert "Exchange hashpartitioning" not in plan  # data side never shuffles


@pytest.mark.slow
def test_binpack_into_avro(spark, tmp_path):
    """compact_small_files(data_file_format=) merges the small tail
    INTO avro — rolling format migration without a whole-table rewrite;
    manifest entries carry the new file_format so mixed-format scans
    group correctly."""
    from ic_spark.compaction import Compaction, ManifestTable
    from ic_spark.compaction.deletes import read_table

    t = ManifestTable(str(tmp_path / "tbl"))
    all_rows = []
    for k in range(3):
        rows = [(k * 10 + i, f"v{k * 10 + i}") for i in range(5)]
        all_rows += rows
        f = _src_file(spark, tmp_path / f"s{k}", rows, "id int, name string")
        t.append_snapshot(
            [{"path": f, "sequence_number": t.next_sequence_number(),
              "content": "DATA", "file_size_in_bytes": os.path.getsize(f)}]
        )
    schema = spark.createDataFrame(all_rows, "id int, name string").schema
    resp = Compaction(spark).compact_small_files(
        t, schema, data_file_format="avro"
    )
    assert resp.stat.rewritten_files_count == 3
    assert all(m.file_path.endswith(".avro") for m in resp.data_files)
    snap = t.current_snapshot()
    assert all(e.get("file_format") == "avro" for e in snap.files)
    out = sorted([tuple(r) for r in read_table(spark, t, schema=schema).collect()])
    assert out == sorted(all_rows)


def test_scan_path_variants_uri_encoding():
    """_metadata.file_path is a Hadoop Path URI: space/%/non-ASCII
    arrive percent-encoded.  The map must emit that spelling (and must
    NOT emit duplicate keys — a duplicate would double joined rows)."""
    from ic_spark.compaction.planner import _scan_path_variants

    v = _scan_path_variants("/a b/o=4-NOT SPECIFIED/f.parquet")
    assert "file:/a%20b/o=4-NOT%20SPECIFIED/f.parquet" in v
    assert len(v) == len(set(v))
    plain = _scan_path_variants("/plain/p=x/f.parquet")
    assert plain == [
        "/plain/p=x/f.parquet",
        "file:/plain/p=x/f.parquet",
    ]
    # literal % on disk (the writer's own quoted dirs) double-encodes
    v2 = _scan_path_variants("/d/p=a%20b/f.avro")
    assert "file:/d/p=a%2520b/f.avro" in v2
    # scheme'd paths never gain a file: prefix
    assert _scan_path_variants("s3a://bkt/k x") == [
        "s3a://bkt/k x",
        "s3a://bkt/k%20x",
    ]


@pytest.mark.slow
def test_partitioned_read_with_space_in_value(spark, tmp_path):
    """End to end: a partition value containing a space round-trips
    through hive dirs, URI-encoded scan paths, and the fill join."""
    from ic_spark.compaction.deletes import read_table

    rows = [(i, ["NOT SPECIFIED", "HIGH"][i % 2]) for i in range(8)]
    t, df = _tbl_with_partitioned_compact(
        spark, tmp_path, "parquet", rows, "id int, pr string", ["pr"]
    )
    out = sorted([tuple(r) for r in read_table(spark, t, schema=df.schema).collect()])
    assert out == sorted(rows)


@pytest.mark.slow
def test_partitioned_orc_read_stays_native(spark, tmp_path):
    """The partition fill needs only the path column, which ORC's
    NATIVE vectorized reader exposes via _metadata.file_path — the
    per-row python codec scan is reserved for positional reads."""
    from ic_spark.compaction.deletes import read_table

    rows = [(i, ["x", "y"][i % 2]) for i in range(10)]
    t, df = _tbl_with_partitioned_compact(
        spark, tmp_path, "orc", rows, "id int, g string", ["g"]
    )
    out = read_table(spark, t, schema=df.schema)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FileScan orc" in plan
    assert "MapInArrow" not in plan and "EvalPython" not in plan
    got = sorted([tuple(r) for r in out.collect()])
    assert got == sorted(rows)


@pytest.mark.slow
def test_incremental_scan_reads_appended_avro(spark, tmp_path):
    """incremental_tasks threads file_format: an appended avro data
    file must route through the avro scan, not the parquet reader."""
    from ic_spark.compaction.deletes import read_incremental
    from ic_spark.compaction.manifest import ManifestTable
    from ic_spark.sources.avro_io import write_container

    t = ManifestTable(str(tmp_path / "tbl"))
    f0 = _src_file(spark, tmp_path / "p0", [(1, "a")], "id int, name string")
    t.append_snapshot(
        [{"path": f0, "sequence_number": t.next_sequence_number(), "content": "DATA"}]
    )
    base = t.current_snapshot().snapshot_id
    av = str(tmp_path / "f1.avro")
    write_container(
        av,
        {"type": "record", "name": "r", "fields": [
            {"name": "id", "type": ["null", "int"]},
            {"name": "name", "type": ["null", "string"]},
        ]},
        [{"id": 2, "name": "b"}, {"id": 3, "name": "c"}],
    )
    t.append_snapshot(
        [{"path": av, "sequence_number": t.next_sequence_number(),
          "content": "DATA", "file_format": "avro"}]
    )
    schema = spark.createDataFrame([(1, "a")], "id int, name string").schema
    rows = sorted(
        (r.id, r.name)
        for r in read_incremental(spark, t, from_snapshot_id=base, schema=schema).collect()
    )
    assert rows == [(2, "b"), (3, "c")]


@pytest.mark.slow
def test_delete_maintenance_keeps_live_deletes_on_encoded_paths(spark, tmp_path):
    """rewrite_position_deletes judged liveness by stripping only
    '^file:' — on hive dirs with spaces the recorded delete paths are
    URI-encoded, every live delete was misjudged dangling, dropped in
    the commit, and its rows RESURRECTED.  The live set now carries
    every scan spelling."""
    from ic_spark.compaction import Compaction
    from ic_spark.compaction.deletes import read_table, write_position_deletes

    rows = [(i, ["NOT SPECIFIED", "HIGH"][i % 2]) for i in range(10)]
    t, df = _tbl_with_partitioned_compact(
        spark, tmp_path, "parquet", rows, "id int, pr string", ["pr"]
    )
    write_position_deletes(spark, t, F.col("id").isin(0, 2))
    before = sorted(r.id for r in read_table(spark, t, schema=df.schema).collect())
    assert before == [1, 3, 4, 5, 6, 7, 8, 9]
    stats = Compaction(spark).rewrite_position_deletes(t)
    assert stats["kept_rows"] == 2, stats
    after = sorted(r.id for r in read_table(spark, t, schema=df.schema).collect())
    assert after == before


def test_partitioned_read_with_nonascii_value(spark, tmp_path):
    """Hadoop URIs leave non-ASCII raw while encoding spaces — the
    mixed spelling ('café%20latte') must still hit the fill map."""
    from ic_spark.compaction.deletes import read_table

    rows = [(i, ["café latte", "plain"][i % 2]) for i in range(8)]
    t, df = _tbl_with_partitioned_compact(
        spark, tmp_path, "parquet", rows, "id int, pr string", ["pr"]
    )
    out = sorted([tuple(r) for r in read_table(spark, t, schema=df.schema).collect()])
    assert out == sorted(rows)


@pytest.mark.slow
@pytest.mark.parametrize("fmt", ["parquet", "avro"])
def test_partitioned_adversarial_values_roundtrip(spark, tmp_path, fmt):
    """Partition values containing every escaping hazard — space, '=',
    '/', literal percent-escapes, '%', '#', non-ASCII — round-trip
    through hive dirs, manifest values, URI spellings, and the fill."""
    from ic_spark.compaction.deletes import read_table

    vals = ["a b", "a=b", "a/b", "a%20b", "100%", "café", "x#y", None]
    rows = [(i, vals[i % len(vals)]) for i in range(2 * len(vals))]
    t, df = _tbl_with_partitioned_compact(
        spark, tmp_path, fmt, rows, "id int, pv string", ["pv"]
    )
    out = sorted(
        [tuple(r) for r in read_table(spark, t, schema=df.schema).collect()],
        key=repr,
    )
    assert out == sorted(rows, key=repr)


def test_path_spelling_collision_raises(spark, tmp_path):
    """Two distinct manifest paths sharing a scan spelling ('/p=a b' vs
    '/p=a%20b') are genuinely ambiguous — any binding would silently
    attach one file's values to the other's rows.  The file lookup
    refuses."""
    from ic_spark.compaction.planner import FileLookup
    from ic_spark.compaction.request import FileScanTask

    tasks = [
        FileScanTask("/d/p=a b/f.parquet", partition_values={"g": "a b"}),
        FileScanTask("/d/p=a%20b/f.parquet", partition_values={"g": "a%20b"}),
    ]
    with pytest.raises(ValueError, match="ambiguous scan path spelling"):
        FileLookup(tasks, ["g"])


def test_scan_path_variants_match_real_spark_spelling(spark, tmp_path):
    """Ground truth check of the URI-encoding replica: write a file
    under a directory packed with every encodable-or-not character
    class (space, %, #, brackets, braces, caret, quotes, comma,
    semicolon, plus, at, tilde, bang, non-ASCII) and assert the REAL
    _metadata.file_path and binaryFile spellings are both in the
    variant set of the raw path.  (Glob metacharacters []{}*? are
    excluded: Spark's read path globs them, so such paths cannot be
    scanned by Spark AT ALL — a Hadoop constraint upstream of us.)"""
    from ic_spark.compaction.planner import _scan_path_variants

    nasty = "p=a b%c#d^h,i;j'k&l(m)n café+x@y=z~!"
    d = str(tmp_path / nasty / "f")
    spark.createDataFrame([(1,)], "id int").coalesce(1).write.parquet(d)
    pq = next(
        os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")
    )
    variants = set(_scan_path_variants(pq))
    meta_spelling = (
        spark.read.parquet(d).select("_metadata.file_path").first()[0]
    )
    assert meta_spelling in variants, (meta_spelling, sorted(variants))
    bin_spelling = (
        spark.read.format("binaryFile").load(pq).select("path").first()[0]
    )
    assert bin_spelling in variants, (bin_spelling, sorted(variants))


def test_hive_segment_matches_spark_partitionby_spelling(spark, tmp_path):
    """_hive_segment must spell partition directories byte-identically
    to Spark's own escapePathName (parquet partitionBy): space, '+',
    and non-ASCII stay RAW; the Hive special set percent-encodes.
    Ground truth = the directory names Spark actually writes."""
    from ic_spark.compaction.writer import _hive_segment

    vals = [
        "a b", "a+b", "x:y", "a=b", "a/b", "100%", "café latte",
        "q\"r", "h#i", "j'k", "m*n", "o?p", "s\\t", "u^v",
        "tab\there", "~!@&(),;",
        # Hive's asymmetry, probe-verified: '{' '[' ']' escape, '}'
        # does not.
        "a{b", "a}b", "a[b", "a]b",
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id int, pv string"
    )
    out = str(tmp_path / "gt")
    df.write.partitionBy("pv").parquet(out)
    spark_dirs = {n for n in os.listdir(out) if n.startswith("pv=")}
    ours = {_hive_segment("pv", v) for v in vals}
    assert ours == spark_dirs, (
        sorted(ours - spark_dirs), sorted(spark_dirs - ours)
    )


def test_fill_converts_iceberg_internal_partition_reps():
    """Spec 'Partition struct' internal values — date int days-from-
    epoch, timestamp(tz) long micros — convert to strings the CAST
    fill resolves exactly; binary identity values are skipped (str of
    bytes would cast to WRONG bytes); plain strings pass through."""
    from ic_spark.compaction.iceberg_meta import fill_partition_values

    spec = [
        {"name": "d", "transform": "identity", "source-id": 1},
        {"name": "ts", "transform": "identity", "source-id": 2},
        {"name": "tstz", "transform": "identity", "source-id": 3},
        {"name": "b", "transform": "identity", "source-id": 4},
        {"name": "s", "transform": "identity", "source-id": 5},
        {"name": "d_day", "transform": "day", "source-id": 1},
    ]
    ice = {1: "date", 2: "timestamp", 3: "timestamptz", 4: "binary", 5: "string"}
    got = fill_partition_values(
        {
            "d": 19723,                      # 2024-01-01
            "ts": 1704067200123456,          # 2024-01-01T00:00:00.123456
            "tstz": 1704067200123456,
            "b": b"\x00\x01",
            "s": "café",
            "d_day": 19723,                  # non-identity: untouched
            "n": None,
        },
        spec,
        ice,
    )
    assert got == {
        "d": "2024-01-01",
        "ts": "2024-01-01 00:00:00.123456",
        "tstz": "2024-01-01 00:00:00.123456+00:00",
        "s": "café",
        "d_day": 19723,
        "n": None,
    }
    # already-string values (this repo's hive-dir writer) pass through
    assert fill_partition_values({"d": "2024-01-01"}, spec, ice) == {
        "d": "2024-01-01"
    }
    assert fill_partition_values(None, spec, ice) is None


@pytest.mark.slow
def test_iceberg_date_identity_partition_fill_reads_real_dates(spark, tmp_path):
    """A REAL-Iceberg-written table names identity partition fields
    after their source column and stores DATE values as epoch-days
    ints in the typed Avro partition struct (spec 'Partition struct'),
    with the column absent from the data pages.  read_table must
    surface real dates — before the conversion the
    CAST('19723' AS DATE) fill yielded null for every row.  This
    repo's own DDL forbids name==source, so the external spec is
    injected straight into the metadata, exactly what opening a
    foreign table looks like."""
    import datetime as dt

    from ic_spark.compaction.deletes import read_table
    from ic_spark.compaction.iceberg_meta import IcebergTable
    from ic_spark.sources.avro_io import read_container

    full_rows = [
        (i, dt.date(2024, 1, 1) + dt.timedelta(days=i % 3)) for i in range(30)
    ]
    df = spark.createDataFrame(full_rows, "id int, d date")
    tbl = IcebergTable.create(str(tmp_path / "it"), df.schema)

    meta = tbl.metadata()
    d_id = next(f["id"] for f in meta["schemas"][0]["fields"] if f["name"] == "d")
    new_meta = dict(meta)
    new_meta["partition-specs"] = list(meta["partition-specs"]) + [
        {
            "spec-id": 1,
            "fields": [
                {"name": "d", "transform": "identity",
                 "source-id": d_id, "field-id": 1000}
            ],
        }
    ]
    new_meta["default-spec-id"] = 1
    new_meta["last-partition-id"] = 1000
    tbl._commit_metadata(new_meta, expected_version=tbl.version())

    # hive layout: one file per date value, pages WITHOUT the d column
    for day, days_int in ((1, 19723), (2, 19724), (3, 19725)):
        part_dir = str(tmp_path / f"d=2024-01-0{day}")
        sub = df.where(F.col("d") == dt.date(2024, 1, day)).select("id")
        sub.coalesce(1).write.parquet(part_dir)
        p = next(
            os.path.join(part_dir, n)
            for n in os.listdir(part_dir)
            if n.endswith(".parquet")
        )
        tbl.append_snapshot(
            [{"path": p, "content": "DATA", "record_count": 10,
              "file_size_in_bytes": os.path.getsize(p),
              "partition_values": {"d": days_int}}]
        )

    # manifests carry the SPEC-internal representation: int epoch-days
    snap = tbl._snapshot(None)
    _, _, manifests = read_container(snap["manifest-list"])
    pvals = set()
    for mf in manifests:
        _, _, entries = read_container(mf["manifest_path"])
        pvals.update(e["data_file"]["partition"]["d"] for e in entries)
    assert pvals == {19723, 19724, 19725}, pvals

    out = sorted(
        [tuple(r) for r in read_table(spark, tbl, schema=df.schema).collect()]
    )
    assert out == sorted(full_rows)
    # scan_tasks hands the fill CONVERTED values
    data, _, _ = tbl.scan_tasks()
    assert {t.partition_values["d"] for t in data} == {
        "2024-01-01", "2024-01-02", "2024-01-03"
    }


@pytest.mark.slow
def test_incremental_tasks_converts_partition_under_each_entrys_spec(
    spark, tmp_path
):
    """Partition-evolved table on the INCREMENTAL path: an entry
    written under an older identity-date spec must convert its
    epoch-days int under THAT spec, not the current default — the
    default-spec shortcut passed the raw int through and the fill
    null-filled the column."""
    import datetime as dt

    from ic_spark.compaction.iceberg_meta import IcebergTable

    df = spark.createDataFrame([], "id int, d date")
    tbl = IcebergTable.create(str(tmp_path / "it"), df.schema)
    meta = tbl.metadata()
    ids = {f["name"]: f["id"] for f in meta["schemas"][0]["fields"]}

    def _set_spec(fields, spec_id):
        m = tbl.metadata()
        nm = dict(m)
        specs = [p for p in m["partition-specs"] if p["spec-id"] != spec_id]
        nm["partition-specs"] = specs + [{"spec-id": spec_id, "fields": fields}]
        nm["default-spec-id"] = spec_id
        nm["last-partition-id"] = max(
            (f["field-id"] for f in fields), default=999
        )
        tbl._commit_metadata(nm, expected_version=tbl.version())

    def _one_file(tag, rows, schema):
        d = str(tmp_path / tag)
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        return next(
            os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")
        )

    # snapshot 1: unpartitioned seed (the incremental FROM point)
    f0 = _one_file("f0", [(0, dt.date(2023, 1, 1))], "id int, d date")
    s1 = tbl.append_snapshot(
        [{"path": f0, "content": "DATA", "record_count": 1,
          "file_size_in_bytes": os.path.getsize(f0)}]
    )
    # spec 1 (foreign-written shape): identity over d, name == source
    _set_spec(
        [{"name": "d", "transform": "identity",
          "source-id": ids["d"], "field-id": 1000}],
        1,
    )
    fa = _one_file("fa", [(1,)], "id int")
    tbl.append_snapshot(
        [{"path": fa, "content": "DATA", "record_count": 1,
          "file_size_in_bytes": os.path.getsize(fa),
          "partition_values": {"d": 19723}}]
    )
    # spec 2 becomes default: identity over id (no date conversion)
    _set_spec(
        [{"name": "id", "transform": "identity",
          "source-id": ids["id"], "field-id": 1001}],
        2,
    )
    fb = _one_file("fb", [(dt.date(2023, 1, 2),)], "d date")
    s3 = tbl.append_snapshot(
        [{"path": fb, "content": "DATA", "record_count": 1,
          "file_size_in_bytes": os.path.getsize(fb),
          "partition_values": {"id": 2}}]
    )
    tasks = tbl.incremental_tasks(s1, s3)
    by_path = {t.data_file_path: t.partition_values for t in tasks}
    assert by_path[fa] == {"d": "2024-01-01"}, by_path[fa]
    assert by_path[fb] == {"id": "2"} or by_path[fb] == {"id": 2}, by_path[fb]


@pytest.mark.slow
def test_partition_evolution_append_preserves_old_spec_values(spark, tmp_path):
    """LATENT BUG (found via the incremental-spec test): every commit
    rewrites ALL live entries into fresh manifests, and encoding
    carried entries under the CURRENT default spec silently nulled
    their old-spec partition values.  Manifests are now grouped one-
    per-spec (Iceberg's rule), so values written under spec 1 survive
    an append made under spec 2 — on disk and through read_table."""
    import datetime as dt

    from ic_spark.compaction.deletes import read_table
    from ic_spark.compaction.iceberg_meta import IcebergTable
    from ic_spark.sources.avro_io import read_container

    df = spark.createDataFrame([], "id int, d date")
    tbl = IcebergTable.create(str(tmp_path / "it"), df.schema)
    meta = tbl.metadata()
    ids = {f["name"]: f["id"] for f in meta["schemas"][0]["fields"]}
    nm = dict(meta)
    nm["partition-specs"] = list(meta["partition-specs"]) + [
        {"spec-id": 1, "fields": [
            {"name": "d", "transform": "identity",
             "source-id": ids["d"], "field-id": 1000}]}
    ]
    nm["default-spec-id"] = 1
    nm["last-partition-id"] = 1000
    tbl._commit_metadata(nm, expected_version=tbl.version())

    da = str(tmp_path / "fa")
    spark.createDataFrame([(1,), (2,)], "id int").coalesce(1).write.parquet(da)
    fa = next(os.path.join(da, n) for n in os.listdir(da) if n.endswith(".parquet"))
    tbl.append_snapshot(
        [{"path": fa, "content": "DATA", "record_count": 2,
          "file_size_in_bytes": os.path.getsize(fa),
          "partition_values": {"d": 19723}}]
    )

    # evolve: spec 2 (identity over id) becomes default, then APPEND
    m2 = tbl.metadata()
    nm2 = dict(m2)
    nm2["partition-specs"] = list(m2["partition-specs"]) + [
        {"spec-id": 2, "fields": [
            {"name": "id", "transform": "identity",
             "source-id": ids["id"], "field-id": 1001}]}
    ]
    nm2["default-spec-id"] = 2
    nm2["last-partition-id"] = 1001
    tbl._commit_metadata(nm2, expected_version=tbl.version())
    db = str(tmp_path / "fb")
    spark.createDataFrame(
        [(dt.date(2022, 5, 5),)], "d date"
    ).coalesce(1).write.parquet(db)
    fb = next(os.path.join(db, n) for n in os.listdir(db) if n.endswith(".parquet"))
    tbl.append_snapshot(
        [{"path": fb, "content": "DATA", "record_count": 1,
          "file_size_in_bytes": os.path.getsize(fb),
          "partition_values": {"id": 9}}]
    )

    # on disk: one data manifest per spec, each with its own struct
    snap = tbl._snapshot(None)
    _, _, manifests = read_container(snap["manifest-list"])
    by_spec = {m["partition_spec_id"]: m for m in manifests}
    assert set(by_spec) == {1, 2}
    _, _, e1 = read_container(by_spec[1]["manifest_path"])
    assert [e["data_file"]["partition"] for e in e1] == [{"d": 19723}]
    _, _, e2 = read_container(by_spec[2]["manifest_path"])
    assert [e["data_file"]["partition"] for e in e2] == [{"id": 9}]

    # through the reader: both files' partition columns fill for real
    out = sorted(
        [tuple(r) for r in read_table(spark, tbl, schema=df.schema).collect()],
        key=repr,
    )
    assert out == sorted(
        [(1, dt.date(2024, 1, 1)), (2, dt.date(2024, 1, 1)),
         (9, dt.date(2022, 5, 5))],
        key=repr,
    )


@pytest.mark.slow
def test_foreign_timestamp_identity_partition_survives_commits(spark, tmp_path):
    """Foreign-written identity(timestamptz) partitions store long
    micros; carried entries must re-encode (typed long field +
    coercion) instead of crashing the commit, and the scan fill
    converts to an exact +00:00 timestamp string."""
    import datetime as dt

    from ic_spark.compaction.deletes import read_table
    from ic_spark.compaction.iceberg_meta import IcebergTable
    from ic_spark.sources.avro_io import read_container

    df = spark.createDataFrame([], "id int, ts timestamp")
    tbl = IcebergTable.create(str(tmp_path / "it"), df.schema)
    meta = tbl.metadata()
    ids = {f["name"]: f["id"] for f in meta["schemas"][0]["fields"]}
    ts_type = next(
        f["type"] for f in meta["schemas"][0]["fields"] if f["name"] == "ts"
    )
    assert ts_type in ("timestamp", "timestamptz"), ts_type
    nm = dict(meta)
    nm["partition-specs"] = list(meta["partition-specs"]) + [
        {"spec-id": 1, "fields": [
            {"name": "ts", "transform": "identity",
             "source-id": ids["ts"], "field-id": 1000}]}
    ]
    nm["default-spec-id"] = 1
    nm["last-partition-id"] = 1000
    tbl._commit_metadata(nm, expected_version=tbl.version())

    micros = 1704067200123456  # 2024-01-01T00:00:00.123456 UTC
    d1 = str(tmp_path / "f1")
    spark.createDataFrame([(1,), (2,)], "id int").coalesce(1).write.parquet(d1)
    f1 = next(os.path.join(d1, n) for n in os.listdir(d1) if n.endswith(".parquet"))
    tbl.append_snapshot(
        [{"path": f1, "content": "DATA", "record_count": 2,
          "file_size_in_bytes": os.path.getsize(f1),
          "partition_values": {"ts": micros}}]
    )
    # a second commit CARRIES the first entry — this crashed before
    # (string-typed avro slot vs int value) or silently nulled it
    d2 = str(tmp_path / "f2")
    spark.createDataFrame([(3,)], "id int").coalesce(1).write.parquet(d2)
    f2 = next(os.path.join(d2, n) for n in os.listdir(d2) if n.endswith(".parquet"))
    tbl.append_snapshot(
        [{"path": f2, "content": "DATA", "record_count": 1,
          "file_size_in_bytes": os.path.getsize(f2),
          "partition_values": {"ts": micros + 1}}]
    )
    snap = tbl._snapshot(None)
    _, _, manifests = read_container(snap["manifest-list"])
    vals = set()
    for mf in manifests:
        _, _, entries = read_container(mf["manifest_path"])
        vals.update(e["data_file"]["partition"]["ts"] for e in entries)
    assert vals == {micros, micros + 1}, vals

    data, _, _ = tbl.scan_tasks()
    got = {t.partition_values["ts"] for t in data}
    if ts_type == "timestamptz":
        assert got == {
            "2024-01-01 00:00:00.123456+00:00",
            "2024-01-01 00:00:00.123457+00:00",
        }, got
    else:
        assert got == {
            "2024-01-01 00:00:00.123456",
            "2024-01-01 00:00:00.123457",
        }, got
    out = read_table(spark, tbl, schema=df.schema)
    rows = {r.id: r.ts for r in out.collect()}
    assert rows[1] is not None and rows[3] is not None
    assert rows[3].microsecond == 123457
