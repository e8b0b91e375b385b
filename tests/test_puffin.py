"""Puffin container + roaring deletion vectors (sources/puffin.py)."""

from __future__ import annotations

import struct

import pytest

from ic_spark.sources.puffin import (
    DV_BLOB_TYPE,
    PuffinBlob,
    _deserialize_roaring32,
    _serialize_roaring32,
    deserialize_dv_blob,
    deserialize_roaring64,
    read_deletion_vectors,
    read_puffin,
    serialize_dv_blob,
    serialize_roaring64,
    write_deletion_vector_file,
    write_puffin,
)


def test_roaring32_array_container_bytes_pinned():
    """Spec-pinned bytes for {1, 2, 100000}: no-run cookie 12346,
    2 containers (high 0 card 2, high 1 card 1), offset header, then
    sorted u16 arrays."""
    buf = _serialize_roaring32([1, 2, 100000])
    cookie, n = struct.unpack_from("<II", buf, 0)
    assert (cookie, n) == (12346, 2)
    k0, c0, k1, c1 = struct.unpack_from("<HHHH", buf, 8)
    assert (k0, c0) == (0, 1) and (k1, c1) == (1, 0)  # cardinality-1
    off0, off1 = struct.unpack_from("<II", buf, 16)
    assert off0 == 24 and off1 == 28  # header is 8+8+8 bytes
    assert struct.unpack_from("<HH", buf, off0) == (1, 2)
    assert struct.unpack_from("<H", buf, off1) == (100000 - 65536,)
    vals, end = _deserialize_roaring32(buf, 0)
    assert vals == [1, 2, 100000] and end == len(buf)


@pytest.mark.parametrize(
    "values",
    [
        [],
        [0],
        [0xFFFFFFFF],
        list(range(5000)),  # bitmap container (card > 4096)
        list(range(0, 200000, 7)),  # multi-container mix
    ],
)
def test_roaring32_roundtrip(values):
    buf = _serialize_roaring32(sorted(set(values)))
    out, end = _deserialize_roaring32(buf, 0)
    assert out == sorted(set(values)) and end == len(buf)


def test_roaring32_reads_run_containers():
    """Other writers emit run containers; build one by hand per the
    spec (cookie 12347, run-flag bitset, 2-byte run count, start/len
    pairs) and decode it."""
    # one container, high key 3, runs [5..9] and [20..20]
    cookie = (12347 & 0xFFFF) | ((1 - 1) << 16)
    buf = struct.pack("<I", cookie)
    buf += b"\x01"  # run flag bitset: container 0 is a run
    buf += struct.pack("<HH", 3, 6 - 1)  # key=3, cardinality 6
    # n < NO_OFFSET_THRESHOLD with runs → no offset header
    buf += struct.pack("<H", 2)  # two runs
    buf += struct.pack("<HH", 5, 4)  # 5..9
    buf += struct.pack("<HH", 20, 0)  # 20
    vals, end = _deserialize_roaring32(buf, 0)
    base = 3 << 16
    assert vals == [base + v for v in [5, 6, 7, 8, 9, 20]]
    assert end == len(buf)


def test_roaring64_cross_bucket():
    positions = [0, 1, (1 << 32) + 5, (1 << 33) + 7, (1 << 40)]
    buf = serialize_roaring64(positions)
    (n_buckets,) = struct.unpack_from("<Q", buf, 0)
    assert n_buckets == 4  # highs 0, 1, 2, 256
    assert deserialize_roaring64(buf) == positions
    with pytest.raises(ValueError, match="2\\^63"):
        serialize_roaring64([1 << 63])


def test_dv_blob_framing_and_crc():
    blob = serialize_dv_blob([3, 1, 2, 3])
    (body_len,) = struct.unpack_from(">I", blob, 0)
    assert blob[4:8] == b"\xd1\xd3\x39\x64"
    assert len(blob) == 4 + body_len + 4
    assert deserialize_dv_blob(blob) == [1, 2, 3]
    corrupted = blob[:-1] + bytes([blob[-1] ^ 0xFF])
    with pytest.raises(ValueError, match="CRC"):
        deserialize_dv_blob(corrupted)


def test_puffin_container_roundtrip(tmp_path):
    p = str(tmp_path / "x.puffin")
    write_puffin(
        p,
        [
            PuffinBlob(type=DV_BLOB_TYPE, data=b"abc", properties={"k": "v"}),
            PuffinBlob(type="other-stat", data=b"\x00" * 10),
        ],
        properties={"created-by": "ic_spark"},
    )
    blobs = read_puffin(p)
    assert [b.type for b in blobs] == [DV_BLOB_TYPE, "other-stat"]
    assert blobs[0].data == b"abc" and blobs[0].properties == {"k": "v"}
    assert blobs[1].length == 10
    # reading from bytes works too (the executor-side path)
    raw = open(p, "rb").read()
    assert read_puffin(raw)[0].data == b"abc"
    with pytest.raises(ValueError, match="not a Puffin"):
        read_puffin(b"nope")


@pytest.mark.slow
def test_dv_delete_lifecycle(spark, tmp_path):
    """write_deletion_vectors → MoR read applies the bitmaps; a second
    DV write supersedes + unions; maintenance leaves DVs alone; DuckDB
    oracle agrees with the surviving rows."""
    import os

    import duckdb
    import pyspark.sql.functions as F

    from ic_spark.compaction import Compaction, ManifestTable
    from ic_spark.compaction.deletes import read_table, write_deletion_vectors

    table = ManifestTable(str(tmp_path / "tbl"))
    df = spark.range(0, 100).select("id", (F.col("id") % 10).alias("bucket"))
    entries = []
    for i in range(2):
        d = str(tmp_path / f"data{i}")
        df.where(f"id % 2 = {i}").coalesce(1).write.parquet(d)
        f = next(
            os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet")
        )
        entries.append(
            {
                "path": f,
                "sequence_number": 1,
                "content": "DATA",
                "file_size_in_bytes": os.path.getsize(f),
            }
        )
    table.append_snapshot(entries)

    write_deletion_vectors(spark, table, F.col("bucket") == 3)
    out = read_table(spark, table)
    assert out.where("bucket = 3").count() == 0
    assert out.count() == 90

    # second DV write must supersede the first puffin file (union, one
    # entry) — no stacking of DV files
    write_deletion_vectors(spark, table, F.col("bucket") == 7)
    _, pos, _ = table.scan_tasks()
    assert len(pos) == 1 and pos[0].file_format == "puffin"
    out = read_table(spark, table)
    assert out.where("bucket in (3, 7)").count() == 0
    assert out.count() == 80

    # maintenance: position-delete merge skips puffin entries
    stats = Compaction(spark).rewrite_position_deletes(table)
    assert stats == {"merged": 0, "kept_rows": 0}
    _, pos, _ = table.scan_tasks()
    assert len(pos) == 1

    # oracle
    con = duckdb.connect()
    want = con.execute(
        "SELECT count(*) FROM range(100) r(i) WHERE i % 10 NOT IN (3, 7)"
    ).fetchone()[0]
    assert out.count() == want

    # full compact folds the DVs into rewritten data files and drops them
    from ic_spark.compaction.request import FileContent  # noqa: F401

    Compaction(spark).full_compact(table, df.schema)
    data, pos, eq = table.scan_tasks()
    assert pos == [] and eq == []
    assert read_table(spark, table).count() == 80


def test_dv_coexists_with_parquet_position_deletes(spark, tmp_path):
    """Both delete flavors in one table union on read."""
    import os

    import pyspark.sql.functions as F

    from ic_spark.compaction import ManifestTable
    from ic_spark.compaction.deletes import (
        read_table,
        write_deletion_vectors,
        write_position_deletes,
    )

    table = ManifestTable(str(tmp_path / "tbl"))
    d = str(tmp_path / "data")
    spark.range(0, 50).coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    table.append_snapshot(
        [{"path": f, "sequence_number": 1, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(f)}]
    )
    write_position_deletes(spark, table, F.col("id") < 5)
    write_deletion_vectors(spark, table, F.col("id") >= 45)
    _, pos, _ = table.scan_tasks()
    assert sorted(t.file_format for t in pos) == ["parquet", "puffin"]
    ids = sorted(r.id for r in read_table(spark, table).collect())
    assert ids == list(range(5, 45))


@pytest.mark.slow
def test_convert_position_deletes_to_dvs(spark, tmp_path):
    """Parquet position-delete files upgrade to one puffin DV entry;
    visible rows identical before/after; dangling positions dropped."""
    import os

    import pyspark.sql.functions as F

    from ic_spark.compaction import Compaction, ManifestTable
    from ic_spark.compaction.deletes import read_table, write_position_deletes

    table = ManifestTable(str(tmp_path / "tbl"))
    d = str(tmp_path / "data")
    spark.range(0, 100).coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    table.append_snapshot(
        [{"path": f, "sequence_number": 1, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(f)}]
    )
    write_position_deletes(spark, table, F.col("id") < 10)
    write_position_deletes(spark, table, F.col("id") >= 95)
    # a dangling delete row pointing at a dead file
    dead = spark.createDataFrame(
        [("file:/nowhere.parquet", 0)],
        "sys_hidden_file_path string, sys_hidden_pos long",
    )
    dd = str(tmp_path / "dangling")
    dead.coalesce(1).write.parquet(dd)
    dfp = next(os.path.join(dd, n) for n in os.listdir(dd) if n.endswith(".parquet"))
    table.append_snapshot(
        [{"path": dfp, "sequence_number": 4, "content": "POSITION_DELETES",
          "file_size_in_bytes": os.path.getsize(dfp)}]
    )
    before = sorted(r.id for r in read_table(spark, table).collect())

    stats = Compaction(spark).convert_position_deletes_to_dvs(table)
    assert stats == {"converted": 3, "dv_rows": 15}
    _, pos, _ = table.scan_tasks()
    assert [t.file_format for t in pos] == ["puffin"]
    after = sorted(r.id for r in read_table(spark, table).collect())
    assert after == before == list(range(10, 95))
    # idempotent: nothing left to convert
    assert Compaction(spark).convert_position_deletes_to_dvs(table) == {
        "converted": 0,
        "dv_rows": 0,
    }


def test_convert_equality_deletes_to_dvs(spark, tmp_path):
    """Equality deletes convert straight to deletion vectors: the scan
    is paid once, reads drop to a single bitmap anti-join, and visible
    rows are identical to the equality semantics."""
    import os

    import pyspark.sql.functions as F

    from ic_spark.compaction import Compaction, ManifestTable
    from ic_spark.compaction.deletes import read_table, write_equality_deletes

    table = ManifestTable(str(tmp_path / "tbl"))
    d = str(tmp_path / "data")
    spark.range(0, 60).coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    table.append_snapshot(
        [{"path": f, "sequence_number": 1, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(f)}]
    )
    keys = spark.createDataFrame([(7,), (8,), (999,)], "id long")
    write_equality_deletes(spark, table, keys, ["id"])
    before = sorted(r.id for r in read_table(spark, table).collect())

    stats = Compaction(spark).convert_equality_deletes(table, to_dvs=True)
    assert stats == {"converted": 1, "delete_rows": 2}  # 999 matches nothing
    data, pos, eq = table.scan_tasks()
    assert eq == [] and [t.file_format for t in pos] == ["puffin"]
    assert sorted(r.id for r in read_table(spark, table).collect()) == before


def test_dvs_over_spec_metadata_table(spark, tmp_path):
    """Deletion vectors round-trip through spec-format Avro manifests:
    file_format survives the manifest encode/decode (regression: it was
    dropped, so reads tried to parquet-scan the puffin file), and
    sequence numbering duck-types without ManifestTable internals."""
    import os

    import pyspark.sql.functions as F

    from ic_spark.compaction.deletes import read_table, write_deletion_vectors
    from ic_spark.compaction.iceberg_meta import IcebergTable

    df = spark.range(0, 200).select("id", (F.col("id") % 10).alias("g"))
    tbl = IcebergTable.create(str(tmp_path / "tbl"), df.schema)
    d = str(tmp_path / "seed")
    df.coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    tbl.append_snapshot(
        [{"path": f, "content": "DATA", "record_count": 200,
          "file_size_in_bytes": os.path.getsize(f)}]
    )
    write_deletion_vectors(spark, tbl, F.col("g") == 4)
    _, pos, _ = tbl.scan_tasks()
    assert [t.file_format for t in pos] == ["puffin"]
    out = read_table(spark, tbl)
    assert out.count() == 180 and out.where("g = 4").count() == 0

    # v3 DV manifest fields in the raw Avro delete manifest: one entry
    # per vector with referenced_data_file + content offset/size.
    from ic_spark.sources.avro_io import read_container
    from ic_spark.sources.puffin import read_puffin

    snap = tbl._snapshot(None)
    _, _, manifests = read_container(snap["manifest-list"])
    delete_manifests = [m for m in manifests if m["content"] == 1]
    assert len(delete_manifests) == 1
    _, _, entries = read_container(delete_manifests[0]["manifest_path"])
    dv_entries = [
        e for e in entries if e["data_file"]["file_format"] == "puffin"
    ]
    assert len(dv_entries) == 1  # one data file → one vector
    df_rec = dv_entries[0]["data_file"]
    assert df_rec["referenced_data_file"].endswith(".parquet")
    blob = read_puffin(df_rec["file_path"])[0]
    assert df_rec["content_offset"] == blob.offset
    assert df_rec["content_size_in_bytes"] == blob.length
    assert df_rec["record_count"] == 20  # cardinality of the vector


def test_dv_maintenance_over_spec_metadata(spark, tmp_path):
    """compact_deletion_vectors and convert_equality_deletes(to_dvs)
    duck-type over the spec-format IcebergTable."""
    import os

    import pyspark.sql.functions as F

    from ic_spark.compaction import Compaction
    from ic_spark.compaction.deletes import (
        read_table,
        write_deletion_vectors,
        write_equality_deletes,
    )
    from ic_spark.compaction.iceberg_meta import IcebergTable

    df = spark.range(0, 100).select("id", (F.col("id") % 2).alias("half"))
    tbl = IcebergTable.create(str(tmp_path / "spec"), df.schema)
    entries = []
    for i in range(2):
        d = str(tmp_path / f"s{i}")
        df.where(f"half = {i}").coalesce(1).write.parquet(d)
        f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
        entries.append({"path": f, "content": "DATA", "record_count": 50,
                        "file_size_in_bytes": os.path.getsize(f)})
    tbl.append_snapshot(entries)
    # two disjoint-file DV writes -> two puffin files
    write_deletion_vectors(spark, tbl, F.col("id") == 0)   # file half=0
    write_deletion_vectors(spark, tbl, F.col("id") == 1)   # file half=1
    _, pos, _ = tbl.scan_tasks()
    assert len(pos) == 2
    stats = Compaction(spark).compact_deletion_vectors(tbl)
    assert stats == {"merged": 2, "dvs": 2}
    _, pos, _ = tbl.scan_tasks()
    assert len(pos) == 1 and pos[0].file_format == "puffin"
    assert read_table(spark, tbl).count() == 98

    write_equality_deletes(
        spark, tbl, spark.createDataFrame([(2,)], "id long"), ["id"]
    )
    out = Compaction(spark).convert_equality_deletes(tbl, to_dvs=True)
    assert out["delete_rows"] == 1
    _, pos, eq = tbl.scan_tasks()
    assert eq == [] and len(pos) == 1
    assert read_table(spark, tbl).count() == 97


def test_deletion_vector_file_multi_dv(tmp_path):
    p = str(tmp_path / "dv.puffin")
    entries = write_deletion_vector_file(
        p, {"/data/a.parquet": [0, 5, 7], "/data/b.parquet": [2]}
    )
    assert entries["/data/a.parquet"]["cardinality"] == 3
    back = read_deletion_vectors(p)
    assert back == {"/data/a.parquet": [0, 5, 7], "/data/b.parquet": [2]}


@pytest.mark.slow
def test_distributed_dv_commit_matches_driver_path(spark, tmp_path):
    """commit_deletion_vectors_distributed must produce the SAME table
    state as the driver-side path: per-referenced-file bitmap bytes
    identical (same serialize over the same position sets), same
    visible rows, same supersede behavior — only the puffin file layout
    (N executor-written files vs one) differs."""
    import os

    import pyspark.sql.functions as F

    from ic_spark.compaction.deletes import read_table, write_deletion_vectors
    from ic_spark.compaction.manifest import ManifestTable
    from ic_spark.sources.puffin import DV_BLOB_TYPE, read_puffin

    def mk_table(name):
        table = ManifestTable(str(tmp_path / name))
        df = spark.range(0, 300).select(
            "id", (F.col("id") % 10).alias("bucket")
        )
        entries = []
        for i in range(3):
            d = str(tmp_path / f"{name}_data{i}")
            df.where(f"id % 3 = {i}").coalesce(1).write.parquet(d)
            f = next(
                os.path.join(d, n)
                for n in os.listdir(d)
                if n.endswith(".parquet")
            )
            entries.append(
                {
                    "path": f,
                    "sequence_number": 1,
                    "content": "DATA",
                    "file_size_in_bytes": os.path.getsize(f),
                }
            )
        table.append_snapshot(entries)
        # Pre-existing DV so both paths must supersede + union + carry.
        write_deletion_vectors(spark, table, F.col("bucket") == 3)
        return table

    def dv_state(table):
        """{data slice (residue dir) -> blob bytes} over all live puffin
        entries — parquet part names are uuid-random per clone, but the
        _data{i} slice dirs identify corresponding files."""
        import re

        _, pos, _ = table.scan_tasks()
        out = {}
        for t in pos:
            assert t.file_format == "puffin"
            for b in read_puffin(t.data_file_path):
                if b.type != DV_BLOB_TYPE:
                    continue
                ref = re.search(
                    r"_data(\d)/", b.properties["referenced-data-file"]
                ).group(1)
                assert ref not in out  # one-DV-per-file invariant
                out[ref] = b.data
        return out

    t_driver = mk_table("drv")
    t_dist = mk_table("dst")

    # Data file paths differ between the clones, so compare by basename
    # is not enough — but the SAME predicate over identically-built
    # tables yields identical per-file position sets, hence identical
    # blob bytes per corresponding file.
    write_deletion_vectors(spark, t_driver, F.col("bucket").isin(5, 7))
    write_deletion_vectors(
        spark, t_dist, F.col("bucket").isin(5, 7), distributed=True
    )

    a, b = dv_state(t_driver), dv_state(t_dist)
    assert set(a) == set(b)
    for ref in a:
        assert a[ref] == b[ref], f"bitmap bytes differ for {ref}"

    ra = sorted(r.id for r in read_table(spark, t_driver).collect())
    rb = sorted(r.id for r in read_table(spark, t_dist).collect())
    assert ra == rb
    assert rb == [i for i in range(300) if i % 10 not in (3, 5, 7)]

    # Supersede: neither table stacks old puffin files.
    for t in (t_driver, t_dist):
        _, pos, _ = t.scan_tasks()
        refs = set()
        for task in pos:
            for blob in read_puffin(task.data_file_path):
                refs.add(blob.properties["referenced-data-file"])
        assert len(refs) == 3  # one vector per data file, once


def test_distributed_dv_commit_over_spec_metadata(spark, tmp_path):
    """The executor-side DV commit duck-types over the spec-format
    IcebergTable (per-vector manifest entries, record_count summed)."""
    import os

    import pyspark.sql.functions as F

    from ic_spark.compaction.deletes import read_table, write_deletion_vectors
    from ic_spark.compaction.iceberg_meta import IcebergTable
    from ic_spark.compaction.writer import _stats_from_footer

    loc = str(tmp_path / "spec_dv")
    df = spark.range(0, 100).select("id", (F.col("id") % 10).alias("bucket"))
    tbl = IcebergTable.create(loc, df.schema)
    d = str(tmp_path / "spec_dv_seed")
    df.coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    rc, cs, _ = _stats_from_footer(f, d)
    tbl.append_snapshot(
        [
            {
                "path": f,
                "content": "DATA",
                "record_count": rc,
                "file_size_in_bytes": os.path.getsize(f),
                "column_stats": cs,
            }
        ]
    )
    write_deletion_vectors(spark, tbl, F.col("bucket") == 2, distributed=True)
    out = read_table(spark, tbl)
    assert out.count() == 90 and out.where("bucket = 2").count() == 0
    _, pos, _ = tbl.scan_tasks()
    assert [t.file_format for t in pos] == ["puffin"]
    assert pos[0].record_count == 10  # per-vector cardinality summed


def test_dv_commit_unions_carried_blobs_across_superseded_files(
    spark, tmp_path
):
    """Two SUPERSEDED puffin files both carrying a DV for the same
    untouched data file: the carried bitmaps must UNION (the r10
    dv_fold extraction fix — the old separate carried dict last-wins-
    overwrote, silently resurrecting deleted rows)."""
    import os

    import pyspark.sql.functions as F

    from ic_spark.compaction.deletes import commit_deletion_vectors
    from ic_spark.compaction.manifest import ManifestTable

    paths = {}
    for name, lo in [("A", 0), ("B", 100), ("R", 200)]:
        d = str(tmp_path / f"dvu_{name}")
        spark.range(lo, lo + 50).coalesce(1).write.parquet(d)
        paths[name] = next(
            os.path.join(d, n)
            for n in os.listdir(d)
            if n.endswith(".parquet")
        )
    table = ManifestTable(str(tmp_path / "dvu_tbl"))
    table.append_snapshot(
        [
            {"path": paths[n], "sequence_number": 1, "content": "DATA"}
            for n in "ABR"
        ]
    )

    def dv(ref, positions):
        return PuffinBlob(
            type=DV_BLOB_TYPE,
            data=serialize_dv_blob(positions),
            properties={
                "referenced-data-file": paths[ref],
                "cardinality": str(len(positions)),
            },
        )

    p1 = str(tmp_path / "dvu_p1" / "deletes.puffin")
    write_puffin(p1, [dv("A", [0]), dv("R", [1])])
    p2 = str(tmp_path / "dvu_p2" / "deletes.puffin")
    write_puffin(p2, [dv("B", [0]), dv("R", [2])])
    table.append_snapshot(
        [
            {
                "path": p,
                "sequence_number": 2,
                "content": "POSITION_DELETES",
                "file_format": "puffin",
            }
            for p in (p1, p2)
        ]
    )

    # New deletes touch A and B → BOTH puffin files are superseded; R's
    # two carried bitmaps {1} and {2} must survive as their union.
    matches = spark.createDataFrame(
        [(paths["A"], 5), (paths["B"], 5)], "file_path string, pos long"
    )
    commit_deletion_vectors(spark, table, matches)

    _data, pos, _eq = table.scan_tasks()
    refs: dict[str, set[int]] = {}
    for t in pos:
        for b in read_puffin(t.data_file_path):
            ref = b.properties.get("referenced-data-file", "")
            refs.setdefault(ref, set()).update(deserialize_dv_blob(b.data))
    assert refs[paths["R"]] == {1, 2}
    assert refs[paths["A"]] == {0, 5}
    assert refs[paths["B"]] == {0, 5}


@pytest.mark.parametrize("distributed", [False, True])
@pytest.mark.parametrize("spelling", ["plain", "file:"])
def test_dv_write_unions_vectors_under_any_ref_spelling(spark, tmp_path, distributed, spelling):
    """A vector already recorded for a data file — under the manifest
    path, as spec writers record it, or under the scan's ``file:``
    spelling — and a new vector for the same file are one file's
    vectors: the next DV write unions them into ONE blob, on the driver
    and the executor commit paths alike."""
    import os

    import pyspark.sql.functions as F

    from ic_spark.compaction import ManifestTable
    from ic_spark.compaction.deletes import (
        dv_blobs,
        dv_manifest_entry,
        read_table,
        write_deletion_vectors,
    )

    table = ManifestTable(str(tmp_path / "tbl"))
    d = str(tmp_path / "data")
    spark.range(0, 20).coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    table.append_snapshot([{"path": f, "sequence_number": 1, "content": "DATA"}])
    ref = f if spelling == "plain" else "file:" + f
    blobs = dv_blobs({ref: (serialize_dv_blob([1, 2]), 2)})
    old = str(tmp_path / "old" / "deletes.puffin")
    os.makedirs(os.path.dirname(old))
    write_puffin(old, blobs)
    table.append_snapshot([dv_manifest_entry(old, 2, blobs)])

    write_deletion_vectors(spark, table, F.col("id") == 5, distributed=distributed)
    _, pos, _ = table.scan_tasks()
    live = [b for t in pos for b in read_puffin(t.data_file_path) if b.type == DV_BLOB_TYPE]
    assert [b.properties["referenced-data-file"] for b in live] == [f]
    assert deserialize_dv_blob(live[0].data) == [1, 2, 5]
    ids = sorted(r.id for r in read_table(spark, table).collect())
    assert ids == [i for i in range(20) if i not in (1, 2, 5)]
