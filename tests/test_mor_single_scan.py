"""One scan per merge-on-read side, planned with no Spark job.

Sequence numbers never split a scan: the data side is one multi-path
scan per (format, write schema) group and each equality-delete group is
one scan, with every file's sequence number, manifest path, partition
values and first_row_id read from one constant file lookup
(``planner.FileLookup``).  Delete files are read under an enforced
schema, so building the plan runs no schema-inference job.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from ic_spark.compaction import writer
from ic_spark.compaction.manifest import ManifestTable
from ic_spark.compaction.planner import FileLookup, _uri_spelling
from ic_spark.compaction.request import FileScanTask
from ic_spark.table import Table

SCHEMA = "id long, v long"


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _file_scans(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln for ln in plan.splitlines() if "FileScan parquet" in ln]


def _scan_kinds(scans: list[str]) -> list[str]:
    """Which side each FileScan reads, told apart by its read schema."""
    kinds = {
        "ReadSchema: struct<id:bigint,v:bigint": "data",
        "ReadSchema: struct<id:bigint>": "equality",
        "ReadSchema: struct<file_path:string,pos:bigint>": "position",
    }
    return sorted(next(k for s, k in kinds.items() if s in ln) for ln in scans)


def _expected_rows() -> list[tuple]:
    """The visible rows after the writes of ``_seven_sequence_table``."""
    rows = {i: i // 10 for i in range(60) if i % 7 and i not in (3, 14, 25, 41)}
    rows.update({14: 100, 41: 100})
    return sorted(rows.items())


def _seven_sequence_table(spark, root) -> Table:
    """Six appends, a position delete, an equality delete and an upsert:
    data files at seven sequence numbers, equality deletes at two."""
    t = Table.create(spark, root, spark.createDataFrame([], SCHEMA).schema)
    for i in range(6):
        t.append(spark.range(i * 10, i * 10 + 10).select("id", F.lit(i).cast("long").alias("v")))
    t.write_position_deletes(F.col("id") % 7 == 0)
    t.write_equality_deletes(spark.createDataFrame([(3,), (14,), (25,)], "id long"), ["id"])
    # The upsert's own rows survive its same-sequence equality delete.
    t.upsert(spark.createDataFrame([(14, 100), (41, 100)], SCHEMA), ["id"])
    data, pos, eq = t.inner.scan_tasks()
    assert len({d.sequence_number for d in data}) == 7
    assert len({e.sequence_number for e in eq}) == 2 and pos
    return t


def test_mor_read_plans_with_no_job_and_one_scan_per_side(spark, tmp_path):
    t = _seven_sequence_table(spark, str(tmp_path / "t"))
    before = _next_job(spark)
    df = t.read()
    assert _next_job(spark) == before, "planning the MoR read ran a Spark job"
    assert _scan_kinds(_file_scans(df)) == ["data", "equality", "position"]
    assert sorted(tuple(r) for r in df.collect()) == _expected_rows()


def test_compaction_builds_the_same_plan_with_no_job(spark, tmp_path, monkeypatch):
    t = _seven_sequence_table(spark, str(tmp_path / "t"))
    built = []

    def traced(spark_, request, lineage=None):
        before = _next_job(spark_)
        df = build(spark_, request, lineage=lineage)
        built.append((_next_job(spark_) - before, _file_scans(df)))
        return df

    build = writer.build_merge_on_read
    monkeypatch.setattr(writer, "build_merge_on_read", traced)
    t.compact()
    ((jobs, scans),) = built
    assert jobs == 0
    assert _scan_kinds(scans) == ["data", "equality", "position"]
    assert sorted(tuple(r) for r in t.read().collect()) == _expected_rows()


def _write(path: str, ids: list[int], v: int) -> str:
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()), "v": pa.array([v] * len(ids), pa.int64())}),
        path,
    )
    return path


def test_mor_read_matches_oracle_on_encoded_paths(spark, tmp_path):
    """Data files across three sequence numbers under a directory whose
    name holds a space and a non-ASCII character; position deletes
    recorded under the Hadoop URI spelling, the raw ``file:`` spelling
    and the plain manifest path; an equality delete; an upsert whose own
    rows survive its same-sequence equality delete.  The read equals a
    pyarrow oracle."""
    d = tmp_path / "data p=a b é"
    d.mkdir()
    t = ManifestTable(str(tmp_path / "tbl"))
    f0 = _write(str(d / "f 0.parquet"), list(range(0, 10)), 1)
    f1 = _write(str(d / "f1é.parquet"), list(range(10, 20)), 1)
    f2 = _write(str(d / "f2.parquet"), list(range(20, 30)), 2)
    t.append_snapshot(
        [{"path": f, "sequence_number": 1, "content": "DATA"} for f in (f0, f1)]
    )
    t.append_snapshot([{"path": f2, "sequence_number": 2, "content": "DATA"}])
    pd_file = str(d / "pos del.parquet")
    pq.write_table(
        pa.table(
            {
                "file_path": ["file:" + _uri_spelling(f0), "file:" + f1, f0, "file:" + f2],
                "pos": pa.array([2, 0, 4, 9], pa.int64()),
            }
        ),
        pd_file,
    )
    eq_file = str(d / "eq del.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 12, 21], pa.int64())}), eq_file)
    t.append_snapshot(
        [
            {"path": pd_file, "sequence_number": 2, "content": "POSITION_DELETES"},
            {"path": eq_file, "sequence_number": 2, "content": "EQUALITY_DELETES",
             "equality_ids": ["id"]},
        ]
    )
    up = _write(str(d / "up é.parquet"), [12, 5, 21], 3)
    up_eq = str(d / "up eq.parquet")
    pq.write_table(pa.table({"id": pa.array([12, 5, 21], pa.int64())}), up_eq)
    t.append_snapshot(
        [
            {"path": up, "sequence_number": 3, "content": "DATA"},
            {"path": up_eq, "sequence_number": 3, "content": "EQUALITY_DELETES",
             "equality_ids": ["id"]},
        ]
    )

    data_seq = {f0: 1, f1: 1, f2: 2, up: 3}
    pos_dels = {(f0, 2), (f1, 0), (f0, 4), (f2, 9)}
    eq_dels = [({1, 12, 21}, 2), ({12, 5, 21}, 3)]
    expect = []
    for path, seq in data_seq.items():
        tbl = pq.read_table(path)
        for pos, (i, v) in enumerate(zip(tbl.column("id").to_pylist(), tbl.column("v").to_pylist())):
            if (path, pos) in pos_dels:
                continue
            if any(i in keys and seq < dseq for keys, dseq in eq_dels):
                continue
            expect.append((i, v))

    df = Table(spark, t).read(schema=spark.createDataFrame([], SCHEMA).schema)
    assert sorted(tuple(r) for r in df.collect()) == sorted(expect)
    # every spelling deleted its row; the upsert's rows survive
    assert not {(2, 1), (4, 1), (10, 1), (29, 2)} & set(expect)
    assert {(12, 3), (5, 3), (21, 3)} <= set(expect)


def test_lookup_miss_raises(spark, tmp_path):
    """A scanned file the lookup does not know fails the read; it must
    never read as a NULL sequence number, which would turn the
    equality-delete guard false and bring deleted rows back."""
    a = _write(str(tmp_path / "a é.parquet"), [1, 2], 1)
    b = _write(str(tmp_path / "b.parquet"), [3], 1)
    lookup = FileLookup([FileScanTask(a, sequence_number=7)])
    seq = lookup.attrs(F.col("_metadata.file_path"))["seq"].alias("seq")
    assert {r.seq for r in spark.read.parquet(a).select(seq).collect()} == {7}
    with pytest.raises(Exception, match="scan path missing from the file lookup"):
        spark.read.parquet(a, b).select(seq).collect()
