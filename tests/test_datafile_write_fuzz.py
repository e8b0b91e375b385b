"""Property fuzz: the Avro data-file writer round-trips arbitrary
values of every supported primitive type bit-exactly, and its
write-time stats agree with a direct computation over the same rows.

The writer itself (``_write_data_files_python``) runs inside Spark
tasks; spinning a Spark job per hypothesis example would be minutes per
case, so the fuzz drives the same codec path the task uses
(``_spark_to_avro_schema`` + ``sources/avro_io.write_container`` /
``read_container``) directly, and one end-to-end Spark case pins that
the in-task path matches.
"""

from __future__ import annotations

import math
import os

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ic_spark.compaction.writer import _spark_to_avro_schema
from ic_spark.sources.avro_io import read_container, write_container

FIELDS = [
    ("b", "boolean", st.booleans()),
    ("i", "int", st.integers(-(2**31), 2**31 - 1)),
    ("l", "bigint", st.integers(-(2**63), 2**63 - 1)),
    (
        "d",
        "double",
        st.floats(allow_nan=False, width=64),
    ),
    ("s", "string", st.text(max_size=40)),
    ("y", "binary", st.binary(max_size=40)),
]


def _schema_str() -> str:
    return ", ".join(f"{n} {t}" for n, t, _ in FIELDS)


rows_strategy = st.lists(
    st.fixed_dictionaries(
        {n: st.one_of(st.none(), strat) for n, _, strat in FIELDS}
    ),
    max_size=30,
)


@settings(max_examples=60, suppress_health_check=[HealthCheck.too_slow], deadline=None)
@given(rows=rows_strategy)
def test_avro_datafile_codec_roundtrip(spark, tmp_path_factory, rows):
    schema = spark.createDataFrame([], _schema_str()).schema
    avro_schema = _spark_to_avro_schema(schema)
    path = str(tmp_path_factory.mktemp("fz") / "f.avro")
    write_container(path, avro_schema, rows, codec="deflate")
    _, _, back = read_container(path)
    assert len(back) == len(rows)
    for orig, got in zip(rows, back):
        for name, typ, _ in FIELDS:
            a, b = orig[name], got[name]
            if a is None:
                assert b is None
            elif typ == "double":
                # container stores exact IEEE doubles
                assert (a == b) or (math.isnan(a) and math.isnan(b)), (a, b)
            elif typ == "binary":
                assert bytes(a) == bytes(b)
            else:
                assert a == b


def test_avro_datafile_spark_path_matches_codec(spark, tmp_path):
    """One end-to-end pin: the Spark task path (mapInArrow writer)
    produces files this same codec reads back to the exact input rows,
    nulls included, and its stats match a direct pandas computation."""
    import pyspark.sql.functions as F  # noqa: F401

    from ic_spark.compaction.request import FileScanTask, RewriteFilesRequest
    from ic_spark.compaction.writer import rewrite_files

    import datetime

    rows = [
        (True, 1, 2**40, 1.5, "a", b"\x00\xff", datetime.date(2020, 2, 29)),
        (None, None, None, None, None, None, None),
        (False, -7, -(2**40), -0.0, "", b"", datetime.date(1969, 12, 31)),
    ]
    df = spark.createDataFrame(rows, _schema_str() + ", dt date")
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    f = next(
        os.path.join(src, n) for n in os.listdir(src) if n.endswith(".parquet")
    )
    resp = rewrite_files(
        spark,
        RewriteFilesRequest(
            schema=df.schema,
            data_files=[FileScanTask(data_file_path=f, sequence_number=1)],
            dir_path=str(tmp_path / "out"),
            target_partitions=1,
            data_file_format="avro",
        ),
    )
    assert len(resp.data_files) == 1
    meta = resp.data_files[0]
    _, _, back = read_container(meta.file_path)
    # read_container returns wire values: logical date is days-since-epoch
    got = sorted(
        (tuple(r[n] for n, _, _ in FIELDS) + (r["dt"],) for r in back),
        key=repr,
    )
    epoch = datetime.date(1970, 1, 1)
    want = sorted(
        (tuple(r[:-1]) + ((r[-1] - epoch).days if r[-1] else None,) for r in rows),
        key=repr,
    )
    assert len(got) == len(want) == meta.record_count
    for g, w in zip(got, want):
        assert g == w, (g, w)
    assert meta.column_stats["i"] == {"null_count": 1, "min": -7, "max": 1}
    assert meta.column_stats["b"]["null_count"] == 1
    assert meta.column_stats["y"]["min"] is None  # binary: bounds skipped
    assert meta.column_stats["dt"] == {
        "null_count": 1,
        "min": "1969-12-31",
        "max": "2020-02-29",
    }

    # ORC path: nullable ints must stay ints in the file (the pandas
    # bridge used to coerce them to float64 -> ORC double, silently)
    import pyarrow.orc as pa_orc

    resp_orc = rewrite_files(
        spark,
        RewriteFilesRequest(
            schema=df.schema,
            data_files=[FileScanTask(data_file_path=f, sequence_number=1)],
            dir_path=str(tmp_path / "out_orc"),
            target_partitions=1,
            data_file_format="orc",
        ),
    )
    t = pa_orc.read_table(resp_orc.data_files[0].file_path)
    got_types = {name: str(t.schema.field(name).type) for name in ("i", "l", "b", "dt")}
    assert got_types == {"i": "int32", "l": "int64", "b": "bool", "dt": "date32[day]"}
    assert sorted(t.column("i").to_pylist(), key=repr) == sorted([1, None, -7], key=repr)


def test_avro_datafile_temporal_decimal_roundtrip(spark, tmp_path):
    """Timestamp (instant), timestamp_ntz, and decimal columns survive
    a parquet -> full_compact(avro) -> read_table round trip with the
    exact values the parquet original holds (wire: micros longs and
    minimal big-endian unscaled bytes per the Avro spec)."""
    import datetime
    import decimal as dec

    from ic_spark.compaction import Compaction, ManifestTable
    from ic_spark.compaction.deletes import read_table

    rows = [
        (
            1,
            datetime.datetime(2020, 2, 29, 23, 59, 59, 123456),
            datetime.datetime(1969, 12, 31, 0, 0, 1),
            dec.Decimal("-3.50"),
        ),
        (2, None, None, None),
        (3, datetime.datetime(1970, 1, 1), datetime.datetime(2038, 1, 19), dec.Decimal("12345678.99")),
    ]
    schema = "id int, ts timestamp, tn timestamp_ntz, dc decimal(10,2)"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    df.repartition(1).write.parquet(src)
    t = ManifestTable(str(tmp_path / "tbl"))
    f = next(
        os.path.join(src, n) for n in os.listdir(src) if n.endswith(".parquet")
    )
    t.append_snapshot(
        [{"path": f, "sequence_number": t.next_sequence_number(), "content": "DATA"}]
    )
    Compaction(spark).full_compact(t, df.schema, data_file_format="avro")
    want = sorted(spark.read.parquet(src).collect(), key=lambda r: r.id)
    got = sorted(read_table(spark, t).collect(), key=lambda r: r.id)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert got[0].dc == dec.Decimal("-3.50")


def test_orc_datafile_temporal_decimal_roundtrip(spark, tmp_path):
    """Same round trip INTO orc.  pyarrow writes tz-aware arrow
    timestamps as ORC timestamp_instant, which Spark's ORC schema
    inference cannot even parse — the writer converts instants to
    session-local wall time and writes plain orc timestamps, exactly
    what Spark's own ORC writer emits."""
    import datetime
    import decimal as dec

    from ic_spark.compaction import Compaction, ManifestTable
    from ic_spark.compaction.deletes import read_table

    rows = [
        (
            1,
            datetime.datetime(2020, 2, 29, 23, 59, 59, 123456),
            datetime.datetime(1969, 12, 31, 0, 0, 1),
            dec.Decimal("-3.50"),
        ),
        (2, None, None, None),
    ]
    schema = "id int, ts timestamp, tn timestamp_ntz, dc decimal(10,2)"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    df.repartition(1).write.parquet(src)
    t = ManifestTable(str(tmp_path / "tbl"))
    f = next(
        os.path.join(src, n) for n in os.listdir(src) if n.endswith(".parquet")
    )
    t.append_snapshot(
        [{"path": f, "sequence_number": t.next_sequence_number(), "content": "DATA"}]
    )
    Compaction(spark).full_compact(t, df.schema, data_file_format="orc")
    want = sorted(spark.read.parquet(src).collect(), key=lambda r: r.id)
    # schema-less read: Spark must be able to infer from the orc footer
    got = sorted(read_table(spark, t).collect(), key=lambda r: r.id)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_avro_decimal_wide_precision_exact(spark, tmp_path):
    """decimal(38,10): the unscaled value has up to 38 significant
    digits — far past python-decimal's default 28-digit context, which
    would silently ROUND it through scaleb.  Must round-trip exactly."""
    import decimal as dec

    from ic_spark.compaction import Compaction, ManifestTable
    from ic_spark.compaction.deletes import read_table

    big = dec.Decimal("1234567890123456789012345678.9012345678")
    rows = [(1, big), (2, -big), (3, None)]
    df = spark.createDataFrame(rows, "id int, dc decimal(38,10)")
    src = str(tmp_path / "src")
    df.repartition(1).write.parquet(src)
    t = ManifestTable(str(tmp_path / "tbl"))
    f = next(
        os.path.join(src, n) for n in os.listdir(src) if n.endswith(".parquet")
    )
    t.append_snapshot(
        [{"path": f, "sequence_number": t.next_sequence_number(), "content": "DATA"}]
    )
    Compaction(spark).full_compact(t, df.schema, data_file_format="avro")
    got = {r.id: r.dc for r in read_table(spark, t).collect()}
    assert got == {1: big, 2: -big, 3: None}


def test_orc_nested_types_write_roundtrip(spark, tmp_path):
    """ORC writes carry pyarrow's full type matrix — nested columns
    (array/map/struct) write fine with null_count-only stats (no
    min_max kernel, no meaningful ordering) and round-trip exactly."""
    from ic_spark.compaction.request import FileScanTask, RewriteFilesRequest
    from ic_spark.compaction.writer import rewrite_files

    rows = [(1, [1, 2], {"a": 1}, (7, "x")), (2, None, None, None)]
    schema = "id int, arr array<int>, m map<string,int>, s struct<a:int,b:string>"
    df = spark.createDataFrame(rows, schema)
    src = str(tmp_path / "src")
    df.repartition(1).write.parquet(src)
    f = next(
        os.path.join(src, n) for n in os.listdir(src) if n.endswith(".parquet")
    )
    resp = rewrite_files(
        spark,
        RewriteFilesRequest(
            schema=df.schema,
            data_files=[FileScanTask(data_file_path=f, sequence_number=1)],
            dir_path=str(tmp_path / "out"),
            target_partitions=1,
            data_file_format="orc",
        ),
    )
    m = resp.data_files[0]
    assert m.column_stats["arr"] == {"null_count": 1, "min": None, "max": None}
    assert m.column_stats["id"] == {"null_count": 0, "min": 1, "max": 2}
    back = sorted(
        [tuple(r) for r in spark.read.orc(m.file_path).collect()], key=repr
    )
    want = sorted(
        [tuple(r) for r in spark.read.parquet(src).collect()], key=repr
    )
    assert back == want


def _orc_adversarial_table():
    """Arrow table carrying every value class the pandas bridge is
    known to corrupt: nullable ints (int->float64 coercion), longs
    above 2**53 (float64 precision loss), NaN/inf doubles (NaN->null
    on the return boundary), signed zero, and strings with nulls."""
    import pyarrow as pa

    return pa.table(
        {
            "id": pa.array(range(8), type=pa.int64()),
            "l": pa.array(
                [2**53 + 1, -(2**53) - 1, 2**63 - 1, -(2**63), None, 0, 1, -1],
                type=pa.int64(),
            ),
            "i": pa.array([None, 1, -(2**31), 2**31 - 1, None, 5, 6, 7],
                          type=pa.int32()),
            "d": pa.array(
                [float("nan"), float("inf"), float("-inf"), -0.0, None,
                 1.5, -2.25, 3.0],
                type=pa.float64(),
            ),
            "s": pa.array(
                ["", None, "café latte", "a\tb", "ω", None, "x", "y"],
                type=pa.string(),
            ),
            "b": pa.array([True, None, False, True, None, False, True, None],
                          type=pa.bool_()),
        }
    )


def _assert_same_cell(a, b):
    if isinstance(a, float) and isinstance(b, float):
        assert (a == b and math.copysign(1, a) == math.copysign(1, b)) or (
            math.isnan(a) and math.isnan(b)
        ), (a, b)
    else:
        assert a == b, (a, b)


def test_orc_positional_scan_preserves_nan_and_huge_ints(spark, tmp_path):
    """read_orc_distributed(with_path_pos=True) is Arrow end to end:
    NaN stays NaN (not null), >2**53 longs stay exact (not float64),
    nullable int columns keep their nulls AND their integer type."""
    import pyarrow.orc as orc

    from ic_spark.sources.orc_scan import read_orc_distributed

    tbl = _orc_adversarial_table()
    f = str(tmp_path / "adv.orc")
    orc.write_table(tbl, f)

    got = read_orc_distributed(spark, [f], with_path_pos=True)
    rows = sorted(got.collect(), key=lambda r: r._orc_pos)
    assert [r._orc_pos for r in rows] == list(range(8))
    want = tbl.to_pylist()
    for r, w in zip(rows, want):
        for name in ("id", "l", "i", "d", "s", "b"):
            _assert_same_cell(getattr(r, name), w[name])
    # type pin: the long column came back as Python int, not float
    assert rows[0].l == 2**53 + 1 and isinstance(rows[0].l, int)


def test_mor_over_orc_preserves_nan_and_huge_ints(spark, tmp_path):
    """Full MoR position-delete read over an ORC data file carrying
    the corrupting value classes: the surviving rows' values are
    bit-exact, positions correct."""
    import pyarrow.orc as orc

    from ic_spark.compaction.deletes import read_table, write_position_deletes
    from ic_spark.compaction.manifest import ManifestTable

    tbl = _orc_adversarial_table()
    f = str(tmp_path / "data.orc")
    orc.write_table(tbl, f)

    t = ManifestTable(str(tmp_path / "t"))
    t.append_snapshot(
        [
            {
                "path": f,
                "sequence_number": 1,
                "content": "DATA",
                "file_format": "orc",
                "file_size_in_bytes": os.path.getsize(f),
            }
        ]
    )
    write_position_deletes(spark, t, F.col("id").isin(5, 6, 7))
    rows = {r.id: r for r in read_table(spark, t).collect()}
    assert sorted(rows) == [0, 1, 2, 3, 4]
    want = {w["id"]: w for w in tbl.to_pylist() if w["id"] < 5}
    for i, w in want.items():
        for name in ("l", "i", "d", "s", "b"):
            _assert_same_cell(getattr(rows[i], name), w[name])


_ORC_FUZZ_FIELDS = {
    "l": st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)),
    "i": st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
    "d": st.one_of(st.none(), st.floats(width=64)),  # NaN/inf allowed
    "s": st.one_of(st.none(), st.text(max_size=20)),
}


@settings(
    max_examples=10,
    suppress_health_check=[HealthCheck.too_slow],
    deadline=None,
)
@given(rows=st.lists(st.fixed_dictionaries(_ORC_FUZZ_FIELDS), min_size=1, max_size=25))
def test_orc_positional_scan_fuzz(spark, tmp_path_factory, rows):
    """Property round-trip through the REAL Spark mapInArrow path (not
    a codec shortcut — the bridge itself is what corrupted values
    before): arbitrary nullable ints/longs/doubles-with-NaN/strings in,
    identical values and dense positions out."""
    import pyarrow as pa
    import pyarrow.orc as orc

    from ic_spark.sources.orc_scan import read_orc_distributed

    tbl = pa.table(
        {
            "l": pa.array([r["l"] for r in rows], type=pa.int64()),
            "i": pa.array([r["i"] for r in rows], type=pa.int32()),
            "d": pa.array([r["d"] for r in rows], type=pa.float64()),
            "s": pa.array([r["s"] for r in rows], type=pa.string()),
        }
    )
    f = str(tmp_path_factory.mktemp("ofz") / "f.orc")
    orc.write_table(tbl, f)
    got = sorted(
        read_orc_distributed(spark, [f], with_path_pos=True).collect(),
        key=lambda r: r._orc_pos,
    )
    assert [r._orc_pos for r in got] == list(range(len(rows)))
    for r, w in zip(got, rows):
        for name in ("l", "i", "d", "s"):
            a, b = getattr(r, name), w[name]
            if a is None or b is None:
                assert a is None and b is None, (name, a, b)
            else:
                _assert_same_cell(a, b)
