"""Schema-evolution matrix: drop / re-add / reorder / required→optional
on BOTH metadata flavors (spec Avro-manifest IcebergTable and JSON
ManifestTable), with exact per-file write-schema resolution.

Semantics under test (Iceberg spec "Schema Evolution"; the reference's
field-id handling is decoded at /root/reference/core/src/parser/
proto.rs:171-279 — ids are the identity, names are labels):

- drop retires the field id; re-adding the same NAME allocates a fresh
  id, so data written for the dropped field can never resurrect;
- reorder changes projection order only;
- required→optional is legal, the inverse is not;
- files written under older schemas resolve by FIELD ID against the
  schema they were written with (sequence-number activation boundaries).
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pyspark.sql.types as T
import pytest
from pyspark.sql.types import LongType, StringType

from ic_spark.compaction.deletes import (
    read_table,
    write_position_deletes,
)
from ic_spark.compaction.iceberg_meta import IcebergTable
from ic_spark.compaction.manifest import ManifestTable
from ic_spark.compaction.writer import _stats_from_footer


def _mk_table(spark, tmp_path, flavor: str, tag: str):
    root = str(tmp_path / f"{flavor}_{tag}")
    df = spark.range(0, 10).select(
        "id",
        F.concat(F.lit("n"), F.col("id")).alias("note"),
        (F.col("id") * 1.5).alias("val"),
    )
    if flavor == "spec":
        tbl = IcebergTable.create(root, df.schema)
    else:
        tbl = ManifestTable(root)
        os.makedirs(root, exist_ok=True)
        tbl.register_schema(df.schema)
    _append(spark, tbl, df, tmp_path, f"{flavor}_{tag}_g1")
    return tbl


def _append(spark, tbl, df, tmp_path, tag: str):
    d = str(tmp_path / f"seed_{tag}")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    rc, cs, _ = _stats_from_footer(f, d)
    entry = {
        "path": f,
        "content": "DATA",
        "record_count": rc,
        "file_size_in_bytes": os.path.getsize(f),
        "column_stats": cs,
    }
    entry["sequence_number"] = tbl.next_sequence_number()
    tbl.append_snapshot([entry])


@pytest.mark.parametrize("flavor", ["spec", "json"])
def test_drop_readd_never_resurrects(spark, tmp_path, flavor):
    tbl = _mk_table(spark, tmp_path, flavor, "dra")
    tbl.drop_column("note")
    assert [f.name for f in tbl.schema().fields] == ["id", "val"]

    # Read after drop: the column is simply gone.
    cols = read_table(spark, tbl).columns
    assert cols == ["id", "val"]

    tbl.add_column("note", StringType())
    g2 = spark.range(10, 14).select(
        "id",
        (F.col("id") * 1.5).alias("val"),
        F.concat(F.lit("NEW"), F.col("id")).alias("note"),
    )
    _append(spark, tbl, g2, tmp_path, f"{flavor}_dra_g2")

    rows = {r.id: r.note for r in read_table(spark, tbl).collect()}
    assert len(rows) == 14
    for i in range(10):
        assert rows[i] is None, f"dropped data resurrected for id {i}: {rows[i]}"
    for i in range(10, 14):
        assert rows[i] == f"NEW{i}"


@pytest.mark.parametrize("flavor", ["spec", "json"])
def test_move_column_reorders_projection(spark, tmp_path, flavor):
    tbl = _mk_table(spark, tmp_path, flavor, "mv")
    tbl.move_column("val", first=True)
    assert [f.name for f in tbl.schema().fields] == ["val", "id", "note"]
    assert read_table(spark, tbl).columns == ["val", "id", "note"]
    tbl.move_column("val", after="id")
    assert [f.name for f in tbl.schema().fields] == ["id", "val", "note"]
    tbl.move_column("note", before="val")
    assert [f.name for f in tbl.schema().fields] == ["id", "note", "val"]
    # Values ride along with their ids regardless of order.
    r = {x.id: (x.note, x.val) for x in read_table(spark, tbl).collect()}
    assert r[3] == ("n3", 4.5)
    with pytest.raises(ValueError, match="exactly one"):
        tbl.move_column("note")
    with pytest.raises(ValueError, match="anchor"):
        tbl.move_column("note", after="zzz")


@pytest.mark.parametrize("flavor", ["spec", "json"])
def test_make_optional_relaxes_required(spark, tmp_path, flavor):
    root = str(tmp_path / f"{flavor}_opt")
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField("id", LongType(), False),  # required
            StructField("v", StringType(), True),
        ]
    )
    if flavor == "spec":
        tbl = IcebergTable.create(root, schema)
    else:
        tbl = ManifestTable(root)
        os.makedirs(root, exist_ok=True)
        tbl.register_schema(schema)
    assert not tbl.schema()["id"].nullable
    tbl.make_optional("id")
    assert tbl.schema()["id"].nullable
    with pytest.raises(ValueError, match="no column"):
        tbl.make_optional("zzz")


def test_drop_rejected_while_partition_spec_sources_it(spark, tmp_path):
    # Spec flavor: identity-partitioned on a column -> drop must fail.
    root = str(tmp_path / "spec_part")
    df = spark.range(0, 5).select("id", (F.col("id") % 2).alias("bucket"))
    tbl = IcebergTable.create(root, df.schema, partition_by=["bucket"])
    with pytest.raises(ValueError, match="partition spec"):
        tbl.drop_column("bucket")
    # JSON flavor: registered spec sourcing the column.
    root2 = str(tmp_path / "json_part")
    t2 = ManifestTable(root2)
    os.makedirs(root2, exist_ok=True)
    t2.register_schema(df.schema)
    t2.update_partition_spec(
        [{"name": "bucket_p", "source": "bucket", "transform": "identity"}]
    )
    with pytest.raises(ValueError, match="partition spec"):
        t2.drop_column("bucket")


@pytest.mark.parametrize("flavor", ["spec", "json"])
def test_full_compact_upgrades_dropped_readded(spark, tmp_path, flavor):
    """Compaction rewrites old files under the CURRENT schema: after the
    rewrite every file is current-generation, and the dropped data is
    physically gone (re-read without history still nulls)."""
    from ic_spark.compaction.orchestrator import Compaction

    tbl = _mk_table(spark, tmp_path, flavor, "fc")
    tbl.drop_column("note")
    tbl.add_column("note", StringType())
    g2 = spark.range(10, 12).select(
        "id",
        (F.col("id") * 1.5).alias("val"),
        F.lit("fresh").alias("note"),
    )
    _append(spark, tbl, g2, tmp_path, f"{flavor}_fc_g2")
    Compaction(spark).full_compact(tbl)
    rows = {r.id: r.note for r in read_table(spark, tbl).collect()}
    assert rows[0] is None and rows[11] == "fresh" and len(rows) == 12
    # Post-compaction files must not even CONTAIN old note values.
    data, _, _ = tbl.scan_tasks()
    raw = spark.read.parquet(*[t.data_file_path for t in data])
    assert raw.where(F.col("note").startswith("n")).count() == 0


@pytest.mark.parametrize("flavor", ["spec", "json"])
def test_mor_delete_over_drop_readd_table(spark, tmp_path, flavor):
    """Position deletes evaluated over the evolved read: predicate on
    the re-added column targets only new-generation rows (old rows are
    NULL there and null never matches)."""
    tbl = _mk_table(spark, tmp_path, flavor, "del")
    tbl.drop_column("note")
    tbl.add_column("note", StringType())
    g2 = spark.range(10, 14).select(
        "id",
        (F.col("id") * 1.5).alias("val"),
        F.concat(F.lit("NEW"), F.col("id")).alias("note"),
    )
    _append(spark, tbl, g2, tmp_path, f"{flavor}_del_g2")
    write_position_deletes(spark, tbl, F.col("note") == "NEW11")
    rows = {r.id for r in read_table(spark, tbl).collect()}
    assert rows == set(range(14)) - {11}


def test_legacy_spec_table_falls_back_to_name_mapping(spark, tmp_path):
    """A table whose metadata predates activation tracking (property
    stripped) must keep the name-mapping read path working."""
    tbl = _mk_table(spark, tmp_path, "spec", "legacy")
    tbl.rename_column("note", "remark")
    # Strip the activation record as a legacy table would lack it.
    v = tbl.version()
    p = os.path.join(tbl.metadata_dir, f"v{v}.metadata.json")
    meta = json.load(open(p))
    meta["properties"].pop("ic.schema-activation", None)
    json.dump(meta, open(p, "w"))
    assert tbl.schema_history() is None  # legacy: no exact resolution
    rows = {r.id: r.remark for r in read_table(spark, tbl).collect()}
    assert rows[2] == "n2"  # rename still resolves via name-mapping


def test_register_schema_twice_rejected(spark, tmp_path):
    root = str(tmp_path / "dup")
    t = ManifestTable(root)
    os.makedirs(root, exist_ok=True)
    df = spark.range(1)
    t.register_schema(df.schema)
    with pytest.raises(ValueError, match="already registered"):
        t.register_schema(df.schema)


def test_readd_gets_fresh_field_id(spark, tmp_path):
    tbl = _mk_table(spark, tmp_path, "spec", "fid")
    meta = tbl.metadata()
    orig = next(
        f
        for s in meta["schemas"]
        for f in s["fields"]
        if f["name"] == "note"
    )
    tbl.drop_column("note")
    tbl.add_column("note", StringType())
    cur = next(
        s
        for s in tbl.metadata()["schemas"]
        if s["schema-id"] == tbl.metadata()["current-schema-id"]
    )
    new = next(f for f in cur["fields"] if f["name"] == "note")
    assert new["id"] != orig["id"]
    assert new["id"] > orig["id"]


def test_time_travel_reads_snapshot_schema(spark, tmp_path):
    """VERSION AS OF projects under the schema the snapshot was
    committed with (Iceberg time-travel rule): columns dropped or
    renamed SINCE still appear, under their then-current names and with
    their then-visible data."""
    tbl = _mk_table(spark, tmp_path, "spec", "tt")
    snap1 = tbl.current_snapshot_id()

    tbl.rename_column("note", "remark")
    tbl.drop_column("val")
    g2 = spark.range(10, 12).select(
        "id", F.concat(F.lit("R"), F.col("id")).alias("remark")
    )
    _append(spark, tbl, g2, tmp_path, "spec_tt_g2")
    snap2 = tbl.current_snapshot_id()

    # current read: renamed + dropped schema
    cur = read_table(spark, tbl)
    assert cur.columns == ["id", "remark"]
    rows = {r.id: r.remark for r in cur.collect()}
    assert rows[3] == "n3" and rows[11] == "R11" and len(rows) == 12

    # time travel to snap1: ORIGINAL schema, original names and data
    old = read_table(spark, tbl, snapshot_id=snap1)
    assert old.columns == ["id", "note", "val"]
    orows = {r.id: (r.note, r.val) for r in old.collect()}
    assert orows[3] == ("n3", 4.5) and len(orows) == 10

    # travel to snap2 == current
    assert read_table(spark, tbl, snapshot_id=snap2).columns == ["id", "remark"]


def test_write_ordered_by_sort_order_ddl(spark, tmp_path):
    """ALTER TABLE ... WRITE ORDERED BY: the registered default sort
    order drives full_compact's per-file local sort, files record the
    sort_order_id, and the DDL is idempotent."""
    from ic_spark.compaction.orchestrator import Compaction

    tbl = _mk_table(spark, tmp_path, "spec", "so")
    oid = tbl.update_sort_order([{"column": "val", "desc": True}])
    assert oid == 1
    # idempotent: identical order re-registers as the same id
    assert tbl.update_sort_order([{"column": "val", "desc": True}]) == 1
    assert tbl.default_sort_order() == (
        1,
        [{"column": "val", "desc": True, "nulls_first": False}],
    )
    with pytest.raises(ValueError, match="no column"):
        tbl.update_sort_order([{"column": "zzz"}])

    Compaction(spark).full_compact(tbl)
    data, _, _ = tbl.scan_tasks()
    for t in data:
        vals = [r.val for r in spark.read.parquet(t.data_file_path).collect()]
        assert vals == sorted(vals, reverse=True), "file not sorted desc"
    # sort_order_id recorded on the manifest entries
    assert all(
        f["sort_order_id"] == 1
        for f in tbl.live_files()
        if f["content"] == "DATA"
    )
    assert read_table(spark, tbl).count() == 10


@pytest.mark.parametrize("fmt", ["orc", "avro"])
def test_rename_resolves_by_field_id_for_non_parquet_files(
    spark, tmp_path, fmt
):
    """Avro/ORC files written BEFORE a rename must resolve by field id
    like parquet does: the codec scans read by NAME, so the renamed
    column came back all-NULL and a dropped-then-re-added column
    resurrected old data (r9 review find)."""
    tbl = ManifestTable(str(tmp_path / f"t_{fmt}"))
    os.makedirs(tbl.root, exist_ok=True)
    df = spark.range(0, 8).select(
        "id", F.concat(F.lit("n"), F.col("id")).alias("note")
    )
    tbl.register_schema(df.schema)
    # one data file in fmt, written under schema v0
    d = str(tmp_path / f"seed_{fmt}")
    if fmt == "orc":
        df.coalesce(1).write.mode("overwrite").orc(d)
        f = next(
            os.path.join(d, n) for n in os.listdir(d) if n.endswith(".orc")
        )
    else:
        from ic_spark.compaction.request import FileScanTask, RewriteFilesRequest
        from ic_spark.compaction.writer import rewrite_files

        pq_dir = str(tmp_path / f"pq_{fmt}")
        df.coalesce(1).write.mode("overwrite").parquet(pq_dir)
        pq = next(
            os.path.join(pq_dir, n)
            for n in os.listdir(pq_dir)
            if n.endswith(".parquet")
        )
        resp = rewrite_files(
            spark,
            RewriteFilesRequest(
                schema=df.schema,
                data_files=[
                    FileScanTask(data_file_path=pq, sequence_number=1)
                ],
                dir_path=str(tmp_path / f"avro_out_{fmt}"),
                data_file_format="avro",
                target_partitions=1,
            ),
        )
        assert len(resp.data_files) == 1
        f = resp.data_files[0].file_path
    tbl.append_snapshot(
        [{"path": f, "sequence_number": 1, "content": "DATA",
          "file_format": fmt, "file_size_in_bytes": os.path.getsize(f)}]
    )
    # rename note -> comment: new schema id, old file keeps old name
    tbl.rename_column("note", "comment")
    out = read_table(spark, tbl)
    rows = {r.id: r.comment for r in out.collect()}
    assert rows[3] == "n3", (
        f"{fmt} file written before the rename lost its column data"
    )
    assert len(rows) == 8 and all(v is not None for v in rows.values())


def test_eq_delete_written_before_rename_on_name_mapping_table(
    spark, tmp_path
):
    """Legacy (name-mapping-only) table: an equality-delete file written
    BEFORE a key rename stores the key under its OLD footer name; the
    delete scan previously projected columns= by the CURRENT name and
    every read failed at plan time after the rename (r9 review find).
    The enforced-schema + evolved-projection path resolves it."""
    from ic_spark.compaction.deletes import write_equality_deletes

    tbl = _mk_table(spark, tmp_path, "spec", "eqnm")
    # equality delete on 'note' (pre-rename spelling)
    write_equality_deletes(
        spark,
        tbl,
        spark.createDataFrame([("n2",), ("n5",)], "note string"),
        ["note"],
    )
    tbl.rename_column("note", "remark")
    # strip activation tracking: name-mapping is the only rename record
    v = tbl.version()
    p = os.path.join(tbl.metadata_dir, f"v{v}.metadata.json")
    meta = json.load(open(p))
    meta["properties"].pop("ic.schema-activation", None)
    json.dump(meta, open(p, "w"))
    assert tbl.schema_history() is None

    rows = {r.id: r.remark for r in read_table(spark, tbl).collect()}
    assert 2 not in rows and 5 not in rows, "eq delete lost after rename"
    assert len(rows) == 8 and rows[3] == "n3"


# --------------------------- r10 review-sweep regression tests


def test_evolved_projection_rename_reuse_is_ambiguous():
    """A name that is BOTH a current field and another field's prior
    alias cannot resolve by name: old files' physical column holds the
    renamed-away field's data, which a plain name match silently
    resurrected under the new field (r10 review find)."""
    from pyspark.sql.types import StructField, StructType

    from ic_spark.compaction.evolution import evolved_projection

    physical = StructType(
        [StructField("a", LongType()), StructField("b", LongType())]
    )
    request = StructType(
        [StructField("b", LongType()), StructField("a", LongType())]
    )
    with pytest.raises(ValueError, match="prior name of 'b'"):
        evolved_projection(physical, request, {"b": ["a"]})


def test_evolved_projection_case_insensitive_resolution(spark):
    """Spark resolves columns case-insensitively by default; the
    projection must too — an exact-only lookup NULL-filled a request
    field differing only in case from the footer spelling."""
    from pyspark.sql.types import StructField, StructType

    from ic_spark.compaction.evolution import evolved_projection

    physical = StructType([StructField("id", LongType())])
    request = StructType([StructField("ID", LongType())])
    cols = evolved_projection(physical, request, None)
    df = spark.createDataFrame([(7,)], physical).select(cols)
    assert df.collect()[0].ID == 7


def test_is_promotable_ignores_nested_nullability():
    """array<string> with required elements must promote to the same
    array with nullable elements — DataType.__eq__ is containsNull-
    sensitive and falsely rejected the identical type."""
    from pyspark.sql.types import ArrayType, StringType as S

    from ic_spark.compaction.evolution import is_promotable

    assert is_promotable(ArrayType(S(), False), ArrayType(S(), True))
    assert is_promotable(ArrayType(S(), True), ArrayType(S(), False))
    assert not is_promotable(ArrayType(S(), False), ArrayType(LongType()))


def test_validate_file_schemas_recurses_hive_dirs(spark, tmp_path):
    """Footer validation must find parquet files under col=val/
    partition subdirs — the flat listing expanded to zero files and
    failed OPEN on the decimal->int corruption case (r10 review
    find)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from ic_spark.compaction.evolution import validate_file_schemas

    d = str(tmp_path / "hive")
    import decimal

    spark.createDataFrame(
        [(1, "x", decimal.Decimal("1.25")), (2, "y", decimal.Decimal("2.50"))],
        "id int, p string, v decimal(5,2)",
    ).write.partitionBy("p").parquet(d)
    request = StructType(
        [StructField("id", IntegerType()), StructField("v", IntegerType())]
    )
    with pytest.raises(ValueError, match="not promotable"):
        validate_file_schemas([d], request)


def test_local_path_uri_spellings(tmp_path):
    """file:-URI handling: Hadoop's single-slash spelling and percent-
    encoded paths resolve; object-store URIs return None."""
    from ic_spark.compaction.evolution import _local_path

    assert _local_path("file:/tmp/t/x.parquet") == "/tmp/t/x.parquet"
    assert _local_path("file:///tmp/my%20dir/x.parquet") == (
        "/tmp/my dir/x.parquet"
    )
    assert _local_path("/plain/path.parquet") == "/plain/path.parquet"
    assert _local_path("s3://bkt/x.parquet") is None
    assert _local_path("hdfs:/warehouse/x.parquet") is None


def test_evolved_projection_dotted_column_name(spark):
    """Physical names containing dots must project as literal columns,
    not nested-field references (F.col parses bare dots)."""
    from pyspark.sql.types import StructField, StructType

    from ic_spark.compaction.evolution import evolved_projection

    physical = StructType([StructField("user.name", LongType())])
    request = StructType([StructField("user.name", LongType())])
    cols = evolved_projection(physical, request, None)
    df = spark.createDataFrame([(5,)], physical).select(cols)
    assert df.collect()[0][0] == 5


# --------------------------- r11 ADVICE regression tests


def test_evolved_projection_rename_reuse_case_insensitive():
    """The ambiguity guard must case-fold: resolution is case-
    insensitive, so a new field 'a' would project pre-rename physical
    'A' (the renamed-away field's data) just like an exact reuse
    (r10 ADVICE, medium)."""
    from pyspark.sql.types import StructField, StructType

    from ic_spark.compaction.evolution import evolved_projection

    physical = StructType(
        [StructField("A", LongType()), StructField("b", LongType())]
    )
    request = StructType(
        [StructField("b", LongType()), StructField("a", LongType())]
    )
    with pytest.raises(ValueError, match="prior name of 'b'"):
        evolved_projection(physical, request, {"b": ["A"]})


def test_evolved_projection_case_twin_collision_raises():
    """Two physical columns differing only by case, request field
    matching neither exactly: must raise, not silently NULL-fill
    (r10 ADVICE, low)."""
    from pyspark.sql.types import StructField, StructType

    from ic_spark.compaction.evolution import evolved_projection

    physical = StructType(
        [StructField("ID", LongType()), StructField("Id", LongType())]
    )
    request = StructType([StructField("id", LongType())])
    with pytest.raises(ValueError, match="differing only by case"):
        evolved_projection(physical, request, None)


def test_evolved_projection_case_twin_exact_match_also_raises():
    """Even an exact-case request reference raises on case-twin
    physical columns: Spark's default case-insensitive analyzer throws
    AMBIGUOUS_REFERENCE at select time anyway — our plan-time error is
    the loud, earlier version of the same refusal."""
    from pyspark.sql.types import StructField, StructType

    from ic_spark.compaction.evolution import evolved_projection

    physical = StructType(
        [StructField("ID", LongType()), StructField("Id", LongType())]
    )
    request = StructType([StructField("ID", LongType())])
    with pytest.raises(ValueError, match="differing only by case"):
        evolved_projection(physical, request, None)


def test_aliases_case_insensitive_key_lookup():
    """name_mapping keyed 'B' must still supply aliases for current
    field 'b' — alias lookup folds like resolution does."""
    from ic_spark.compaction.evolution import _aliases

    assert _aliases({"B": ["old_b"]}, "b") == ["old_b"]
    assert _aliases({"b": ["x"], "B": ["y"]}, "b") == ["x"]  # exact wins
    assert _aliases({"b": ["x"], "B": ["y"]}, "B") == ["y"]
    # ambiguous folded keys, no exact: match nothing
    assert _aliases({"Ab": ["x"], "aB": ["y"]}, "ab") == []


def _upserted_table(spark, tmp_path, flavor: str):
    """A table of ten rows plus one upsert keyed on ``k``, and the
    pyarrow oracle of its rows: base rows whose key the batch replaces
    are gone, the batch's rows are in."""
    import pyarrow as pa

    from ic_spark.table import Table

    schema = T.StructType(
        [T.StructField("k", LongType()), T.StructField("v", StringType())]
    )
    base = pa.table({"k": list(range(10)), "v": [f"a{i}" for i in range(10)]})
    batch = pa.table({"k": [1, 4, 100], "v": ["b1", "b4", "b100"]})
    t = Table.create(
        spark, str(tmp_path / f"keys_{flavor}"), schema,
        spec_metadata=flavor == "spec",
    )
    t.append(spark.createDataFrame(base.to_pylist(), schema))
    t.upsert(spark.createDataFrame(batch.to_pylist(), schema), ["k"])
    kept = base.filter(pa.compute.invert(pa.compute.is_in(
        base["k"], value_set=batch["k"]
    )))
    oracle = sorted(tuple(r.values()) for r in pa.concat_tables([kept, batch]).to_pylist())
    return t, oracle


@pytest.mark.parametrize("flavor", ["spec", "json"])
def test_drop_of_equality_delete_key_is_refused(spark, tmp_path, flavor):
    """Dropping a column that a live equality-delete file keys on would
    leave the delete unmatchable and every read failing: the drop is
    refused, the schema is unchanged and the table still reads."""
    t, oracle = _upserted_table(spark, tmp_path, flavor)
    with pytest.raises(ValueError, match="equality-delete file .* keys on it"):
        t.drop_column("k")
    assert [f.name for f in t.inner.schema().fields] == ["k", "v"]
    assert sorted(tuple(r) for r in t.read().collect()) == oracle
    # a column no delete keys on still drops
    t.drop_column("v")
    assert [f.name for f in t.inner.schema().fields] == ["k"]


@pytest.mark.parametrize("flavor", ["spec", "json"])
def test_rename_of_equality_delete_key_reads_oracle(spark, tmp_path, flavor):
    """Equality-delete keys are field ids: after a rename the delete
    file written under the old name still matches its rows."""
    t, oracle = _upserted_table(spark, tmp_path, flavor)
    t.rename_column("k", "k2")
    _, _, eq = t.inner.scan_tasks()
    assert [task.equality_ids for task in eq] == [("k2",)]
    got = t.read()
    assert got.columns == ["k2", "v"]
    assert sorted(tuple(r) for r in got.collect()) == oracle
