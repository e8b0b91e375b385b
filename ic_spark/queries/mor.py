"""Merge-on-read delete application as oracle-checkable queries.

These run the ACTUAL compaction operators
(``apply_position_deletes`` / ``apply_equality_deletes`` from
``ic_spark.compaction.planner``) over delete sets derived
deterministically from the fixture tables, so the driver's DuckDB
comparison hash-checks the reference's core query shape end to end.
(The file-level path — real parquet files, ``_metadata`` hidden
columns, manifest commit — is exercised in tests/test_mor.py; it needs
synthesized files, which a read-only query can't create.)

Simulation mapping (documented in each oracle):
- "file" := l_orderkey % 3 (three virtual files, seq = file id + 1)
- "pos"  := l_orderkey * 10 + l_linenumber (unique row position)
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from ic_spark.compaction.planner import (
    apply_equality_deletes,
    apply_position_deletes,
)
from ic_spark.compaction.request import (
    SYS_HIDDEN_FILE_PATH,
    SYS_HIDDEN_POS,
    SYS_HIDDEN_SEQ_NUM,
)
from ic_spark.queries.registry import query
from ic_spark.tables import load_table

# Virtual file layout shared by Spark queries and oracle SQL.
SQL_DATA = """
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           CAST('file_' || (l_orderkey % 3) AS VARCHAR) AS fp,
           l_orderkey * 10 + l_linenumber AS pos,
           (l_orderkey % 3) + 1 AS seq
    FROM lineitem
"""


def _data_with_hidden(spark: SparkSession, sf_dir: str):
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        F.concat(F.lit("file_"), (F.col("l_orderkey") % 3).cast("string")).alias(
            SYS_HIDDEN_FILE_PATH
        ),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("long").alias(SYS_HIDDEN_POS),
        ((F.col("l_orderkey") % 3) + 1).cast("long").alias(SYS_HIDDEN_SEQ_NUM),
    )


@query(
    "mor_position_delete",
    oracle=f"""
    WITH data AS ({SQL_DATA}),
    pos_del AS (
        SELECT CAST('file_' || (o_orderkey % 3) AS VARCHAR) AS fp,
               o_orderkey * 10 + 1 AS pos
        FROM orders WHERE o_orderkey % 11 = 0
    )
    SELECT d.l_orderkey, d.l_linenumber, d.l_quantity
    FROM data d ANTI JOIN pos_del p ON d.fp = p.fp AND d.pos = p.pos
    """,
    headline=True,
)
def mor_position_delete(spark: SparkSession, sf_dir: str):
    """Position-delete anti-join (reference O7) over virtual files."""
    data = _data_with_hidden(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    pos_del = o.where(F.col("o_orderkey") % 11 == 0).select(
        F.concat(F.lit("file_"), (F.col("o_orderkey") % 3).cast("string")).alias(
            SYS_HIDDEN_FILE_PATH
        ),
        (F.col("o_orderkey") * 10 + 1).cast("long").alias(SYS_HIDDEN_POS),
    )
    # No broadcast hint: the delete side is a fixed FRACTION of an
    # SF-scaled table, so a hard hint is a driver OOM at 100x scale.
    # AQE converts to broadcast at runtime while the side is small.
    out = apply_position_deletes(data, pos_del)
    return out.select("l_orderkey", "l_linenumber", "l_quantity")


@query(
    "mor_deletion_vector",
    oracle="""
    -- Deletion vectors: the Spark side routes the SAME delete set
    -- through roaring-bitmap DV blobs (pack executor-side, expand
    -- executor-side — sources/puffin.py); the round trip is an
    -- identity over positions, so the oracle is the plain anti-join.
    WITH data AS (
        SELECT l_orderkey, l_linenumber, l_quantity,
               CAST('file_' || (l_orderkey % 3) AS VARCHAR) AS fp,
               l_orderkey * 10 + l_linenumber AS pos
        FROM lineitem
    ),
    pos_del AS (
        SELECT CAST('file_' || (o_orderkey % 3) AS VARCHAR) AS fp,
               o_orderkey * 10 + 1 AS pos
        FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT d.l_orderkey, d.l_linenumber, d.l_quantity
    FROM data d ANTI JOIN pos_del p ON d.fp = p.fp AND d.pos = p.pos
    """,
)
def mor_deletion_vector(spark: SparkSession, sf_dir: str):
    """Position deletes as deletion VECTORS (Iceberg v3 analog): the
    delete set is packed into one roaring bitmap per virtual file
    (``serialize_dv_blob``, applyInPandas) and expanded back executor
    side (``deserialize_dv_blob``, mapInPandas) before feeding the
    reference O7 positional anti-join — a driver-checked round trip of
    the sources/puffin.py codec at SF scale."""
    import pandas as pd

    data = _data_with_hidden(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    pos_del = o.where(F.col("o_orderkey") % 13 == 0).select(
        F.concat(F.lit("file_"), (F.col("o_orderkey") % 3).cast("string")).alias(
            "fp"
        ),
        (F.col("o_orderkey") * 10 + 1).cast("long").alias("pos"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        from ic_spark.sources.puffin import serialize_dv_blob

        return pd.DataFrame(
            {
                "fp": [pdf["fp"].iloc[0]],
                "dv": [serialize_dv_blob(pdf["pos"].tolist())],
            }
        )

    def expand(batches):
        from ic_spark.sources.puffin import deserialize_dv_blob

        for pdf in batches:
            for fp, dv in zip(pdf["fp"], pdf["dv"]):
                yield pd.DataFrame(
                    {"fp": fp, "pos": deserialize_dv_blob(bytes(dv))}
                )

    packed = pos_del.groupBy("fp").applyInPandas(pack, schema="fp string, dv binary")
    expanded = packed.mapInPandas(expand, schema="fp string, pos long").toDF(
        SYS_HIDDEN_FILE_PATH, SYS_HIDDEN_POS
    )
    out = apply_position_deletes(data, expanded)
    return out.select("l_orderkey", "l_linenumber", "l_quantity")


@query(
    "mor_equality_delete",
    oracle=f"""
    WITH data AS ({SQL_DATA}),
    eq_del AS (
        -- delete key (l_partkey) at sequence 2: applies only to seq-1 data
        SELECT p_partkey AS l_partkey, 2 AS seq FROM part WHERE p_partkey % 5 = 0
    )
    SELECT d.l_orderkey, d.l_linenumber, d.l_partkey
    FROM data d ANTI JOIN eq_del e ON d.l_partkey = e.l_partkey AND d.seq < e.seq
    """,
    headline=True,
)
def mor_equality_delete(spark: SparkSession, sf_dir: str):
    """Equality-delete anti-join with STRICT sequence guard (reference
    O8): delete seq 2 removes matching rows only from virtual file 0
    (seq 1); files with seq ≥ 2 keep their rows."""
    data = _data_with_hidden(spark, sf_dir)
    p = load_table(spark, sf_dir, "part")
    eq_del = p.where(F.col("p_partkey") % 5 == 0).select(
        F.col("p_partkey").alias("l_partkey"),
        F.lit(2).cast("long").alias(SYS_HIDDEN_SEQ_NUM),
    )
    out = apply_equality_deletes(data, eq_del, ["l_partkey"])  # AQE sizes it
    return out.select("l_orderkey", "l_linenumber", "l_partkey")


@query(
    "mor_full_merge_on_read",
    oracle=f"""
    WITH data AS ({SQL_DATA}),
    pos_del AS (
        SELECT CAST('file_' || (o_orderkey % 3) AS VARCHAR) AS fp,
               o_orderkey * 10 + 1 AS pos
        FROM orders WHERE o_orderkey % 11 = 0
    ),
    eq_a AS (
        SELECT p_partkey AS l_partkey, 2 AS seq FROM part WHERE p_partkey % 5 = 0
    ),
    eq_b AS (
        -- second group on a DIFFERENT id-list (partkey, suppkey), seq 3
        SELECT p_partkey AS l_partkey, s_suppkey AS l_suppkey, 3 AS seq
        FROM part, supplier WHERE p_partkey % 13 = 0 AND s_suppkey % 2 = 0
    )
    SELECT d.l_orderkey, d.l_linenumber, d.l_partkey, d.l_suppkey
    FROM data d
    ANTI JOIN pos_del p ON d.fp = p.fp AND d.pos = p.pos
    ANTI JOIN eq_a a ON d.l_partkey = a.l_partkey AND d.seq < a.seq
    ANTI JOIN eq_b b ON d.l_partkey = b.l_partkey AND d.l_suppkey = b.l_suppkey
                    AND d.seq < b.seq
    """,
    headline=True,
)
def mor_full_merge_on_read(spark: SparkSession, sf_dir: str):
    """The reference's complete query shape: position deletes + two
    equality-delete groups with different id-lists, chained in task
    order, each with its own strict seq guard."""
    data = _data_with_hidden(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")

    pos_del = o.where(F.col("o_orderkey") % 11 == 0).select(
        F.concat(F.lit("file_"), (F.col("o_orderkey") % 3).cast("string")).alias(
            SYS_HIDDEN_FILE_PATH
        ),
        (F.col("o_orderkey") * 10 + 1).cast("long").alias(SYS_HIDDEN_POS),
    )
    eq_a = p.where(F.col("p_partkey") % 5 == 0).select(
        F.col("p_partkey").alias("l_partkey"),
        F.lit(2).cast("long").alias(SYS_HIDDEN_SEQ_NUM),
    )
    eq_b = (
        p.where(F.col("p_partkey") % 13 == 0)
        .crossJoin(s.where(F.col("s_suppkey") % 2 == 0))
        .select(
            F.col("p_partkey").alias("l_partkey"),
            F.col("s_suppkey").alias("l_suppkey"),
            F.lit(3).cast("long").alias(SYS_HIDDEN_SEQ_NUM),
        )
    )
    # Delete sides scale with SF (fractions of orders/part x supplier):
    # no hard hints; AQE broadcasts them at runtime while small.
    out = apply_position_deletes(data, pos_del)
    out = apply_equality_deletes(out, eq_a, ["l_partkey"])
    out = apply_equality_deletes(out, eq_b, ["l_partkey", "l_suppkey"])
    return out.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")


@query(
    "mor_upsert_latest",
    oracle="""
    WITH base AS (
        SELECT l_orderkey, l_linenumber, l_quantity, 1 AS seq FROM lineitem
    ),
    upd AS (
        SELECT l_orderkey, l_linenumber, l_quantity + 100 AS l_quantity,
               2 AS seq
        FROM lineitem WHERE l_orderkey % 13 = 0
    ),
    merged AS (
        SELECT * FROM base b
        WHERE NOT EXISTS (
            SELECT 1 FROM upd u
            WHERE u.l_orderkey = b.l_orderkey
              AND u.l_linenumber = b.l_linenumber
              AND b.seq < u.seq
        )
        UNION ALL
        SELECT * FROM upd
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN seq = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_updated,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
    FROM merged
    """,
)
def mor_upsert_latest(spark: SparkSession, sf_dir: str):
    """Upsert read semantics (reference O8 seq guard powering MERGE):
    a batch at seq 2 replaces same-key rows from seq 1 and keeps its
    own rows — the exact plan ``merge_upsert`` commits via data +
    equality-delete files at one sequence number.  Simulated over
    lineitem so the DuckDB oracle can hash-check it."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.lit(1).cast("long").alias(SYS_HIDDEN_SEQ_NUM),
    )
    upd = li.where(F.col("l_orderkey") % 13 == 0).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") + 100).alias("l_quantity"),
        F.lit(2).cast("long").alias(SYS_HIDDEN_SEQ_NUM),
    )
    dels = upd.select("l_orderkey", "l_linenumber", SYS_HIDDEN_SEQ_NUM)
    # No broadcast hint: the delete side scales with lineitem (1/13 of
    # its keys) — AQE decides broadcast-vs-shuffle from runtime size.
    merged = apply_equality_deletes(
        base, dels, ["l_orderkey", "l_linenumber"]
    ).unionByName(upd)
    return merged.agg(
        F.count("*").alias("n_rows"),
        F.sum(
            F.when(F.col(SYS_HIDDEN_SEQ_NUM) == 2, 1).otherwise(0)
        ).alias("n_updated"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
    )


@query(
    "mor_schema_evolution",
    oracle="""
    WITH old_gen AS (
        -- seq-1 files: pre-evolution schema (int key, float balance
        -- under the OLD name; no s_name column yet)
        SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey,
               CAST(CAST(s_acctbal AS REAL) AS DOUBLE) AS s_acctbal,
               CAST(NULL AS VARCHAR) AS s_name,
               1 AS seq
        FROM supplier WHERE s_suppkey % 2 = 0
    ),
    new_gen AS (
        SELECT s_suppkey, CAST(s_acctbal AS DOUBLE) AS s_acctbal,
               s_name, 2 AS seq
        FROM supplier WHERE s_suppkey % 2 = 1
    ),
    data AS (SELECT * FROM old_gen UNION ALL SELECT * FROM new_gen),
    dels AS (SELECT s_suppkey, 2 AS seq FROM supplier WHERE s_suppkey % 7 = 0)
    SELECT d.s_suppkey, d.s_acctbal, d.s_name
    FROM data d
    WHERE NOT EXISTS (
        SELECT 1 FROM dels e
        WHERE e.s_suppkey = d.s_suppkey AND d.seq < e.seq
    )
    """,
)
def mor_schema_evolution(spark: SparkSession, sf_dir: str):
    """Merge-on-read over a TWO-SCHEMA table — real files, full
    evolution matrix (Iceberg spec "Schema Evolution"; the reference
    resolves file columns against the request schema by field id).

    Old-generation files (seq 1) hold ``(s_suppkey int, s_balance
    float)`` — the request schema has since RENAMED ``s_balance`` →
    ``s_acctbal``, WIDENED int→long and float→double, and ADDED
    ``s_name``.  New-generation files (seq 2) are current-schema.  An
    equality delete at seq 2 removes ``s_suppkey % 7 = 0`` rows from
    strictly-older files only (O8 seq guard).  The scan resolves old
    columns through ``name_mapping`` (schema.name-mapping.default
    analog) with footer-validated widening — compaction/evolution.py.
    """
    import os
    import tempfile

    from ic_spark.compaction.planner import build_merge_on_read
    from ic_spark.compaction.request import (
        FileContent,
        FileScanTask,
        RewriteFilesRequest,
    )

    s = load_table(spark, sf_dir, "supplier")
    tmp = tempfile.mkdtemp(prefix="mor_evo_")

    def one_file(df, tag: str) -> FileScanTask:
        p = os.path.join(tmp, tag)
        df.coalesce(1).write.mode("overwrite").parquet(p)
        f = next(
            os.path.join(p, n) for n in os.listdir(p) if n.endswith(".parquet")
        )
        return f

    old = s.where(F.col("s_suppkey") % 2 == 0).select(
        F.col("s_suppkey").cast("int").alias("s_suppkey"),
        F.col("s_acctbal").cast("float").alias("s_balance"),
    )
    new = s.where(F.col("s_suppkey") % 2 == 1).select(
        "s_suppkey",
        F.col("s_acctbal").cast("double").alias("s_acctbal"),
        "s_name",
    )
    dels = s.where(F.col("s_suppkey") % 7 == 0).select("s_suppkey")

    req = RewriteFilesRequest(
        schema=new.schema,
        data_files=[
            FileScanTask(one_file(old, "old"), sequence_number=1),
            FileScanTask(one_file(new, "new"), sequence_number=2),
        ],
        equality_delete_files=[
            FileScanTask(
                one_file(dels, "del"),
                sequence_number=2,
                content=FileContent.EQUALITY_DELETES,
                equality_ids=("s_suppkey",),
            )
        ],
        name_mapping={"s_acctbal": ["s_balance"]},
    )
    return build_merge_on_read(spark, req)


@query(
    "mor_schema_drop_readd",
    oracle="""
    WITH old_gen AS (
        -- seq-1 files were written WITH a populated s_comment column,
        -- but the column was DROPPED and RE-ADDED since: the re-added
        -- field has a NEW id, so old files must read NULL (no
        -- resurrection of dropped data).
        SELECT s_suppkey, CAST(NULL AS VARCHAR) AS s_comment,
               CAST(s_acctbal AS DOUBLE) AS s_acctbal, 1 AS seq
        FROM supplier WHERE s_suppkey % 2 = 0
    ),
    new_gen AS (
        SELECT s_suppkey, s_name AS s_comment,
               CAST(s_acctbal AS DOUBLE) AS s_acctbal, 2 AS seq
        FROM supplier WHERE s_suppkey % 2 = 1
    ),
    data AS (SELECT * FROM old_gen UNION ALL SELECT * FROM new_gen),
    dels AS (SELECT s_suppkey, 2 AS seq FROM supplier WHERE s_suppkey % 5 = 0)
    SELECT d.s_suppkey, d.s_comment, d.s_acctbal
    FROM data d
    WHERE NOT EXISTS (
        SELECT 1 FROM dels e
        WHERE e.s_suppkey = d.s_suppkey AND d.seq < e.seq
    )
    """,
)
def mor_schema_drop_readd(spark: SparkSession, sf_dir: str):
    """Merge-on-read over a DROP-then-RE-ADD table — the other half of
    the schema-evolution matrix (Iceberg spec: a dropped field's id is
    retired; re-adding the name allocates a NEW id, so data written for
    the old field can never resurrect).

    Gen-1 files (seq 1, even suppkeys) are written with a POPULATED
    ``s_comment``; the column is then dropped, re-added, and MOVED
    after the key (reorder DDL).  Gen-2 files (seq 2, odd suppkeys)
    carry new values under the re-added field.  An equality delete
    committed at seq 2 (same commit as gen-2 — the upsert pattern)
    hides ``%5`` keys from strictly-older files only.  The scan
    resolves each file against the schema it was WRITTEN under via
    sequence-number activation boundaries (field-id resolution,
    compaction/iceberg_meta.py) — old files null the re-added column,
    new files read it; over-nulling or resurrection fails the hash.
    """
    import os
    import tempfile

    from pyspark.sql.types import StringType

    from ic_spark.compaction.deletes import read_table
    from ic_spark.compaction.iceberg_meta import IcebergTable
    from ic_spark.compaction.writer import _stats_from_footer

    s = load_table(spark, sf_dir, "supplier")
    tmp = tempfile.mkdtemp(prefix="mor_dra_")

    def one_file(df, tag: str) -> str:
        p = os.path.join(tmp, tag)
        df.coalesce(1).write.mode("overwrite").parquet(p)
        return next(
            os.path.join(p, n) for n in os.listdir(p) if n.endswith(".parquet")
        )

    def entry(path, content="DATA", **kw):
        rc, cs, _ = (
            _stats_from_footer(path, os.path.dirname(path))
            if content == "DATA"
            else (0, None, None)
        )
        e = {
            "path": path,
            "content": content,
            "file_size_in_bytes": os.path.getsize(path),
            **kw,
        }
        if content == "DATA":
            e["record_count"] = rc
            e["column_stats"] = cs
        return e

    gen1 = s.where(F.col("s_suppkey") % 2 == 0).select(
        "s_suppkey",
        # POPULATED under the original field id — must read NULL after
        # the drop + re-add (fixture supplier has no comment column, so
        # derive a non-null stand-in).
        F.concat(F.lit("old-"), F.col("s_name")).alias("s_comment"),
        F.col("s_acctbal").cast("double").alias("s_acctbal"),
    )
    tbl = IcebergTable.create(os.path.join(tmp, "t"), gen1.schema)
    tbl.append_snapshot([entry(one_file(gen1, "gen1"))])  # seq 1

    tbl.drop_column("s_comment")
    tbl.add_column("s_comment", StringType())  # fresh field id
    tbl.move_column("s_comment", after="s_suppkey")  # reorder DDL

    gen2 = s.where(F.col("s_suppkey") % 2 == 1).select(
        "s_suppkey",
        F.col("s_name").alias("s_comment"),
        F.col("s_acctbal").cast("double").alias("s_acctbal"),
    )
    dels = s.where(F.col("s_suppkey") % 5 == 0).select("s_suppkey")
    # One commit (seq 2): gen-2 data + the equality delete — the upsert
    # pattern; the strict < guard protects same-sequence rows.
    tbl.append_snapshot(
        [
            entry(one_file(gen2, "gen2")),
            entry(
                one_file(dels, "del"),
                content="EQUALITY_DELETES",
                equality_ids=["s_suppkey"],
            ),
        ]
    )
    return read_table(spark, tbl).select("s_suppkey", "s_comment", "s_acctbal")


@query(
    "mor_partition_evolution",
    oracle="""
    WITH bound AS (SELECT CAST(max(o_orderkey) // 3 AS BIGINT) AS lo FROM orders)
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o, bound b
    WHERE o.o_orderkey >= b.lo
      AND NOT (o.o_orderkey % 2 = 0 AND o.o_orderkey % 11 = 0)
    """,
)
def mor_partition_evolution(spark: SparkSession, sf_dir: str):
    """Merge-on-read over a TWO-PARTITION-SPEC table — real files
    written through the transform-aware fanout writer, pruned by each
    file's OWN spec (Iceberg "Partition Evolution"; reference ships a
    PartitionSpec per rewrite, core/proto/iceberg.proto:18-61).

    Even-key orders land under spec 1 (coarse truncate bins, seq 1);
    the table then evolves to spec 2 (bins half the width) and odd-key
    orders land under it (seq 2).  Neither generation records column
    stats, so the ``o_orderkey >= lo`` scan filter can only skip files
    via their partition tuples — evaluated against the spec each file
    was written under, with the integer boundary adjustment.  An
    equality delete at seq 2 hides ``%11`` rows from strictly-older
    (spec-1) files only, proving deletes ride through a pruned,
    evolved-layout read unchanged.  Over-pruning anywhere would drop
    rows and fail the driver's hash check.
    """
    import os
    import tempfile

    from ic_spark.compaction.deletes import read_table
    from ic_spark.compaction.manifest import ManifestTable
    from ic_spark.compaction.request import (
        FileContent,
        FileScanTask,
        RewriteFilesRequest,
    )
    from ic_spark.compaction.writer import rewrite_files

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    mk = o.agg(F.max("o_orderkey")).collect()[0][0]  # metadata-scale collect
    tmp = tempfile.mkdtemp(prefix="mor_pe_")
    t = ManifestTable(os.path.join(tmp, "t"))

    def one_file(df, tag: str) -> str:
        p = os.path.join(tmp, tag)
        df.coalesce(1).write.mode("overwrite").parquet(p)
        return next(
            os.path.join(p, n) for n in os.listdir(p) if n.endswith(".parquet")
        )

    def fanout(df, tag: str, spec: list[dict], seq: int, spec_id: int):
        src = one_file(df, f"src_{tag}")
        resp = rewrite_files(
            spark,
            RewriteFilesRequest(
                schema=df.schema,
                data_files=[FileScanTask(src, sequence_number=seq)],
                dir_path=os.path.join(tmp, f"out_{tag}"),
                partition_spec=spec,
                target_partitions=0,
            ),
        )
        # No column_stats on purpose: partition tuples must carry the
        # pruning alone.
        t.append_snapshot(
            [
                {"path": f.file_path, "sequence_number": seq, "content": "DATA",
                 "file_size_in_bytes": f.file_size_in_bytes,
                 "spec_id": spec_id, "partition": f.partition_values or {}}
                for f in resp.data_files
            ]
        )

    w1, w2 = mk // 4 + 1, mk // 8 + 1
    spec1 = [{"name": "ok_t", "source": "o_orderkey", "transform": "truncate",
              "width": w1, "source_type": "long"}]
    sid1 = t.update_partition_spec(spec1)
    fanout(o.where(F.col("o_orderkey") % 2 == 0), "even", spec1, 1, sid1)

    spec2 = [{"name": "ok_t2", "source": "o_orderkey", "transform": "truncate",
              "width": w2, "source_type": "long"}]
    sid2 = t.update_partition_spec(spec2)
    fanout(o.where(F.col("o_orderkey") % 2 == 1), "odd", spec2, 2, sid2)

    dels = one_file(
        o.where(F.col("o_orderkey") % 11 == 0).select("o_orderkey"), "del"
    )
    t.append_snapshot(
        [{"path": dels, "sequence_number": 2, "content": "EQUALITY_DELETES",
          "equality_ids": ["o_orderkey"],
          "file_size_in_bytes": os.path.getsize(dels)}]
    )

    lo = mk // 3
    return read_table(spark, t, where=[("o_orderkey", ">=", lo)]).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def _append_sorted(spark, t, df, tmp, tag, key):
    """One sorted parquet file appended at the next sequence number —
    sortWithinPartitions on a single partition makes the row POSITIONS
    (and so the lineage row ids) a deterministic function of ``key``."""
    import os

    p = os.path.join(tmp, tag)
    df.repartition(1).sortWithinPartitions(key).write.mode(
        "overwrite"
    ).parquet(p)
    f = next(
        os.path.join(p, n) for n in os.listdir(p) if n.endswith(".parquet")
    )
    return t.append_snapshot(
        [
            {
                "path": f,
                "sequence_number": t.next_sequence_number(),
                "content": "DATA",
                "file_size_in_bytes": os.path.getsize(f),
                # metadata-only count: one footer read, no data scan
                "record_count": spark.read.parquet(f).count(),
            }
        ]
    )


@query(
    "mor_row_lineage",
    oracle="""
    -- Iceberg v3 row lineage over enable -> append -> append ->
    -- full_compact -> append: ids are claimed per file in commit order
    -- (%4==0 file at first_row_id 0, %4==2 file at count(%4==0), odd
    -- file at count(even)); _row_id = first_row_id + position, and the
    -- files are written SORTED by o_orderkey so position is
    -- row_number-1 within each parity group.  The compaction (seq 3)
    -- must preserve ids and sequence numbers exactly (materialized
    -- columns), so evens keep seq 1/2 and odds carry the post-compact
    -- append seq 4.
    WITH e0 AS (
        SELECT o_orderkey,
               ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
        FROM orders WHERE o_orderkey % 4 = 0
    ), e2 AS (
        SELECT o_orderkey,
               (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 = 0)
               + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
        FROM orders WHERE o_orderkey % 4 = 2
    ), od AS (
        SELECT o_orderkey,
               (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0)
               + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_orderkey, CAST(rid AS BIGINT) AS _row_id,
           CAST(1 AS BIGINT) AS _last_updated_sequence_number
    FROM e0
    UNION ALL SELECT o_orderkey, rid, 2 FROM e2
    UNION ALL SELECT o_orderkey, rid, 4 FROM od
    """,
)
def mor_row_lineage(spark: SparkSession, sf_dir: str):
    """Iceberg v3 row lineage, oracle-checked end to end (the lineage
    flagship's correctness row): a REAL table is built by appending the
    %4==0 and %4==2 orders as two sorted files (contiguous id ranges
    claimed from next_row_id in commit order), FULLY COMPACTED — the
    rewrite must materialize and preserve every (_row_id,
    _last_updated_sequence_number) pair — then the odd orders append
    under fresh ids.  read_table(with_lineage=True) resolves plain
    files as first_row_id + position and compacted files from their
    materialized columns (planner.attach_lineage coalesce order); the
    oracle reconstructs both from deterministic per-parity row_numbers,
    so id drift, wrong seq inheritance, or a broken coalesce breaks
    the value-hash match."""
    import os
    import tempfile

    from ic_spark.compaction import Compaction, ManifestTable
    from ic_spark.compaction.deletes import read_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    tmp = tempfile.mkdtemp(prefix="mor_lin_")
    t = ManifestTable(os.path.join(tmp, "t"))
    t.enable_row_lineage()
    _append_sorted(
        spark, t, o.where(F.col("o_orderkey") % 4 == 0), tmp, "e0", "o_orderkey"
    )
    _append_sorted(
        spark, t, o.where(F.col("o_orderkey") % 4 == 2), tmp, "e2", "o_orderkey"
    )
    Compaction(spark).full_compact(t, o.schema)
    _append_sorted(
        spark, t, o.where(F.col("o_orderkey") % 2 == 1), tmp, "od", "o_orderkey"
    )
    return read_table(spark, t, with_lineage=True).select(
        "o_orderkey", "_row_id", "_last_updated_sequence_number"
    )


def _compact_into_format(spark: SparkSession, sf_dir: str, fmt: str):
    """Shared body of the format-migration queries: append a quarter of
    orders as parquet, equality-delete the %9 keys, full_compact INTO
    ``fmt`` (writer.py's executor-side avro/orc writers), and read the
    table back through the format's own distributed scan."""
    import os
    import tempfile

    from ic_spark.compaction import Compaction, ManifestTable
    from ic_spark.compaction.deletes import read_table, write_equality_deletes

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    tmp = tempfile.mkdtemp(prefix=f"mig_{fmt}_")
    t = ManifestTable(os.path.join(tmp, "t"))
    _append_sorted(
        spark, t, o.where(F.col("o_orderkey") % 4 == 1), tmp, "d", "o_orderkey"
    )
    write_equality_deletes(
        spark,
        t,
        o.where(F.col("o_orderkey") % 9 == 0).select("o_orderkey"),
        ["o_orderkey"],
    )
    Compaction(spark).full_compact(
        t, o.schema, data_file_format=fmt, target_partitions=2
    )
    return read_table(spark, t).select("o_orderkey", "o_custkey")


_MIGRATION_ORACLE = """
    -- Format migration: the %4==1 orders minus the %9 equality-deleted
    -- keys survive the compaction INTO {fmt}; reading the {fmt} files
    -- back through the repo's own scan must be value-identical to the
    -- plain relational answer.
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_orderkey % 4 = 1 AND o_orderkey % 9 <> 0
"""


@query("compact_into_avro_scan", oracle=_MIGRATION_ORACLE.format(fmt="avro"))
def compact_into_avro_scan(spark: SparkSession, sf_dir: str):
    """Compact a parquet table INTO Avro data files (writer.py
    ``_write_data_files_python`` — the repo's own container codec with
    write-time column stats) and read them back via the distributed
    pure-Python Avro scan.  Exceeds the reference, whose
    DataFileFormat enum carries avro (proto.rs:282-289) but whose
    writer emits parquet only."""
    return _compact_into_format(spark, sf_dir, "avro")


@query("compact_into_orc_scan", oracle=_MIGRATION_ORACLE.format(fmt="orc"))
def compact_into_orc_scan(spark: SparkSession, sf_dir: str):
    """Compact a parquet table INTO ORC data files (pyarrow.orc write
    with write-time stats) and read them back via Spark's native ORC
    scan — the format-migration shape end to end."""
    return _compact_into_format(spark, sf_dir, "orc")


@query(
    "compact_into_avro_partitioned_scan",
    oracle="""
    -- Fanout format migration: the %4==1 orders compacted INTO avro
    -- PARTITIONED BY o_orderpriority (hive dirs, partition column
    -- dropped from the data pages).  The Spark side re-derives the
    -- partition value from the directory segment — reading it back
    -- must reproduce the plain relational answer exactly.
    SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
    WHERE o_orderkey % 4 = 1
""",
)
def compact_into_avro_partitioned_scan(spark: SparkSession, sf_dir: str):
    """Partitioned non-parquet migration end to end: full_compact INTO
    avro with partition_by (writer routes hive dirs per task, drops the
    partition column from the pages, records manifest partition
    values), then ONE distributed avro scan over every data file with
    the partition value re-attached from the path segment — scan-side
    regexp+url_decode, no per-file unions, no driver joins, so the
    read shape survives thousands of partitions."""
    import os
    import tempfile

    from ic_spark.compaction import Compaction, ManifestTable
    from ic_spark.sources.avro_scan import read_avro_distributed

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    tmp = tempfile.mkdtemp(prefix="mig_part_")
    t = ManifestTable(os.path.join(tmp, "t"))
    _append_sorted(
        spark, t, o.where(F.col("o_orderkey") % 4 == 1), tmp, "d", "o_orderkey"
    )
    Compaction(spark).full_compact(
        t, o.schema, data_file_format="avro", partition_by=["o_orderpriority"]
    )
    snap = t.current_snapshot()
    paths = [e["path"] for e in snap.files]
    scanned = read_avro_distributed(spark, paths, with_path_pos=True)
    return scanned.select(
        "o_orderkey",
        "o_custkey",
        F.url_decode(
            F.regexp_extract(
                F.col("_avro_file_path"), r"o_orderpriority=([^/]+)", 1
            )
        ).alias("o_orderpriority"),
    )


@query(
    "mor_partitioned_fill_read",
    oracle="""
    -- Identity partition columns are DROPPED from hive-layout data
    -- pages; the scan must re-attach them from manifest partition
    -- values (broadcast file map) BEFORE delete application, so the
    -- equality delete keyed on the partition column still hides the
    -- '1-URGENT' rows.  A broken fill surfaces as NULL priorities
    -- (hash mismatch) or as undeleted urgent rows (row-count
    -- mismatch).
    SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
    WHERE o_orderkey % 4 = 1 AND o_orderpriority <> '1-URGENT'
""",
)
def mor_partitioned_fill_read(spark: SparkSession, sf_dir: str):
    """Partitioned-table read correctness end to end: full_compact
    partitions by o_orderpriority (hive dirs, column dropped from the
    pages), an equality delete keyed on that PARTITION column lands at
    the next sequence, and read_table must fill the column from
    manifest partition values before applying the delete
    (planner._scan_with_hidden_cols fill + attach_partition_values).
    Exceeds the reference, which delegates partitioned-read semantics
    to iceberg-rs."""
    import os
    import tempfile

    from ic_spark.compaction import Compaction, ManifestTable
    from ic_spark.compaction.deletes import read_table, write_equality_deletes

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    tmp = tempfile.mkdtemp(prefix="mor_pf_")
    t = ManifestTable(os.path.join(tmp, "t"))
    _append_sorted(
        spark, t, o.where(F.col("o_orderkey") % 4 == 1), tmp, "d", "o_orderkey"
    )
    Compaction(spark).full_compact(
        t, o.schema, partition_by=["o_orderpriority"]
    )
    write_equality_deletes(
        spark,
        t,
        spark.createDataFrame([("1-URGENT",)], "o_orderpriority string"),
        ["o_orderpriority"],
    )
    return read_table(spark, t, schema=o.schema).select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )


@query(
    "mor_changelog_scan",
    headline=True,
    oracle="""
    -- Changelog over a three-commit table (see the Spark side): the
    -- second append's rows are ordinal-0 INSERTs; the equality delete
    -- at the next sequence hides every %7 key from BOTH earlier
    -- appends (strict < guard), emitted as ordinal-1 DELETEs.
    SELECT 'INSERT' AS _change_type, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           0 AS _change_ordinal
    FROM orders WHERE o_orderkey % 2 = 1
    UNION ALL
    SELECT 'DELETE', o_orderkey, CAST(o_totalprice AS DOUBLE), 1
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def mor_changelog_scan(spark: SparkSession, sf_dir: str):
    """Row-level CDC read (compaction/changelog.py — Iceberg
    create_changelog_view semantics) over a real three-commit table:
    commit 0 appends even orders (the changelog baseline), commit 1
    appends odd orders (INSERTs), commit 2 writes an equality delete on
    ``%7`` keys (DELETEs for every already-visible matching row, both
    appends, under the strict sequence guard)."""
    import os
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from ic_spark.compaction.changelog import read_changelog
    from ic_spark.compaction.deletes import _write_single_file
    from ic_spark.compaction.manifest import ManifestTable
    from ic_spark.compaction.metafs import table_mfs
    from ic_spark.compaction.request import FileContent

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )
    tmp = tempfile.mkdtemp(prefix="mor_cl_")
    t = ManifestTable(os.path.join(tmp, "t"))
    mfs = table_mfs(t)

    # The three fixture files (even append, odd append, the equality-
    # delete key file) are INDEPENDENT single-task write jobs — only
    # the snapshot COMMITS are ordered (even=seq 1, odd=seq 2,
    # delete=seq 3).  Write them concurrently from a driver thread
    # pool (Spark schedules concurrent jobs FIFO and back-fills idle
    # executors — optimization guide §2.6), then commit in order; the
    # resulting table state is byte-identical to the serial version.
    def write(df, tag):
        p = os.path.join(tmp, tag)
        df.coalesce(1).write.mode("overwrite").parquet(p)
        return next(
            os.path.join(p, n) for n in os.listdir(p) if n.endswith(".parquet")
        )

    dels = o.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_even = pool.submit(write, o.where(F.col("o_orderkey") % 2 == 0), "even")
        f_odd = pool.submit(write, o.where(F.col("o_orderkey") % 2 == 1), "odd")
        # same write write_equality_deletes performs (distinct key set
        # via _write_single_file into the table root); the commit half
        # of that helper is replayed below at the right sequence
        f_del = pool.submit(
            _write_single_file, dels.distinct(), os.path.join(t.root, "eq-del-cl"), mfs
        )
        even_f, odd_f, del_f = f_even.result(), f_odd.result(), f_del.result()

    def append(f):
        return t.append_snapshot(
            [
                {
                    "path": f,
                    "sequence_number": t.next_sequence_number(),
                    "content": "DATA",
                    "file_size_in_bytes": os.path.getsize(f),
                }
            ]
        )

    snap0 = append(even_f)
    append(odd_f)
    t.append_snapshot(
        [
            {
                "path": del_f,
                "sequence_number": t.next_sequence_number(),
                "content": FileContent.EQUALITY_DELETES.name,
                "equality_ids": ["o_orderkey"],
                "file_size_in_bytes": mfs.size(del_f),
            }
        ]
    )
    return read_changelog(spark, t, snap0).select(
        "_change_type", "o_orderkey", "o_totalprice", "_change_ordinal"
    )
