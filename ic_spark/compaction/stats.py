"""Table statistics: NDV sketches in Puffin (Iceberg ``statistics``).

Iceberg tables register statistics FILES in table metadata — Puffin
containers holding per-column Apache DataSketches blobs — which engines
read at plan time for join ordering and broadcast decisions.  Spark 4
produces DataSketches-compatible HLL sketches natively
(``hll_sketch_agg``), so the sketch bytes here are real interchange
sketches, stored under blob type ``apache-datasketches-hll-v1`` with
the column name and NDV estimate as blob properties.

Scale design:

- ``analyze_table`` is ONE whole-stage-codegen aggregation over the MoR
  read (all sketches + row count in a single pass; no per-column jobs).
- Sketches are RE-AGGREGATABLE: ``analyze_incremental`` sketches only
  the files appended since the last statistics snapshot and merges with
  the stored sketches via ``hll_union`` — continuous ingest keeps stats
  fresh for the cost of the delta, never a rescan.  Ranges containing
  rewrites or deletes fall back to a full analyze (union can't subtract).
- Registration follows the Iceberg metadata shape
  (``statistics: [{snapshot-id, statistics-path, blob-metadata}]``) on
  both table flavors.
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from ic_spark.compaction.metafs import table_mfs
from ic_spark.sources.puffin import PuffinBlob, read_puffin, write_puffin

HLL_BLOB_TYPE = "apache-datasketches-hll-v1"


def _sketch_df(spark: SparkSession, df, columns: list[str]):
    aggs = [F.count(F.lit(1)).alias("__row_count")]
    for c in columns:
        aggs.append(F.hll_sketch_agg(F.col(c).cast("string")).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"n_{c}"))
    return df.agg(*aggs).collect()[0]


def _write_stats_file(
    table, columns: list[str], row: dict, sketches: dict[str, bytes], snapshot_id: int
) -> dict:
    blobs = []
    blob_meta = []
    for c in columns:
        blobs.append(
            PuffinBlob(
                type=HLL_BLOB_TYPE,
                data=sketches[c],
                properties={"field": c, "null_count": str(row[f"n_{c}"] or 0)},
            )
        )
    # Through the table's metadata seam: object-store roots get
    # connector IO; local roots keep the plain write byte-for-byte.
    mfs = table_mfs(table)
    path = os.path.join(table.root, f"stats-{uuid.uuid4().hex[:12]}", "stats.puffin")
    write_puffin(
        mfs.within(path),
        blobs,
        properties={
            "snapshot-id": str(snapshot_id),
            "row-count": str(row["__row_count"]),
        },
        filesystem=mfs.fs,
    )
    for b, c in zip(blobs, columns):
        blob_meta.append(
            {
                "type": b.type,
                "snapshot-id": snapshot_id,
                "fields": [c],
                "properties": b.properties,
            }
        )
    return {
        "snapshot-id": snapshot_id,
        "statistics-path": path,
        "file-size-in-bytes": mfs.size(path),
        "blob-metadata": blob_meta,
        "row-count": int(row["__row_count"]),
    }


def analyze_table(
    spark: SparkSession, table, columns: list[str] | None = None
) -> dict:
    """Compute row count + per-column HLL NDV sketches in ONE pass over
    the current MoR read, write them as a Puffin statistics file, and
    register it in table metadata.  Returns the statistics entry."""
    from ic_spark.compaction.deletes import read_table

    df = read_table(spark, table)
    columns = columns or df.columns
    snapshot_id = table.current_snapshot_id()
    row = _sketch_df(spark, df, columns)
    # all-null columns yield a null sketch: nothing to register for them
    columns = [c for c in columns if row[f"s_{c}"] is not None]
    sketches = {c: bytes(row[f"s_{c}"]) for c in columns}
    entry = _write_stats_file(table, columns, row, sketches, snapshot_id)
    table.register_statistics(entry)
    return entry


def analyze_incremental(
    spark: SparkSession, table, columns: list[str] | None = None
) -> dict:
    """Refresh statistics by sketching ONLY the rows appended since the
    last statistics snapshot and ``hll_union``-merging with the stored
    sketches.  Falls back to :func:`analyze_table` when there are no
    prior statistics or the snapshot range contains rewrites/deletes
    (sketch union cannot subtract rows)."""
    from ic_spark.compaction.deletes import read_incremental

    stats = table.statistics()
    if not stats:
        return analyze_table(spark, table, columns)
    last = stats[-1]
    try:
        delta = read_incremental(spark, table, last["snapshot-id"])
    except ValueError:
        return analyze_table(spark, table, columns)

    prior = {
        bm["fields"][0]: bm
        for bm in last["blob-metadata"]
        if bm["type"] == HLL_BLOB_TYPE
    }
    blobs = {
        b.properties["field"]: b
        for b in read_puffin(
            table_mfs(table).read_bytes(last["statistics-path"])
        )
        if b.type == HLL_BLOB_TYPE
    }
    columns = columns or sorted(prior)
    missing = [c for c in columns if c not in blobs]
    if missing:
        return analyze_table(spark, table, columns)

    snapshot_id = table.current_snapshot_id()
    if delta.isEmpty():
        entry = dict(last)
        entry["snapshot-id"] = snapshot_id
        table.register_statistics(entry)
        return entry
    row = _sketch_df(spark, delta, columns)
    # merge delta sketches with stored bytes via ONE local union job
    lit_rows = [
        {
            "c": c,
            "old": blobs[c].data,
            "new": bytes(row[f"s_{c}"]),
        }
        for c in columns
    ]
    merged_df = spark.createDataFrame(
        [(r["c"], r["old"], r["new"]) for r in lit_rows],
        "c string, old binary, new binary",
    ).select("c", F.hll_union("old", "new").alias("u"))
    merged = {r.c: bytes(r.u) for r in merged_df.collect()}
    combined_row = {
        "__row_count": int(last.get("row-count", 0)) + row["__row_count"],
    }
    for c in columns:
        prior_nulls = int(prior[c]["properties"].get("null_count", "0"))
        combined_row[f"n_{c}"] = prior_nulls + (row[f"n_{c}"] or 0)
    entry = _write_stats_file(table, columns, combined_row, merged, snapshot_id)
    table.register_statistics(entry)
    return entry


def column_ndv_estimates(spark: SparkSession, table) -> dict[str, float]:
    """NDV estimate per column from the LATEST registered statistics
    file (``hll_sketch_estimate`` over the stored sketch bytes)."""
    stats = table.statistics()
    if not stats:
        raise ValueError("no statistics registered; run analyze_table")
    last = stats[-1]
    rows = [
        (b.properties["field"], b.data)
        for b in read_puffin(
            table_mfs(table).read_bytes(last["statistics-path"])
        )
        if b.type == HLL_BLOB_TYPE
    ]
    df = spark.createDataFrame(rows, "c string, sketch binary").select(
        "c", F.hll_sketch_estimate("sketch").alias("est")
    )
    return {r.c: float(r.est) for r in df.collect()}
