"""Table statistics (compaction/stats.py) + timestamp time travel."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from ic_spark.compaction import ManifestTable
from ic_spark.compaction.deletes import read_table
from ic_spark.compaction.stats import (
    HLL_BLOB_TYPE,
    analyze_incremental,
    analyze_table,
    column_ndv_estimates,
)


def _append(spark, table, tmp_path, name, lo, hi):
    d = str(tmp_path / name)
    spark.range(lo, hi).select(
        "id", (F.col("id") % 10).alias("g")
    ).coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    snap = table.current_snapshot()
    seq = (
        max((x.get("sequence_number", 0) for x in snap.files), default=0) + 1
        if snap
        else 1
    )
    return table.append_snapshot(
        [{"path": f, "sequence_number": seq, "content": "DATA",
          "file_size_in_bytes": os.path.getsize(f)}]
    )


def test_analyze_and_estimates(spark, tmp_path):
    table = ManifestTable(str(tmp_path / "tbl"))
    _append(spark, table, tmp_path, "d0", 0, 1000)
    entry = analyze_table(spark, table)
    assert entry["row-count"] == 1000
    assert {bm["type"] for bm in entry["blob-metadata"]} == {HLL_BLOB_TYPE}
    est = column_ndv_estimates(spark, table)
    assert abs(est["id"] - 1000) / 1000 < 0.05  # HLL within 5%
    assert abs(est["g"] - 10) < 1
    assert len(table.statistics()) == 1


def test_analyze_incremental_unions_sketches(spark, tmp_path):
    """Appending new rows refreshes stats by sketching only the delta;
    the merged estimate matches a full re-analyze within HLL error."""
    table = ManifestTable(str(tmp_path / "tbl"))
    _append(spark, table, tmp_path, "d0", 0, 1000)
    analyze_table(spark, table)
    _append(spark, table, tmp_path, "d1", 1000, 3000)
    entry = analyze_incremental(spark, table)
    assert entry["row-count"] == 3000
    est = column_ndv_estimates(spark, table)
    assert abs(est["id"] - 3000) / 3000 < 0.05
    assert abs(est["g"] - 10) < 1
    # no new data: entry re-registers at the new snapshot, same counts
    entry2 = analyze_incremental(spark, table)
    assert entry2["row-count"] == 3000


def test_analyze_incremental_falls_back_on_rewrite(spark, tmp_path):
    """A compaction between analyses breaks append-only increments —
    the refresh must fall back to a full re-analyze, not undercount."""
    from ic_spark.compaction import Compaction

    table = ManifestTable(str(tmp_path / "tbl"))
    _append(spark, table, tmp_path, "d0", 0, 500)
    _append(spark, table, tmp_path, "d1", 500, 1000)
    analyze_table(spark, table)
    schema = read_table(spark, table).schema
    Compaction(spark).full_compact(table, schema)
    _append(spark, table, tmp_path, "d2", 1000, 1200)
    entry = analyze_incremental(spark, table)
    assert entry["row-count"] == 1200  # full re-analyze, exact


def test_stats_over_spec_metadata_table(spark, tmp_path):
    from ic_spark.compaction.iceberg_meta import IcebergTable

    df = spark.range(0, 300).select("id", (F.col("id") % 7).alias("g"))
    tbl = IcebergTable.create(str(tmp_path / "spec"), df.schema)
    d = str(tmp_path / "seed")
    df.coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    tbl.append_snapshot(
        [{"path": f, "content": "DATA", "record_count": 300,
          "file_size_in_bytes": os.path.getsize(f)}]
    )
    analyze_table(spark, tbl)
    assert tbl.metadata()["statistics"][-1]["row-count"] == 300
    est = column_ndv_estimates(spark, tbl)
    assert abs(est["g"] - 7) < 1


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF resolves to the last snapshot at or before the
    instant, on both flavors."""
    from ic_spark.compaction.iceberg_meta import IcebergTable

    table = ManifestTable(str(tmp_path / "tt"))
    _append(spark, table, tmp_path, "t0", 0, 10)
    ts1 = table.snapshots()[-1].timestamp_ms
    # second snapshot strictly later
    import time

    time.sleep(0.01)
    _append(spark, table, tmp_path, "t1", 10, 30)
    ts2 = table.snapshots()[-1].timestamp_ms
    assert read_table(spark, table, as_of_timestamp_ms=ts1).count() == 10
    assert read_table(spark, table, as_of_timestamp_ms=ts2 + 10).count() == 30
    with pytest.raises(ValueError, match="no snapshot"):
        table.snapshot_id_as_of(ts1 - 10_000)
    with pytest.raises(ValueError, match="at most one"):
        read_table(spark, table, snapshot_id=1, as_of_timestamp_ms=ts1)

    df = spark.range(3)
    tbl = IcebergTable.create(str(tmp_path / "tt_spec"), df.schema)
    d = str(tmp_path / "tt_seed")
    df.coalesce(1).write.parquet(d)
    f = next(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))
    tbl.append_snapshot(
        [{"path": f, "content": "DATA", "record_count": 3,
          "file_size_in_bytes": os.path.getsize(f)}]
    )
    log = tbl.metadata()["snapshot-log"]
    assert tbl.snapshot_id_as_of(log[-1]["timestamp-ms"]) == log[-1]["snapshot-id"]
    assert read_table(
        spark, tbl, as_of_timestamp_ms=log[-1]["timestamp-ms"]
    ).count() == 3
