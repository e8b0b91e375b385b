"""Delete-file writers: produce the position/equality delete files the
merge-on-read plan consumes.

The reference only APPLIES deletes (its compaction reads delete files
written by upstream Iceberg writers); a complete engine needs the
producing side too:

- ``write_position_deletes`` — evaluate a predicate over current data
  files and persist matching (file_path, row_index) pairs in the fixed
  position-delete schema (reference datafusion_processor.rs:350-368).
- ``write_equality_deletes`` — persist a key-set as an equality-delete
  file associated with equality_ids and a sequence number (reference
  :480-505).

Both append to the ManifestTable under a NEW sequence number, so a
subsequent MoR scan/compaction hides the targeted rows without
rewriting data (the whole point of merge-on-read: deletes are O(delete
size), compaction amortizes the rewrite).
"""

from __future__ import annotations

import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ic_spark.compaction.manifest import ManifestTable
from ic_spark.compaction.request import (
    SYS_HIDDEN_FILE_PATH,
    SYS_HIDDEN_POS,
    FileContent,
)


def infer_read_schema(spark: SparkSession, tasks: list) -> "StructType":
    """Schema of a task list, format-aware: prefer a parquet footer
    (one metadata read); avro falls back to the embedded writer schema,
    orc to Spark's reader."""
    pq = next(
        (
            t
            for t in tasks
            if (getattr(t, "file_format", "parquet") or "parquet") == "parquet"
        ),
        None,
    )
    if pq is not None:
        return spark.read.parquet(pq.data_file_path).schema
    t0 = tasks[0]
    if t0.file_format == "avro":
        from ic_spark.sources.avro_scan import avro_to_spark_schema, read_header

        return avro_to_spark_schema(read_header(t0.data_file_path))
    if t0.file_format == "orc":
        return spark.read.orc(t0.data_file_path).schema
    raise ValueError(f"cannot infer schema for format {t0.file_format!r}")


def _evolved_scan_args(table) -> dict:
    """Schema / name-mapping / schema-history kwargs for scans over
    schema-tracking tables so delete writers resolve renamed/widened/
    added/dropped columns exactly like reads do (tables without a
    registered schema scan with footer schemas)."""
    s = table.schema()
    if s is None:
        return {}
    return {
        "schema": s,
        "name_mapping": table.name_mapping(),
        "schema_history": table.schema_history(),
    }


def _write_single_file(df: DataFrame, dir_path: str, mfs=None) -> str:
    """Spark writes the file (Hadoop layer, any configured store); the
    LISTING goes through the table's metadata seam when given — plain
    os.listdir on an object-store dir spelling finds nothing."""
    df.coalesce(1).write.mode("overwrite").parquet(dir_path)
    names = mfs.listdir(dir_path) if mfs is not None else os.listdir(dir_path)
    files = [f for f in names if f.endswith(".parquet")]
    assert len(files) == 1
    return os.path.join(dir_path, files[0])


def write_position_deletes(
    spark: SparkSession,
    table: ManifestTable,
    predicate: Column,
) -> int:
    """DELETE WHERE predicate, merge-on-read style.

    Scans current data files with metadata columns, evaluates the
    predicate, and writes the matching row positions as a
    position-delete file.  Returns the new snapshot id.

    The scan reads only columns the predicate needs plus metadata —
    Catalyst prunes the rest, so a delete touching 0.1% of rows costs a
    filtered scan + a tiny write, not a table rewrite.
    """
    data, _, _ = table.scan_tasks()
    if not data:
        raise ValueError("table has no data files")
    # Format-aware scan (parquet metadata columns / avro decode-order
    # positions) — mixed-format tables delete correctly; evolved spec
    # tables resolve under their current schema.
    from ic_spark.compaction.planner import _scan_with_hidden_cols

    df = _scan_with_hidden_cols(
        spark, data, with_pos=True, **_evolved_scan_args(table)
    )
    # Spec column names (Iceberg "Position Delete Files": file_path,
    # pos) — files written here are readable by real Iceberg readers;
    # our scans accept both flavors (planner.scan_position_delete_rows).
    matches = df.where(predicate).select(
        F.col(SYS_HIDDEN_FILE_PATH).alias("file_path"),
        F.col(SYS_HIDDEN_POS).alias("pos"),
    )
    from ic_spark.compaction.metafs import table_mfs

    mfs = table_mfs(table)
    out_dir = os.path.join(table.root, f"pos-del-{uuid.uuid4().hex[:12]}")
    path = _write_single_file(matches, out_dir, mfs)
    from ic_spark.compaction.writer import _stats_from_footer

    if _stats_from_footer(mfs.within(path), out_dir, filesystem=mfs.fs)[0] == 0:
        # No row matched: committing a 0-row delete file would burn a
        # sequence number and make every future MoR read anti-join an
        # empty file forever — raise, matching the DV flavors'
        # "predicate matched no rows" contract.
        mfs.delete_dir(out_dir)
        raise ValueError("predicate matched no rows")
    seq = table.next_sequence_number()
    return table.append_snapshot(
        [
            {
                "path": path,
                "sequence_number": seq,
                "content": FileContent.POSITION_DELETES.name,
                "file_size_in_bytes": mfs.size(path),
            }
        ]
    )


def write_deletion_vectors(
    spark: SparkSession,
    table: ManifestTable,
    predicate: Column,
    distributed: bool = False,
) -> int:
    """DELETE WHERE predicate as Iceberg-v3-style deletion VECTORS.

    Same scan as :func:`write_position_deletes`, but matching positions
    are packed into one roaring bitmap per data file (executor-side
    ``applyInPandas`` — the driver only ever sees COMPRESSED bitmaps,
    a few MB per 100M deleted rows) and stored as ``deletion-vector-v1``
    blobs in one Puffin file (sources/puffin.py).

    V3 semantics: at most one DV per data file.  Existing DVs for the
    affected data files are UNIONED into the new blobs, and every blob
    of a superseded puffin file that references an unaffected data file
    is carried forward, so the commit (one atomic swap) preserves the
    one-DV-per-file invariant at file granularity.  Plain parquet
    position-delete files are left alone — reads union both flavors.

    Returns the new snapshot id.
    """
    from ic_spark.compaction.planner import _scan_with_hidden_cols

    data, _pos, _eq = table.scan_tasks()
    if not data:
        raise ValueError("table has no data files")
    df = _scan_with_hidden_cols(
        spark, data, with_pos=True, **_evolved_scan_args(table)
    )
    matches = df.where(predicate).select(
        F.col(SYS_HIDDEN_FILE_PATH).alias("file_path"),
        F.col(SYS_HIDDEN_POS).alias("pos"),
    )
    # distributed=True streams blobs through executor-written puffin
    # files (commit_deletion_vectors_distributed) — for deletes
    # touching many data files; the default keeps the single-file
    # driver-side layout.
    if distributed:
        return commit_deletion_vectors_distributed(spark, table, matches)
    return commit_deletion_vectors(spark, table, matches)


# Above this many data files in the table, commit_deletion_vectors
# auto-routes to the executor-side path: touched-file count is bounded
# by the table's file count, and a 10^6-file delete must never collect
# 10^6 blobs to the driver just because a caller took the default.
DV_DISTRIBUTED_FILE_THRESHOLD = 4096


def dv_fold(
    merged: dict[str, tuple[bytes, int]], ref: str, data: bytes, card: int
) -> None:
    """Fold ONE framed DV blob into a per-referenced-file accumulator —
    the single implementation of the v3 one-DV-per-file merge rule
    shared by :func:`commit_deletion_vectors` and the orchestrator's
    puffin compaction, so two superseded puffin files that reference
    the same untouched data file union their blobs instead of the last
    one overwriting the first.

    The blob stays byte-opaque when the ref is new; two blobs for the
    same data file are decoded, position-unioned and re-framed."""
    from ic_spark.sources.puffin import deserialize_dv_blob, serialize_dv_blob

    if ref in merged:
        union = sorted(
            set(deserialize_dv_blob(merged[ref][0]))
            | set(deserialize_dv_blob(data))
        )
        merged[ref] = (serialize_dv_blob(union), len(union))
    else:
        merged[ref] = (data, card)


def dv_blobs(merged: dict[str, tuple[bytes, int]]) -> list:
    """Accumulated per-ref (blob, cardinality) map → deterministic
    (ref-sorted) PuffinBlob list ready for ``write_puffin``."""
    from ic_spark.sources.puffin import DV_BLOB_TYPE, PuffinBlob

    return [
        PuffinBlob(
            type=DV_BLOB_TYPE,
            data=blob,
            properties={
                "referenced-data-file": ref,
                "cardinality": str(card),
            },
        )
        for ref, (blob, card) in sorted(merged.items())
    ]


def dv_manifest_entry(
    out_path: str, sequence_number: int, blobs: list, file_size: int | None = None
) -> dict:
    """Manifest entry for one written puffin file: v3 per-vector
    addressing (referenced file → offset/length/cardinality) plus the
    file-level stats both commit paths spell identically.  ``blobs``
    must already be written (offsets/lengths populated).  ``file_size``
    lets seam-routed callers supply the connector-read size (the local
    ``getsize`` fallback keeps the pre-seam callers byte-identical)."""
    return {
        "path": out_path,
        "sequence_number": sequence_number,
        "content": FileContent.POSITION_DELETES.name,
        "file_format": "puffin",
        "file_size_in_bytes": (
            os.path.getsize(out_path) if file_size is None else file_size
        ),
        "record_count": sum(
            int(b.properties["cardinality"]) for b in blobs
        ),
        "deletion_vectors": {
            b.properties["referenced-data-file"]: {
                "offset": b.offset,
                "length": b.length,
                "cardinality": int(b.properties["cardinality"]),
            }
            for b in blobs
        },
    }


def commit_deletion_vectors(
    spark: SparkSession,
    table: ManifestTable,
    matches: DataFrame,
    extra_removed: set[str] | None = None,
    tag: str | None = None,
    distributed_threshold: int | None = None,
) -> int:
    """Pack a (file_path, pos) DataFrame into DV blobs and commit.

    Shared tail of :func:`write_deletion_vectors` and the orchestrator's
    parquet→DV conversion: per-file bitmaps are built executor-side,
    existing puffin DVs for the same data files are superseded by
    union, and one atomic commit adds the new puffin entry while
    removing superseded puffin files plus ``extra_removed`` paths.

    Routing: tables with more than ``distributed_threshold`` data files
    delegate to :func:`commit_deletion_vectors_distributed` (pinned to
    produce byte-identical per-ref bitmaps), so the per-file blob
    collect below is only ever run at driver-safe file counts.  The
    table's file count bounds the touched-file count and is free to
    read from the already-planned scan, so routing costs no Spark job.
    """
    from ic_spark.sources.puffin import (
        DV_BLOB_TYPE,
        read_puffin,
        serialize_dv_blob,
        write_puffin,
    )

    if distributed_threshold is None:
        distributed_threshold = DV_DISTRIBUTED_FILE_THRESHOLD
    data_tasks, pos, _eq2 = table.scan_tasks()
    if len(data_tasks) > distributed_threshold:
        return commit_deletion_vectors_distributed(
            spark, table, matches, extra_removed=extra_removed, tag=tag
        )

    def pack(pdf):
        import pandas as pd

        fp = pdf["file_path"].iloc[0]
        positions = pdf["pos"].tolist()
        return pd.DataFrame(
            {
                "file_path": [fp],
                "dv": [serialize_dv_blob(positions)],
                "cardinality": [len(set(positions))],
            }
        )

    packed = matches.groupBy("file_path").applyInPandas(
        pack, schema="file_path string, dv binary, cardinality long"
    )
    # (ref -> framed blob bytes, cardinality).  Bitmaps stay OPAQUE
    # unless an existing DV for the same file forces a union.
    merged: dict[str, tuple[bytes, int]] = {
        r.file_path: (bytes(r.dv), r.cardinality) for r in packed.collect()
    }
    if not merged:
        raise ValueError("predicate matched no rows")

    # Every puffin byte (supersede reads, the fresh-dir probe, the
    # write, the size) through the table's metadata seam: on a remote
    # root a local open()/os.path.exists would write a LOCAL directory
    # literally named "s3:/..." — the data-loss class local_write_path
    # gates for the avro/orc writers.
    from ic_spark.compaction.metafs import table_mfs

    mfs = table_mfs(table)
    # Existing blobs may reference their data file under a scan
    # spelling; fold each onto the manifest spelling the new bitmaps
    # carry, so one data file never ends up with two vectors.
    from ic_spark.compaction.planner import FileLookup

    paths = FileLookup(data_tasks).paths

    def ref_of(b) -> str:
        ref = b.properties.get("referenced-data-file", "")
        return paths.get(ref, ref)

    superseded: set[str] = set()
    for t in pos:
        if t.file_format != "puffin":
            continue
        existing = [
            b
            for b in read_puffin(mfs.read_bytes(t.data_file_path))
            if b.type == DV_BLOB_TYPE
        ]
        refs = {ref_of(b) for b in existing}
        if not refs & merged.keys():
            continue  # untouched puffin file stays as-is
        superseded.add(t.data_file_path)
        for b in existing:
            # dv_fold carries untouched refs byte-identical and unions
            # same-ref blobs — including two SUPERSEDED files both
            # carrying a DV for one untouched data file, which must
            # union, not last-wins-overwrite.
            dv_fold(
                merged,
                ref_of(b),
                b.data,
                int(b.properties.get("cardinality", "0")),
            )

    blobs = dv_blobs(merged)
    # A caller-supplied tag pins the output dir so streaming replays are
    # recognizable — but NEVER overwrite an existing puffin file: the
    # prior attempt may be superseded in the CURRENT snapshot yet still
    # referenced by OLDER retained snapshots, and rewriting it in place
    # would retroactively change time-travel reads.  Replays land on a
    # fresh attempt-suffixed path instead.
    base = f"dv-{tag or uuid.uuid4().hex[:12]}"
    out_path = os.path.join(table.root, base, "deletes.puffin")
    attempt = 0
    while mfs.exists(out_path):
        attempt += 1
        out_path = os.path.join(table.root, f"{base}-r{attempt}", "deletes.puffin")
    # populates blob offsets/lengths
    write_puffin(mfs.within(out_path), blobs, filesystem=mfs.fs)
    seq = table.next_sequence_number()
    return table.commit_rewrite(
        [dv_manifest_entry(out_path, seq, blobs, file_size=mfs.size(out_path))],
        superseded | (extra_removed or set()),
        operation="delete",
    )


def commit_deletion_vectors_distributed(
    spark: SparkSession,
    table: ManifestTable,
    matches: DataFrame,
    extra_removed: set[str] | None = None,
    tag: str | None = None,
    num_files: int | None = None,
) -> int:
    """Executor-side deletion-vector commit — the streamed counterpart
    of :func:`commit_deletion_vectors` for deletes touching MANY data
    files.

    The driver-side path collects every per-file compressed bitmap to
    the driver (KB-scale blobs — fine at file granularity, driver
    pressure when a delete touches 10^6 files).  Here the driver only
    ever sees MANIFEST rows:

    - positions pack into per-file bitmaps executor-side (same
      ``applyInPandas`` kernel);
    - existing puffin DV blobs are expanded executor-side (binaryFile
      scan), unioned with new bitmaps per referenced file, and
      untouched blobs of superseded puffins carried forward —
      byte-identical per-ref bitmaps to the driver-side path (same
      ``serialize_dv_blob`` over the same position sets);
    - each output partition writes ONE puffin file holding its blobs;
      executors emit (path, ref, offset, length, cardinality,
      file_size) rows, and the driver's only reduction is grouping
      those rows into manifest entries — O(touched files) metadata,
      zero blob bytes.

    Table state after the commit is equivalent to the driver-side
    path's: the same referenced-file → bitmap mapping (pinned
    byte-identical in tests) under the same one-DV-per-file invariant,
    distributed over ``num_files`` puffin files (default: the session's
    parallelism) instead of one.
    """
    data, pos, _eq = table.scan_tasks()
    puffin_paths = sorted(
        t.data_file_path for t in pos if t.file_format == "puffin"
    )

    def pack(pdf):
        import pandas as pd

        from ic_spark.sources.puffin import serialize_dv_blob

        fp = pdf["file_path"].iloc[0]
        positions = pdf["pos"].tolist()
        return pd.DataFrame(
            {
                "ref": [fp],
                "dv": [serialize_dv_blob(positions)],
                "cardinality": [len(set(positions))],
                "src": ["new"],
            }
        )

    row_schema = "ref string, dv binary, cardinality long, src string"
    # Persisted: `packed` is the FULL predicate scan + bitmap packing and
    # `inv` the binaryFile expansion of every existing puffin; both are
    # consumed by two jobs (the sup_paths probe collect and the final
    # merge/write pipeline) — without the persist the expensive work runs
    # end-to-end twice.
    packed = (
        matches.groupBy("file_path")
        .applyInPandas(pack, schema=row_schema)
        .persist()
    )

    if puffin_paths:

        def expand_existing(batches):
            import pandas as pd

            from ic_spark.sources.puffin import DV_BLOB_TYPE, read_puffin

            for pdf in batches:
                for path, content in zip(pdf["path"], pdf["content"]):
                    for b in read_puffin(bytes(content)):
                        if b.type != DV_BLOB_TYPE:
                            continue
                        yield pd.DataFrame(
                            {
                                "puffin_path": [str(path)],
                                "ref": [
                                    b.properties.get("referenced-data-file", "")
                                ],
                                "dv": [b.data],
                                "cardinality": [
                                    int(b.properties.get("cardinality", "0"))
                                ],
                            }
                        )

        inv = (
            spark.read.format("binaryFile")
            .load(puffin_paths)
            .select("path", "content")
            .mapInPandas(
                expand_existing,
                schema="puffin_path string, ref string, dv binary, cardinality long",
            )
        )
        # binaryFile yields file:-prefixed URIs; manifests store plain
        # paths — normalize before comparing.  Blob refs fold onto the
        # manifest spelling the new bitmaps carry (one vector per file).
        from ic_spark.compaction.planner import FileLookup

        plain = F.regexp_replace(F.col("puffin_path"), "^file:", "")
        ref = FileLookup(data).canonical(F.col("ref"))
        inv = inv.withColumn("puffin_path", plain).withColumn("ref", ref).persist()
        sup_paths = {
            r.puffin_path
            for r in inv.join(
                packed.select("ref"), on="ref", how="left_semi"
            )
            .select("puffin_path")
            .distinct()
            .collect()  # puffin file PATHS only — metadata-scale
        }
        if sup_paths:
            old_rows = inv.where(
                F.col("puffin_path").isin(sorted(sup_paths))
            ).select("ref", "dv", "cardinality", F.lit("old").alias("src"))
            rows = packed.unionByName(old_rows)
        else:
            rows = packed
    else:
        sup_paths = set()
        rows = packed

    def merge_ref(pdf):
        import pandas as pd

        from ic_spark.sources.puffin import (
            deserialize_dv_blob,
            serialize_dv_blob,
        )

        ref = pdf["ref"].iloc[0]
        if len(pdf) == 1:
            row = pdf.iloc[0]
            return pd.DataFrame(
                {
                    "ref": [ref],
                    "dv": [bytes(row["dv"])],
                    "cardinality": [int(row["cardinality"])],
                }
            )
        union: set[int] = set()
        for blob in pdf["dv"]:
            union.update(deserialize_dv_blob(bytes(blob)))
        ordered = sorted(union)
        return pd.DataFrame(
            {
                "ref": [ref],
                "dv": [serialize_dv_blob(ordered)],
                "cardinality": [len(ordered)],
            }
        )

    merged = rows.groupBy("ref").applyInPandas(
        merge_ref, schema="ref string, dv binary, cardinality long"
    )

    # Replay-safe fresh output dir (same contract as the driver path),
    # probed/created through the table's metadata seam; the executors
    # get the PICKLED connector + within-FS dir so puffin bytes land on
    # the object store, never a local dir named "s3:/...".
    from ic_spark.compaction.metafs import table_mfs

    mfs = table_mfs(table)
    base = f"dv-{tag or uuid.uuid4().hex[:12]}"
    out_dir = os.path.join(table.root, base)
    attempt = 0
    while mfs.exists(out_dir):
        attempt += 1
        out_dir = os.path.join(table.root, f"{base}-r{attempt}")
    mfs.makedirs(out_dir)
    out_fs, out_fs_dir = mfs.fs, mfs.within(out_dir)

    n_files = num_files or spark.sparkContext.defaultParallelism

    def write_partition(batches):
        import pandas as pd
        from pyspark import TaskContext

        from ic_spark.sources.puffin import DV_BLOB_TYPE, PuffinBlob, write_puffin

        rows = []
        for pdf in batches:
            for _, r in pdf.iterrows():
                rows.append((r["ref"], bytes(r["dv"]), int(r["cardinality"])))
        if not rows:
            return
        rows.sort()
        pid = TaskContext.get().partitionId()
        name = f"part-{pid:05d}.puffin"
        # manifest rows carry the CALLER spelling; IO uses the seam's
        path = os.path.join(out_dir, name)
        blobs = [
            PuffinBlob(
                type=DV_BLOB_TYPE,
                data=dv,
                properties={
                    "referenced-data-file": ref,
                    "cardinality": str(card),
                },
            )
            for ref, dv, card in rows
        ]
        if out_fs is None:
            write_puffin(path, blobs)  # populates offsets/lengths
            size = os.path.getsize(path)
        else:
            fs_path = out_fs_dir.rstrip("/") + "/" + name
            write_puffin(fs_path, blobs, filesystem=out_fs)
            size = out_fs.get_file_info([fs_path])[0].size
        yield pd.DataFrame(
            {
                "path": [path] * len(blobs),
                "ref": [b.properties["referenced-data-file"] for b in blobs],
                "offset": [b.offset for b in blobs],
                "length": [b.length for b in blobs],
                "cardinality": [
                    int(b.properties["cardinality"]) for b in blobs
                ],
                "file_size": [size] * len(blobs),
            }
        )

    try:
        manifest_rows = (
            merged.repartition(n_files, "ref")
            .mapInPandas(
                write_partition,
                schema="path string, ref string, offset long, length long, "
                "cardinality long, file_size long",
            )
            .collect()  # O(touched files) metadata rows — never blob bytes
        )
    finally:
        packed.unpersist()
        if puffin_paths:
            inv.unpersist()
    if not manifest_rows:
        raise ValueError("predicate matched no rows")

    by_file: dict[str, list] = {}
    for r in manifest_rows:
        by_file.setdefault(r.path, []).append(r)
    seq = table.next_sequence_number()
    entries = []
    for path in sorted(by_file):
        rows_ = by_file[path]
        entries.append(
            {
                "path": path,
                "sequence_number": seq,
                "content": FileContent.POSITION_DELETES.name,
                "file_format": "puffin",
                "file_size_in_bytes": rows_[0].file_size,
                "record_count": sum(r.cardinality for r in rows_),
                "deletion_vectors": {
                    r.ref: {
                        "offset": r.offset,
                        "length": r.length,
                        "cardinality": r.cardinality,
                    }
                    for r in rows_
                },
            }
        )
    return table.commit_rewrite(
        entries, sup_paths | (extra_removed or set()), operation="delete"
    )


def write_equality_deletes(
    spark: SparkSession,
    table: ManifestTable,
    keys: DataFrame,
    equality_ids: list[str],
) -> int:
    """DELETE by key-set: rows matching any key row on ``equality_ids``
    become invisible for data with OLDER sequence numbers (strict `<` —
    rows written at/after this delete's sequence survive, reference
    :300-304).  Returns the new snapshot id."""
    missing = [c for c in equality_ids if c not in keys.columns]
    if missing:
        raise ValueError(f"key DataFrame missing equality columns: {missing}")
    from ic_spark.compaction.metafs import table_mfs

    mfs = table_mfs(table)
    out_dir = os.path.join(table.root, f"eq-del-{uuid.uuid4().hex[:12]}")
    path = _write_single_file(
        keys.select(*equality_ids).distinct(), out_dir, mfs
    )
    seq = table.next_sequence_number()
    return table.append_snapshot(
        [
            {
                "path": path,
                "sequence_number": seq,
                "content": FileContent.EQUALITY_DELETES.name,
                "equality_ids": list(equality_ids),
                "file_size_in_bytes": mfs.size(path),
            }
        ]
    )


def merge_upsert(
    spark: SparkSession,
    table: ManifestTable,
    source: DataFrame,
    key_cols: list[str],
    batch_tag: str | None = None,
) -> int:
    """MERGE/upsert write — the Iceberg v2 upsert pattern (what Flink's
    upsert sink commits per checkpoint): ONE snapshot containing the
    batch's data files plus an equality-delete file on ``key_cols`` at
    the SAME sequence number.

    The strict ``<`` sequence guard in ``apply_equality_deletes``
    (reference datafusion_processor.rs:300-304) makes the delete hide
    only OLDER rows with those keys, so the batch's own rows survive:
    matched keys are replaced, unmatched keys are plain inserts.  Cost
    is O(batch) — a table-sized rewrite never happens; compaction
    amortizes delete application later.

    Rows within one batch must be key-unique (same contract as a keyed
    upsert stream); duplicates share the batch's sequence number and
    would ALL survive.  Returns the new snapshot id.

    ``batch_tag`` pins the output directories to a deterministic name
    (streaming replays overwrite the same half-written dir instead of
    leaking a new one); callers own the committed-already check.
    """
    missing = [c for c in key_cols if c not in source.columns]
    if missing:
        raise ValueError(f"source missing key columns: {missing}")
    seq = table.next_sequence_number()
    batch = batch_tag or uuid.uuid4().hex[:12]
    data_dir = os.path.join(table.root, f"upsert-data-{batch}")
    source.write.mode("overwrite").parquet(data_dir)
    from ic_spark.compaction.metafs import table_mfs
    from ic_spark.compaction.writer import _stats_from_footer

    mfs = table_mfs(table)
    entries = []
    for name in mfs.listdir(data_dir):
        if not name.endswith(".parquet"):
            continue
        p = os.path.join(data_dir, name)
        record_count, column_stats, _ = _stats_from_footer(
            mfs.within(p), data_dir, filesystem=mfs.fs
        )
        entries.append(
            {
                "path": p,
                "sequence_number": seq,
                "content": FileContent.DATA.name,
                "file_size_in_bytes": mfs.size(p),
                # Footer stats → manifest: upserted files are
                # file-skippable by later stat-filtered scans.
                "record_count": record_count,
                "column_stats": column_stats,
            }
        )
    if not entries:
        raise ValueError("source wrote no data files (empty batch?)")
    # Keys come from a column-pruned scan of the files just written —
    # one cheap columnar pass, not a second execution of the source plan.
    keys = spark.read.parquet(data_dir).select(*key_cols).distinct()
    eq_path = _write_single_file(
        keys, os.path.join(table.root, f"eq-del-{batch}"), mfs
    )
    entries.append(
        {
            "path": eq_path,
            "sequence_number": seq,
            "content": FileContent.EQUALITY_DELETES.name,
            "equality_ids": list(key_cols),
            "file_size_in_bytes": mfs.size(eq_path),
        }
    )
    return table.append_snapshot(entries)


def read_table(
    spark: SparkSession,
    table: ManifestTable,
    schema=None,
    snapshot_id: int | None = None,
    ref: str | None = None,
    as_of_timestamp_ms: int | None = None,
    where: list[tuple] | None = None,
    with_lineage: bool = False,
) -> DataFrame:
    """Merge-on-read SELECT over a snapshot (current by default; pass
    ``snapshot_id`` for time travel, ``ref`` for a named tag, or
    ``as_of_timestamp_ms`` for TIMESTAMP AS OF — the last snapshot
    committed at or before that wall-clock instant): data files minus
    all applicable deletes — the read path every query against a MoR
    table uses (compaction is the same plan + a write).

    ``where`` is a conjunction of ``(col, op, value)`` triples (op in
    ``= < <= > >=``) applied TWICE: at planning time against manifest
    column stats (file skipping — unmatched files never enter the scan)
    and as a Spark row filter (pushed to the parquet reader for the
    files that survive).  Returns an empty DataFrame of the table
    schema when every data file is pruned.

    ``with_lineage=True`` (row-lineage tables only) appends the Iceberg
    v3 ``_row_id`` and ``_last_updated_sequence_number`` metadata
    columns: first_row_id + position for plain files, the materialized
    physical columns for compaction outputs."""
    from ic_spark.compaction.planner import build_merge_on_read
    from ic_spark.compaction.request import RewriteFilesRequest

    if sum(x is not None for x in (snapshot_id, ref, as_of_timestamp_ms)) > 1:
        raise ValueError("pass at most one of snapshot_id, ref, as_of_timestamp_ms")
    if ref is not None:
        snapshot_id = table.resolve_ref(ref)
    elif as_of_timestamp_ms is not None:
        snapshot_id = table.snapshot_id_as_of(as_of_timestamp_ms)
    data, pos, eq = table.scan_tasks(snapshot_id, data_filter=where)
    # Schema-tracking tables know their CURRENT schema (evolution:
    # renames resolve via name-mapping or field-id history, widenings
    # read wide, added columns null-fill, dropped-then-re-added columns
    # never resurrect) — file footers only describe the schema files
    # were WRITTEN with.
    # VERSION AS OF projects under the schema the SNAPSHOT was committed
    # with (spec time-travel rule) where the flavor records one.
    name_mapping = None
    schema_history = None
    if schema is None:
        schema = table.schema(snapshot_id)
        if schema is not None:
            name_mapping = table.name_mapping(snapshot_id)
            schema_history = table.schema_history(snapshot_id)
    if not data:
        if where:
            all_data, _, _ = table.scan_tasks(snapshot_id)
            if all_data:  # pruned to nothing, not an empty table
                if schema is None:
                    schema = infer_read_schema(spark, all_data)
                # The empty frame must carry the SAME schema contract
                # as a non-empty read: lineage metadata stripped from
                # inferred schemas, appended when with_lineage asked —
                # a schema that flips with the filter's selectivity
                # crashes downstream unions.
                from ic_spark.compaction.planner import (
                    lineage_scan_schema,
                    strip_lineage_fields,
                )

                if table.row_lineage:
                    schema = strip_lineage_fields(schema)
                if with_lineage:
                    schema = lineage_scan_schema(schema)
                return spark.createDataFrame([], schema)
        raise ValueError("table has no data files")
    if schema is None:
        schema = infer_read_schema(spark, data)
    if table.row_lineage:
        # Materialized lineage columns in compacted footers are
        # METADATA, not user columns — inferred schemas must not
        # surface them (with_lineage appends them deliberately).
        from ic_spark.compaction.planner import strip_lineage_fields

        schema = strip_lineage_fields(schema)
    request = RewriteFilesRequest(
        schema=schema,
        data_files=data,
        position_delete_files=pos,
        equality_delete_files=eq,
        name_mapping=name_mapping,
        schema_history=schema_history,
    )
    lineage = None
    if with_lineage:
        if not table.row_lineage:
            raise ValueError("with_lineage requires enable_row_lineage()")
        lineage = {t.data_file_path: t.first_row_id for t in data}
    out = build_merge_on_read(spark, request, lineage=lineage)
    if where:
        import operator

        ops = {
            "=": operator.eq,
            "<": operator.lt,
            "<=": operator.le,
            ">": operator.gt,
            ">=": operator.ge,
        }
        for col, op, value in where:
            out = out.where(ops[op](F.col(col), F.lit(value)))
    return out


def read_incremental(
    spark: SparkSession,
    table: ManifestTable,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    schema=None,
    with_lineage: bool = False,
) -> DataFrame:
    """Rows APPENDED between two snapshots (exclusive..inclusive) — the
    CDC-style incremental consumer: scan only the files added in the
    range, never re-reading history.  Rejects ranges containing
    rewrites or new deletes (see ``ManifestTable.incremental_tasks``).
    Returns an empty DataFrame of the table schema when nothing was
    appended.

    ``with_lineage=True`` (row-lineage tables) appends ``_row_id`` /
    ``_last_updated_sequence_number`` — the durable row identity an
    incremental consumer should key downstream state on."""
    from ic_spark.compaction.planner import build_merge_on_read
    from ic_spark.compaction.request import (
        LAST_UPDATED_SEQ_COL,
        ROW_ID_COL,
        RewriteFilesRequest,
    )

    if with_lineage and not table.row_lineage:
        raise ValueError("with_lineage requires enable_row_lineage()")
    added = table.incremental_tasks(from_snapshot_id, to_snapshot_id)
    if not added:
        if schema is None:
            data, _, _ = table.scan_tasks()
            if not data:
                raise ValueError("empty table and no schema given")
            schema = infer_read_schema(spark, data)
        if with_lineage:
            from ic_spark.compaction.planner import lineage_scan_schema

            schema = lineage_scan_schema(schema)
        return spark.createDataFrame([], schema)
    if schema is None:
        schema = infer_read_schema(spark, added)
    lineage = (
        {t.data_file_path: t.first_row_id for t in added}
        if with_lineage
        else None
    )
    return build_merge_on_read(
        spark,
        RewriteFilesRequest(schema=schema, data_files=added),
        lineage=lineage,
    )


def register_mor_view(
    spark: SparkSession,
    table: ManifestTable,
    name: str,
    snapshot_id: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Expose a MoR table to SQL: registers ``read_table``'s lazy plan
    as a temp view so ``spark.sql(f"SELECT ... FROM {name}")`` works —
    the full query surface (joins, windows, aggregations) over
    merge-on-read data with deletes applied.

    The view captures the snapshot AS OF registration (the manifest is
    read at plan-build time); re-register after new commits to see
    them.  Catalyst still prunes columns and pushes filters through the
    view into the underlying parquet scans.
    """
    df = read_table(spark, table, snapshot_id=snapshot_id, ref=ref)
    df.createOrReplaceTempView(name)
    return df
