"""Structured Streaming ingest into a ``ManifestTable``.

The streaming write path of a lakehouse table: each micro-batch lands
as parquet files in a batch-scoped directory, then an ``append_snapshot``
commit makes them visible atomically — readers (``read_table``,
``read_incremental``) see whole batches or nothing.

Exactly-once without a sidecar log: the output directory is derived
from the batch id, and the MANIFEST is the commit log.  When Spark
replays a batch after a failure (foreachBatch is at-least-once), the
sink sees the batch's files already committed and skips — the
rewrite-then-commit idempotence pattern every table-format streaming
sink (Iceberg/Delta) uses.

At scale the per-batch write is a normal distributed parquet write
(one file per partition of the micro-batch); only the file LIST touches
the driver, matching the manifest design.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ic_spark.compaction.manifest import ManifestTable


def _live_paths(table) -> set[str]:
    """Live file paths of the current snapshot — the replay-commit log."""
    data, pos, eq = table.scan_tasks()
    return {t.data_file_path for t in data + pos + eq}


def _committed(
    table, marker: str, name: str | None = None, batch_id: int | None = None
) -> bool:
    """Has this batch already committed?  Two signals, either suffices:

    - the durable per-sink batch ledger (``stream_batch_hwm``) — batch
      ids commit sequentially per checkpoint, so id <= HWM means
      committed.  This is the signal that SURVIVES table maintenance:
      a compaction between a batch's commit and its crash-replay
      rewrites the batch's files, erasing the path marker below, and
      without the ledger the replay would re-commit the batch
      (double-counted rows);
    - the batch-scoped path marker in the live snapshot, which covers
      batches committed before the ledger recorded them, and the narrow
      window of non-append sinks that mark after their commit.

    Like the path markers, the ledger is keyed by sink ``name``: a NEW
    streaming query (fresh checkpoint, batch ids restarting at 0) that
    writes the same table must use a distinct name.
    """
    if name is not None and batch_id is not None:
        if batch_id <= table.stream_batch_hwm(name):
            return True
    return any(p.startswith(marker) for p in _live_paths(table))


def manifest_append_sink(table: ManifestTable, name: str = "stream"):
    """Build a ``foreachBatch`` callable appending each micro-batch to
    ``table``::

        q = (df.writeStream.outputMode("append")
               .foreachBatch(manifest_append_sink(tbl))
               .option("checkpointLocation", ckpt).start())

    Batches commit in order; replays of an already-committed batch id
    are no-ops (idempotent against foreachBatch's at-least-once).
    """

    def write_batch(df: DataFrame, batch_id: int) -> None:
        out_dir = os.path.join(table.root, f"{name}-batch-{batch_id:08d}")
        marker = out_dir + os.sep
        if _committed(table, marker, name, batch_id):
            return  # replayed batch, already committed
        df.write.mode("overwrite").parquet(out_dir)
        # listing + sizes through the table's metadata seam: plain
        # os.listdir on an object-store dir spelling finds nothing
        from ic_spark.compaction.metafs import table_mfs
        from ic_spark.compaction.writer import _stats_from_footer, drop_empty_parts

        mfs = table_mfs(table)
        parts = sorted(
            os.path.join(out_dir, f)
            for f in mfs.listdir(out_dir)
            if f.endswith(".parquet")
        )
        if not parts:  # empty micro-batch
            return
        # The footer's count goes into the manifest (COUNT(*) answers
        # from it).
        entries = [
            {
                "path": p,
                "content": "DATA",
                "record_count": _stats_from_footer(
                    mfs.within(p), out_dir, filesystem=mfs.fs
                )[0],
                "file_size_in_bytes": mfs.size(p),
            }
            for p in parts
        ]
        kept = drop_empty_parts(mfs, entries)
        seq = table.next_sequence_number()
        for e in kept:
            e["sequence_number"] = seq
        # The batch id lands in the ledger in the SAME atomic commit.
        table.append_snapshot(kept, stream_mark=(name, batch_id))

    return write_batch


def manifest_upsert_sink(
    table: ManifestTable, key_cols: list[str], name: str = "upsert"
):
    """Build a ``foreachBatch`` callable UPSERTING each micro-batch into
    ``table`` by key — the continuous-CDC ingest pattern (Flink's
    upsert sink writing Iceberg v2)::

        q = (changes.writeStream.outputMode("update")
               .foreachBatch(manifest_upsert_sink(tbl, ["id"]))
               .option("checkpointLocation", ckpt).start())

    Each batch commits ONE snapshot holding its data files plus an
    equality-delete file on ``key_cols`` at the same sequence number
    (``merge_upsert``), so later batches' rows replace earlier rows
    with the same key while the batch's own rows survive the delete.
    Replays of a committed batch id are no-ops: the batch-id-derived
    directory already appears in the manifest, which is the commit log.
    """
    from ic_spark.compaction.deletes import merge_upsert

    def write_batch(df: DataFrame, batch_id: int) -> None:
        tag = f"{name}-{batch_id:08d}"
        marker = os.path.join(table.root, f"upsert-data-{tag}") + os.sep
        if _committed(table, marker, name, batch_id):
            return  # replayed batch, already committed
        if df.isEmpty():
            return
        merge_upsert(df.sparkSession, table, df, key_cols, batch_tag=tag)
        # Post-commit ledger mark (merge_upsert owns its commit): the
        # window between the two writes is covered by the path marker;
        # only a compaction racing INTO that window could erase it.
        table.mark_stream_batch(name, batch_id)

    return write_batch


def manifest_dedup_append_sink(
    table: ManifestTable,
    content_col: str,
    id_col: str,
    name: str = "dedup",
    normalize: bool = False,
):
    """Build a ``foreachBatch`` callable appending each micro-batch
    MINUS duplicates — the continuous-ingest dedup pipeline in one
    sink: every batch is deduped against the already-committed corpus
    (8-byte-hash anti-join; history is probed, never re-deduped) and
    within itself (min-id survivor), then committed atomically.

    Scale: the probe side projects only ``content_col`` from the
    corpus (Parquet column pruning) and reduces to distinct xxhash64
    keys before the anti-join, so per-batch cost is
    O(batch + corpus-hash-scan), never corpus x batch.  Replays of a
    committed batch id are no-ops (same manifest-as-commit-log pattern
    as ``manifest_append_sink``).
    """
    from ic_spark.compaction.deletes import read_table
    from ic_spark.operators.dedup import incremental_dedup

    append = manifest_append_sink(table, name=name)

    def write_batch(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        data, _, _ = table.scan_tasks()
        if not data:
            deduped = incremental_dedup(
                df, df.limit(0), content_col, id_col, normalize=normalize
            )
        else:
            corpus = read_table(spark, table)
            deduped = incremental_dedup(
                df, corpus, content_col, id_col, normalize=normalize
            )
        append(deduped, batch_id)

    return write_batch


def manifest_span_dedup_sink(
    doc_table: ManifestTable,
    index_table: ManifestTable,
    content_col: str,
    id_col: str,
    k: int = 8,
    min_df: int = 2,
    hash_grams: bool = True,
    spans_table: ManifestTable | None = None,
    name: str = "spans",
):
    """Build a ``foreachBatch`` callable for continuous-ingest
    repeated-substring-span dedup (the streaming shape of
    ``substring_dup_spans``): each micro-batch's spans are flagged
    against the committed corpus WITHOUT re-reading corpus text, then
    the batch lands atomically.

    Per batch: (1) read the gram INDEX (log-structured: every prior
    batch appended its (gram, doc_freq) delta; one sum merges them),
    (2) ``incremental_substring_spans`` over the batch probing index +
    its own grams → appended to ``spans_table`` (if given), (3) the
    batch's docs append to ``doc_table``, (4) the batch's own gram
    delta appends to ``index_table``.

    Exactly-once under foreachBatch's at-least-once replays: all three
    appends are batch-scoped-marker idempotent, and the COMMIT ORDER
    (spans → docs → index delta LAST) makes every crash prefix
    consistent — span computation only ever sees the index WITHOUT the
    current batch, so a replay recomputes byte-identical spans no
    matter where the previous attempt died.

    Scale: corpus text is touched exactly once (when its batch
    arrived); the per-batch probe joins the batch's distinct gram
    hashes against the compact (8-byte hash, count) index; delta
    appends are pure appends (no rewrite) — run
    :func:`compact_gram_index` periodically to bound the read-side
    merge fan-in.
    """
    from ic_spark.compaction.deletes import read_table
    from ic_spark.operators.dedup import (
        _doc_grams,
        incremental_substring_spans,
        substring_gram_index,
    )

    append_docs = manifest_append_sink(doc_table, name=f"{name}-docs")
    append_idx = manifest_append_sink(index_table, name=f"{name}-idx")
    append_spans = (
        manifest_append_sink(spans_table, name=f"{name}-sp")
        if spans_table is not None
        else None
    )

    def write_batch(df: DataFrame, batch_id: int) -> None:
        import pyspark.sql.functions as F

        spark = df.sparkSession
        data, _, _ = index_table.scan_tasks()
        if data:
            idx = (
                read_table(spark, index_table)
                .groupBy("gram")
                .agg(F.sum("doc_freq").alias("doc_freq"))
            )
        else:
            idx = substring_gram_index(
                df.limit(0), id_col, content_col, k=k, hash_grams=hash_grams
            )
        # ONE tokenize/k-gram pass per batch: the persisted grams frame
        # feeds both the span probe and the index delta (they are
        # separate append actions, so without the persist each would
        # re-derive the grams from the batch text)
        grams = _doc_grams(df, id_col, content_col, k, hash_grams).persist()
        try:
            if append_spans is not None:
                spans = incremental_substring_spans(
                    df,
                    idx,
                    id_col,
                    content_col,
                    k=k,
                    min_df=min_df,
                    hash_grams=hash_grams,
                    _grams=grams,
                )
                append_spans(spans, batch_id)
            append_docs(df, batch_id)
            append_idx(
                substring_gram_index(
                    df, id_col, content_col, k=k, hash_grams=hash_grams,
                    _grams=grams,
                ),
                batch_id,
            )
        finally:
            grams.unpersist()

    return write_batch


def compact_gram_index(spark, table: ManifestTable) -> int | None:
    """Sum-merge the log-structured gram-index delta files into ONE
    snapshot (RewriteFiles ``replace`` — logical content unchanged),
    bounding the read-side merge fan-in after many streaming batches.
    Returns the new snapshot id, or None for an empty index."""
    import time

    import pyspark.sql.functions as F

    from ic_spark.compaction.deletes import read_table

    # Pin the snapshot BEFORE planning: a streaming delta committed
    # between the scan and the rewrite would be folded into the merged
    # file AND stay live (double-counted doc_freq).  The pinned id makes
    # commit_rewrite fail with CommitConflictError instead — retry when
    # the stream pauses.
    expected = table.current_snapshot_id()
    data, _, _ = table.scan_tasks()
    if not data:
        return None
    merged = (
        read_table(spark, table)
        .groupBy("gram")
        .agg(F.sum("doc_freq").alias("doc_freq"))
    )
    out_dir = os.path.join(table.root, f"idx-compact-{int(time.time() * 1000)}")
    merged.write.mode("overwrite").parquet(out_dir)
    from ic_spark.compaction.metafs import table_mfs
    from ic_spark.compaction.writer import _stats_from_footer

    mfs = table_mfs(table)
    parts = sorted(
        os.path.join(out_dir, f)
        for f in mfs.listdir(out_dir)
        if f.endswith(".parquet")
    )
    seq = table.next_sequence_number() - 1
    added = [
        {
            "path": p,
            "sequence_number": seq,
            "content": "DATA",
            "record_count": _stats_from_footer(
                mfs.within(p), out_dir, filesystem=mfs.fs
            )[0],
            "file_size_in_bytes": mfs.size(p),
        }
        for p in parts
    ]
    return table.commit_rewrite(
        added,
        {t.data_file_path for t in data},
        expected_snapshot_id=expected,
        operation="replace",
    )


def manifest_dv_delete_sink(
    table: ManifestTable, key_cols: list[str], name: str = "dvdel"
):
    """Build a ``foreachBatch`` callable applying CDC DELETE events as
    deletion vectors: each micro-batch of keys resolves to the exact
    (file, position) pairs currently holding those keys, packed into
    per-file roaring bitmaps and committed as one puffin entry
    superseding earlier vectors (``commit_deletion_vectors``)::

        q = (deletes.writeStream.outputMode("update")
               .foreachBatch(manifest_dv_delete_sink(tbl, ["id"]))
               .option("checkpointLocation", ckpt).start())

    This is the v3 counterpart of ``manifest_upsert_sink``'s
    equality-delete writes: instead of deferring the key join to every
    future read, the sink pays it once per batch and readers anti-join
    compact bitmaps.  The key-probe scan is column-pruned to
    ``key_cols`` + metadata.  Replays of the last batch after a crash
    re-commit a bitmap UNION — position sets are idempotent, so the
    visible rows never change.
    """
    import pyspark.sql.functions as F

    from ic_spark.compaction.deletes import commit_deletion_vectors

    def write_batch(df: DataFrame, batch_id: int) -> None:
        tag = f"{name}-{batch_id:08d}"
        # No trailing separator: a replayed-then-superseded batch
        # re-commits onto an attempt-suffixed dir (dv-<tag>-rN), which
        # must also count as committed.  Batch ids are fixed-width
        # zero-padded, so the prefix cannot collide across batches.
        marker = os.path.join(table.root, f"dv-{tag}")
        if _committed(table, marker, name, batch_id):
            return  # replayed batch, already committed
        if df.isEmpty():
            return
        spark = df.sparkSession
        data, _, _ = table.scan_tasks()
        if not data:
            return
        # Format-aware probe (parquet metadata columns / avro decode
        # positions) resolved under the table's current schema — a raw
        # parquet read would fail on avro/orc data files or mis-read
        # renamed key columns (same path write_position_deletes uses).
        from ic_spark.compaction.deletes import _evolved_scan_args
        from ic_spark.compaction.planner import _scan_with_hidden_cols
        from ic_spark.compaction.request import (
            SYS_HIDDEN_FILE_PATH,
            SYS_HIDDEN_POS,
        )

        scan = _scan_with_hidden_cols(
            spark, data, with_pos=True, **_evolved_scan_args(table)
        ).select(
            *key_cols,
            F.col(SYS_HIDDEN_FILE_PATH).alias("file_path"),
            F.col(SYS_HIDDEN_POS).alias("pos"),
        )
        matches = scan.join(
            df.select(*key_cols).distinct(), on=key_cols, how="left_semi"
        ).select("file_path", "pos")
        # Explicit empty pre-check instead of catching ValueError: the
        # commit path raises ValueError for OTHER conditions too
        # (malformed blob properties), and swallowing one of those
        # would silently drop a batch of deletes forever — the
        # checkpoint commits regardless of what this function ate.
        if matches.isEmpty():
            return  # no key matched any live row: nothing to delete
        commit_deletion_vectors(spark, table, matches, tag=tag)
        table.mark_stream_batch(name, batch_id)

    return write_batch


def ivfpq_index_append_sink(
    dir_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    use_arrow: bool = False,
    stream_id: str | None = None,
    file_io: dict | None = None,
):
    """``foreachBatch`` callable maintaining a persisted IVF-PQ ANN
    index (operators/similarity.py::build_ivf_pq_index) from a stream
    of embeddings — streaming ingest for the build/serve split::

        q = (emb.writeStream.foreachBatch(
                 ivfpq_index_append_sink(index_dir))
               .option("checkpointLocation", ckpt).start())

    Batch ids are only unique PER CHECKPOINT: if more than one
    streaming query ever feeds the same index (or a checkpoint is
    reset), pass a stable ``stream_id`` (e.g. the checkpoint dir name)
    — it prefixes the published file names and scopes the compaction
    fold ledger, so a new query's batch 0 is never mistaken for an
    old query's already-folded batch 0.

    Each micro-batch is encoded with the index's FROZEN quantizers
    (``ivf_pq_index_append`` semantics: no retrain, recall drifts only
    with the data distribution) and published into the cell-partitioned
    codes table under DETERMINISTIC file names
    (``b<batch_id>-<n>.parquet`` per cell): a replayed batch re-encodes
    the same rows and ``os.replace`` lands on the same names, so
    foreachBatch's at-least-once becomes exactly-once without a ledger.
    Before publishing, every existing ``b<batch_id>-*.parquet`` across
    ALL cell directories is removed, so a replay under a different
    shuffle width (fewer files per cell, or cells absent from the
    replay) cannot leave stale files serving duplicate neighbor rows.
    Crash-safe: the delete only runs while the batch is uncommitted in
    the checkpoint, i.e. the engine is guaranteed to replay it.

    ``file_io`` routes the publish plane — index.json read, the
    pre-delete sweep, the stage→codes renames and the stage cleanup —
    through the pyarrow fileio seam (:class:`_IndexFS`), the same
    treatment build/append/compact/serve get; local paths
    keep the ``os.replace`` fast path byte-for-byte.  The staged
    encode itself still writes through Spark's Hadoop layer (data
    plane) with the caller's ``dir_path`` spelling.
    """
    import hashlib

    from ic_spark.operators.similarity import (
        _IndexFS,
        _fold_hwm,
        _ivfpq_encode_corpus,
    )

    shash = (
        hashlib.sha1(stream_id.encode()).hexdigest()[:8] if stream_id else ""
    )

    def write_batch(df: DataFrame, batch_id: int) -> None:
        ifs = _IndexFS(dir_path, file_io)
        meta = ifs.read_json("index.json")
        if meta is None:
            raise FileNotFoundError(
                f"no index.json at {dir_path}: build_ivf_pq_index first"
            )
        if batch_id <= _fold_hwm(meta.get("folded_batches")).get(shash, -1):
            # compact_ivf_pq_index folded this batch's files into
            # part-* names; its rows are already served.  A crash-
            # replay must be a no-op, not a duplicate publish under
            # fresh b<id>-* names the pre-delete can't see.  (High-
            # water-mark semantics: batch ids commit sequentially, so
            # every id at or below the stream's max folded id is
            # folded or already committed — never a fresh publish.)
            return
        cb = _ivfpq_encode_corpus(
            df,
            meta["centroids"],
            meta["codebooks"],
            id_col,
            vec_col,
            meta["residual"],
            use_arrow,
        )
        # Scoped by the stream hash like the published file names:
        # two queries feeding one index both start at batch 0, and an
        # unscoped stage path would let one query's mode("overwrite")
        # delete the other's stage mid-publish.
        stage_name = f"_stage-batch-{shash}{batch_id:08d}"
        # Spark writes the staged encode (data plane, Hadoop layer,
        # caller spelling); everything after is seam-routed metadata.
        cb.write.mode("overwrite").partitionBy("__cell").parquet(
            os.path.join(dir_path, stage_name)
        )
        codes_name = meta.get("codes_dir", "codes")
        # Replay idempotence regardless of parallelism: clear this
        # batch's files everywhere first (a replay may produce fewer
        # files per cell, or skip cells the original wrote).
        prefix = f"b{shash}{batch_id:08d}-"
        for cell in ifs.ls(codes_name):
            if not cell.startswith("__cell="):
                continue
            for f in ifs.ls(codes_name, cell):
                if f.startswith(prefix) and f.endswith(".parquet"):
                    ifs.unlink(codes_name, cell, f)
        published = 0
        for cell in ifs.ls(stage_name):
            if not cell.startswith("__cell="):
                continue
            ifs.makedirs(codes_name, cell)
            parts = sorted(
                f for f in ifs.ls(stage_name, cell) if f.endswith(".parquet")
            )
            for i, f in enumerate(parts):
                ifs.move(
                    f"{stage_name}/{cell}/{f}",
                    f"{codes_name}/{cell}/{prefix}{i:04d}.parquet",
                )
                published += 1
        ifs.rmtree(stage_name)

    return write_batch
