"""Rewrite execution: run the MoR plan and write fresh Parquet data files.

Reference: write loop ``core/src/executor/datafusion/mod.rs:101-142``
(per-partition async writers → DataFile stats), fanout partition writer
``:176-188``.

Spark-first: ``df.write.parquet`` already writes one file per task in
parallel (the reference's tokio-task-per-stream is Spark's executor
model).  Partitioned tables use ``repartition(partition_cols)`` +
``partitionBy`` — the repartition makes each output partition owned by
few tasks, avoiding the small-files explosion a naive fanout causes at
scale.  DataFile stats (count/min/max/null per column) are read back
from the written parquet FOOTERS — a metadata-only pass, so the rewrite
plan executes exactly once regardless of data size.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from ic_spark.compaction.planner import build_merge_on_read
from ic_spark.compaction.request import (
    DataFileMeta,
    RewriteFilesRequest,
    RewriteFilesResponse,
    RewriteFilesStat,
)


def _json_safe(v):
    """Stat values must survive the JSON/proto codec: temporal, decimal
    and byte stats become strings, everything else passes through."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, bytes):
        return v.decode("utf-8", errors="replace")
    return str(v)


def _partition_values_from_path(path: str, base_dir: str) -> dict[str, str]:
    """Decode hive-style ``col=value`` segments between base_dir and file."""
    from urllib.parse import unquote

    rel = os.path.relpath(os.path.dirname(path), base_dir)
    out: dict[str, str] = {}
    for seg in rel.split(os.sep):
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = unquote(v)
    return out


def drop_empty_parts(mfs, entries: list[dict]) -> list[dict]:
    """The file ``entries`` of one Spark write without the 0-row parts
    Spark writes for empty tasks, which are unlinked: they hold nothing
    to read, and each would be one more file every scan opens.  When
    every part is empty one is kept, so the write still reads as 0
    rows."""
    kept = [e for e in entries if e["record_count"]] or entries[:1]
    for e in entries:
        if e not in kept:
            mfs.unlink(e["path"])
    return kept


def _stats_from_footer(
    path: str, base_dir: str, filesystem=None
) -> tuple[int, dict, dict]:
    """Per-file DataFile stats read from the parquet FOOTER — a pure
    metadata read, no second execution of the rewrite plan.

    The reference returns real per-file record counts and column stats
    (core/src/parser/proto.rs:404-434); Spark's parquet writer already
    wrote exactly those into the footer, so re-aggregating the input
    DataFrame (which would re-run the whole MoR join at 100 TB) is
    wasted work.  ``filesystem`` (pyarrow) reads remote footers — the
    facade's seam-routed append threads its table connector here.
    Returns (record_count, column_stats, partition_values).
    """
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path, filesystem=filesystem).metadata
    cols: dict[str, dict] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested leaf (array/map/struct) — skip like Iceberg
                continue
            entry = cols.setdefault(name, {"null_count": 0, "min": None, "max": None})
            try:
                st = col.statistics
                null_count = None if st is None else st.null_count
                has_min_max = st is not None and st.has_min_max
                # NATIVE values here (Decimal/datetime/date/...):
                # row groups must merge in the value domain — min() over
                # _json_safe strings compares '550.00' > '1600.00'
                # lexically, recording a max BELOW real rows that
                # silently skips their file at scan time.  Stringified
                # once after the merge.
                mn = st.min if has_min_max else None
                mx = st.max if has_min_max else None
            except Exception:
                # pyarrow can't deserialize stats for every logical type
                # (e.g. int32-backed decimals) — treat as absent, like
                # an Iceberg column with no recorded bounds.
                st, null_count, has_min_max, mn, mx = None, None, False, None, None
            if st is None:
                # No stats for this row group at all: both its null
                # count and its value range are unknown — bounds
                # accumulated from OTHER row groups no longer cover the
                # file, and recording them would skip it at scan time
                # like the lexical merge above.
                entry["null_count"] = None
                entry["min"] = entry["max"] = None
                entry["_nobounds"] = True
                continue
            if entry["null_count"] is not None:
                # An unset per-row-group null count poisons the total —
                # adding 0 would record a definite UNDERSTATED count
                # that IS NULL pruning would trust.
                entry["null_count"] = (
                    None
                    if null_count is None
                    else entry["null_count"] + null_count
                )
            if not has_min_max:
                # Stats present but min/max suppressed (e.g. oversized
                # string values).  Only an ALL-NULL row group leaves
                # bounds from other groups valid; anything else hides
                # real values outside them.
                if null_count is None or null_count != row_group.num_rows:
                    entry["min"] = entry["max"] = None
                    entry["_nobounds"] = True
            elif not entry.get("_nobounds"):
                try:
                    entry["min"] = (
                        mn if entry["min"] is None else min(entry["min"], mn)
                    )
                    entry["max"] = (
                        mx if entry["max"] is None else max(entry["max"], mx)
                    )
                except TypeError:
                    # incomparable row-group values: no faithful bound
                    # (sticky — a later row group must not repopulate)
                    entry["min"] = entry["max"] = None
                    entry["_nobounds"] = True
    for entry in cols.values():
        entry.pop("_nobounds", None)
        entry["min"] = _json_safe(entry["min"])
        entry["max"] = _json_safe(entry["max"])
    parts = _partition_values_from_path(path, base_dir)
    for k, v in parts.items():
        # Partition columns never reach the data pages; their value is
        # exact from the directory name.
        if v == "__HIVE_DEFAULT_PARTITION__":
            cols[k] = {"null_count": md.num_rows, "min": None, "max": None}
        else:
            cols[k] = {"null_count": 0, "min": v, "max": v}
    return md.num_rows, cols, parts


# Spark type -> Avro type for the executor-side Avro data-file writer.
# Flat types only (primitives + the temporal/decimal logical types the
# Avro spec defines); nested shapes are gated with a clear error rather
# than written approximately — the same honest-gate policy as the media
# decoders.  ORC writes go through pyarrow and carry its full type
# matrix.
_SPARK_TO_AVRO = {
    "boolean": "boolean",
    "int": "int",
    "smallint": "int",
    "tinyint": "int",
    "bigint": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "binary": "bytes",
    "date": {"type": "int", "logicalType": "date"},
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
    "timestamp_ntz": {"type": "long", "logicalType": "local-timestamp-micros"},
}


def _avro_type(dt, col: str, counter: list, nested: bool = False):
    """One Spark type → Avro schema fragment, recursing through
    array/map/struct (the container codec already encodes those — it
    writes the Iceberg manifests).  Logical types (date/timestamp/
    decimal) at top level are converted to wire integers Arrow-side
    (vectorized); INSIDE nested values the per-value fixer
    (:func:`_nested_value_fixer`) converts the decoded python leaves
    in the same ``to_pylist`` pass the container encoder already
    requires, so nested logical types cost no extra traversal."""
    import pyspark.sql.types as T

    ss = dt.simpleString()
    t = _SPARK_TO_AVRO.get(ss)
    if t is None and ss.startswith("decimal("):
        p, s = ss[8:-1].split(",")
        t = {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": int(p),
            "scale": int(s),
        }
    if t is not None:
        return t
    if isinstance(dt, T.ArrayType):
        item = _avro_type(dt.elementType, col, counter, True)
        return {
            "type": "array",
            "items": ["null", item] if dt.containsNull else item,
        }
    if isinstance(dt, T.MapType):
        if dt.keyType.simpleString() != "string":
            raise ValueError(
                f"avro maps require string keys; column {col!r} has "
                f"{dt.keyType.simpleString()} keys (use parquet or orc)"
            )
        val = _avro_type(dt.valueType, col, counter, True)
        return {
            "type": "map",
            "values": ["null", val] if dt.valueContainsNull else val,
        }
    if isinstance(dt, T.StructType):
        counter[0] += 1
        return {
            "type": "record",
            "name": f"r{counter[0]}",  # unique per schema (Avro names)
            "fields": [
                {
                    "name": sf.name,
                    "type": ["null", _avro_type(sf.dataType, col, counter, True)]
                    if sf.nullable
                    else _avro_type(sf.dataType, col, counter, True),
                }
                for sf in dt.fields
            ],
        }
    raise ValueError(
        f"avro data-file write: unsupported type {ss!r} for "
        f"column {col!r} (use parquet or orc)"
    )


def _spark_to_avro_schema(schema) -> dict:
    counter = [0]
    fields = [
        {
            "name": f.name,
            "type": ["null", _avro_type(f.dataType, f.name, counter)]
            if f.nullable
            else _avro_type(f.dataType, f.name, counter),
        }
        for f in schema.fields
    ]
    return {"type": "record", "name": "datafile", "fields": fields}


def _decimal_unscaled_bytes(v, scale: int):
    """One Decimal → Avro decimal wire form: minimal signed big-endian
    two's-complement of the unscaled value.  The scaleb runs under a
    widened context — the default 28-digit context would silently
    ROUND decimal(p>28) unscaled values (decimal128 maxes at
    precision 38, scale 38 → 76 digits; 80 covers every value)."""
    import decimal as _dec

    if v is None:
        return None
    with _dec.localcontext() as ctx:
        ctx.prec = 80
        n = int(v.scaleb(scale))
    return n.to_bytes(max(1, (n.bit_length() + 8) // 8), "big", signed=True)


def _logical_leaf_fixer(dt):
    """Wire converter for one logical-type leaf INSIDE a nested value
    (top-level columns convert Arrow-side, vectorized): Arrow
    ``to_pylist`` yields date/datetime/Decimal objects, the Avro
    container encoder takes the spec wire forms — int epoch days,
    long micros (aware datetimes measure from the UTC epoch), minimal
    big-endian two's-complement unscaled bytes."""
    import pyspark.sql.types as T

    from ic_spark.compaction.epochs import epoch_days, epoch_micros

    if isinstance(dt, T.DateType):
        return lambda v: None if v is None else epoch_days(v)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        # Aware → UTC epoch, naive → naive epoch: the shared rule in
        # compaction/epochs.py (same conversion the manifest encoder
        # and pruning use, so wire and metadata can't desynchronize).
        return lambda v: None if v is None else epoch_micros(v)
    if isinstance(dt, T.DecimalType):
        sc = dt.scale
        return lambda v: _decimal_unscaled_bytes(v, sc)
    return None


def _nested_value_fixer(dt, top: bool = True):
    """Per-value converter applied in the encoder's ``to_pylist``
    pass: map values arrive as LISTS OF (key, value) TUPLES (the Avro
    encoder takes dicts), and logical-type leaves inside containers
    arrive as date/datetime/Decimal objects (the encoder takes wire
    ints/bytes).  Returns None when the type needs no per-row work —
    top-level logical columns convert Arrow-side instead."""
    import pyspark.sql.types as T

    if isinstance(dt, T.MapType):
        vf = _nested_value_fixer(dt.valueType, top=False)

        def fix_map(v):
            if v is None:
                return None
            items = v.items() if isinstance(v, dict) else v
            return {k: (vf(x) if vf else x) for k, x in items}

        return fix_map
    if isinstance(dt, T.ArrayType):
        ef = _nested_value_fixer(dt.elementType, top=False)
        if ef is None:
            return None
        return lambda v: None if v is None else [ef(x) for x in v]
    if isinstance(dt, T.StructType):
        subs = {
            sf.name: fx
            for sf in dt.fields
            if (fx := _nested_value_fixer(sf.dataType, top=False)) is not None
        }
        if not subs:
            return None

        def fix_struct(v):
            if v is None:
                return None
            d = dict(v)
            for k, fx in subs.items():
                d[k] = fx(d.get(k))
            return d

        return fix_struct
    if not top:
        return _logical_leaf_fixer(dt)
    return None


# Exactly Hive/Spark escapePathName's character set
# (ExternalCatalogUtils: control chars \x01-\x1F and \x7F, plus the
# listed specials).  Space, '+', and non-ASCII stay RAW — so the
# avro/orc fanout spells partition directories byte-identically to
# what Spark's own parquet partitionBy writes for the same values.
_HIVE_ESCAPE = set(range(0x01, 0x20)) | {0x7F} | {
    ord(c) for c in '"#%\'*/:=?\\{[]^'
}


def _hive_segment(name: str, value) -> str:
    """One ``col=value`` path segment, Spark/Hive escaping rules."""
    if value is None:
        return f"{name}=__HIVE_DEFAULT_PARTITION__"
    escaped = "".join(
        f"%{ord(ch):02X}" if ord(ch) in _HIVE_ESCAPE else ch
        for ch in str(value)
    )
    return f"{name}={escaped}"


def _partition_groups(table, names: list[str]):
    """Split an Arrow table into per-partition-value subtables.

    Vectorized: one stable multi-key sort + adjacent-inequality
    boundary scan — no per-row Python.  Rows inside each group keep
    their incoming relative order, so an upstream
    ``sortWithinPartitions`` (Iceberg sort order / Z-order) survives
    into the per-partition files.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    idx = pc.sort_indices(
        table,
        sort_keys=[(n, "ascending") for n in names],
        null_placement="at_end",
    )
    tbl = table.take(idx)
    n = tbl.num_rows
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for c in names:
        col = tbl.column(c).combine_chunks()
        a, b = col.slice(1), col.slice(0, n - 1)
        neq = pc.not_equal(a, b)
        if pa.types.is_floating(col.type):
            # NaN != NaN would otherwise split every NaN row into its
            # own group (one file per row); NaN keys share a partition,
            # same as Spark's parquet partitionBy.
            both_nan = pc.and_kleene(pc.is_nan(a), pc.is_nan(b))
            neq = pc.and_kleene(neq, pc.invert(both_nan))
        neq = pc.fill_null(neq, False)
        nullflip = pc.xor(pc.is_null(a), pc.is_null(b))
        change[1:] |= pc.or_(neq, nullflip).to_numpy(zero_copy_only=False)
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], n)
    for s, e in zip(starts, ends):
        sub = tbl.slice(s, e - s)
        yield {c: sub.column(c)[0].as_py() for c in names}, sub


# Flush-unit memory bound for the executor-side Avro/ORC writer when
# max_records_per_file is unbounded: roll a new file once this much
# Arrow buffer has accumulated.  ~128 MiB in-memory Arrow lands near
# the parquet path's target file size after columnar compression.
_FLUSH_BYTES = 128 << 20


def _write_data_files_python(
    df,
    dir_path: str,
    fmt: str,
    max_records_per_file: int,
    compression: str | None,
    partition_names: list[str] | None = None,
    file_io: dict | None = None,
) -> list[tuple[str, int, int, dict]]:
    """Executor-side Avro/ORC data-file writer.

    ``mapInArrow`` runs once per partition of the (already
    repartitioned/sorted) writer DataFrame: each task streams its Arrow
    batches — no pandas bridge, so nullable ints stay ints, double NaN
    stays a value distinct from null, and ORC files carry the exact
    declared types — flushes a file every ``max_records_per_file`` rows
    (when unbounded, rolls a file per ``_FLUSH_BYTES`` of Arrow buffer
    so a task never holds its whole partition), computes per-column
    null_count/min/max stats VECTORIZED from the same batches it
    writes — write-time stats, zero extra jobs, exactly the guarantee
    the parquet path gets from its footers — and emits one small
    metadata row per file.  The driver collects only that metadata
    (file-count bounded).  Empty partitions emit nothing (no empty
    files).  Avro uses the repo's own container codec
    (sources/avro_io.py, the same one behind the Iceberg manifests);
    ORC uses pyarrow.orc.

    Task retries write under fresh uuid names and only the successful
    attempt's metadata is collected, so a retried task can strand an
    orphan file on disk but never a wrong entry in the table metadata
    — the standard Iceberg posture (orphans are maintenance-cleaned,
    metadata is truth).
    """
    import json as _json
    import uuid as _uuid

    from pyspark.sql.types import StructType

    # Bound at call time on the driver so the closure ships the value
    # (tests shrink it to force multi-file rolls deterministically).
    flush_bytes = _FLUSH_BYTES

    if fmt == "avro" and compression not in (None, "none", "deflate"):
        # Explicit gate, not a silent fallback: the repo's container
        # codec implements null/deflate only (avro_io.py).
        raise ValueError(
            "avro data-file writes support deflate/none compression "
            f"only, got {compression!r}"
        )
    partition_names = list(partition_names or [])
    # Partition columns route into directory names only (hive layout,
    # exactly what partitionBy does on the parquet path) — the data
    # pages carry the remaining fields.
    data_fields = [f for f in df.schema.fields if f.name not in partition_names]
    data_schema = StructType(data_fields)
    avro_schema = _spark_to_avro_schema(data_schema) if fmt == "avro" else None
    avro_fixers = (
        {
            f.name: fx
            for f in data_fields
            if (fx := _nested_value_fixer(f.dataType)) is not None
        }
        if fmt == "avro"
        else {}
    )
    binary_cols = {
        f.name for f in data_fields if f.dataType.simpleString() == "binary"
    }
    col_names = [f.name for f in data_fields]
    # overwrite semantics, same as the parquet path's mode("overwrite"):
    # stale files must not survive into the listing-independent
    # metadata.  Local and file: paths clean up through the Hadoop FS
    # layer and write through plain open(); s3:/gs: (or an injected
    # pyarrow FileSystem) resolve ONCE on the driver — pyarrow
    # filesystems pickle, so the closure ships the connector to the
    # executors — and every byte then flows through that connector.
    # Unsupported schemes raise BEFORE any IO.
    from ic_spark.sources.fileio import arrow_filesystem, overwrite_dir

    orig_dir = dir_path.rstrip("/")
    arrow_fs, fs_dir = arrow_filesystem(dir_path, file_io)
    if arrow_fs is None:
        overwrite_dir(df.sparkSession, dir_path)
    else:
        try:
            arrow_fs.delete_dir(fs_dir)
        except FileNotFoundError:
            pass
        arrow_fs.create_dir(fs_dir, recursive=True)
    dir_path = fs_dir.rstrip("/")

    def _stat_safe(v):
        import numpy as np

        if isinstance(v, np.integer):
            return int(v)
        if isinstance(v, np.floating):
            return float(v)
        if isinstance(v, np.bool_):
            return bool(v)
        return _json_safe(v)

    def write_partition(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        meta_schema = pa.schema(
            [
                ("path", pa.string()),
                ("record_count", pa.int64()),
                ("file_size", pa.int64()),
                ("column_stats", pa.string()),
            ]
        )
        pid = TaskContext.get().partitionId()
        pend: list[pa.RecordBatch] = []
        pend_rows = 0
        pend_bytes = 0

        def write_one(table, pvals):
            """Write one data file (one partition group of one flush
            unit) → (path, count, size, stats-json)."""
            if pvals:
                target_dir = os.path.join(
                    dir_path, *(_hive_segment(k, v) for k, v in pvals.items())
                )
                if arrow_fs is None:
                    os.makedirs(target_dir, exist_ok=True)
                else:
                    arrow_fs.create_dir(target_dir, recursive=True)
                table = table.drop_columns(partition_names)
            else:
                target_dir = dir_path
            name = f"part-{pid:05d}-{_uuid.uuid4().hex[:12]}.{fmt}"
            path = os.path.join(target_dir, name)
            if fmt == "avro":
                from ic_spark.sources.avro_io import write_container

                # Avro logical types carry integer/bytes wire values:
                # date32 -> int32 is days-since-epoch, timestamp[us] ->
                # int64 is (local-)micros, decimal -> minimal big-endian
                # two's-complement unscaled bytes.
                enc = table
                for i, f in enumerate(enc.schema):
                    if pa.types.is_date32(f.type):
                        enc = enc.set_column(
                            i, f.name, enc.column(i).cast(pa.int32())
                        )
                    elif pa.types.is_timestamp(f.type):
                        enc = enc.set_column(
                            i, f.name, enc.column(i).cast(pa.int64())
                        )
                    elif pa.types.is_decimal(f.type):
                        sc = f.type.scale
                        vals = [
                            _decimal_unscaled_bytes(v, sc)
                            for v in enc.column(i).to_pylist()
                        ]
                        enc = enc.set_column(
                            i, f.name, pa.array(vals, type=pa.binary())
                        )
                # Stream one container block per ~8k-row chunk: peak
                # Python-object memory is one block, not the file.
                def _chunks(tbl):
                    for b in tbl.to_batches(max_chunksize=8192):
                        recs = b.to_pylist()
                        for name, fx in avro_fixers.items():
                            for r in recs:
                                r[name] = fx(r[name])
                        yield recs

                write_container(
                    path,
                    avro_schema,
                    _chunks(enc),
                    codec="deflate" if compression != "none" else "null",
                    filesystem=arrow_fs,
                )
            else:  # orc
                from pyarrow import orc as pa_orc

                # Spark's own ORC writer stores TimestampType as a
                # PLAIN orc timestamp holding session-local wall time
                # (tz-aware arrow "timestamp_instant" is unreadable by
                # Spark's schema inference).  Match it: instant ->
                # wall-clock in the batch's tz, naive on the wire.
                enc = table
                for i, f in enumerate(enc.schema):
                    if pa.types.is_timestamp(f.type) and f.type.tz:
                        enc = enc.set_column(
                            i, f.name, pc.local_timestamp(enc.column(i))
                        )
                kw = {}
                if compression:
                    kw["compression"] = (
                        "uncompressed" if compression == "none" else compression
                    )
                if arrow_fs is None:
                    pa_orc.write_table(enc, path, **kw)
                else:
                    with arrow_fs.open_output_stream(path) as out_f:
                        pa_orc.write_table(enc, out_f, **kw)
            stats = {}
            for c in col_names:
                col = table.column(c)
                nulls = col.null_count
                # nested types (ORC full-matrix writes) have no min/max
                # kernel and no meaningful ordering — null_count only
                if (
                    c in binary_cols
                    or len(col) == nulls
                    or pa.types.is_nested(col.type)
                ):
                    stats[c] = {"null_count": nulls, "min": None, "max": None}
                    continue
                mm = pc.min_max(col)  # skips nulls and float NaN
                stats[c] = {
                    "null_count": nulls,
                    "min": _stat_safe(mm["min"].as_py()),
                    "max": _stat_safe(mm["max"].as_py()),
                }
            # Partition columns: exact single value from the directory
            # name, same convention as the parquet footer-stats path.
            for k, v in (pvals or {}).items():
                if v is None:
                    stats[k] = {
                        "null_count": table.num_rows, "min": None, "max": None
                    }
                else:
                    stats[k] = {"null_count": 0, "min": str(v), "max": str(v)}
            size = (
                os.path.getsize(path)
                if arrow_fs is None
                else arrow_fs.get_file_info(path).size
            )
            # Metadata records the CALLER's spelling ('s3://bucket/…'),
            # not the within-connector path ('bucket/…').
            meta_path = (
                path
                if arrow_fs is None or orig_dir == dir_path
                else orig_dir + path[len(dir_path):]
            )
            return (meta_path, table.num_rows, size, _json.dumps(stats))

        def flush():
            nonlocal pend, pend_rows, pend_bytes
            if not pend_rows:
                return None
            table = pa.Table.from_batches(pend)
            pend, pend_rows, pend_bytes = [], 0, 0
            if partition_names:
                rows = [write_one(sub, pvals)
                        for pvals, sub in _partition_groups(table, partition_names)]
            else:
                rows = [write_one(table, None)]
            return pa.RecordBatch.from_pydict(
                {
                    "path": [r[0] for r in rows],
                    "record_count": [r[1] for r in rows],
                    "file_size": [r[2] for r in rows],
                    "column_stats": [r[3] for r in rows],
                },
                schema=meta_schema,
            )

        for batch in batches:
            if not len(batch):
                continue
            if max_records_per_file > 0:
                # split the batch at file boundaries
                start = 0
                while start < len(batch):
                    room = max_records_per_file - pend_rows
                    chunk = batch.slice(start, room)
                    pend.append(chunk)
                    pend_rows += len(chunk)
                    start += len(chunk)
                    if pend_rows >= max_records_per_file:
                        out = flush()
                        if out is not None:
                            yield out
            else:
                pend.append(batch)
                pend_rows += len(batch)
                pend_bytes += batch.nbytes
                # Unbounded max_records still must not buffer a whole
                # task partition: roll the file at ~FLUSH_BYTES of
                # Arrow buffer (multiple files per task is exactly the
                # parquet posture at scale; stats/metadata stay
                # per-file correct either way).
                if pend_bytes >= flush_bytes:
                    out = flush()
                    if out is not None:
                        yield out
        out = flush()
        if out is not None:
            yield out

    meta = df.mapInArrow(
        write_partition,
        schema="path string, record_count long, file_size long, column_stats string",
    ).collect()
    return [
        (r.path, r.record_count, r.file_size, _json.loads(r.column_stats))
        for r in meta
    ]


def _list_written_files(dir_path: str) -> list[tuple[str, int]]:
    out = []
    for root, _dirs, files in os.walk(dir_path):
        for name in files:
            if name.endswith(".parquet"):
                p = os.path.join(root, name)
                out.append((p, os.path.getsize(p)))
    return sorted(out)


def rewrite_files(
    spark: SparkSession,
    request: RewriteFilesRequest,
    transform=None,
    lineage: dict | None = None,
) -> RewriteFilesResponse:
    """Execute the full rewrite: MoR plan → write → stats.

    Reference entry point ``RewriteFilesRequest -> RewriteFilesResponse``
    (core/src/executor/mod.rs:39-47, executed by
    core/src/executor/datafusion/mod.rs:85-142).

    ``transform`` (optional, in-process only — not part of the wire
    request) maps the MoR DataFrame before the write; it must preserve
    the request schema.  The copy-on-write row operations
    (compaction/rowops.py) use it to drop or update rows mid-rewrite.

    ``lineage`` (Iceberg v3 row-lineage tables): the file_path →
    first_row_id map for the input data files.  The MoR read then
    carries ``_row_id`` / ``_last_updated_sequence_number`` and the
    rewrite MATERIALIZES both as physical columns in its outputs —
    the spec's compaction obligation: rewritten rows keep their ids.
    """
    if request.file_io:
        from ic_spark.sources.fileio import apply_file_io

        apply_file_io(
            spark,
            request.file_io.get("scheme", ""),
            request.file_io.get("props", {}),
        )

    df = build_merge_on_read(spark, request, lineage=lineage)
    if transform is not None:
        df = transform(df)

    writer_df = df
    partition_names: list[str] = []
    if request.partition_spec:
        # Transform-aware fanout (reference PartitionSpec): derive each
        # partition column with its Iceberg transform, shuffle rows to
        # their partition, and let partitionBy route the derived column
        # into directory names only — source columns stay in the data
        # files, like Iceberg's metadata-held partition values.
        from ic_spark.compaction.transforms import transform_column

        types = {f_.name: f_.dataType for f_ in df.schema.fields}
        for p in request.partition_spec:
            src = p.get("source", p["name"])
            writer_df = writer_df.withColumn(
                p["name"], transform_column(p, F.col(src), types.get(src))
            )
            partition_names.append(p["name"])
        writer_df = writer_df.repartition(*[F.col(n) for n in partition_names])
    elif request.partition_by:
        # Fanout write (reference mod.rs:176-188): shuffle rows to their
        # partition first so each output partition is written by few
        # tasks — bounded file counts at any scale.
        partition_names = list(request.partition_by)
        writer_df = df.repartition(*[F.col(c) for c in partition_names])
    elif request.target_partitions > 0:
        # Reference parity (O11): round-robin to a fixed output width.
        # At large scale prefer target_partitions=0: write the join
        # output partitions directly (no extra full shuffle — AQE has
        # already right-sized them) and bound files with
        # max_records_per_file.
        writer_df = df.repartition(request.target_partitions)

    if request.zorder_by:
        # Morton-curve clustering: one derived key, local sort, key
        # dropped before write — files end up tight in EVERY interleaved
        # dimension's min/max, not just a single lead column's.
        from ic_spark.functions.zorder import zorder_key

        writer_df = (
            writer_df.withColumn("__zkey", zorder_key(*request.zorder_by))
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )
    elif request.sort_order:
        # Iceberg sort order: LOCAL sort within each write task — no
        # extra shuffle — so footer min/max on the sort columns become
        # disjoint and predicate scans skip whole row groups/files.
        sort_cols = []
        for s in request.sort_order:
            c = F.col(s["column"])
            if s.get("desc"):
                c = (
                    c.desc_nulls_first()
                    if s.get("nulls_first")
                    else c.desc_nulls_last()
                )
            else:
                c = (
                    c.asc_nulls_first()
                    if s.get("nulls_first", True)
                    else c.asc_nulls_last()
                )
            sort_cols.append(c)
        writer_df = writer_df.sortWithinPartitions(*sort_cols)

    fmt = (request.data_file_format or "parquet").lower()
    if fmt not in ("parquet", "avro", "orc"):
        raise ValueError(f"unsupported data_file_format: {fmt!r}")
    sort_id = request.sort_order_id if request.sort_order else None
    if fmt != "parquet":
        # Reference DataFileFormat parity (proto.rs:282-289): avro/orc
        # outputs via executor-side Python writers with write-time
        # stats.  Fanout/partition-spec layouts route per-task into
        # hive dirs (the rows were already shuffled to their partition
        # above); bloom filters stay parquet-only — an explicit gate,
        # not a silent fallback.
        if request.bloom_filter_cols:
            raise ValueError("bloom filter columns are parquet-specific")
        from ic_spark.sources.fileio import display_base

        # The writer returns LOCAL file paths for local/file: dir_paths
        # (relpath against the unstripped URI would escape through cwd
        # and read '=' segments out of ancestor directories as phantom
        # partition values) and caller-spelling URIs for fs-routed
        # writes — the base must match each spelling (no throwaway
        # connector construction just to decide).
        local_base = display_base(request.dir_path, request.file_io)
        data_files = [
            DataFileMeta(
                file_path=p,
                file_format=fmt,
                record_count=record_count,
                file_size_in_bytes=size,
                partition_values=_partition_values_from_path(p, local_base)
                or None,
                column_stats=column_stats,
                sort_order_id=sort_id,
            )
            for p, record_count, size, column_stats in _write_data_files_python(
                writer_df,
                request.dir_path,
                fmt,
                request.max_records_per_file,
                request.compression,
                partition_names=partition_names or None,
                file_io=request.file_io,
            )
        ]
    else:
        writer = writer_df.write
        if partition_names:
            writer = writer.partitionBy(*partition_names)

        if request.max_records_per_file > 0:
            writer = writer.option(
                "maxRecordsPerFile", request.max_records_per_file
            )
        if request.compression:
            writer = writer.option("compression", request.compression)
        for c in request.bloom_filter_cols or []:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
            ndv = (request.bloom_filter_ndv or {}).get(c)
            if ndv:
                writer = writer.option(
                    f"parquet.bloom.filter.expected.ndv#{c}", int(ndv)
                )
        writer.mode("overwrite").parquet(request.dir_path)

        files = _list_written_files(request.dir_path)
        data_files = []
        for p, size in files:
            record_count, column_stats, partition_values = _stats_from_footer(
                p, request.dir_path
            )
            data_files.append(
                DataFileMeta(
                    file_path=p,
                    file_format="parquet",
                    record_count=record_count,
                    file_size_in_bytes=size,
                    partition_values=partition_values or None,
                    column_stats=column_stats,
                    sort_order_id=sort_id,
                )
            )
    rewritten_bytes = sum(t.file_size_in_bytes for t in request.data_files)
    stat = RewriteFilesStat(
        rewritten_files_count=len(request.data_files)
        + len(request.position_delete_files)
        + len(request.equality_delete_files),
        added_files_count=len(data_files),
        rewritten_bytes=rewritten_bytes,
        failed_data_files_count=0,
    )
    return RewriteFilesResponse(data_files=data_files, stat=stat)
