"""Fixture-table loading.

The driver materializes the TPC-H-ish star schema + events/documents/
embeddings as one Parquet file per table per scale factor
(``TESTDATA.md``).  Loading goes through ``spark.read.parquet`` so the
vectorized reader, column pruning, and predicate pushdown all apply; at
cluster scale the same call reads a partitioned directory tree and
Catalyst prunes partitions from the pushed filters.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H
# region/nation are constant-size; customer/supplier/part grow with SF but
# stay orders of magnitude below the fact tables).  Used as broadcast-join
# hints in the query layer.
SMALL_DIMS = ("region", "nation")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


# On-disk gate for broadcast-join hints on SF-scaled dimensions.  128 MiB
# of parquet decompresses to well under typical executor/driver headroom;
# above it the hint is withheld and AQE's runtime statistics decide.
_BROADCAST_HINT_BYTES = 128 << 20


def _source_bytes(path: str) -> int | None:
    """On-disk size of a parquet file or directory; None if not statable
    (e.g. an object-store URI on a cluster — AQE decides there)."""
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path)
                for f in files
            )
        return os.path.getsize(path)
    except OSError:
        return None


def maybe_broadcast(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Broadcast-hint a dimension only when it is provably small.

    region/nation are constant-size at any scale factor — always hinted.
    Every other dimension grows linearly with SF, and a hard
    ``F.broadcast`` hint cannot be demoted by AQE — at 100× the fixture
    scale it becomes a driver/executor OOM.  The hint is therefore gated
    on the on-disk size of the *unfiltered* source file (an upper bound
    for any filtered subset passed in); when the size is unknown, no
    hint is emitted and AQE's runtime stats make the broadcast decision.
    """
    if name in SMALL_DIMS:
        return F.broadcast(df)
    size = _source_bytes(table_path(sf_dir, name))
    if size is not None and size <= _BROADCAST_HINT_BYTES:
        return F.broadcast(df)
    return df


def maybe_broadcast_derived(
    df: DataFrame, sf_dir: str, source_names: list[str]
) -> DataFrame:
    """Broadcast-hint a DERIVED frame (join/filter of base tables) only
    when the sum of its source tables' on-disk bytes is provably small.

    The same discipline as :func:`maybe_broadcast`, extended to
    intermediate results: a join of pruned/filtered inputs is bounded
    above by its sources' total size, so the gate is safe for any
    filtered subset or inner join of them (an inner join on a key
    FK→PK never multiplies rows beyond the fact side).  Above the gate
    — or when any source is unstatable — no hint is emitted and AQE's
    runtime statistics decide, exactly like the base-table helper.
    """
    total = 0
    for name in source_names:
        size = _source_bytes(table_path(sf_dir, name))
        if size is None:
            return df
        total += size
    if total <= _BROADCAST_HINT_BYTES:
        return F.broadcast(df)
    return df


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any externally-created SparkSession (e.g. the driver's)
    behave like ours: ns-timestamp parquet readable, UTC wall clock so
    LTZ timestamps collect identically to the DuckDB oracle.  Both
    confs are runtime-settable SQLConfs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# Lazy-DataFrame memo: (session uuid, resolved path, mtime_ns, size) →
# DataFrame.  The JVM session uuid is random per session, so no later
# session or application reuses it (id(session) can be, after garbage
# collection), and sibling sessions — which share the application but
# not their confs — stay off each other's DataFrames.
# spark.read.parquet costs ~0.1 s per call
# (py4j round trips + DataSource resolution + footer schema read), and
# query fns re-load the same fixture tables on every invocation.  A
# DataFrame is an immutable LAZY plan — reusing it re-scans the parquet
# on every action, so this caches METADATA ONLY, never results (the
# same reuse Spark's own catalog performs for managed tables via its
# relation cache).  The mtime/size stat in the key makes overwrites
# refresh-correct: regenerated fixtures (e.g. the bench's stale-probe
# data) get a fresh read and a fresh file listing.  Unstatable paths
# (object-store URIs) skip the memo and stay fresh-per-call.
from collections import OrderedDict

_DF_MEMO: OrderedDict = OrderedDict()
_DF_MEMO_MAX = 512


def _df_memo_key(spark: SparkSession, path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    mtime, size = st.st_mtime_ns, st.st_size
    if os.path.isdir(path):
        # A directory's own mtime only changes when entries are
        # added/removed/renamed — an in-place rewrite of an existing
        # part file would return a memoized plan whose cached file
        # listing has stale lengths.  Fold every file's
        # mtime/size into the key instead.
        try:
            for root, _, files in os.walk(path):
                for f in files:
                    fst = os.stat(os.path.join(root, f))
                    mtime = max(mtime, fst.st_mtime_ns)
                    size += fst.st_size
        except OSError:
            return None
    return (
        spark._jsparkSession.sessionUUID(),
        os.path.realpath(path),
        mtime,
        size,
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        ensure_session_confs(spark)
    path = table_path(sf_dir, name)
    key = _df_memo_key(spark, path)
    if key is not None:
        cached = _DF_MEMO.get((key, name))
        if cached is not None:
            _DF_MEMO.move_to_end((key, name))
            return cached
    df = _load_table_fresh(spark, path, name)
    if key is not None:
        # LRU eviction: a scan sweeping many SF
        # dirs in one session evicts oldest-first instead of thrashing
        # the whole memo at the cap.
        while len(_DF_MEMO) >= _DF_MEMO_MAX:
            _DF_MEMO.popitem(last=False)
        _DF_MEMO[(key, name)] = df
    return df


def _load_table_fresh(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = spark.read.parquet(path)
    if name == "events":
        # ts is TIMESTAMP(NANOS) in the file, surfaced as long nanos via
        # spark.sql.legacy.parquet.nanosAsLong; truncate to micros —
        # exactly what DuckDB's ns→µs cast does — so oracle comparisons
        # agree.
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = nanos_ts_to_micros(df)
    return df


def nanos_ts_to_micros(df: DataFrame, col: str = "ts") -> DataFrame:
    """Long ns-since-epoch column → TIMESTAMP at micros granularity.

    Integer DIV, not ``/``: ns-since-epoch (~1.7e18) exceeds double's
    2^53 exact range, so float division is off by 1µs.  The ONE
    spelling of this truncation, shared by the batch loader above and
    ``streaming/windows.stream_events`` — two copies of it could
    silently diverge and break the module's stream==batch invariant."""
    return df.withColumn(
        col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000"))
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (for spark.sql queries)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
