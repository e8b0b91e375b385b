"""load_table's lazy-DataFrame memo: plan reuse, never result reuse.

The memo caches the *unexecuted* DataFrame per (session, realpath,
mtime_ns, size) so repeated query construction skips ~0.1 s of driver
py4j/DataSource work per table.  These tests pin the two properties
that make it safe: a hit returns the same lazy plan (and every action
still reads the files as they are NOW), and any rewrite of the fixture
changes the stat key so the next load is fresh.
"""

import os
import shutil

import pytest

from ic_spark.tables import _DF_MEMO, load_table


@pytest.fixture
def tmp_sf_dir(spark, tmp_path):
    d = str(tmp_path / "sf")
    os.makedirs(d)
    spark.range(0, 100).selectExpr("id as c_custkey", "id * 2 as c_nationkey")\
        .coalesce(1).write.parquet(os.path.join(d, "customer.parquet"))
    return d


def test_memo_hit_returns_same_plan(spark, tmp_sf_dir):
    a = load_table(spark, tmp_sf_dir, "customer")
    b = load_table(spark, tmp_sf_dir, "customer")
    assert a is b  # same lazy plan object — no result materialization
    assert a.count() == 100


def test_overwrite_invalidates(spark, tmp_sf_dir):
    a = load_table(spark, tmp_sf_dir, "customer")
    assert a.count() == 100
    # Rewrite the fixture in place (what the bench's scaled-data
    # regeneration does): dir mtime changes, so the memo must refresh.
    path = os.path.join(tmp_sf_dir, "customer.parquet")
    shutil.rmtree(path)
    spark.range(0, 37).selectExpr("id as c_custkey", "id as c_nationkey")\
        .coalesce(1).write.parquet(path)
    b = load_table(spark, tmp_sf_dir, "customer")
    assert b.count() == 37


def test_missing_path_not_memoized(spark, tmp_path):
    before = len(_DF_MEMO)
    with pytest.raises(Exception):
        load_table(spark, str(tmp_path / "nope"), "customer")
    assert len(_DF_MEMO) == before


def test_memo_entries_of_another_application_not_served(spark, tmp_sf_dir):
    """The memos key on ids no later application reuses (the JVM
    session uuid for load_table, the application id for the dedup
    memos; id(session) can be reused after garbage collection): an
    entry planted under another session's or application's id is
    never served."""
    import pyspark.sql.functions as F
    from pyspark.sql import Row

    import ic_spark.operators.dedup as dd
    from ic_spark import tables

    app = spark.sparkContext.applicationId

    key = tables._df_memo_key(spark, os.path.join(tmp_sf_dir, "customer.parquet"))
    assert key[0] == spark._jsparkSession.sessionUUID()
    sentinel = spark.range(1)
    tables._DF_MEMO[(("other-session",) + key[1:], "customer")] = sentinel
    got = load_table(spark, tmp_sf_dir, "customer")
    assert got is not sentinel and got.count() == 100

    df = spark.range(0, 10, numPartitions=1)
    target = spark.sparkContext.defaultParallelism
    pk = dd.plan_key(df)
    dd._SPREAD_MEMO[("other-app", pk, target)] = not (1 < target)  # wrong
    dd._spread(df)
    assert dd._SPREAD_MEMO[(app, pk, target)] == (1 < target)

    # A foreign entry holding more hot rows than max_hot_collect would
    # turn this uniform probe into "full" detection if it were served.
    dd._PROBE_MEMO[("other-app", "probe")] = [Row(k=i, __k=2) for i in range(5)]
    keys = spark.range(100).select(F.col("id").alias("k"))
    hot = dd._probe_hot_keys(keys, ["k"], 100, "auto", 1.0, 2, memo_key=("probe",))
    assert hot is None
    assert dd._PROBE_MEMO[(app, "probe")] == []
