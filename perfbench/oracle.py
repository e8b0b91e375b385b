"""DuckDB oracles for the correctness gates.

The table workloads compare an exact full-column checksum: ``count(*)``
plus one integer sum per column (integers as-is, doubles scaled by 100
and rounded, strings as length and first code point, timestamps as
epoch seconds).  Spark and DuckDB evaluate the same expressions, so
the tuples must match exactly.

The query suite compares each Spark result, collected to Arrow, with
the rows of the registry's oracle SQL, computed once per checkout.  Columns are sorted by name, doubles are
rounded to 6 digits, and rows are compared as multisets with
``EXCEPT ALL`` both ways.  This is the rule the repo's test suite
applies.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb
import pyarrow as pa

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _kind_spark(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    raise TypeError(f"no checksum rule for {dt}")


def _kind_arrow(t) -> str:
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_timestamp(t):
        return "ts"
    raise TypeError(f"no checksum rule for {t}")


_SPARK = {
    "int": "sum(cast({c} as bigint))",
    "float": "sum(cast(round({c} * 100) as bigint))",
    "str": "sum(length({c}) * 65536 + ascii({c}))",
    "ts": "sum(unix_seconds(cast({c} as timestamp)))",
}
_DUCK = {
    "int": "sum(CAST({c} AS BIGINT))",
    "float": "sum(CAST(round({c} * 100) AS BIGINT))",
    "str": "sum(length({c}) * 65536 + ascii({c}))",
    "ts": "sum(CAST(epoch({c}) AS BIGINT))",
}


def spark_checksum(schema) -> list:
    import pyspark.sql.functions as F

    exprs = [F.count(F.lit(1))]
    for f in schema.fields:
        exprs.append(F.expr(_SPARK[_kind_spark(f.dataType)].format(c=f.name)))
    return exprs


def _duck_checksum_sql(schema: pa.Schema, source: str, where: str = "") -> str:
    cols = ", ".join(
        _DUCK[_kind_arrow(f.type)].format(c=f.name) for f in schema
    )
    return f"SELECT count(*), {cols} FROM {source} {where}"


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    return con


@dataclass(frozen=True)
class LineitemDeletes:
    """Seeded delete sets, written in SQL both engines evaluate alike."""

    pos_mul: int
    pos_add: int
    pos_pct: int
    eq_mul: int
    eq_add: int
    eq_pct: int

    def pos_predicate(self) -> str:
        return f"(l_orderkey * {self.pos_mul} + {self.pos_add}) % 100 < {self.pos_pct}"

    def eq_key_predicate(self, col: str) -> str:
        return f"({col} * {self.eq_mul} + {self.eq_add}) % 100 < {self.eq_pct}"


def lineitem_checksum(tables_dir: str, deletes: LineitemDeletes | None) -> tuple:
    path = os.path.join(tables_dir, "lineitem.parquet")
    con = _connect()
    try:
        schema = con.execute(f"SELECT * FROM read_parquet('{path}') LIMIT 0").arrow().schema
        where = ""
        if deletes is not None:
            where = (
                f"WHERE NOT ({deletes.pos_predicate()}) "
                f"AND NOT ({deletes.eq_key_predicate('l_partkey')})"
            )
        sql = _duck_checksum_sql(schema, f"read_parquet('{path}')", where)
        return tuple(int(v) for v in con.execute(sql).fetchone())
    finally:
        con.close()


def cdc_checksums(base: pa.Table, script: list[tuple]) -> tuple[tuple, tuple]:
    """Replay the episode as DELETE/INSERT statements; returns the
    checksums after the episode and of the base table."""
    con = _connect()
    try:
        con.register("base_src", base)
        con.execute("CREATE TABLE o AS SELECT * FROM base_src")
        schema = base.schema
        base_sum = con.execute(_duck_checksum_sql(schema, "o")).fetchone()
        for kind, arg in script:
            if kind == "upsert":
                con.register("batch", arg)
                con.execute("DELETE FROM o WHERE o_orderkey IN (SELECT o_orderkey FROM batch)")
                con.execute("INSERT INTO o SELECT * FROM batch")
                con.unregister("batch")
            elif kind == "eq":
                con.register("keys", arg)
                con.execute("DELETE FROM o WHERE o_orderkey IN (SELECT o_orderkey FROM keys)")
                con.unregister("keys")
            else:
                lo, hi = arg
                con.execute(f"DELETE FROM o WHERE o_custkey BETWEEN {lo} AND {hi}")
        final = con.execute(_duck_checksum_sql(schema, "o")).fetchone()
        return tuple(int(v) for v in final), tuple(int(v) for v in base_sum)
    finally:
        con.close()


def _normalized(con, relation: str, cols: list[str]) -> str:
    types = dict(
        con.execute(f"SELECT column_name, column_type FROM (DESCRIBE {relation})").fetchall()
    )
    out = []
    for c in cols:
        t = types[c].upper()
        q = f'"{c}"'
        if t in ("DOUBLE", "FLOAT", "REAL") or t.startswith("DECIMAL"):
            out.append(f"round(CAST({q} AS DOUBLE), 6) AS {q}")
        elif t in ("DOUBLE[]", "FLOAT[]"):
            out.append(f"list_transform({q}, x -> round(x, 6)) AS {q}")
        elif t.startswith("TIMESTAMP"):
            out.append(f"CAST({q} AS TIMESTAMP) AS {q}")
        else:
            out.append(q)
    return f"SELECT {', '.join(out)} FROM {relation}"


def query_results(tables_dir: str, queries: dict[str, str], cache_dir: str) -> str:
    """Directory with ``<name>.parquet`` holding each oracle query's rows
    over ``tables_dir``.  The tables are fixed for a generator version,
    so the results are computed once per checkout and reused."""
    if os.path.isdir(cache_dir):
        return cache_dir
    tmp = f"{cache_dir}.tmp-{os.getpid()}"
    os.makedirs(tmp)
    con = _connect()
    try:
        for t in TABLES:
            path = os.path.join(tables_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name, sql in queries.items():
            out = os.path.join(tmp, f"{name}.parquet")
            con.execute(f"COPY ({sql}) TO '{out}' (FORMAT parquet)")
    finally:
        con.close()
    os.rename(tmp, cache_dir)
    return cache_dir


def compare_query(expected_path: str, result: pa.Table) -> str:
    """'' when ``result`` holds the same rows as the oracle's result
    file, else a message."""
    con = _connect()
    try:
        con.execute(f"CREATE VIEW oracle_res AS SELECT * FROM read_parquet('{expected_path}')")
        con.register("spark_res", result)
        ocols = sorted(c for c, *_ in con.execute("DESCRIBE oracle_res").fetchall())
        scols = sorted(result.column_names)
        if ocols != scols:
            return f"columns {scols} != oracle {ocols}"
        n_o = con.execute("SELECT count(*) FROM oracle_res").fetchone()[0]
        if n_o != result.num_rows:
            return f"{result.num_rows} rows != oracle {n_o}"
        a = _normalized(con, "spark_res", scols)
        b = _normalized(con, "oracle_res", scols)
        extra = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
        missing = con.execute(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})").fetchone()[0]
        if extra or missing:
            return f"{extra} rows not in oracle, {missing} oracle rows missing"
        return ""
    finally:
        con.close()
