"""Seeded generator for the benchmark's input tables.

Produces the ten fixture tables the query registry reads (``region`` ..
``embeddings``) with the fixture schemas, at the sf0.1 row counts
(lineitem 600k, orders 150k) and at the sf0.01 row counts (lineitem
60k), one snappy Parquet file per table, written by pyarrow exactly like
the fixtures are.  The base tables come from a
fixed generator seed, so every run and every ``--seed`` times the same
tables; the workloads draw their delete sets and op streams from
``--seed`` on top of them.

Generation takes a few seconds, so the files are cached in the checkout
under directories named after ``VERSION``; bump it when the generator
changes.  Run as ``python3 -m perfbench.datagen <dir>``.
"""

from __future__ import annotations

import os
import shutil
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "v2"
BASE_SEED = 42
LINEITEM_PARTS = 32

# sf0.1 row counts; SMALL_ROWS has the sf0.01 ones
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
SMALL_ROWS = {
    **{k: v // 10 for k, v in ROWS.items() if k not in ("region", "nation")},
    "region": 5,
    "nation": 25,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    """Uniform whole days in [lo, hi] as microsecond timestamps."""
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(a, b + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _tables(rng, rows: dict[str, int]) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": REGIONS,
        }
    )
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk),
            "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": pa.array(nk % 5),
        }
    )
    n = rows["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n),
        }
    )
    n = rows["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": _money(rng, n, -999.99, 9999.99),
        }
    )
    n = rows["part"]
    keys = np.arange(n, dtype=np.int64)
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    n = rows["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, rows["customer"], n)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, n, 1000.0, 500000.0),
            "o_orderdate": pa.array(_days(rng, n, "1995-01-01", "2001-08-01")),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )
    n = rows["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, rows["orders"], n)),
            "l_partkey": pa.array(rng.integers(0, rows["part"], n)),
            "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, n, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": pa.array(_days(rng, n, "1995-01-02", "2001-11-04")),
        }
    )
    n = rows["events"]
    start = np.datetime64(datetime(2024, 1, 1), "us").astype(np.int64)
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n)) + start
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, 1500, n)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    t["documents"] = _documents(rng, rows["documents"])
    t["embeddings"] = _embeddings(rng, rows["embeddings"])
    return t


def _documents(rng, n: int) -> pa.Table:
    """Random-word texts with a few exact copies and ~5% near copies
    (1-3 substituted words), so the dedup operators find work."""
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 100 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 100 and r < 0.05:
            toks = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts.append(" ".join(toks))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": texts,
            "lang": _pick(rng, LANGS, n),
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit vectors scattered around one random centre per label."""
    centres = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centres[label] + rng.normal(0.0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def generate(state_dir: str) -> None:
    """Write ``tables-sf0.1-VERSION/`` and ``tables-sf0.01-VERSION/``
    (one ``<name>.parquet`` per table) and the 32-file split of the sf0.1
    lineitem, ``lineitem-parts-VERSION/``, under ``state_dir``.  Each
    directory appears by rename, so an interrupted run leaves no partial
    cache behind."""
    small = _tables(np.random.default_rng(BASE_SEED), SMALL_ROWS)
    _publish(
        os.path.join(state_dir, f"tables-sf0.01-{VERSION}"),
        {f"{name}.parquet": t for name, t in small.items()},
    )
    tables = _tables(np.random.default_rng(BASE_SEED), ROWS)
    _publish(
        os.path.join(state_dir, f"tables-sf0.1-{VERSION}"),
        {f"{name}.parquet": t for name, t in tables.items()},
    )
    li = tables["lineitem"]
    per = -(-li.num_rows // LINEITEM_PARTS)
    _publish(
        os.path.join(state_dir, f"lineitem-parts-{VERSION}"),
        {f"part-{i:02d}.parquet": li.slice(i * per, per) for i in range(LINEITEM_PARTS)},
    )


def _publish(out: str, files: dict[str, pa.Table]) -> None:
    if os.path.isdir(out):
        return
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in files.items():
        pq.write_table(table, os.path.join(tmp, name))
    os.rename(tmp, out)


if __name__ == "__main__":
    generate(sys.argv[1])
