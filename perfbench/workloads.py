"""The three benchmark workloads.

Each workload is a closed loop driven by one client through the
package's public API (``ic_spark.table.Table`` and the query registry).
A run first lays out its input files, untimed.  It then sets the
workload up several times, each time in a new table location;
``setup_s`` is the median time of a set-up, which makes only the
program's calls.  Then it runs laps.  Each lap starts from the same
table state, so laps are comparable within a run and across runs.  The
first laps (``warm_laps``) warm the fresh JVM and the session memos,
and the medians skip them.  The measured lap count is ``--seconds``
divided by the workload's nominal lap time (at least one), not read off
the clock: a clock-bounded count would move every median when the code
got faster or slower.  A traced run runs, after the warm-up laps, one
traced lap between two untraced ones, so the tracing overhead is the
difference of their walls.

* ``compact_mor``: one lap reads the merge-on-read table, compacts it,
  reads it again, then rolls back to the pre-compaction snapshot and
  expires the compaction's snapshot.
* ``cdc_ingest``: one lap is an episode of seeded upserts and deletes
  on the orders table, then a merge-on-read read, a read of the
  pre-ingest snapshot, and the same rollback and expiry.
* ``query_suite``: one lap runs the 23 pinned headline queries, each
  after ``clearCache`` and each collected to Arrow, then the merge-on-
  read rows twice more, then reads the plain lineitem input.  The
  warm-up lap runs the 23 queries only.

Correctness is checked against DuckDB after the timed laps (see
``oracle.py``), so the oracle's memory does not count into
``peak_rss_mb``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from perfbench import oracle
from perfbench.datagen import PRIORITIES, ROWS

# The headline suite, pinned here so that a change to the registry's
# ``headline`` flag cannot change the workload.
QUERY_SUITE = (
    "q1_pricing_summary",
    "q6_revenue_forecast",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_topk_revenue_per_brand",
    "events_tumbling_window",
    "asof_join_latest_order",
    "dedup_exact",
    "dedup_token_jaccard",
    "dedup_minhash_lsh",
    "dedup_substring_spans",
    "pipeline_decontaminate",
    "sim_bruteforce_topk",
    "sim_ivf_topk",
    "sim_ivf_topk_expr",
    "sim_pq_topk",
    "sim_ivfpq_topk",
    "text_pii_scrub",
    "pipeline_prepare_training",
    "mor_position_delete",
    "mor_equality_delete",
    "mor_full_merge_on_read",
    "mor_changelog_scan",
)
MOR_QUERIES = tuple(q for q in QUERY_SUITE if q.startswith("mor_"))

# cdc_ingest episode: 8 upserts of 500 keys (50 of them new), one
# key delete of 200 keys and one predicate delete, in seeded order.
CDC_UPSERTS, CDC_BATCH, CDC_NEW_KEYS, CDC_EQ_KEYS = 8, 500, 50, 200


def checksum(df) -> tuple:
    """Exact full-column aggregate (see ``oracle.spark_checksum``)."""
    return tuple(df.agg(*oracle.spark_checksum(df.schema)).first())


def _file_entry(path: str, content: str = "DATA") -> dict:
    return {
        "path": path,
        "content": content,
        "record_count": pq.ParquetFile(path).metadata.num_rows,
        "file_size_in_bytes": os.path.getsize(path),
    }


def _remove_orphans(table_root: str, paths: list[str]) -> None:
    """Delete expired files with the directory each was written into
    (one directory per write under the table root)."""
    dirs = set()
    for p in paths:
        p = p.removeprefix("file:")
        parent = os.path.dirname(p)
        if os.path.dirname(parent) == table_root and os.path.basename(parent) != "metadata":
            dirs.add(parent)
        elif os.path.exists(p):
            os.remove(p)
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def _dir_sizes(path: str | None) -> dict[str, int]:
    if path is None:
        return {}
    return {e.name: e.stat().st_size for e in os.scandir(path)}


def _reset(table, base_snapshot: int) -> None:
    table.rollback_to_snapshot(base_snapshot)
    _remove_orphans(table.root, table.expire_snapshots())


class Workload:
    name = ""
    nominal_lap_s = 1.0
    warm_laps = 1
    # Set-ups per run, so that their median is steady: more for a
    # cheaper set-up.  The first set-up runs cold.
    setup_reps = 3
    # The delete-free read is short next to a lap, and a short op moves
    # most with a burst of host load, so each measured lap takes many
    # samples of it.  A warm-up lap takes only a few, enough to warm
    # the read path.
    plain_reads = 8
    warm_plain_reads = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.rng = np.random.default_rng(ctx.seed)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lap_spans: list[int] = []
        self.lap_walls: list[float] = []
        self.lap_counts: list[dict] = []

    # -- timing -------------------------------------------------------

    def timed(self, op: str, fn):
        self.attempted += 1
        with self.tracer.span(f"op.{op}"):
            t0 = time.perf_counter()
            out = fn()
            self.samples[op].append(time.perf_counter() - t0)
        return out

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def run(self) -> dict:
        t_run = time.perf_counter()
        self.setups: list[float] = []
        state = None
        for rep in range(self.setup_reps):
            if state is not None:
                self.discard(state)
            t0 = time.perf_counter()
            with self.tracer.span("op.setup"):
                state = self.setup(rep)
            self.setups.append(time.perf_counter() - t0)
        self.setup_s = statistics.median(self.setups)
        t_laps = time.perf_counter()
        meta_dir = self.metadata_dir(state)
        before = _dir_sizes(meta_dir)
        measured = max(1, round(self.ctx.seconds / self.nominal_lap_s))
        traced = self.tracer.enabled
        # warm-up laps, then the measured laps.  A traced run traces one
        # lap between two untraced ones, so that a drift still under way
        # cancels out of the traced-minus-untraced overhead.
        if traced:
            self.lap_traced = [False] * (self.warm_laps + 1) + [True, False]
        else:
            self.lap_traced = [False] * (self.warm_laps + measured)
        self.laps = len(self.lap_traced)
        for lap, traced_lap in enumerate(self.lap_traced):
            self.warming = lap < self.warm_laps
            if lap == self.warm_laps:
                # The medians skip the warm-up laps.
                self.samples.clear()
            counts: dict = {}
            self.tracer.enabled = traced_lap
            t0 = time.perf_counter()
            with self.tracer.span("op.lap") as span:
                self.lap(state, counts)
            self.lap_walls.append(time.perf_counter() - t0)
            if span is not None:
                self.lap_spans.append(self.tracer.spans.index(span))
            if lap == 0:
                after = _dir_sizes(meta_dir)
                self.metadata_bytes = sum(
                    n for f, n in after.items() if f not in before
                )
            self.lap_counts.append(counts)
        self.tracer.enabled = traced
        self.peak_rss_mb = self.ctx.peak_rss_mb()
        t_check = time.perf_counter()
        self.check()
        t_done = time.perf_counter()
        self.phases = {
            "setup": t_laps - t_run,
            "timed setup": sum(self.setups),
            "laps": t_check - t_laps,
            "check": t_done - t_check,
        }
        return self.end_to_end()

    def plain_count(self) -> int:
        """Plain reads in the current lap."""
        return self.warm_plain_reads if self.warming else self.plain_reads

    def p50(self, op: str) -> float:
        return statistics.median(self.samples[op])

    # -- per-workload hooks --------------------------------------------

    def metadata_dir(self, state) -> str | None:
        """The table's metadata directory, when the workload has one."""
        return None

    def setup(self, rep: int):
        """Timed as ``setup_s``: only the program's calls, on the files
        the constructor laid out: make the table and open it for
        reading, without running a Spark job."""
        raise NotImplementedError

    def discard(self, state) -> None:
        pass

    def lap(self, state, counts: dict) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def end_to_end(self) -> dict:
        """The uniform end-to-end metrics, then the workload's own
        names for them (printed, not gated)."""
        raise NotImplementedError


class CompactMor(Workload):
    """sf0.1 lineitem as 8 appended snapshots of 4 files, one seeded
    position-delete file and one seeded equality-delete file on
    ``l_partkey``; every lap compacts identical input."""

    name = "compact_mor"
    nominal_lap_s = 10.0
    # Each set-up still ran faster than the one before it at the third,
    # and the median of 3 spread by 0.44 between runs.
    setup_reps = 7
    # The first reads after a compaction run slower than the later
    # ones, so the compacted table is read many times.
    plain_reads = 12

    def __init__(self, ctx):
        super().__init__(ctx)
        r = self.rng

        def unit_mod_100() -> int:
            # coprime to 100, so (key * m + a) % 100 is uniform over keys
            return int(r.integers(500, 50_000)) * 10 + int(r.choice([1, 3, 7, 9]))

        self.deletes = oracle.LineitemDeletes(
            pos_mul=unit_mod_100(),
            pos_add=int(r.integers(0, 100_000)),
            pos_pct=3,
            eq_mul=unit_mod_100(),
            eq_add=int(r.integers(0, 100_000)),
            eq_pct=2,
        )
        self.inputs = sorted(
            os.path.join(ctx.lineitem_parts, f) for f in os.listdir(ctx.lineitem_parts)
        )
        d = self.deletes
        self.positions = []
        for p in self.inputs:
            k = pq.read_table(p, columns=["l_orderkey"]).column(0).to_numpy()
            hit = (k * d.pos_mul + d.pos_add) % 100 < d.pos_pct
            self.positions.append(np.flatnonzero(hit).astype(np.int64))
        keys = np.arange(ROWS["part"], dtype=np.int64)
        self.eq_keys = keys[(keys * d.eq_mul + d.eq_add) % 100 < d.eq_pct]
        self.results: list[tuple] = []
        self._lay_out()

    def _lay_out(self) -> None:
        """Copy the 32 data files into the run and write one position-
        delete and one equality-delete file the way an external engine
        (e.g. a Flink job) writes them.  Every set-up registers these
        files."""
        src = os.path.join(self.ctx.work_dir, "compact-input")
        os.makedirs(src)
        files, pos_paths = [], []
        for p, positions in zip(self.inputs, self.positions):
            dst = os.path.join(src, os.path.basename(p))
            shutil.copyfile(p, dst)
            files.append(dst)
            pos_paths += [dst] * len(positions)
        pos_file = os.path.join(src, "pos-deletes.parquet")
        pq.write_table(
            pa.table({"file_path": pos_paths, "pos": np.concatenate(self.positions)}),
            pos_file,
        )
        eq_file = os.path.join(src, "eq-deletes.parquet")
        pq.write_table(pa.table({"l_partkey": self.eq_keys}), eq_file)
        self.schema = self.spark.read.parquet(files[0]).schema
        self.entries = [_file_entry(f) for f in files]
        self.pos_entry = _file_entry(pos_file, "POSITION_DELETES")
        self.eq_entry = {
            **_file_entry(eq_file, "EQUALITY_DELETES"),
            "equality_ids": ["l_partkey"],
        }

    def setup(self, rep: int):
        """A new table: the data files as 8 snapshots, then the two
        delete files, then ``Table.read`` plans the merge-on-read scan
        (no Spark job runs)."""
        from ic_spark.table import Table

        root = os.path.join(self.ctx.work_dir, f"compact-{rep}")
        t = Table.create(self.spark, root, self.schema)
        for s in range(8):
            t.append_snapshot(self.entries[4 * s : 4 * s + 4])
        t.append_snapshot([self.pos_entry])
        t.append_snapshot([self.eq_entry])
        t.expire_snapshots()
        t.read()
        return t, t.current_snapshot_id()

    def discard(self, state) -> None:
        shutil.rmtree(state[0].root, ignore_errors=True)

    def metadata_dir(self, state) -> str:
        return state[0].metadata_dir

    def lap(self, state, counts: dict) -> None:
        t, base = state
        mor = self.timed("read_mor", lambda: checksum(t.read()))
        if self.tracer.enabled:
            counts["meta.live_data_files"], counts["meta.live_delete_files"] = (
                self.ctx.notes["live_files"]
            )
        resp = self.timed("compact", t.compact)
        plain = [
            self.timed("read_plain", lambda: checksum(t.read()))
            for _ in range(self.plain_count())
        ]
        rows_out = sum(f.record_count for f in resp.data_files)
        counts["writer.files_out"] = len(resp.data_files)
        counts["writer.bytes_out_per_row"] = (
            sum(f.file_size_in_bytes for f in resp.data_files) / max(rows_out, 1)
        )
        self.results.append((mor, plain, rows_out))
        self.timed("reset", lambda: _reset(t, base))

    def check(self) -> None:
        expect = oracle.lineitem_checksum(self.ctx.tables_dir, self.deletes)
        for i, (mor, plain, rows_out) in enumerate(self.results):
            if mor != expect:
                self.fail(f"lap {i}: MoR read {mor} != oracle {expect}")
            for got in plain:
                if got != expect:
                    self.fail(f"lap {i}: compacted read {got} != oracle {expect}")
            if rows_out != expect[0]:
                self.fail(f"lap {i}: compaction wrote {rows_out} rows, oracle {expect[0]}")

    def end_to_end(self) -> dict:
        c = self.lap_counts[0]
        self.extra = {
            "compact_p50_s": (self.p50("compact"), "s"),
            "read_mor_p50_s": (self.p50("read_mor"), "s"),
            "read_compacted_p50_s": (self.p50("read_plain"), "s"),
            "files_out": (c["writer.files_out"], "count"),
            "bytes_out_per_row": (c["writer.bytes_out_per_row"], "B/row"),
        }
        return {
            "op_p50_s": self.p50("compact"),
            "read_mor_p50_s": self.p50("read_mor"),
            "read_plain_p50_s": self.p50("read_plain"),
        }


class CdcIngest(Workload):
    """Flink-style upsert stream into sf0.1 orders: each lap is the same
    seeded episode of upserts and deletes from the base snapshot, then a
    merge-on-read read; nothing is compacted."""

    name = "cdc_ingest"
    nominal_lap_s = 7.0
    # A second warm-up lap or measured lap did not make the medians
    # steadier here.
    setup_reps = 15
    # The base read is the shortest timed op (about 0.15 s), and its
    # samples still fell through a measured lap after two warm-up reads.
    plain_reads = 15
    warm_plain_reads = 10

    def __init__(self, ctx):
        super().__init__(ctx)
        self.base = pq.read_table(os.path.join(ctx.tables_dir, "orders.parquet"))
        self.script = self._script()
        self.results: list[tuple] = []
        # orders as 4 files, which every set-up registers
        src = os.path.join(ctx.work_dir, "cdc-input")
        os.makedirs(src)
        files = []
        per = -(-self.base.num_rows // 4)
        for i in range(4):
            p = os.path.join(src, f"part-{i}.parquet")
            pq.write_table(self.base.slice(i * per, per), p)
            files.append(p)
        self.schema = self.spark.read.parquet(files[0]).schema
        self.entries = [_file_entry(f) for f in files]
        # The ops' inputs as DataFrames, built once: every lap replays
        # the same ones.
        self.ops = []
        for kind, arg in self.script:
            if kind == "upsert":
                arg = self.spark.createDataFrame(arg, schema=self.schema).coalesce(1)
            elif kind == "eq":
                arg = self.spark.createDataFrame(arg).coalesce(1)
            else:
                arg = F.col("o_custkey").between(*arg)
            self.ops.append((kind, arg))

    def _script(self) -> list[tuple]:
        """Seeded episode: ("upsert", arrow batch) | ("eq", arrow keys) |
        ("pos", (lo, hi)) — a predicate delete of ``o_custkey`` in
        [lo, hi]."""
        r = self.rng
        n = ROWS["orders"]
        kinds = ["upsert"] * CDC_UPSERTS + ["eq", "pos"]
        r.shuffle(kinds)
        script, new_key = [], n
        for kind in kinds:
            if kind == "upsert":
                m = CDC_BATCH - CDC_NEW_KEYS
                keys = np.concatenate(
                    [
                        r.choice(n, m, replace=False),
                        np.arange(new_key, new_key + CDC_NEW_KEYS),
                    ]
                ).astype(np.int64)
                new_key += CDC_NEW_KEYS
                k = len(keys)
                lo = np.datetime64("1995-01-01", "D").astype(np.int64)
                days = r.integers(lo, lo + 2400, k) * 86_400_000_000
                batch = pa.table(
                    {
                        "o_orderkey": keys,
                        "o_custkey": r.integers(0, ROWS["customer"], k),
                        "o_orderstatus": np.asarray(["F", "O", "P"], dtype=object)[
                            r.integers(0, 3, k)
                        ],
                        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, k), 2),
                        "o_orderdate": pa.array(days.astype("datetime64[us]")),
                        "o_orderpriority": np.asarray(PRIORITIES, dtype=object)[
                            r.integers(0, len(PRIORITIES), k)
                        ],
                    },
                    schema=self.base.schema.remove_metadata(),
                )
                script.append(("upsert", batch))
            elif kind == "eq":
                keys = r.choice(n, CDC_EQ_KEYS, replace=False).astype(np.int64)
                script.append(("eq", pa.table({"o_orderkey": keys})))
            else:
                lo = int(r.integers(0, ROWS["customer"] - 5))
                script.append(("pos", (lo, lo + 4)))
        return script

    def setup(self, rep: int):
        """A new table with one snapshot, opened with ``Table.read``."""
        from ic_spark.table import Table

        t = Table.create(self.spark, os.path.join(self.ctx.work_dir, f"cdc-{rep}"), self.schema)
        t.append_snapshot(self.entries)
        t.read()
        return t, t.current_snapshot_id()

    def discard(self, state) -> None:
        shutil.rmtree(state[0].root, ignore_errors=True)

    def metadata_dir(self, state) -> str:
        return state[0].metadata_dir

    def lap(self, state, counts: dict) -> None:
        t, base = state
        for kind, arg in self.ops:
            if kind == "upsert":
                self.timed("upsert", lambda: t.upsert(arg, ["o_orderkey"]))
            elif kind == "eq":
                self.timed(
                    "eq_delete", lambda: t.write_equality_deletes(arg, ["o_orderkey"])
                )
            else:
                self.timed("pos_delete", lambda: t.write_position_deletes(arg))
        mor = self.timed("read_mor", lambda: checksum(t.read()))
        if self.tracer.enabled:
            counts["meta.live_data_files"], counts["meta.live_delete_files"] = (
                self.ctx.notes["live_files"]
            )
        plain = [
            self.timed("read_plain", lambda: checksum(t.read(snapshot_id=base)))
            for _ in range(self.plain_count())
        ]
        self.results.append((mor, plain))
        self.timed("reset", lambda: _reset(t, base))

    def check(self) -> None:
        expect_mor, expect_base = oracle.cdc_checksums(self.base, self.script)
        for i, (mor, plain) in enumerate(self.results):
            if mor != expect_mor:
                self.fail(f"episode {i}: MoR read {mor} != replay {expect_mor}")
            for got in plain:
                if got != expect_base:
                    self.fail(f"episode {i}: base read {got} != oracle {expect_base}")

    def end_to_end(self) -> dict:
        self.extra = {
            "upsert_p50_s": (self.p50("upsert"), "s"),
            "eq_delete_p50_s": (self.p50("eq_delete"), "s"),
            "pos_delete_p50_s": (self.p50("pos_delete"), "s"),
            "read_mor_p50_s": (self.p50("read_mor"), "s"),
        }
        return {
            "op_p50_s": self.p50("upsert"),
            "read_mor_p50_s": self.p50("read_mor"),
            "read_plain_p50_s": self.p50("read_plain"),
        }


class QuerySuite(Workload):
    """The 23 pinned headline queries over the sf0.01 tables.  A lap
    costs mostly per-job overhead (about 110 Spark jobs), so sf0.01
    keeps its character at three quarters of the sf0.1 wall, which the
    benchmark's time budget needs."""

    name = "query_suite"
    nominal_lap_s = 20.0
    # The first read after the query pass runs about twice as long as
    # the rest, with or without reads in the warm-up lap, so the
    # warm-up lap makes none.
    plain_reads = 12
    warm_plain_reads = 0

    def __init__(self, ctx):
        super().__init__(ctx)
        from ic_spark.queries import REGISTRY

        self.registry = REGISTRY
        self.first_lap: dict[str, pa.Table] = {}
        self.row_counts: list[dict[str, int]] = []
        self.query_walls: list[dict[str, float]] = []
        self.plain: list[tuple] = []
        # One copy of the input tables per set-up (the session's table
        # memo keys on the path, so every set-up loads anew), each with
        # the 32-file lineitem split the plain read scans: the
        # single-file fixture would scan as one task.
        for rep in range(self.setup_reps):
            d = os.path.join(ctx.work_dir, f"tables-{rep}")
            shutil.copytree(ctx.small_tables_dir, d)
            shutil.copytree(ctx.lineitem_parts, os.path.join(d, "split", "lineitem.parquet"))

    def setup(self, rep: int):
        """Register every input table with ``tables.load_table``."""
        from ic_spark.tables import TABLES, load_table

        d = os.path.join(self.ctx.work_dir, f"tables-{rep}")
        split = os.path.join(d, "split")
        for name in TABLES:
            load_table(self.spark, d, name)
        load_table(self.spark, split, "lineitem")
        return d

    def discard(self, state) -> None:
        shutil.rmtree(state, ignore_errors=True)

    def lap(self, sf_dir, counts: dict) -> None:
        from ic_spark.tables import load_table

        rows, walls = {}, {}
        for name in QUERY_SUITE:
            fn = self.registry[name].fn
            self.spark.catalog.clearCache()

            def run():
                with self.tracer.span(f"queries.{name}"):
                    df = fn(self.spark, sf_dir)
                return df.toArrow()

            out = self.timed(f"q.{name}", run)
            rows[name] = out.num_rows
            walls[name] = self.samples[f"q.{name}"][-1]
            if self.warming:
                self.first_lap[name] = out
        self.row_counts.append(rows)
        self.query_walls.append(walls)
        if not self.warming:
            # The MoR rows take a tenth of the lap: two more passes over
            # them make read_mor_p50_s a median of three.  The warm-up lap
            # skips them, which keeps the run inside its budget.
            self.samples["read_mor"].append(sum(walls[q] for q in MOR_QUERIES))
            for _ in range(2):
                self.timed("read_mor", lambda: self.mor_pass(sf_dir))
        split = os.path.join(sf_dir, "split")
        for _ in range(self.plain_count()):
            self.plain.append(
                self.timed(
                    "read_plain", lambda: checksum(load_table(self.spark, split, "lineitem"))
                )
            )

    def check(self) -> None:
        first = self.row_counts[0]
        for i, rows in enumerate(self.row_counts[1:], start=1):
            for name, n in rows.items():
                if n != first[name]:
                    self.fail(f"lap {i}: {name} returned {n} rows, lap 0 {first[name]}")
        expect = oracle.lineitem_checksum(self.ctx.tables_dir, None)
        for i, got in enumerate(self.plain):
            if got != expect:
                self.fail(f"plain read {i}: {got} != oracle {expect}")
        checked = {
            q: self.registry[q].oracle
            for q in QUERY_SUITE
            if self.registry[q].oracle is not None
        }
        expected = oracle.query_results(
            self.ctx.small_tables_dir, checked, self.ctx.small_tables_dir + "-oracle"
        )
        for name in checked:
            msg = oracle.compare_query(
                os.path.join(expected, f"{name}.parquet"), self.first_lap[name]
            )
            if msg:
                self.fail(f"{name}: {msg}")

    def mor_pass(self, sf_dir: str) -> None:
        for name in MOR_QUERIES:
            self.spark.catalog.clearCache()
            self.registry[name].fn(self.spark, sf_dir).toArrow()

    def end_to_end(self) -> dict:
        # past the warm-up lap
        lap_s = statistics.median(
            sum(w.values()) for w in self.query_walls[self.warm_laps:]
        )
        self.extra = {"query_lap_s": (lap_s, "s")}
        return {
            "op_p50_s": lap_s,
            "read_mor_p50_s": self.p50("read_mor"),
            "read_plain_p50_s": self.p50("read_plain"),
        }


WORKLOADS = {w.name: w for w in (CompactMor, CdcIngest, QuerySuite)}
