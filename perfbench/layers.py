"""Layer boundaries for the traced run, and the per-layer metrics.

``install`` wraps each layer's public entry points (module and class
attributes) in tracer spans.  ``per_layer`` turns the spans of each lap
into the ``per_layer`` metrics of ``BENCHMARK.json``, plus the counts
that describe the workload's input and output layout (``DESCRIPTIVE``),
which run.py prints but BENCHMARK.json does not list: a lower value of
those says the workload changed, not that the program improved.  The
metrics come from the run's one traced lap; the laps do identical work,
so a count repeats exactly for a given seed.  A layer a workload does
not call reports 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from perfbench.workloads import MOR_QUERIES, QUERY_SUITE

LAYERS = ("meta", "planner", "writer", "deletes", "orchestrator", "queries")

# span name -> per-layer metric holding its self time
FUNCTION_METRICS = {
    "meta.scan_tasks": "meta.scan_tasks_s",
    "meta.append_snapshot": "meta.append_snapshot_s",
    "meta.commit_rewrite": "meta.commit_s",
    "meta.rollback": "meta.rollback_s",
    "meta.expire": "meta.expire_s",
    "planner.build": "planner.build_s",
    "writer.rewrite": "writer.rewrite_s",
    "deletes.upsert": "deletes.upsert_s",
    "deletes.eq_delete": "deletes.eq_delete_s",
    "deletes.pos_delete": "deletes.pos_delete_scan_s",
    "deletes.read_table": "deletes.read_table_s",
    "orchestrator.full_compact": "orchestrator.full_compact_s",
}
COMMITS = ("meta.append_snapshot", "meta.commit_rewrite", "meta.rollback", "meta.expire")
ORCHESTRATOR_COUNTS = ("rows_in", "rows_deleted", "data_files_in", "delete_files_in", "bytes_in")
DESCRIPTIVE = (
    *(f"orchestrator.{k}" for k in ORCHESTRATOR_COUNTS),
    "meta.live_data_files",
    "writer.files_out",
)
# workload op -> end-to-end role whose Spark work it is
ROLES = {"compact": "op", "upsert": "op", "read_mor": "read_mor", "read_plain": "read_plain"}
SPARK = ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
         "shuffle_write_bytes", "spill_bytes")


def install(tracer, notes: dict) -> None:
    """Wrap the layers' entry points; ``notes`` receives the live file
    counts of the latest scan plan and the latest rewrite's counts."""
    from ic_spark.compaction import deletes, orchestrator, planner, writer
    from ic_spark.compaction.iceberg_meta import IcebergTable
    from ic_spark.queries import mor

    def scan_planned(args, kwargs, result):
        data, pos, eq = result
        notes["live_files"] = (len(data), len(pos) + len(eq))

    def rewritten(args, kwargs, result):
        req = args[1]
        rows_in = sum(t.record_count for t in req.data_files)
        rows_out = sum(f.record_count for f in result.data_files)
        notes["rewrite"] = {
            "rows_in": rows_in,
            "rows_deleted": rows_in - rows_out,
            "data_files_in": len(req.data_files),
            "delete_files_in": len(req.position_delete_files)
            + len(req.equality_delete_files),
            "bytes_in": sum(t.file_size_in_bytes for t in req.data_files),
        }

    w = tracer.wrap
    w(IcebergTable, "scan_tasks", "meta.scan_tasks", scan_planned)
    w(IcebergTable, "append_snapshot", "meta.append_snapshot")
    w(IcebergTable, "commit_rewrite", "meta.commit_rewrite")
    w(IcebergTable, "rollback_to_snapshot", "meta.rollback")
    w(IcebergTable, "expire_snapshots", "meta.expire")
    # writer imported build_merge_on_read by name; the query module
    # imported the delete appliers by name.
    for owner in (planner, writer):
        w(owner, "build_merge_on_read", "planner.build")
    for owner in (planner, mor):
        w(owner, "apply_position_deletes", "planner.apply_pos")
        w(owner, "apply_equality_deletes", "planner.apply_eq")
    w(orchestrator, "rewrite_files", "writer.rewrite", rewritten)
    w(orchestrator.Compaction, "full_compact", "orchestrator.full_compact")
    w(deletes, "merge_upsert", "deletes.upsert")
    w(deletes, "write_equality_deletes", "deletes.eq_delete")
    w(deletes, "write_position_deletes", "deletes.pos_delete")
    w(deletes, "read_table", "deletes.read_table")


def names() -> list[str]:
    """Every gated per-layer metric name, in report order."""
    out = [f"spark.{k}" for k in SPARK]
    out += ["session.start_s", "session.peak_rss_mb", "trace.overhead_s", "trace.lap_s"]
    for role in ("op", "read_mor", "read_plain"):
        out += [f"{role}.exec_cpu_s", f"{role}.exec_run_s", f"{role}.jobs"]
    for layer in LAYERS:
        out += [f"{layer}.self_s", f"{layer}.exec_cpu_s"]
    out += list(FUNCTION_METRICS.values())
    out += ["meta.scan_tasks_calls", "meta.commits",
            "meta.live_delete_files", "meta.bytes_per_commit"]
    out += ["writer.bytes_out_per_row", "cdc.eq_delete_p50_s", "cdc.pos_delete_p50_s"]
    for q in QUERY_SUITE:
        out += [f"q.{q}.s", f"q.{q}.jobs", f"q.{q}.build_s"]
    return out


def _lap_metrics(tracer, lap_idx: int) -> dict[str, float]:
    """Metrics of one lap from its span tree."""
    t = tracer
    lap = t.spans[lap_idx]
    m: dict[str, float] = defaultdict(float)
    all_jobs = t.job_stats(range(lap.job_lo, lap.job_hi))
    m["spark.jobs"] = lap.job_hi - lap.job_lo
    m["spark.stages"] = all_jobs.stages
    m["spark.tasks"] = all_jobs.tasks
    m["spark.exec_run_s"] = all_jobs.run_s
    m["spark.exec_cpu_s"] = all_jobs.cpu_s
    m["spark.gc_s"] = all_jobs.gc_s
    m["spark.shuffle_write_bytes"] = all_jobs.shuffle_write_bytes
    m["spark.spill_bytes"] = all_jobs.spill_bytes
    m["trace.lap_s"] = lap.end - lap.start
    for idx in t.descendants(lap_idx):
        s = t.spans[idx]
        if idx == lap_idx:
            continue
        layer = s.name.split(".", 1)[0]
        self_s = t.self_seconds(idx)
        if layer in LAYERS:
            m[f"{layer}.self_s"] += self_s
            m[f"{layer}.exec_cpu_s"] += t.job_stats(t.self_job_ids(idx)).cpu_s
        if s.name in FUNCTION_METRICS:
            m[FUNCTION_METRICS[s.name]] += self_s
        if s.name == "meta.scan_tasks":
            m["meta.scan_tasks_calls"] += 1
        if s.name in COMMITS:
            m["meta.commits"] += 1
        if s.name.startswith("op."):
            op = s.name[3:]
            jobs = range(s.job_lo, s.job_hi)
            stats = t.job_stats(jobs)
            role = "read_mor" if op[2:] in MOR_QUERIES else ROLES.get(op)
            if op.startswith("q."):
                m[f"{op}.s"] += s.end - s.start
                m[f"{op}.jobs"] += len(jobs)
                m["op.exec_cpu_s"] += stats.cpu_s
                m["op.exec_run_s"] += stats.run_s
                m["op.jobs"] += len(jobs)
            if op in ("eq_delete", "pos_delete"):
                # one of each per cdc_ingest lap
                m[f"cdc.{op}_p50_s"] += s.end - s.start
            if role is not None:
                m[f"{role}.exec_cpu_s"] += stats.cpu_s
                m[f"{role}.exec_run_s"] += stats.run_s
                m[f"{role}.jobs"] += len(jobs)
        if s.name.startswith("queries."):
            m[f"q.{s.name[8:]}.build_s"] += s.end - s.start
    return m


def per_layer(workload, tracer, notes: dict, session_s: float) -> dict:
    """The per-layer metrics, then the ``DESCRIPTIVE`` counts."""
    (idx,) = workload.lap_spans
    lap = tracer.spans[idx]
    tracer.load_job_stats(lap.job_lo, lap.job_hi)
    traced = _lap_metrics(tracer, idx)
    counts = workload.lap_counts[workload.lap_traced.index(True)]
    out = {name: traced.get(name, counts.get(name, 0)) for name in names()}
    out["session.start_s"] = session_s
    out["session.peak_rss_mb"] = workload.peak_rss_mb
    # traced minus untraced lap wall, past the (untraced) warm-up laps
    untraced = [w for w, tr in zip(workload.lap_walls[workload.warm_laps:],
                                      workload.lap_traced[workload.warm_laps:]) if not tr]
    out["trace.overhead_s"] = out["trace.lap_s"] - statistics.median(untraced)
    for k in ORCHESTRATOR_COUNTS:
        out[f"orchestrator.{k}"] = notes.get("rewrite", {}).get(k, 0)
    for k in ("meta.live_data_files", "meta.live_delete_files",
              "writer.files_out", "writer.bytes_out_per_row"):
        out[k] = counts.get(k, 0)
    out["meta.bytes_per_commit"] = workload.metadata_bytes / max(traced.get("meta.commits", 0), 1)
    return out
