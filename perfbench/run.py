"""Benchmark entry point.

    python3 perfbench/run.py --workload compact_mor --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository.  Every file the run
writes stays under ``.perfbench/`` in that checkout: the generated input
tables (cached between runs), the tables the workload builds, Spark's
local and temp directories, and the span dump of a traced run.  The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics.  The lines before it print
the resolved session settings and the workload's metrics under their
own names.  The exit code is 1 when a correctness check fails, and 2
when the checkout holds no ``ic_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

# Heap of the Spark JVM.  Fixed so that the run is small next to other
# processes on the host and peak_rss_mb has one defined ceiling.
DRIVER_MEM = "3g"


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    seconds: float
    tables_dir: str
    small_tables_dir: str
    lineitem_parts: str
    work_dir: str
    jvm_pid: int
    notes: dict = field(default_factory=dict)

    def peak_rss_mb(self) -> float:
        """Peak resident set (VmHWM) of the Spark JVM plus this Python
        process.  Python UDF workers are not counted."""
        return (_vm_hwm_kb(self.jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_session_env(run_dir: str) -> dict:
    """Session settings, through the env vars ``ic_spark.session`` reads,
    plus the paths that keep Spark, the JVM and Python's tempfile inside
    the run directory.  PYTHONPATH lets UDF workers import ``ic_spark``
    from any working directory."""
    cpus = str(_cpus())
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no console progress bar: its thread redraws stderr every 200 ms
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -Dspark.ui.showConsoleProgress=false",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    return env


def ensure_inputs() -> tuple[str, str, str]:
    """The sf0.1 and sf0.01 tables and the 32-way lineitem split, made
    once per checkout in a child process (so generation never counts
    into this process's peak RSS)."""
    from perfbench import datagen

    dirs = tuple(
        os.path.join(STATE, f"{d}-{datagen.VERSION}")
        for d in ("tables-sf0.1", "tables-sf0.01", "lineitem-parts")
    )
    if not all(os.path.isdir(d) for d in dirs):
        subprocess.run(
            [sys.executable, "-m", "perfbench.datagen", STATE], cwd=ROOT, check=True
        )
    return dirs


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run(args, run_dir: str):
    """Start the pinned session, run the workload, stop the session."""
    from perfbench.workloads import WORKLOADS

    env = pin_session_env(run_dir)
    tables_dir, small_tables_dir, parts_dir = ensure_inputs()

    from ic_spark.session import get_spark
    from perfbench import layers
    from perfbench.trace import Tracer

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        conf = spark.sparkContext.getConf()
        settings = {
            k: conf.get(k, None)
            for k in (
                "spark.master",
                "spark.sql.shuffle.partitions",
                "spark.driver.memory",
                "spark.sql.adaptive.enabled",
            )
        }
        settings["SPARK_LOCAL_DIRS"] = env["SPARK_LOCAL_DIRS"]
        settings["PYTHONPATH"] = env["PYTHONPATH"]
        print("# session " + json.dumps(settings, sort_keys=True), flush=True)

        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Context(
            spark=spark,
            tracer=tracer,
            seed=args.seed,
            seconds=args.seconds,
            tables_dir=tables_dir,
            small_tables_dir=small_tables_dir,
            lineitem_parts=parts_dir,
            work_dir=os.path.join(run_dir, "work"),
            jvm_pid=int(spark.sparkContext._jvm.ProcessHandle.current().pid()),
        )
        os.makedirs(ctx.work_dir)
        layers.install(tracer, ctx.notes)
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](ctx)
        init_s = time.perf_counter() - t0
        wl.session_s = session_s
        try:
            e2e = wl.run()
        finally:
            tracer.unwrap_all()
        wl.phases = {"init": init_s, **wl.phases}
        e2e = {"setup_s": wl.setup_s, **e2e}
        if args.trace:
            metrics = layers.per_layer(wl, tracer, ctx.notes, session_s)
            dump = os.path.join(STATE, f"spans-{args.workload}-{args.seed}.json")
            with open(dump, "w") as f:
                json.dump(
                    [
                        {**s.__dict__, "self_s": tracer.self_seconds(i)}
                        for i, s in enumerate(tracer.spans)
                    ],
                    f,
                )
            print(f"# spans written to {os.path.relpath(dump, ROOT)}", flush=True)
        else:
            metrics = e2e
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
    wl.phases["stop"] = time.perf_counter() - t0
    return wl, metrics


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ic_spark", "__init__.py")):
        print(f"no ic_spark package under {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        wl, metrics = _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    extra = {
        **wl.extra,
        "peak_rss_mb": (wl.peak_rss_mb, "MB"),
        "failed_op_ratio": (wl.failed / max(wl.attempted, 1), "ratio"),
        "laps": (wl.laps, "count"),
        # the untraced laps past the warm-up laps
        "lap_s": (
            statistics.median(
                w for w, tr in zip(wl.lap_walls[wl.warm_laps:], wl.lap_traced[wl.warm_laps:]) if not tr
            ),
            "s",
        ),
    }
    for name, (value, unit) in extra.items():
        print(f"# {args.workload} {name} = {value} {unit}")
    units = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    kind = "per_layer" if args.trace else "end_to_end"
    unit_of = {m["name"]: m["unit"] for m in units[kind]}
    for name, value in metrics.items():
        if name not in unit_of:
            print(f"# {args.workload} {name} = {value}")
    print(
        "# phases "
        + " ".join(f"{k} {v:.1f}s" for k, v in {"session": wl.session_s, **wl.phases}.items()),
        file=sys.stderr,
    )
    for op, xs in {"setup": wl.setups, **wl.samples}.items():
        print(f"# samples {op} " + " ".join(f"{x:.4f}" for x in xs), file=sys.stderr)
    for msg in wl.errors:
        print(f"# FAILED {msg}", file=sys.stderr)
    correct = wl.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": wl.attempted,
                "failed": wl.failed,
                "metrics": {
                    k: {"value": metrics[k], "unit": unit_of[k]} for k in unit_of
                },
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    if os.environ.get("PYTHONHASHSEED") != "0":
        # Fixed string hashing: set and dict iteration order in the
        # program (file lists, path sets) is then the same in every run.
        os.execve(sys.executable, [sys.executable, *sys.argv],
                  {**os.environ, "PYTHONHASHSEED": "0"})
    sys.path.insert(0, ROOT)
    sys.exit(main())
