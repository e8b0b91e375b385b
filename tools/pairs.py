"""Alternating parent/change benchmark pairs for one workload.

Usage:
    python tools/pairs.py --parent DIR --change DIR --workload W \
        --pairs N --seed S --seconds T

Runs ``perfbench/run.py`` in the two checkouts ``N`` times each, one
pair at a time, alternating which checkout runs first so that slow
drift of the host lands on both sides alike.  Each run's last stdout
line is its JSON result.  For every end-to-end metric that
``BENCHMARK.json`` (of the change) declares, and for the wall time of
each run, it prints

    name: parent median [q1-q3] -> change median (wins/pairs, +x.x%)

where a win is a pair whose change run is better in the declared
direction.  Attempted and failed operation counts and any incorrect run
are printed per side, and each run's raw result line goes to stderr.
Timing only: the runs' own correctness checks stay the authority.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def run_once(checkout: str, args) -> tuple[dict, float]:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(
        cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True,
    )
    wall = time.perf_counter() - t0
    lines = [x for x in proc.stdout.splitlines() if x.startswith("{")]
    if not lines:
        raise SystemExit(f"{checkout}: run exited {proc.returncode} with no result")
    return json.loads(lines[-1]), wall


def metric(result: dict, name: str) -> float | None:
    """A metric's value; run.py reports each as {"value", "unit"}."""
    m = result["metrics"].get(name)
    return m["value"] if isinstance(m, dict) else m


def summary(name: str, better: str, parent: list[float], change: list[float]) -> str:
    q1, med, q3 = statistics.quantiles(parent, n=4, method="inclusive")
    c_med = statistics.median(change)
    wins = sum(
        (c < p) if better == "lower" else (c > p) for p, c in zip(parent, change)
    )
    shift = (c_med - med) / med * 100 if med else float("nan")
    return (
        f"{name}: {med:.4g} [{q1:.4g}-{q3:.4g}] -> {c_med:.4g} "
        f"({wins}/{len(parent)}, {shift:+.1f}%)"
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        metrics = [(m["name"], m["better"]) for m in json.load(f)["end_to_end"]]
    sides = {"parent": args.parent, "change": args.change}
    results: dict[str, list[tuple[dict, float]]] = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res, wall = run_once(sides[side], args)
            results[side].append((res, wall))
            print(f"# pair {i + 1} {side}: wall {wall:.1f}s {json.dumps(res)}",
                  file=sys.stderr, flush=True)

    print(f"# {args.workload}, seed {args.seed}, {args.pairs} pairs")
    for name, better in metrics:
        p = [metric(r, name) for r, _ in results["parent"]]
        c = [metric(r, name) for r, _ in results["change"]]
        if None in p or None in c:
            print(f"{name}: missing from some runs")
            continue
        print(summary(name, better, p, c))
    print(summary(
        "run_wall_s", "lower",
        [w for _, w in results["parent"]], [w for _, w in results["change"]],
    ))
    for side, runs in results.items():
        attempted = sum(r.get("attempted", 0) for r, _ in runs)
        failed = sum(r.get("failed", 0) for r, _ in runs)
        wrong = sum(not r.get("correct", False) for r, _ in runs)
        print(f"{side}: attempted {attempted}, failed {failed}, incorrect runs {wrong}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
