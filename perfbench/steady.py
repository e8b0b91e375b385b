"""Steadiness check: run the benchmark K times per workload and compare
each end-to-end metric's spread with its bound.

    python3 perfbench/steady.py --runs 10 --sets 2 [--workloads a,b]

Run i of a set uses seed i + 1, so every set uses the same seeds.  For
each workload and metric the script prints the median, first and third
quartile (``statistics.quantiles(n=4)``) and the spread,
(q3 - q1) / median, next to the metric's bound from BENCHMARK.json;
``!`` marks a spread above a third of the bound.  With ``--sets 2`` it
also prints how far the second set's median moved from the first,
against the same bound; ``!`` marks a shift beyond it.  Every run's
metrics go to stderr.  The exit code is 1 when any line is marked.
Run it from the root of the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect result")
    out["wall_s"] = wall
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main() -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for wl in args.workloads.split(","):
        sets = []
        for s in range(args.sets):
            runs = []
            for i in range(args.runs):
                r = run_once(wl, i + 1, bench["run_seconds"])
                values = " ".join(f"{k} {m['value']:.4g}" for k, m in r["metrics"].items())
                print(f"# {wl} set {s} seed {i + 1}: wall {r['wall_s']:.1f}s {values}",
                      file=sys.stderr, flush=True)
                runs.append(r)
            sets.append(runs)
        print(f"{wl}: {args.runs} runs x {args.sets} set(s), "
              f"mean wall {statistics.mean(r['wall_s'] for s in sets for r in s):.1f}s")
        for name, bound in bounds.items():
            meds = []
            for s, runs in enumerate(sets):
                med, q1, q3, sp = spread([r["metrics"][name]["value"] for r in runs])
                meds.append(med)
                flag = "!" if sp > bound / 3 else " "
                ok &= flag == " "
                print(f"  {flag} {name:18s} set {s}: median {med:.4g} q1 {q1:.4g} "
                      f"q3 {q3:.4g} spread {sp:.3f} (bound {bound})")
            if len(meds) == 2:
                shift = (meds[1] - meds[0]) / meds[0]
                flag = "!" if abs(shift) > bound else " "
                ok &= flag == " "
                print(f"  {flag} {name:18s} median shift {shift:+.3f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
