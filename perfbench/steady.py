"""Run-to-run steadiness of the end-to-end metrics, and tracing overhead.

    python3 perfbench/steady.py --workload query [--seeds 1,2,3] [--traced 2]

Runs perfbench/run.py once per seed (default seeds 1..10), untraced, and
prints for every end-to-end metric of BENCHMARK.json its median and its
spread: the distance between the first and third quartile
(statistics.quantiles, n=4) as a share of the median, next to the
metric's bound.  Each run's host weather (CPU probe, loadavg, CPU steal)
is listed so a slow run can be told from a slow host.  With --traced K it
also runs K traced runs and reports tracing overhead as traced minus
untraced median.  Exits 1 when a spread exceeds its metric's bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    e2e = next((json.loads(line.split(" ", 1)[1]) for line in lines
                if line.startswith("perfbench-e2e ")), None)
    if out.returncode != 0 or e2e is None:
        sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
        raise SystemExit(f"run failed: {' '.join(cmd)} (exit {out.returncode})")
    return e2e


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10",
                    help="comma-separated seeds")
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seeds = [int(s) for s in args.seeds.split(",")]

    runs = []
    for seed in seeds:
        e2e = _run(args.workload, seed, seconds, 0)
        runs.append(e2e)
        print(f"seed {seed}: " + " ".join(
            f"{k}={e2e[k]:.4g}" for k in list(bounds) + ["cpu_probe_ms", "loadavg", "steal_share"]),
            flush=True)
    bad = 0
    print(f"{'metric':<14} {'median':>12} {'spread':>8} {'bound':>6}")
    for name, bound in bounds.items():
        values = [r[name] for r in runs]
        s = spread(values) if len(values) >= 2 else float("nan")
        over = s > bound
        bad += over
        print(f"{name:<14} {statistics.median(values):>12.4f} {s:>8.3f} {bound:>6.2f}"
              + ("  OVER BOUND" if over else ""))
    if args.traced:
        traced = [_run(args.workload, seed, seconds, 1) for seed in seeds[:args.traced]]
        for name in bounds:
            base = statistics.median(r[name] for r in runs)
            t = statistics.median(r[name] for r in traced)
            print(f"tracing overhead {name}: {t - base:+.4f} ({(t - base) / base:+.1%})")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
