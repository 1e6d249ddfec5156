"""Run a workload over several seeds and report each end-to-end
metric's median and quartile spread ((Q3 - Q1) / median).

Usage (from the repository root)::

    python3 perfbench/spread.py --workload log_tail_live \\
        --seeds 1-10 [--seconds N]

``--seconds`` defaults to ``run_seconds`` from BENCHMARK.json, and the
spreads are compared with the bounds there.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    a = ap.parse_args(argv)

    values: dict[str, list[float]] = {}
    for seed in _seeds(a.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", str(a.seconds),
             "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, timeout=600)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}", flush=True)
            continue
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {wall:.1f}s correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in result["metrics"].items()),
              flush=True)
    for name, xs in values.items():
        if len(xs) < 2:
            continue
        spread = quartile_spread(xs)
        bound = bounds.get(name)
        flag = "" if bound is None or spread <= bound / 3 else "  <-- wide"
        print(f"{name:<18} median={statistics.median(xs):<12.5g} "
              f"spread={spread:.4f} bound={bound}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
