"""Open-loop log writer for the live-tail workload.

Runs as its own single-threaded process so a stalled pipeline cannot
slow it down.  Line ``i`` is due at ``start + i / rate``; it is written
as soon as the writer reaches it and carries its *due* time as its
creation stamp, so latency measured from the stamp includes any delay
the writer itself suffered.  Per-file rates are Zipf-skewed, and the
busiest file is rotated once (rename to ``.1`` + recreate, logrotate's
default) halfway through the window.

Usage::

    python3 perfbench/loadgen.py --watch-dir DIR --seed N --rate R
        --seconds S --start-ns T

Prints one JSON report (lines written, p99 lateness) on stdout when
done.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))

from perfbench.corpus import (  # noqa: E402
    HEADER_BYTES,
    REFUSE_FLAG,
    REFUSE_SHARE,
    LineMaker,
    header,
    zipf_weights,
)
from perfbench.stats import percentile  # noqa: E402

FILES = 16           # log files written to
ROTATE_AT = 0.5      # share of the window after which one file rotates


def plan(seed: int, rate: float, seconds: float
         ) -> tuple[list[bytes], list[bool], np.ndarray]:
    """Per line: body (after the header), refusal flag, target file."""
    n = int(rate * seconds)
    lines = LineMaker(seed, REFUSE_SHARE).lines(range(n))
    target = np.random.default_rng(seed + 1).choice(
        FILES, size=n, p=zipf_weights(FILES))
    return ([ln[HEADER_BYTES:] for ln in lines],
            [ln[11] == REFUSE_FLAG for ln in lines], target)


def run(watch_dir: str, seed: int, rate: float, seconds: float,
        start_ns: int) -> dict:
    os.makedirs(watch_dir, exist_ok=True)
    bodies, refuse_flags, target = plan(seed, rate, seconds)
    paths = [os.path.join(watch_dir, f"svc-{i:02d}.log")
             for i in range(FILES)]
    handles = [open(p, "ab") for p in paths]
    busiest = int(np.bincount(target, minlength=FILES).argmax())
    rotate_ns = start_ns + int(ROTATE_AT * seconds * 1e9)
    rotated = False
    step_ns = 1e9 / rate
    lags: list[float] = []
    i, n = 0, len(bodies)
    try:
        while i < n:
            now = time.time_ns()
            if not rotated and now >= rotate_ns:
                handles[busiest].close()
                os.rename(paths[busiest], paths[busiest] + ".1")
                handles[busiest] = open(paths[busiest], "ab")
                rotated = True
            due = start_ns + int(i * step_ns)
            if due > now:
                time.sleep(min(due - now, 5_000_000) / 1e9)
                continue
            touched = set()
            while i < n:
                due = start_ns + int(i * step_ns)
                if due > now:
                    break
                f = int(target[i])
                handles[f].write(header(i, due, refuse_flags[i])
                                 + bodies[i])
                touched.add(f)
                lags.append((now - due) / 1e9)
                i += 1
            for f in touched:
                handles[f].flush()
    finally:
        for h in handles:
            h.close()
    return {"lines_written": n,
            "lag_p99_s": percentile(lags, 99) if lags else 0.0}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--watch-dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--start-ns", type=int, required=True)
    a = ap.parse_args(argv)
    report = run(a.watch_dir, a.seed, a.rate, a.seconds, a.start_ns)
    print(json.dumps(report), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
