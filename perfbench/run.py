"""Run one benchmark workload and print its metrics.

Usage (from the repository root)::

    python3 perfbench/run.py --workload log_tail_live --seed 1 \\
        --seconds 20 --trace 0

``--trace 0`` measures the end-to-end metrics; ``--trace 1`` measures
them too, then repeats the window with spans, progress and (for the
query mix) Spark's event log on, and reports the per-layer metrics and
the tracing overhead.  Human-readable lines come first; the last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.

The workload runs in a child process.  This process waits for it and
then for every process it left behind, so none outlives the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.harness import (  # noqa: E402
    SparkRun,
    become_subreaper,
    configure_env,
    peak_rss_mb,
    reap_descendants,
)
from perfbench.stats import Summary  # noqa: E402

WORK_ROOT = os.path.join(HERE, ".work")
_WORKER_ENV = "PERFBENCH_WORKER"
REAP_GRACE_S = 10.0   # left-over processes get this long to exit alone


def _setup(ctx, wl) -> tuple[Summary, dict[str, float]]:
    """Session creation (JVM launch included) to the end of the
    warm-up."""
    create_s = ctx.spark_run.create()
    t0 = time.perf_counter()
    wl.warmup()
    warmup_s = time.perf_counter() - t0
    return (Summary(create_s + warmup_s, 1),
            {"session.create_s": create_s, "session.warmup_s": warmup_s})


def _traced(ctx, wl, untraced_e2e) -> dict[str, float]:
    from perfbench.trace import Tracer

    tracer = Tracer()
    ctx.spark_run.stop()
    ctx.spark_run.create(
        event_log_dir=ctx.path("eventlog") if wl.event_log else None)
    tracer.install()
    try:
        wl.trace_warmup()
        tracer.reset()
        ctx.spark_run.collect_garbage()
        window = wl.measure("traced", tracer)
    finally:
        tracer.uninstall()
    shown = len(ctx.details)
    traced_e2e = wl.end_to_end(window)
    del ctx.details[shown:]          # the report describes the untraced run
    layers = wl.layers(window, tracer)
    layers.update(tracer.self_times())
    base = untraced_e2e[wl.primary].value
    layers["trace.overhead_ratio"] = (
        traced_e2e[wl.primary].value / base - 1.0 if base else 0.0)
    layers["trace.spans"] = float(len(tracer.spans))
    tracer.write(os.path.join(WORK_ROOT, "traces",
                              f"{wl.name}-s{ctx.seed}.jsonl"))
    return layers


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.workloads import (
        E2E_UNITS,
        LAYER_UNITS,
        WORKLOADS,
        Checks,
        Context,
    )

    work = os.path.join(WORK_ROOT, f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    ctx = Context(SparkRun(), work, seed, seconds, Checks())
    wl = WORKLOADS[workload](ctx)
    try:
        wl.prepare()
        setup, session_layers = _setup(ctx, wl)
        wl.verify()
        ctx.spark_run.collect_garbage()
        window = wl.measure("main")
        e2e = {"setup_s": setup, "peak_rss_mb": Summary(peak_rss_mb(), 1)}
        e2e.update(wl.end_to_end(window))
        layers = _traced(ctx, wl, e2e) if trace else {}
    finally:
        ctx.spark_run.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    layers.update(session_layers)

    checks = ctx.checks
    print(f"== {workload} seed={seed} seconds={seconds:g} "
          f"trace={int(trace)}")
    for name, unit in E2E_UNITS.items():
        s = e2e[name]
        print(f"  {name:<18} {s.value:>14.6g} {unit:<6} n={s.n}")
    ratio = checks.failed / checks.attempted if checks.attempted else 0.0
    print(f"  {'failed_ratio':<18} {ratio:>14.6g} {'ratio':<6} "
          f"n={checks.attempted}")
    for note in checks.notes:
        print(f"  check: {note}")
    for line in ctx.details:
        print(f"  {line}")
    if trace:
        for name, unit in LAYER_UNITS.items():
            print(f"  {name:<44} {layers.get(name, 0.0):>14.6g} {unit}")

    if trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in LAYER_UNITS.items()}
    else:
        metrics = {n: {"value": float(e2e[n].value), "unit": u}
                   for n, u in E2E_UNITS.items()}
    return {"correct": checks.failed == 0 and checks.attempted > 0,
            "attempted": checks.attempted, "failed": checks.failed,
            "metrics": metrics}


def _supervise(argv: list[str]) -> int:
    """Run the workload in a child process, then wait for every process
    it left behind (killing any still running after a grace period),
    so nothing the run started outlives this one."""
    become_subreaper()
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *argv],
        env={**os.environ, _WORKER_ENV: "1"})
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return child.wait()
    finally:
        if child.poll() is None:
            child.kill()
        reap_descendants(REAP_GRACE_S)


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    ap = argparse.ArgumentParser(description="perfbench workload runner")
    ap.add_argument("--workload", required=True,
                    choices=["log_tail_live", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        import cga_logs_to_kinesis_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable ({e}); "
              "run from a repository checkout", file=sys.stderr)
        return 2
    if os.environ.get(_WORKER_ENV) != "1":
        return _supervise(argv)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
