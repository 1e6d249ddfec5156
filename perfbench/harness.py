"""Process environment and Spark session lifecycle for one benchmark run.

Everything a run writes stays under its work directory inside the
checkout: Spark's local dirs, the JVM's and Python's temp dirs (the
engine zips its package into ``tempfile.gettempdir()``), checkpoints,
corpora and receipts.
"""

from __future__ import annotations

import ctypes
import gc
import os
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 4                 # local[4]: the core count the figures are for
DRIVER_MEM = "2g"        # small and fixed, so peak RSS is comparable
PR_SET_CHILD_SUBREAPER = 36   # <linux/prctl.h>


def configure_env(work: str) -> None:
    """Set before the JVM starts: it reads all of these at launch."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers unpickle the benchmark transport by import path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every live process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm is parenthesised and may hold spaces: split after it
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        table[int(entry)] = (ppid, name)
    return table


def _java_descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    table = _proc_table()
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if table[c][1] == "java":
                out.append(c)
            else:
                todo.append(c)
    return out


def peak_rss_mb() -> float:
    """VmHWM of this driver process plus its JVM child, in MiB."""
    pids = [os.getpid(), *_java_descendants(os.getpid())]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


class SparkRun:
    """Owns the session and the JVM behind it for one benchmark run."""

    def __init__(self) -> None:
        self.spark = None

    def create(self, event_log_dir: str | None = None) -> float:
        """(Re)create the session; returns seconds taken.  The first
        call launches the JVM; later calls start a fresh SparkContext
        in the same JVM."""
        from pyspark import SparkContext

        jvm = SparkContext._jvm
        if event_log_dir is not None:
            if jvm is None:
                raise RuntimeError("event log needs a running JVM")
            os.makedirs(event_log_dir, exist_ok=True)
            props = {"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{event_log_dir}",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"}
            for k, v in props.items():
                jvm.java.lang.System.setProperty(k, v)
        elif jvm is not None:
            jvm.java.lang.System.clearProperty("spark.eventLog.enabled")
        t0 = time.perf_counter()
        from cga_logs_to_kinesis_spark.session import get_session
        self.spark = get_session("perfbench")
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    def collect_garbage(self) -> None:
        """Start the window with both heaps collected, so a collection
        left over from the warm-up does not land inside it."""
        gc.collect()
        self.spark.sparkContext._jvm.java.lang.System.gc()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()   # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def become_subreaper() -> None:
    """Make this process the one orphaned descendants are re-parented
    to, so :func:`reap_descendants` can wait for all of them: the
    multiprocessing resource tracker and PySpark's worker daemon both
    outlive the process that started them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_descendants(grace_s: float) -> None:
    """Wait until every process below this one has exited, killing
    those still running after ``grace_s`` seconds."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child, (ppid, _) in _proc_table().items():
                if ppid == me:
                    try:
                        os.kill(child, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)
