"""The runner waits for, or kills, every process a run leaves behind."""

import os
import subprocess
import sys
import textwrap

from perfbench.tests.conftest import ROOT

# A subreaper whose child exits at once, leaving an orphaned `sleep`.
SCRIPT = textwrap.dedent("""
    import os, subprocess, time
    from perfbench.harness import become_subreaper, reap_descendants
    become_subreaper()
    orphan = int(subprocess.check_output(
        ["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"]))
    t0 = time.monotonic()
    reap_descendants(0.5)
    print("left" if os.path.exists(f"/proc/{orphan}") else "reaped",
          f"{time.monotonic() - t0:.2f}")
""")


def test_orphans_are_reaped():
    out = subprocess.run([sys.executable, "-c", SCRIPT], cwd=ROOT,
                         env={**os.environ, "PYTHONPATH": ROOT},
                         capture_output=True, text=True, timeout=30,
                         check=True).stdout.split()
    assert out[0] == "reaped"
    assert float(out[1]) < 10
