"""Daemon entry point: env-var surface parity with the reference's
ctl.erb wiring, exercised end to end in drain mode."""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]


def test_daemon_drain_mode(tmp_path):
    watch = tmp_path / "logs"
    watch.mkdir()
    (watch / "app.log").write_text("one\ntwo\n")
    (watch / "other.txt").write_text("skip\n")
    out = tmp_path / "delivered"

    import os
    env = dict(os.environ)
    env.update({
        "DIRS_TO_WATCH": f"{watch}/**/*.log",
        "INSTANCE": "daemon-test",
        "STREAM_NAME": "s1",
        "TRANSPORT": "file",
        "DELIVERY_DIR": str(out),
        "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        # subprocess workers must resolve the same interpreter that has
        # pandas/pyarrow (bare `python3` from PATH wouldn't)
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    env.pop("FILES_TO_WATCH", None)

    def drain():
        proc = subprocess.run(
            [sys.executable, "-m", "cga_logs_to_kinesis_spark.main",
             "--drain"],
            cwd=REPO, env=env, capture_output=True, text=True,
            timeout=420)
        assert proc.returncode == 0, proc.stderr[-2000:]
        assert "drained: 2 records sent, 0 dropped" in proc.stdout
        # every batch is committed: its spool files are deleted
        assert not list((tmp_path / "ckpt" / "d0-spool").glob("*.log"))

        delivered = []
        for f in out.glob("*.jsonl"):
            delivered.extend(json.loads(line)
                             for line in f.read_text().splitlines())
        assert all(d["origin"] == "daemon-test" for d in delivered)
        # BinaryType serializes as base64 on the JSON wire (and the
        # consumer's from_json BINARY schema decodes it back)
        import base64
        return sorted(base64.b64decode(d["log_message"]["message"]).decode()
                      for d in delivered)

    assert drain() == ["one", "two"]
    # lines appended to the same open file after the first drain are
    # shipped by the next one, and nothing is shipped twice
    with (watch / "app.log").open("a") as fh:
        fh.write("three\nfour\n")
    assert drain() == ["four", "one", "three", "two"]


def test_files_to_watch_tails_exactly_the_named_file(tmp_path):
    """A FILES_TO_WATCH entry names one path, as tail does (reference
    main.go:214-250): a same-named file in a subdirectory, or a name
    that the entry would match as a glob, is not tailed."""
    import os
    watch = tmp_path / "logs"
    (watch / "nested").mkdir(parents=True)
    (watch / "app[1].log").write_text("named\n")
    (watch / "nested" / "app[1].log").write_text("nested\n")
    (watch / "app1.log").write_text("glob-match\n")
    out = tmp_path / "delivered"
    env = dict(os.environ)
    env.update({
        "FILES_TO_WATCH": str(watch / "app[1].log"),
        "TRANSPORT": "file",
        "DELIVERY_DIR": str(out),
        "CHECKPOINT_DIR": str(tmp_path / "ckpt"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    env.pop("DIRS_TO_WATCH", None)
    proc = subprocess.run(
        [sys.executable, "-m", "cga_logs_to_kinesis_spark.main",
         "--drain"],
        cwd=REPO, env=env, capture_output=True, text=True,
        timeout=420)
    assert proc.returncode == 0, proc.stderr[-2000:]
    import base64
    delivered = [
        (base64.b64decode(d["log_message"]["message"]).decode(),
         d["log_message"]["source_instance"])
        for f in out.glob("*.jsonl")
        for d in map(json.loads, f.read_text().splitlines())]
    assert delivered == [("named", str(watch / "app[1].log"))]


def test_daemon_requires_watch_config(tmp_path):
    import os
    env = dict(os.environ)
    env.pop("FILES_TO_WATCH", None)
    env.pop("DIRS_TO_WATCH", None)
    proc = subprocess.run(
        [sys.executable, "-m", "cga_logs_to_kinesis_spark.main",
         "--drain"],
        cwd=REPO, env=env, capture_output=True, text=True,
        timeout=120)
    assert proc.returncode == 2
    assert "nothing to watch" in proc.stderr

    # a checkpoint under a watched root would be tailed itself
    env.update({"DIRS_TO_WATCH": f"{tmp_path}/**/*",
                "CHECKPOINT_DIR": str(tmp_path / "sub" / "ckpt")})
    proc = subprocess.run(
        [sys.executable, "-m", "cga_logs_to_kinesis_spark.main",
         "--drain"],
        cwd=REPO, env=env, capture_output=True, text=True,
        timeout=120)
    assert proc.returncode == 2
    assert "lies under the watched directory" in proc.stderr
