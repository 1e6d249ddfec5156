"""Append-tail bridge (SURVEY §7.4.1 option b; reference ``tail
--follow=name --retry``, main.go:214-250): appends to open files must
ship without waiting for rotation."""

from __future__ import annotations

import json
import os
import time

from cga_logs_to_kinesis_spark.streaming.faults import JsonDirTransport
from cga_logs_to_kinesis_spark.streaming.pipeline import (
    PipelineConfig,
    build_tailed_pipeline,
)
from cga_logs_to_kinesis_spark.streaming.tailer import TailFollower


def mk(tmp_path):
    watch = tmp_path / "logs"
    spool = tmp_path / "spool"
    watch.mkdir()
    spool.mkdir()
    t = TailFollower(watch_dir=str(watch), spool_dir=str(spool))
    t._load_state()
    return watch, spool, t


def spooled_lines(spool):
    out = []
    for f in sorted(spool.glob("*.log")):
        out.extend(f.read_text().splitlines())
    return out


def test_appends_spool_as_complete_lines(tmp_path):
    watch, spool, t = mk(tmp_path)
    f = watch / "app.log"
    f.write_text("one\ntwo\npart")           # trailing partial line
    assert t.poll_once() == 1
    assert spooled_lines(spool) == ["one", "two"]
    # partial completes + more appended
    with f.open("a") as fh:
        fh.write("ial\nthree\n")
    assert t.poll_once() == 1
    assert spooled_lines(spool) == ["one", "two", "partial", "three"]
    # nothing new → no spool file
    assert t.poll_once() == 0


def test_retry_semantics_file_appears_later(tmp_path):
    watch, spool, t = mk(tmp_path)
    assert t.poll_once() == 0                 # nothing there yet: no error
    (watch / "late.log").write_text("hello\n")
    assert t.poll_once() == 1
    assert spooled_lines(spool) == ["hello"]


def test_rotation_follow_by_name(tmp_path):
    watch, spool, t = mk(tmp_path)
    f = watch / "rot.log"
    f.write_text("a\n")
    t.poll_once()
    # rotate: move aside, recreate same name (new inode)
    os.rename(f, watch / "rot.log.1")
    f.write_text("b\n")
    t.poll_once()
    assert spooled_lines(spool) == ["a", "b"]


def test_rotation_drains_old_inode(tmp_path):
    """Bytes appended to the old inode after the last poll — including
    a final unterminated line — ship at rotation (tail's EOF flush,
    reference main.go:238-244).  This is the logrotate race: poll,
    append, rename, recreate, poll."""
    watch, spool, t = mk(tmp_path)
    f = watch / "rot.log"
    f.write_text("a\n")
    t.poll_once()
    # appended after the poll, then rotated away before the next one
    with f.open("a") as fh:
        fh.write("late1\nlate2\npartial-tail")
    os.rename(f, watch / "rot.log.1")
    f.write_text("new\n")
    t.poll_once()
    assert spooled_lines(spool) == [
        "a", "late1", "late2", "partial-tail", "new"]


def test_deletion_drains_old_inode(tmp_path):
    """A deleted (not rotated) file's remaining bytes ship too; the
    name is then retried and a recreation starts from 0."""
    watch, spool, t = mk(tmp_path)
    f = watch / "del.log"
    f.write_text("kept\n")
    t.poll_once()
    with f.open("a") as fh:
        fh.write("after-poll\n")
    os.remove(f)
    assert t.poll_once() == 1                 # drain ships the tail
    assert spooled_lines(spool) == ["kept", "after-poll"]
    f.write_text("reborn\n")
    t.poll_once()
    assert spooled_lines(spool) == ["kept", "after-poll", "reborn"]


def test_oversized_line_no_livelock(tmp_path):
    """A single line longer than max_chunk_bytes ships in chunk-sized
    segments instead of being re-read forever (documented deviation
    from tail's unbounded buffering)."""
    watch, spool, t = mk(tmp_path)
    t.max_chunk_bytes = 8
    f = watch / "big.log"
    f.write_text("0123456789abcdef\n")        # 17 B total, 8 B chunks
    assert t.poll_once() == 1                 # bytes 0-7, no newline
    assert t.poll_once() == 1                 # bytes 8-15, no newline
    assert t.poll_once() == 1                 # final "\n"
    assert t.poll_once() == 0                 # fully consumed: no loop
    joined = "".join(
        fp.read_text() for fp in sorted(spool.glob("*.log")))
    assert joined == "0123456789abcdef\n"
    # normal short lines still work afterwards
    with f.open("a") as fh:
        fh.write("ok\n")
    t.poll_once()
    assert joined + "ok\n" == "".join(
        fp.read_text() for fp in sorted(spool.glob("*.log")))


def test_drain_cuts_chunks_at_newlines(tmp_path):
    """A rotation drain bigger than max_chunk_bytes must not split
    ordinary lines at arbitrary byte boundaries: every non-final drain
    chunk is cut at its last newline (the remainder carries into the
    next read), and only the true EOF flush ships a partial line."""
    watch, spool, t = mk(tmp_path)
    t.max_chunk_bytes = 8
    f = watch / "rot.log"
    f.write_text("x\n")
    t.poll_once()
    # >2 chunks of undrained data on the old inode, then logrotate
    with f.open("a") as fh:
        fh.write("aaaa\nbbbb\ncccc\ndd")
    os.rename(f, watch / "rot.log.1")
    f.write_text("new\n")
    t.poll_once()
    assert spooled_lines(spool) == ["x", "aaaa", "bbbb", "cccc", "dd",
                                    "new"]
    # every spool file but the EOF flush ends on a line boundary
    bodies = [fp.read_bytes() for fp in sorted(spool.glob("*.log"))]
    partials = [b for b in bodies if not b.endswith(b"\n")]
    assert partials == [b"cccc\ndd"]


def test_truncation_restarts_from_zero(tmp_path):
    watch, spool, t = mk(tmp_path)
    f = watch / "tr.log"
    f.write_text("aaa\nbbb\n")
    t.poll_once()
    f.write_text("c\n")                       # same inode, smaller
    t.poll_once()
    assert spooled_lines(spool) == ["aaa", "bbb", "c"]


def test_offsets_survive_restart(tmp_path):
    watch, spool, t = mk(tmp_path)
    f = watch / "per.log"
    f.write_text("x\n")
    t.poll_once()
    t._save_state()
    t2 = TailFollower(watch_dir=str(watch), spool_dir=str(spool))
    t2._load_state()
    assert t2.poll_once() == 0                # nothing re-shipped
    with f.open("a") as fh:
        fh.write("y\n")
    assert t2.poll_once() == 1
    assert spooled_lines(spool) == ["x", "y"]


def delivered_messages(out):
    import base64

    msgs = []
    for fp in out.glob("page-*.json"):
        for data, _key in json.loads(fp.read_text()):
            raw = json.loads(data)["log_message"]["message"]
            msgs.append(base64.b64decode(raw).decode())
    return msgs


def test_tailed_pipeline_ships_appends_live(spark, tmp_path):
    """The full bridge: append to a watched open file while the query
    runs; rows are delivered without any rotation."""
    watch = tmp_path / "logs"
    watch.mkdir()
    f = watch / "app.log"
    f.write_text("first\n")
    out = tmp_path / "delivered"

    cfg = PipelineConfig(watch_dir=str(watch), glob="*.log",
                         origin="inst-t",
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         flush_interval_s=1)
    query, stats, tailer = build_tailed_pipeline(
        spark, cfg, JsonDirTransport(str(out)),
        spool_dir=str(tmp_path / "spool"), poll_interval_s=0.1)
    try:
        deadline = time.time() + 60
        while stats.records_sent < 1 and time.time() < deadline:
            time.sleep(0.2)
        assert stats.records_sent >= 1, "initial content never delivered"

        with f.open("a") as fh:                 # append — no rotation
            fh.write("second\nthird\n")
        while stats.records_sent < 3 and time.time() < deadline:
            time.sleep(0.2)
        assert stats.records_sent == 3, "appends not delivered"
    finally:
        query.stop()
        tailer.stop()
    assert sorted(delivered_messages(out)) == ["first", "second", "third"]


def test_tailed_pipeline_survives_rotation_live(spark, tmp_path):
    """Logrotate under a RUNNING pipeline: lines appended to the old
    inode after the last poll must still be delivered (end-to-end
    through Spark, not just the tailer unit)."""
    watch = tmp_path / "logs"
    watch.mkdir()
    f = watch / "app.log"
    f.write_text("before\n")
    out = tmp_path / "delivered"

    cfg = PipelineConfig(watch_dir=str(watch), glob="*.log",
                         origin="inst-r",
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         flush_interval_s=1)
    query, stats, tailer = build_tailed_pipeline(
        spark, cfg, JsonDirTransport(str(out)),
        spool_dir=str(tmp_path / "spool"), poll_interval_s=0.2)
    try:
        deadline = time.time() + 60
        while stats.records_sent < 1 and time.time() < deadline:
            time.sleep(0.2)
        assert stats.records_sent >= 1

        # rotate: append to the live file, rename, recreate — the
        # appended line rides the old inode and must be drained
        with f.open("a") as fh:
            fh.write("appended-pre-rotate\n")
        os.rename(f, watch / "app.log.1")
        f.write_text("after-rotate\n")

        while stats.records_sent < 3 and time.time() < deadline:
            time.sleep(0.2)
        assert stats.records_sent == 3, "rotation lost records"
    finally:
        query.stop()
        tailer.stop()
    assert sorted(delivered_messages(out)) == [
        "after-rotate", "appended-pre-rotate", "before"]


def test_tailed_pipeline_keys_records_by_watched_file(spark, tmp_path):
    """Every record's partition key (and source_instance) is the path
    of the watched file it was appended to — the reference's key,
    main.go:346 — not the path of the spool chunk that carried it.
    Two files, several polls each, and a rotation of one of them:
    a file keeps one key across chunks and across the rotation."""
    watch = tmp_path / "logs"
    (watch / "sub").mkdir(parents=True)
    paths = {"a": watch / "a.log", "b": watch / "sub" / "b.log"}
    for name, p in paths.items():
        p.write_text(f"{name}-0\n")
    out = tmp_path / "delivered"

    cfg = PipelineConfig(watch_dir=str(watch), glob="*.log",
                         origin="inst-k",
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         flush_interval_s=1)
    query, stats, tailer = build_tailed_pipeline(
        spark, cfg, JsonDirTransport(str(out)),
        spool_dir=str(tmp_path / "spool"), poll_interval_s=0.1)
    try:
        deadline = time.time() + 90

        def wait_for(n):
            while stats.records_sent < n and time.time() < deadline:
                time.sleep(0.1)
            assert stats.records_sent == n

        wait_for(2)
        for i in (1, 2):                      # one chunk per append
            for name, p in paths.items():
                with p.open("a") as fh:
                    fh.write(f"{name}-{i}\n")
            time.sleep(0.3)
        # rotate b: the line appended to the old inode is drained
        with paths["b"].open("a") as fh:
            fh.write("b-3\n")
        os.rename(paths["b"], watch / "sub" / "b.log.1")
        paths["b"].write_text("b-4\n")
        wait_for(8)
    finally:
        query.stop()
        tailer.stop()

    import base64

    keys: dict[str, set[str]] = {"a": set(), "b": set()}
    n = 0
    for fp in out.glob("page-*.json"):
        for data, key in json.loads(fp.read_text()):
            log = json.loads(data)["log_message"]
            msg = base64.b64decode(log["message"]).decode()
            assert log["source_instance"] == key
            keys[msg.split("-")[0]].add(key)
            n += 1
    assert n == 8
    assert keys == {name: {str(p)} for name, p in paths.items()}


def test_spool_name_carries_source_path(tmp_path):
    """The spool file name encodes the watched file's path relative to
    the watch dir.  A path too long for that is encoded as a digest
    instead, so the poll never fails on it (the tmp name written first
    is the longest name involved)."""
    import hashlib
    import re

    from cga_logs_to_kinesis_spark.streaming.tailer import (
        _MAX_SOURCE_HEX,
        SPOOL_NAME_RE,
    )

    watch, spool, t = mk(tmp_path)
    n = _MAX_SOURCE_HEX // 2 - len("/a.log")
    longest, too_long = "d" * n + "/a.log", "e" * (n + 1) + "/a.log"
    for i, rel in enumerate(["a.log", longest, too_long]):
        (watch / rel).parent.mkdir(exist_ok=True)
        (watch / rel).write_text(f"{i}\n")
    assert t.poll_once() == 3
    sources = {}
    for f in spool.glob("*.log"):
        hexed = re.search(SPOOL_NAME_RE, f.name).group(1)
        sources[f.read_text()] = bytes.fromhex(hexed).decode()
    digest = "#" + hashlib.sha256(too_long.encode()).hexdigest()
    assert sources == {"0\n": "a.log", "1\n": longest, "2\n": digest}
