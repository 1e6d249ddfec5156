"""Append-tail bridge (SURVEY §7.4.1 option b; reference ``tail
--follow=name --retry``, main.go:214-250): appends to open files must
ship without waiting for rotation."""

from __future__ import annotations

import base64
import json
import os
import time
from collections import Counter

from cga_logs_to_kinesis_spark.streaming.envelope import MAX_BYTES_PER_TRIGGER
from cga_logs_to_kinesis_spark.streaming.faults import JsonDirTransport
from cga_logs_to_kinesis_spark.streaming.pipeline import (
    PipelineConfig,
    build_tailed_pipeline,
)
from cga_logs_to_kinesis_spark.streaming.sink import Transport
from cga_logs_to_kinesis_spark.streaming.tailer import (
    TailFollower,
    prune_spool,
)


def mk(tmp_path):
    watch = tmp_path / "logs"
    spool = tmp_path / "spool"
    watch.mkdir()
    spool.mkdir()
    t = TailFollower(watch_dir=str(watch), spool_dir=str(spool))
    t._load_state()
    return watch, spool, t


def spooled(spool):
    """(source path relative to the watch dir, line) of every spooled
    line, in spool order; every spool file ends on a line boundary."""
    out = []
    for f in sorted(spool.glob("*.log")):
        body = f.read_bytes()
        assert body.endswith(b"\n")
        for rec in body[:-1].split(b"\n"):
            source, line = rec.split(b"\t", 1)
            out.append((bytes.fromhex(source.decode()).decode(),
                        line.decode()))
    return out


def spooled_lines(spool):
    return [line for _, line in spooled(spool)]


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
    # each segment is one record, and every byte ships once
    assert spooled_lines(spool) == ["01234567", "89abcdef", ""]
    # normal short lines still work afterwards
    with f.open("a") as fh:
        fh.write("ok\n")
    t.poll_once()
    assert spooled_lines(spool) == ["01234567", "89abcdef", "", "ok"]


def test_drain_cuts_chunks_at_newlines(tmp_path):
    """A rotation drain bigger than max_chunk_bytes must not split
    ordinary lines at arbitrary byte boundaries: every non-final drain
    chunk is cut at its last newline (the remainder carries into the
    next read), and only the true EOF flush ships a partial line —
    each as one record."""
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


def test_prune_spool_keeps_uncommitted_batches(tmp_path):
    """Only the spool files of source log entries up to the last
    committed batch's offset are deleted; a compact file repeats the
    entries before it."""
    ckpt, spool = tmp_path / "ckpt", tmp_path / "spool"
    for d in ("commits", "offsets", "sources/0"):
        (ckpt / d).mkdir(parents=True)
    spool.mkdir()

    def log(name, *files):
        (ckpt / "sources/0" / name).write_text("v1\n" + "".join(
            json.dumps({"path": f"file://{spool}/{f}", "batchId": 0})
            + "\n" for f in files))
        for f in files:
            (spool / f).write_text("l\n")

    log("0", "a.log")
    log("1.compact", "a.log", "b.log")
    log("2", "c.log")
    (ckpt / "commits/1").write_text("v1\n{}\n")
    (ckpt / "offsets/1").write_text('v1\n{}\n{"logOffset":1}\n')
    (ckpt / "offsets/2").write_text('v1\n{}\n{"logOffset":2}\n')
    assert prune_spool(str(ckpt), str(spool), -1) == 1
    assert sorted(p.name for p in spool.iterdir()) == ["c.log"]
    (ckpt / "commits/2").write_text("v1\n{}\n")
    assert prune_spool(str(ckpt), str(spool), 1) == 2
    assert not list(spool.iterdir())


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
    runs; rows are delivered without any rotation.  Only a newline ends
    a line: a lone carriage return stays inside its message."""
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
        spool_dir=str(tmp_path / "spool"))
    try:
        deadline = time.time() + 60
        while stats.records_sent < 1 and time.time() < deadline:
            time.sleep(0.2)
        assert stats.records_sent >= 1, "initial content never delivered"

        with f.open("ab") as fh:                # append — no rotation
            fh.write(b"second\nthird\nfo\rur\n")
        while stats.records_sent < 4 and time.time() < deadline:
            time.sleep(0.2)
        assert stats.records_sent == 4, "appends not delivered as sent"
    finally:
        query.stop()
        tailer.stop()
    assert sorted(delivered_messages(out)) == ["first", "fo\rur", "second",
                                               "third"]


def test_tailer_survives_a_failed_spool_write(spark, tmp_path, monkeypatch):
    """A spool write that fails (a full disk) must not end the tailer
    thread: after its retry wait the tailer ships the lines it still
    holds, once, and lines appended later ship too.  The partial file
    of the failed write is removed."""
    import errno

    real_replace = os.replace
    failed = []

    def replace_failing_once(src, dst):
        if not failed and str(dst).endswith(".log"):
            failed.append(dst)
            raise OSError(errno.ENOSPC, "No space left on device")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace_failing_once)
    watch = tmp_path / "logs"
    watch.mkdir()
    f = watch / "app.log"
    f.write_text("first\nsecond\n")
    out = tmp_path / "delivered"

    cfg = PipelineConfig(watch_dir=str(watch), glob="*.log",
                         origin="inst-e",
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         flush_interval_s=1)
    query, stats, tailer = build_tailed_pipeline(
        spark, cfg, JsonDirTransport(str(out)),
        spool_dir=str(tmp_path / "spool"))
    try:
        deadline = time.time() + 90
        while stats.records_sent < 2 and time.time() < deadline:
            time.sleep(0.2)
        assert stats.records_sent == 2, "lines lost to the failed write"
        assert failed and tailer.errors == 1

        with f.open("ab") as fh:
            fh.write(b"third\n")
        while stats.records_sent < 3 and time.time() < deadline:
            time.sleep(0.2)
        assert tailer.is_alive()
    finally:
        query.stop()
        tailer.stop()
    assert sorted(delivered_messages(out)) == ["first", "second", "third"]
    assert not list((tmp_path / "spool").glob(".*.tmp"))


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
        spool_dir=str(tmp_path / "spool"))
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


def test_tailed_drain_ships_files_bigger_than_one_chunk(spark, tmp_path,
                                                       monkeypatch):
    """A backfill (available_now) delivers every line of a file that
    one poll's max_chunk_bytes cannot cover, in a single run; the
    drain ends with a trailing partial line left unread."""
    watch = tmp_path / "logs"
    watch.mkdir()
    lines = [f"line-{i:03d}" for i in range(40)]
    (watch / "big.log").write_text(
        "".join(f"{ln}\n" for ln in lines) + "part")
    (watch / "small.log").write_text("x\n")
    out = tmp_path / "delivered"

    load = TailFollower.load

    def small_chunks(self):
        self.max_chunk_bytes = 64             # big.log is 364 bytes
        return load(self)

    monkeypatch.setattr(TailFollower, "load", small_chunks)
    ckpt, spool = tmp_path / "ckpt", tmp_path / "spool"
    cfg = PipelineConfig(watch_dir=str(watch), glob="*.log",
                         origin="inst-d", checkpoint_dir=str(ckpt),
                         available_now=True)
    query, stats, tailer = build_tailed_pipeline(
        spark, cfg, JsonDirTransport(str(out)), spool_dir=str(spool))
    query.awaitTermination(120)
    tailer.stop()
    assert len(list(spool.glob("*.log"))) > 1
    assert sorted(delivered_messages(out)) == lines + ["x"]
    # every batch is committed, so every spool file can go
    prune_spool(str(ckpt), str(spool), -1)
    assert not list(spool.glob("*.log"))


class _CountingTransport(Transport):
    """Counts every accepted record's decoded message; the sink calls
    it on the driver, so the test reads the counts directly."""

    def __init__(self):
        self.seen: Counter[str] = Counter()

    def send(self, stream, page):
        for data, _key in page:
            raw = json.loads(data)["log_message"]["message"]
            self.seen[base64.b64decode(raw).decode()] += 1
        return []


def test_tailed_drain_bounds_each_micro_batch(spark, tmp_path):
    """The sink collects each micro-batch on the driver, so the file
    source admits at most MAX_BYTES_PER_TRIGGER of spool per batch: a
    drain whose spool is bigger runs as several batches, and every
    line arrives exactly once."""
    watch = tmp_path / "logs"
    watch.mkdir()
    n = MAX_BYTES_PER_TRIGGER // 100 + 12_000       # lines of 101 bytes
    lines = [f"{i:07d}-" + "x" * 92 for i in range(n)]
    (watch / "a.log").write_text("".join(f"{ln}\n" for ln in lines))
    spool = tmp_path / "spool"
    cfg = PipelineConfig(watch_dir=str(watch), glob="*.log",
                         origin="inst-b",
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         available_now=True)
    tp = _CountingTransport()
    query, stats, tailer = build_tailed_pipeline(spark, cfg, tp,
                                                 spool_dir=str(spool))
    query.awaitTermination(300)
    tailer.stop()
    assert sum(f.stat().st_size
               for f in spool.glob("*.log")) > MAX_BYTES_PER_TRIGGER
    batches = [p["numInputRows"] for p in query.recentProgress
               if p["numInputRows"]]
    assert len(batches) >= 2 and sum(batches) == n
    assert stats.records_sent == n
    assert tp.seen == Counter(lines)


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

    cfg = PipelineConfig(watch_dir=str(watch), glob="**/*.log",
                         origin="inst-k",
                         checkpoint_dir=str(tmp_path / "ckpt"),
                         flush_interval_s=1)
    query, stats, tailer = build_tailed_pipeline(
        spark, cfg, JsonDirTransport(str(out)),
        spool_dir=str(tmp_path / "spool"))
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


def test_one_spool_file_per_poll_keys_lines_by_path(tmp_path):
    """One poll writes one spool file for every watched file, and each
    line in it carries the path, relative to the watch dir, of the
    file it came from — however long that path is."""
    watch, spool, t = mk(tmp_path)
    t.glob = "**/*.log"
    rels = ["a.log", "d" * 60 + "/" + "e" * 60 + "/b.log",
            "d" * 60 + "/" + "f" * 90 + "/c.log"]
    for i, rel in enumerate(rels):
        (watch / rel).parent.mkdir(parents=True, exist_ok=True)
        (watch / rel).write_text(f"{i}\n{i}{i}\n")
    assert t.poll_once() == 1
    assert len(list(spool.glob("*.log"))) == 1
    assert sorted(spooled(spool)) == sorted(
        (rel, f"{i}" * n) for i, rel in enumerate(rels) for n in (1, 2))
