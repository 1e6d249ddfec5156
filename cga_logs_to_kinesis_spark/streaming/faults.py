"""Fault-injection and inspection transports, plus a sink crash wrapper.

The reference's only test affordance is the `logProducer` stub sink for
manual runs (reference main.go:349-369); these transports are its
systematic equivalent: deterministic fault schedules reproducing the
PutRecords partial-failure and whole-request-error shapes
(kinesis.go:463-474), plus a filesystem transport whose output
outlives the run.  The sink calls its transport on the driver, so a
test may also read a transport's own state after a batch.  They are
shared by several test modules.  :func:`crash_after` injects the
matching fault into any ``foreachBatch`` store sink
(streaming/corpus.py).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable

from cga_logs_to_kinesis_spark.streaming.sink import (
    FatalDeliveryError,
    Transport,
)


class PartialFailTransport(Transport):
    """Fails every record whose payload contains ``poison``,
    ``fail_attempts`` times per record — the per-record ErrorCode
    shape of a PutRecords response."""

    def __init__(self, fail_attempts: int):
        self.fail_attempts = fail_attempts
        self.seen: dict[bytes, int] = {}

    def send(self, stream, page):
        failed = []
        for i, (data, _key) in enumerate(page):
            if b"poison" in data:
                n = self.seen.get(data, 0)
                self.seen[data] = n + 1
                if n < self.fail_attempts:
                    failed.append(i)
        return failed


class CrashingTransport(Transport):
    """Whole-request errors for the first ``crashes`` calls (exercises
    the B4 backoff path)."""

    def __init__(self, crashes: int):
        self.crashes = crashes
        self.calls = 0

    def send(self, stream, page):
        self.calls += 1
        if self.calls <= self.crashes:
            raise ConnectionError("simulated request failure")
        return []


class JsonDirTransport(Transport):
    """Writes each page as one JSON file of [data, key] pairs, which
    a test reads back after the run."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def send(self, stream, page):
        import os
        import uuid
        os.makedirs(self.out_dir, exist_ok=True)
        path = f"{self.out_dir}/page-{uuid.uuid4().hex}.json"
        with open(path, "w") as f:
            json.dump([[d.decode("utf-8", "replace"), k]
                       for d, k in page], f)
        return []


class DieAfterPagesTransport(JsonDirTransport):
    """Crash-mid-batch harness: delivers pages durably like
    JsonDirTransport, but once ``pages_before_crash`` pages exist it
    raises FatalDeliveryError and drops a fuse file — so the FIRST run
    dies with real side effects already committed, and any restart
    (fuse present) delivers everything.  This is the process-kill
    scenario the exactly-once restart test replays; state lives
    on the filesystem so that the restart, which builds a new
    transport, sees the fuse."""

    def __init__(self, out_dir: str, pages_before_crash: int):
        super().__init__(out_dir)
        self.pages_before_crash = pages_before_crash

    def send(self, stream, page):
        import os
        fuse = os.path.join(self.out_dir, "_crashed")
        if not os.path.exists(fuse):
            os.makedirs(self.out_dir, exist_ok=True)
            delivered = len([f for f in os.listdir(self.out_dir)
                             if f.startswith("page-")])
            if delivered >= self.pages_before_crash:
                open(fuse, "w").close()
                raise FatalDeliveryError(
                    f"injected crash after {delivered} pages")
        return super().send(stream, page)


def crash_after(process: Callable, batch_ids: Iterable[int]) -> Callable:
    """Wrap a ``foreachBatch`` function so that each id in
    ``batch_ids`` raises FatalDeliveryError ONCE, after ``process``
    has returned for it: a crash after the sink's last write and
    before the checkpoint commit, foreachBatch's at-least-once window.
    Other ids pass through, and the replay of a crashed id runs
    ``process`` again and succeeds — so one wrapped sink serves both
    the crashing run and the restart that replays the batch."""
    pending = set(batch_ids)

    def crashing(batch_df, batch_id: int) -> None:
        process(batch_df, batch_id)
        if batch_id in pending:
            pending.discard(batch_id)
            raise FatalDeliveryError(
                f"injected crash after batch {batch_id}")

    return crashing
