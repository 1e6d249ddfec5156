"""Fault-injection and inspection transports, plus a sink crash wrapper.

The reference's only test affordance is the `logProducer` stub sink for
manual runs (reference main.go:349-369); these transports are its
systematic equivalent: deterministic fault schedules reproducing the
PutRecords partial-failure and whole-request-error shapes
(kinesis.go:463-474), plus a filesystem transport whose output the
driver can inspect.  They live in the package (not tests/) so Spark
workers can unpickle them.  :func:`crash_after` injects the matching
fault into any ``foreachBatch`` store sink (streaming/corpus.py).
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
    """Writes each page as one JSON file of [data, key] pairs —
    executor-safe, inspectable from the driver via shared filesystem."""

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
    (fuse present) delivers everything.  This is the executor-process-
    kill scenario the exactly-once restart test replays; state lives
    on the shared filesystem because the transport is re-pickled per
    task and per run."""

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


class FirehoseFakeTransport(Transport):
    """Local ``PutRecordBatch`` double for the K5 Firehose sink:
    enforces the wire contract the real API would (<= 500 records
    per request; records are DATA-ONLY — the partition key must not
    influence delivery; the failure report is FailedPutCount +
    per-record slots, same length as the request) and injects
    per-record throttling failures for the first ``fail_attempts``
    sends of any ``poison`` payload.  Delivered records append to
    one JSONL file per send, mirroring a delivery stream's buffered
    flush."""

    def __init__(self, out_dir: str, fail_attempts: int = 0):
        self.out_dir = out_dir
        self.fail_attempts = fail_attempts
        self.seen: dict[bytes, int] = {}

    def send(self, stream, page):
        import os
        import uuid

        if len(page) > 500:
            raise ValueError(
                f"PutRecordBatch accepts at most 500 records, "
                f"got {len(page)}")
        failed = []
        delivered = []
        for i, (data, _key_ignored) in enumerate(page):
            # _key_ignored: Firehose records carry Data only — a
            # transport that routed on the key would be exercising
            # Kinesis semantics under a Firehose name.  str payloads
            # utf-8-encode, matching the Transport contract elsewhere
            # (DirStreamTransport.send, deliver_pages).
            b = (data.encode() if isinstance(data, str)
                 else bytes(data))
            if b"poison" in b:
                n = self.seen.get(b, 0)
                self.seen[b] = n + 1
                if n < self.fail_attempts:
                    failed.append(i)
                    continue
            delivered.append(b)
        failed_put_count = len(failed)
        assert failed_put_count + len(delivered) == len(page)
        if delivered:
            os.makedirs(self.out_dir, exist_ok=True)
            path = (f"{self.out_dir}/{stream}-"
                    f"{uuid.uuid4().hex}.jsonl")
            with open(path, "wb") as f:
                for b in delivered:
                    f.write(b)
                    f.write(b"\n")
        return failed


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
