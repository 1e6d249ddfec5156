"""Micro-batching delivery sink with retry/drop policy.

Re-expresses the reference's batchproducer + Kinesis client semantics
(reference ``batchproducer.go``, ``kinesis.go``) in Spark's execution
model:

- micro-batch trigger ≈ FlushInterval (B2, reference
  ``batchproducer.go:242-259``; 5 s config ``main.go:88``)
- page cut: ≤500 records per request (reference
  ``batchproducer.go:14``).  Pages are cut from one buffer and may MIX
  keys, as the reference's batcher fills requests from one buffer
  regardless of key (batchproducer.go:406); each record carries its
  own partition key (main.go:346), and the stats row records the
  page's ``first_key`` only.
- whole-request failure → exponential backoff, 50 ms doubling per
  consecutive error, capped at ``max_backoff_s`` (B4, reference
  ``batchproducer.go:326-356``; the cap is ours — the reference's
  unbounded doubling can park the producer for minutes), and at most
  ``max_request_attempts`` tries per page before the remainder is
  dropped and counted (bounded liveness; set 0 to retry forever)
- per-record failures retried up to MaxAttemptsPerRecord=5 then
  dropped and counted (B5, reference ``batchproducer.go:426-444``,
  config ``main.go:89``)
- no load shedding (B6): the reference drops its whole buffer after
  5 consecutive request errors (``batchproducer.go:346-348``); here a
  failing page is retried up to ``max_request_attempts`` times and
  then counted as dropped, so one bad spell costs at most the pages
  in flight, not the buffer
- AccessDenied / ResourceNotFound are not retried: they fail the
  micro-batch (:class:`FatalDeliveryError`), so the checkpoint
  replays it
- delivery stats (sent / errors / dropped) accumulated per batch
  (A1, reference ``batchproducer.go:446-458``)

Scale notes: delivery runs on the driver, like the reference's one
producer process (batchproducer.go:321-375).  Each trigger runs one
Spark job with one stage, the scan and projection collected as Arrow,
and no Python worker; the transport is one driver-side object that
lives across batches, so the boto3 transport keeps one client for the
life of the query.  Driver memory stays bounded because the file
source admits at most ``MAX_BYTES_PER_TRIGGER`` of input per batch
(``envelope.py``).  Spark checkpointing upgrades the reference's lossy
crash behavior (5000-record in-memory buffer, tail-from-EOF) to
exactly-once source tracking — the drop policy here is an explicit,
metered choice, not an accident of buffering.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame

from cga_logs_to_kinesis_spark.streaming.envelope import (
    MAX_ATTEMPTS_PER_RECORD,
    MAX_BATCH_SIZE,
)

# deliver_pages' result: one row per page's first key
STATS_COLUMNS = ["first_key", "pages", "records_sent", "records_dropped",
                 "request_errors", "attempts"]


# PutRecords error codes that no retry can fix
FATAL_ERROR_CODES = frozenset({"AccessDeniedException",
                               "ResourceNotFoundException"})


class FatalDeliveryError(Exception):
    """Non-retryable delivery failure — the AccessDenied /
    ResourceNotFound class of PutRecords errors, where retrying cannot
    succeed.  The sink re-raises it instead of entering the backoff
    loop, so the micro-batch FAILS and Spark's checkpoint replays it
    on restart (at-least-once, no silent drop) — the reference instead
    burns its backoff budget and loses the buffer on crash
    (batchproducer.go:284-311)."""


class Transport:
    """Where pages go.  ``send`` returns indices of failed records —
    the shape of a Kinesis PutRecords response (per-record ErrorCode,
    reference kinesis.go:463-474).  Raising = whole-request error
    (retried with backoff); raising FatalDeliveryError fails the
    batch for checkpoint replay."""

    def send(self, stream: str,
             page: list[tuple[bytes, str]]) -> list[int]:
        raise NotImplementedError


class ConsoleTransport(Transport):
    """The reference's logProducer debug sink (main.go:349-369)."""

    def send(self, stream, page):
        print(f"[{stream}] page of {len(page)} records "
              f"(first key={page[0][1] if page else None})")
        return []


class FileTransport(Transport):
    """Write each page to its own file — durable local delivery
    target."""

    def __init__(self, out_dir: str):
        self.out_dir = out_dir

    def send(self, stream, page):
        import os
        import uuid
        os.makedirs(self.out_dir, exist_ok=True)
        path = f"{self.out_dir}/{stream}-{uuid.uuid4().hex}.jsonl"
        with open(path, "wb") as f:
            for data, key in page:
                f.write(data if isinstance(data, bytes) else bytes(data))
                f.write(b"\n")
        return []


def boto3_transport(stream_region: str) -> Transport:
    """Real Kinesis ``PutRecords`` transport; botocore signs each
    request and resolves credentials.  The sink calls it on the
    driver, so its one client serves every batch.  Raises
    NotImplementedError when boto3 is not installed."""
    try:
        import boto3
        from botocore.exceptions import ClientError
    except ImportError as e:
        raise NotImplementedError(
            "boto3 not available; use FileTransport") from e

    class Boto3Transport(Transport):
        def __init__(self, region: str):
            self.client = boto3.client("kinesis", region_name=region)

        def send(self, stream, page):
            try:
                resp = self.client.put_records(
                    StreamName=stream,
                    Records=[{"Data": d, "PartitionKey": k}
                             for d, k in page])
            except ClientError as e:
                code = e.response.get("Error", {}).get("Code")
                if code in FATAL_ERROR_CODES:
                    raise FatalDeliveryError(code) from e
                raise                          # retried with backoff
            return [i for i, r in enumerate(resp["Records"])
                    if "ErrorCode" in r]

    return Boto3Transport(stream_region)


@dataclass
class SinkConfig:
    stream_name: str = "logs"
    max_batch_size: int = MAX_BATCH_SIZE
    max_attempts_per_record: int = MAX_ATTEMPTS_PER_RECORD
    base_backoff_s: float = 0.050          # reference batchproducer.go:327
    max_backoff_s: float = 5.0             # cap on the doubling delay
    max_request_attempts: int = 20         # per page; 0 = retry forever


@dataclass
class DeliveryStats:
    """Cumulative counters, the A2 surface (reference main.go:28-47)."""
    records_sent: int = 0
    records_dropped: int = 0
    request_errors: int = 0

    def update(self, batch_rows: list[dict]) -> None:
        for r in batch_rows:
            self.records_sent += r["records_sent"]
            self.records_dropped += r["records_dropped"]
            self.request_errors += r["request_errors"]


def deliver_pages(df: DataFrame, transport: Transport,
                  config: SinkConfig) -> pd.DataFrame:
    """Deliver one (micro-)batch from the driver; return its stats.

    Input needs columns (data: binary/string, partition_key: string).
    The batch is collected with one Spark job (``toArrow``) and paged
    in collect order from one buffer, as the reference's producer
    fills requests from one buffer regardless of key
    (batchproducer.go:406).  Collect order is Spark's partition
    order, not arrival order: the file source packs splits
    largest-file-first, so lines of one key that span several spool
    files of a trigger can go out of order, and a retried record
    goes out after the rest of its page (as in the reference,
    batchproducer.go:426-444).

    Returns one row per page's first key (``first_key``, ``pages``
    and the sums of ``records_sent``, ``records_dropped``,
    ``request_errors``, with the most ``attempts`` any page took): the
    A1/A2 side-channel stays O(keys), whatever the batch size
    (main.go:28-47).
    """
    cfg = config
    batch = df.select("data", "partition_key").toArrow()
    data = batch.column("data").to_pylist()
    keys = batch.column("partition_key").to_pylist()
    by_key: dict[str, list[int]] = {}    # first_key -> STATS_COLUMNS[1:]
    consecutive_errors = 0
    n = cfg.max_batch_size
    for start in range(0, len(data), n):
        # work: (data, key, attempts) of the page's unsent records
        work = [(d.encode("utf-8") if isinstance(d, str) else d, k, 0)
                for d, k in zip(data[start:start + n],
                                keys[start:start + n])]
        attempts = sent = dropped = req_errors = 0
        # whole-request retry with exponential backoff (B4)
        while work:
            attempts += 1
            try:
                failed = transport.send(cfg.stream_name,
                                        [(d, k) for d, k, _ in work])
                consecutive_errors = 0
            except FatalDeliveryError:
                raise              # fail the batch; checkpoint replays
            except Exception:
                req_errors += 1
                consecutive_errors += 1
                if (cfg.max_request_attempts
                        and attempts >= cfg.max_request_attempts):
                    # bounded liveness: surface as dropped records
                    # + request_errors instead of sleeping forever
                    dropped += len(work)
                    break
                time.sleep(min(cfg.max_backoff_s,
                               cfg.base_backoff_s
                               * (2 ** (consecutive_errors - 1))))
                continue
            # per-record verdicts (B5)
            retry: list[tuple[bytes, str, int]] = []
            failed_set = set(failed)
            for i, (d, k, a) in enumerate(work):
                if i not in failed_set:
                    sent += 1
                elif a + 1 >= cfg.max_attempts_per_record:
                    dropped += 1
                else:
                    retry.append((d, k, a + 1))
            work = retry
        row = by_key.setdefault(keys[start], [0, 0, 0, 0, 0])
        row[0] += 1
        row[1] += sent
        row[2] += dropped
        row[3] += req_errors
        row[4] = max(row[4], attempts)
    return pd.DataFrame([[k, *row] for k, row in by_key.items()],
                        columns=STATS_COLUMNS)


def foreach_batch_sink(transport: Transport, config: SinkConfig,
                       stats: DeliveryStats):
    """Adapter for ``writeStream.foreachBatch``."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        pdf = deliver_pages(batch_df, transport, config)
        stats.update(pdf.to_dict("records"))

    return process
