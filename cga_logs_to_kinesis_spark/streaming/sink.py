"""Key-partitioned, micro-batching delivery sink with retry/drop policy.

Re-expresses the reference's batchproducer + Kinesis client semantics
(reference ``batchproducer.go``, ``kinesis.go``) in Spark's execution
model:

- micro-batch trigger ≈ FlushInterval (B2, reference
  ``batchproducer.go:242-259``; 5 s config ``main.go:88``)
- page cut: ≤500 records per request (reference
  ``batchproducer.go:14``).  Records are hash-partitioned by key
  across tasks (main.go:346) but a page may MIX keys within its task —
  the reference's batcher likewise fills requests from one buffer
  regardless of key (batchproducer.go:406); the stats row records the
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

Scale notes: delivery runs executor-side via ``mapInPandas`` over a
``repartition(partition_key)`` exchange, so adding executors adds
delivery throughput; only the per-batch stats rows (O(pages)) return to
the driver.  Spark checkpointing upgrades the reference's lossy
crash behavior (5000-record in-memory buffer, tail-from-EOF) to
exactly-once source tracking — the drop policy here is an explicit,
metered choice, not an accident of buffering.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cga_logs_to_kinesis_spark.streaming.envelope import (
    MAX_ATTEMPTS_PER_RECORD,
    MAX_BATCH_SIZE,
)

PAGE_STATS = StructType([
    StructField("first_key", StringType(), False),
    StructField("page_id", LongType(), False),
    StructField("records_sent", LongType(), False),
    StructField("records_dropped", LongType(), False),
    StructField("request_errors", LongType(), False),
    StructField("attempts", IntegerType(), False),
])


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
    """Append pages to per-task files — durable local delivery target,
    safe to construct on executors."""

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
    request and resolves credentials.  Raises NotImplementedError when
    boto3 is not installed."""
    try:
        import boto3  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "boto3 not available; use FileTransport") from e

    class Boto3Transport(Transport):
        def __init__(self, region: str):
            self.region = region
            self._client = None

        def client(self):
            import boto3
            if self._client is None:
                self._client = boto3.client("kinesis",
                                            region_name=self.region)
            return self._client

        def send(self, stream, page):
            from botocore.exceptions import ClientError
            try:
                resp = self.client().put_records(
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
    """Deliver one (micro-)batch; returns delivery stats as pandas.

    Input needs columns (data: binary/string, partition_key: string).
    The exchange on partition_key reproduces the reference's
    key-partitioned producer (main.go:346): all records for a key land
    in one task, pages preserve within-key arrival order.

    The per-page stats rows are aggregated SPARK-side to one row per
    partition key (sums of sent/dropped/request_errors, max attempts,
    page count) before collection: what returns to the driver is
    O(keys), not records/500 rows — a large backfill batch must not
    make the A1/A2 side-channel a driver-memory function of data
    volume (the reference accumulates counters for the same reason,
    main.go:28-47).
    """
    cfg = config

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tp = transport
        out: list[dict] = []
        pending: list[tuple[bytes, str, int]] = []  # data, key, attempts
        page_seq = 0
        consecutive_errors = 0

        def flush(page: list[tuple[bytes, str, int]]) -> None:
            nonlocal page_seq, consecutive_errors
            attempts_this_page = 0
            sent = dropped = req_errors = 0
            # whole-request retry with exponential backoff (B4)
            work = page
            while work:
                attempts_this_page += 1
                try:
                    failed = tp.send(cfg.stream_name,
                                     [(d, k) for d, k, _ in work])
                    consecutive_errors = 0
                except FatalDeliveryError:
                    raise          # fail the batch; checkpoint replays
                except Exception:
                    req_errors += 1
                    consecutive_errors += 1
                    if (cfg.max_request_attempts
                            and attempts_this_page
                            >= cfg.max_request_attempts):
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
            out.append({
                "first_key": page[0][1] if page else "",
                "page_id": page_seq,
                "records_sent": sent,
                "records_dropped": dropped,
                "request_errors": req_errors,
                "attempts": attempts_this_page,
            })
            page_seq += 1

        for pdf in batches:
            for d, k in zip(pdf["data"], pdf["partition_key"]):
                if isinstance(d, str):        # JSON wire format
                    d = d.encode("utf-8")
                elif not isinstance(d, bytes):
                    d = bytes(d)
                pending.append((d, k, 0))
                if len(pending) >= cfg.max_batch_size:
                    flush(pending)
                    pending = []
        if pending:
            flush(pending)
        yield pd.DataFrame(out, columns=[f.name for f in PAGE_STATS])

    stats = (df.repartition("partition_key")
             .mapInPandas(run, schema=PAGE_STATS))
    agg = (stats.groupBy("first_key")
           .agg(F.count("*").alias("pages"),
                F.sum("records_sent").alias("records_sent"),
                F.sum("records_dropped").alias("records_dropped"),
                F.sum("request_errors").alias("request_errors"),
                F.max("attempts").alias("attempts")))
    return agg.toPandas()


def foreach_batch_sink(transport: Transport, config: SinkConfig,
                       stats: DeliveryStats):
    """Adapter for ``writeStream.foreachBatch``."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        pdf = deliver_pages(batch_df, transport, config)
        stats.update(pdf.to_dict("records"))

    return process
