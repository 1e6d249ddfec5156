"""Kinesis-consumer *streaming* source (S7 as a stream).

The reference's client library pages a shard with GetShardIterator /
GetRecords (reference kinesis.go:374-423: iterator → ``GetRecords`` →
``{Records: [{Data, PartitionKey, SequenceNumber,
ApproximateArrivalTimestamp}], NextShardIterator,
MillisBehindLatest}``).  This module re-expresses that as:

* :class:`ConsumerClient` — the paging protocol, one method per
  reference API call;
* :class:`DirStreamClient` / :class:`DirStreamTransport` — a
  file-backed stream fake: the transport shards records by
  md5(partition_key) (Kinesis's hash-key routing) into per-shard
  JSON-lines files, the client pages them back in sequence order.
  File-backed so Spark executor tasks (separate Python processes) and
  the driver observe the same stream — same reasoning as
  ``streaming/faults.py``;
* :func:`boto3_consumer_client` — the real thing, import-gated like
  ``boto3_transport``;
* :class:`ShardPoller` — driver-side bridge thread: rate-limited
  GetRecords per shard (Kinesis caps 5 calls/s/shard), records spooled
  as atomic JSON-lines files that a checkpointed Spark file stream
  ingests (:func:`read_consumer_stream`).  Same division of labor as
  ``streaming/tailer.py``: tiny driver-side glue around an external
  paging API, distributed processing stays in Spark.

Resume: the poller persists each shard's last sequence number
(``.consumer_state.json``), so a restarted daemon continues
AFTER_SEQUENCE_NUMBER instead of re-reading TRIM_HORIZON — the
consumer-side analogue of the sink's checkpointed exactly-once story.
"""

from __future__ import annotations

import base64
import glob as globmod
import hashlib
import json
import os
import threading
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cga_logs_to_kinesis_spark.streaming.sink import Transport


@dataclass(frozen=True)
class ConsumerRecord:
    """One GetRecords record (reference kinesis.go:384-394)."""
    data: bytes
    partition_key: str
    sequence_number: str
    approximate_arrival_ts: float


@dataclass(frozen=True)
class RecordsPage:
    """One GetRecords response (reference kinesis.go:396-401)."""
    records: tuple[ConsumerRecord, ...]
    next_shard_iterator: str | None
    millis_behind_latest: int


class ConsumerClient:
    """GetShardIterator/GetRecords paging protocol."""

    def shard_ids(self, stream: str) -> list[str]:
        raise NotImplementedError

    def get_shard_iterator(self, stream: str, shard_id: str,
                           iterator_type: str = "TRIM_HORIZON",
                           after_sequence: str | None = None) -> str:
        raise NotImplementedError

    def get_records(self, iterator: str, limit: int = 500) -> RecordsPage:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# File-backed stream fake (test/local transport + consumer pair)
# ---------------------------------------------------------------------------

def _shard_for_key(key: str, n_shards: int) -> int:
    # Kinesis routes by MD5(partition key) over the hash-key range.
    return int.from_bytes(hashlib.md5(key.encode()).digest()[:8],
                          "big") % n_shards


class DirStreamTransport(Transport):
    """Sink side of the fake stream: append records to per-shard
    JSON-lines files.  File names are time-prefixed so lexicographic
    order == arrival order within a shard (the only order Kinesis
    promises)."""

    def __init__(self, stream_dir: str, n_shards: int = 2):
        self.stream_dir = stream_dir
        self.n_shards = n_shards

    def send(self, stream, page):
        from cga_logs_to_kinesis_spark.sources.admin import (
            load_open_ranges,
            route_key,
        )

        # Admin-managed streams (sources/admin.py) route by the open
        # shard's 128-bit hash range — so SplitShard / MergeShards
        # genuinely redirect subsequent traffic; legacy streams keep
        # the fixed-width modulo.  Metadata is read once per request,
        # the PutRecords-shaped unit.
        ranges = load_open_ranges(self.stream_dir, stream)
        by_shard: dict[str, list] = {}
        for data, key in page:
            if isinstance(data, str):
                data = data.encode()
            if ranges is None:
                sid = f"shard-{_shard_for_key(key, self.n_shards):04d}"
            else:
                sid = route_key(ranges, key)
            by_shard.setdefault(sid, []).append((data, key))
        now = time.time()
        for shard, recs in by_shard.items():
            d = os.path.join(self.stream_dir, stream, shard)
            os.makedirs(d, exist_ok=True)
            name = f"{time.time_ns():020d}-{uuid.uuid4().hex}.jsonl"
            tmp = os.path.join(d, f".{name}.tmp")
            with open(tmp, "w") as f:
                for data, key in recs:
                    f.write(json.dumps({
                        "d": base64.b64encode(data).decode(),
                        "k": key, "t": now}) + "\n")
            os.replace(tmp, os.path.join(d, name))
        return []


class DirStreamClient(ConsumerClient):
    """Consumer side: page per-shard files back in order.

    Sequence number = ``<zero-padded-file-name>:<9-digit line no>`` —
    lexicographically monotone per shard, so AFTER_SEQUENCE_NUMBER is a
    plain string comparison (Kinesis sequence numbers are likewise
    opaque monotone strings).  Iterator = shard + exclusive-start
    sequence, advanced by each page like NextShardIterator.
    """

    def __init__(self, stream_dir: str):
        self.stream_dir = stream_dir

    def _shard_dir(self, stream: str, shard_id: str) -> str:
        return os.path.join(self.stream_dir, stream, shard_id)

    def shard_ids(self, stream: str) -> list[str]:
        root = os.path.join(self.stream_dir, stream)
        if not os.path.isdir(root):
            return []
        return sorted(d for d in os.listdir(root)
                      if d.startswith("shard-"))

    def _sequences(self, stream: str, shard_id: str):
        """All (sequence, record) in order; files are append-only and
        time-named, so this is a stable total order."""
        for path in sorted(globmod.glob(
                os.path.join(self._shard_dir(stream, shard_id),
                             "*.jsonl"))):
            fname = os.path.basename(path)
            with open(path) as f:
                for i, line in enumerate(f):
                    row = json.loads(line)
                    yield (f"{fname}:{i:09d}",
                           ConsumerRecord(
                               data=base64.b64decode(row["d"]),
                               partition_key=row["k"],
                               sequence_number=f"{fname}:{i:09d}",
                               approximate_arrival_ts=row["t"]))

    def get_shard_iterator(self, stream, shard_id,
                           iterator_type="TRIM_HORIZON",
                           after_sequence=None):
        if iterator_type == "TRIM_HORIZON":
            start = ""
        elif iterator_type == "LATEST":
            start = max((s for s, _ in self._sequences(stream, shard_id)),
                        default="")
        elif iterator_type == "AFTER_SEQUENCE_NUMBER":
            start = after_sequence or ""
        else:
            raise ValueError(f"unsupported iterator type {iterator_type}")
        return json.dumps({"stream": stream, "shard": shard_id,
                           "after": start})

    def get_records(self, iterator, limit=500):
        it = json.loads(iterator)
        out = []
        last = it["after"]
        for seq, rec in self._sequences(it["stream"], it["shard"]):
            if seq <= it["after"]:
                continue
            out.append(rec)
            last = seq
            if len(out) >= limit:
                break
        next_it = json.dumps({"stream": it["stream"], "shard": it["shard"],
                              "after": last})
        return RecordsPage(records=tuple(out), next_shard_iterator=next_it,
                           millis_behind_latest=0)


def boto3_consumer_client(region: str) -> ConsumerClient:
    """Real Kinesis consumer; raises NotImplementedError when boto3 is
    not installed."""
    try:
        import boto3  # noqa: F401
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError(
            "boto3 not available; use DirStreamClient") from e

    class Boto3Consumer(ConsumerClient):  # pragma: no cover
        def __init__(self, region: str):
            import boto3
            self._c = boto3.client("kinesis", region_name=region)

        def shard_ids(self, stream):
            shards = self._c.list_shards(StreamName=stream)["Shards"]
            return sorted(s["ShardId"] for s in shards)

        def get_shard_iterator(self, stream, shard_id,
                               iterator_type="TRIM_HORIZON",
                               after_sequence=None):
            kw = {"StreamName": stream, "ShardId": shard_id,
                  "ShardIteratorType": iterator_type}
            if after_sequence is not None:
                kw["StartingSequenceNumber"] = after_sequence
            return self._c.get_shard_iterator(**kw)["ShardIterator"]

        def get_records(self, iterator, limit=500):
            r = self._c.get_records(ShardIterator=iterator, Limit=limit)
            return RecordsPage(
                records=tuple(ConsumerRecord(
                    data=rec["Data"],
                    partition_key=rec["PartitionKey"],
                    sequence_number=rec["SequenceNumber"],
                    approximate_arrival_ts=rec[
                        "ApproximateArrivalTimestamp"].timestamp())
                    for rec in r["Records"]),
                next_shard_iterator=r.get("NextShardIterator"),
                millis_behind_latest=r.get("MillisBehindLatest", 0))

    return Boto3Consumer(region)


def sigv4_consumer_client(region: str, provider=None,
                          endpoint_url: str | None = None,
                          clock=None) -> ConsumerClient:
    """The no-boto3 consumer: ListShards / GetShardIterator /
    GetRecords as signed x-amz-json-1.1 calls over stdlib urllib —
    the source-side twin of ``sigv4_transport`` (reference
    kinesis.go:374-423 paging over the kinesis.go:209-247 HTTP
    layer).  ``endpoint_url`` points it at a local http fake in tests
    (which RE-SIGNS each request), the default https endpoint at the
    real service; prefer ``boto3_consumer_client`` in production."""
    import time as _time

    from cga_logs_to_kinesis_spark.functions.credentials import (
        default_chain,
    )

    prov = provider or default_chain()
    now = clock or _time.time

    def call(target: str, body_obj: dict) -> dict:
        import urllib.request

        from cga_logs_to_kinesis_spark.streaming.sink import (
            build_api_request,
        )

        creds = prov.get()
        req = build_api_request(
            target=target, body_obj=body_obj, region=region,
            access_key=creds.access_key, secret_key=creds.secret_key,
            amz_date=_time.strftime("%Y%m%dT%H%M%SZ",
                                    _time.gmtime(now())),
            session_token=creds.session_token,
            endpoint_url=endpoint_url)
        r = urllib.request.Request(
            req["url"], data=req["body"], headers=req["headers"],
            method=req["method"])
        with urllib.request.urlopen(r, timeout=30) as resp:
            return json.loads(resp.read())

    class SigV4Consumer(ConsumerClient):
        def shard_ids(self, stream):
            out = call("Kinesis_20131202.ListShards",
                       {"StreamName": stream})
            return sorted(s["ShardId"] for s in out["Shards"])

        def get_shard_iterator(self, stream, shard_id,
                               iterator_type="TRIM_HORIZON",
                               after_sequence=None):
            body = {"StreamName": stream, "ShardId": shard_id,
                    "ShardIteratorType": iterator_type}
            if after_sequence is not None:
                body["StartingSequenceNumber"] = after_sequence
            return call("Kinesis_20131202.GetShardIterator",
                        body)["ShardIterator"]

        def get_records(self, iterator, limit=500):
            out = call("Kinesis_20131202.GetRecords",
                       {"ShardIterator": iterator, "Limit": limit})
            return RecordsPage(
                records=tuple(ConsumerRecord(
                    data=base64.b64decode(rec["Data"]),
                    partition_key=rec["PartitionKey"],
                    sequence_number=rec["SequenceNumber"],
                    approximate_arrival_ts=float(
                        rec.get("ApproximateArrivalTimestamp", 0.0)))
                    for rec in out.get("Records", [])),
                next_shard_iterator=out.get("NextShardIterator"),
                millis_behind_latest=out.get("MillisBehindLatest", 0))

    return SigV4Consumer()


# ---------------------------------------------------------------------------
# Driver-side poller → spool → Spark file stream
# ---------------------------------------------------------------------------

# Spool rows carry the record payload base64-encoded: Kinesis record
# data is opaque bytes (reference kinesis.go:477-489 — the daemon ships
# Envelope.Marshal() protobuf wire), and a utf-8 text round-trip would
# corrupt any non-UTF-8 byte.  Same encoding DirStreamTransport uses
# for its at-rest pages.  The trailing ``wire`` column exists ONLY to
# catch pre-base64 spool files left behind by an in-place upgrade:
# reading a legacy row yields its UTF-8 text there, and the stream
# recovers it loudly (see ``read_consumer_stream``) instead of
# silently shipping NULL payloads.
CONSUMER_SPOOL_SCHEMA = ("wire_b64 STRING, partition_key STRING, "
                         "shard_id STRING, sequence_number STRING, "
                         "approximate_arrival_ts DOUBLE, wire STRING")


@dataclass
class ShardPoller:
    """Page every shard of ``stream`` through ``client``; spool records
    for Spark.  ``min_poll_interval_s`` rate-limits per shard (the
    Kinesis service cap is 5 GetRecords/s/shard)."""

    client: ConsumerClient
    stream: str
    spool_dir: str
    min_poll_interval_s: float = 0.2
    page_limit: int = 500
    _iterators: dict[str, str] = field(default_factory=dict)
    _last_seq: dict[str, str] = field(default_factory=dict)
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    @property
    def _state_path(self) -> str:
        return os.path.join(self.spool_dir, ".consumer_state.json")

    def _load_state(self) -> None:
        try:
            with open(self._state_path) as f:
                self._last_seq = json.load(f)
        except (OSError, ValueError):
            self._last_seq = {}

    def _save_state(self) -> None:
        tmp = self._state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._last_seq, f)
        os.replace(tmp, self._state_path)

    def _iterator_for(self, shard_id: str) -> str:
        it = self._iterators.get(shard_id)
        if it is None:
            seq = self._last_seq.get(shard_id)
            it = self.client.get_shard_iterator(
                self.stream, shard_id,
                iterator_type=("AFTER_SEQUENCE_NUMBER" if seq
                               else "TRIM_HORIZON"),
                after_sequence=seq)
            self._iterators[shard_id] = it
        return it

    def poll_once(self) -> int:
        """One GetRecords pass over every shard; returns records
        spooled.  Public for deterministic tests and drain mode."""
        total = 0
        for shard_id in self.client.shard_ids(self.stream):
            page = self.client.get_records(self._iterator_for(shard_id),
                                           limit=self.page_limit)
            if page.next_shard_iterator is None:   # closed shard
                self._iterators.pop(shard_id, None)
            else:
                self._iterators[shard_id] = page.next_shard_iterator
            if not page.records:
                continue
            self._write_spool(shard_id, page.records)
            self._last_seq[shard_id] = page.records[-1].sequence_number
            total += len(page.records)
        if total:
            self._save_state()
        return total

    def _write_spool(self, shard_id: str,
                     records: tuple[ConsumerRecord, ...]) -> None:
        name = f"{time.time_ns():020d}-{uuid.uuid4().hex}.jsonl"
        tmp = os.path.join(self.spool_dir, f".{name}.tmp")
        with open(tmp, "w") as f:
            for r in records:
                f.write(json.dumps({
                    "wire_b64": base64.b64encode(r.data).decode("ascii"),
                    "partition_key": r.partition_key,
                    "shard_id": shard_id,
                    "sequence_number": r.sequence_number,
                    "approximate_arrival_ts": r.approximate_arrival_ts,
                }) + "\n")
        os.replace(tmp, os.path.join(self.spool_dir, name))

    def start(self) -> "ShardPoller":
        os.makedirs(self.spool_dir, exist_ok=True)
        self._load_state()
        self._stop.clear()
        self._thread = threading.Thread(
            target=self._run, name="shard-poller", daemon=True)
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            self.poll_once()
            self._stop.wait(self.min_poll_interval_s)

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None
        self._save_state()


def read_consumer_stream(spark: SparkSession, spool_dir: str) -> DataFrame:
    """Streaming DataFrame over a ShardPoller's spool: one row per
    consumed record, wire payload + Kinesis metadata columns.

    ``wire_bytes`` is the bit-exact record payload (protobuf-safe);
    ``wire`` is its UTF-8 string view for JSON-wire consumers
    (``decode_envelopes``) — invalid UTF-8 sequences are substituted
    with U+FFFD (``make_valid_utf8``), matching Python's
    ``decode('utf-8', 'replace')`` semantics deterministically rather
    than letting raw bytes flow into string functions as an invalid
    UTF8String; binary consumers use ``wire_bytes``.  Everything is a
    codegen'd projection — no Python in the decode path.

    Legacy spool rows (pre-base64 format: a ``wire`` text field, no
    ``wire_b64``) are recovered via ``encode(wire, 'utf-8')`` — their
    payload was UTF-8-decoded text to begin with, so the re-encode is
    faithful.  A row with NEITHER field is corrupt and fails the
    stream loudly instead of shipping a NULL payload.
    """
    raw = (spark.readStream.schema(CONSUMER_SPOOL_SCHEMA)
           .option("pathGlobFilter", "*.jsonl")
           .json(spool_dir))
    wire_bytes = (
        F.when(F.col("wire_b64").isNotNull(), F.unbase64("wire_b64"))
        .when(F.col("wire").isNotNull(), F.encode(F.col("wire"), "utf-8"))
        .otherwise(F.raise_error(F.concat(
            F.lit("corrupt consumer spool row (no wire_b64/wire): "
                  "sequence_number="),
            F.coalesce(F.col("sequence_number"), F.lit("?"))))
            .cast("binary")))
    return (raw
            .select(wire_bytes.alias("wire_bytes"),
                    "partition_key", "shard_id", "sequence_number",
                    "approximate_arrival_ts")
            .select("wire_bytes",
                    F.make_valid_utf8(F.col("wire_bytes").cast("string"))
                    .alias("wire"),
                    "partition_key", "shard_id", "sequence_number",
                    "approximate_arrival_ts"))
