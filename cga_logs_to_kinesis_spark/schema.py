"""Data model: the dropsonde Envelope record and fixture-table schemas.

The reference's row type is the Cloud Foundry ``events.Envelope``
protobuf (reference ``src/logs-to-kinesis/vendor/github.com/
cloudfoundry/sonde-go/events/envelope.pb.go:99-118``), a tagged union
over six payload messages, of which the daemon populates only
``LogMessage`` (reference ``src/logs-to-kinesis/main.go:330-347``).
Here the same model is expressed as Spark ``StructType``s: nested
structs for payload messages, ``MapType`` for tags, ``ArrayType`` for
``HttpStartStop.forwarded``.  Enums are carried as their proto names
(StringType) — self-describing, join-friendly, and cheap under
dictionary encoding in parquet.

Unsigned-64 caveat: ``CounterEvent.delta/total`` are proto uint64
(reference ``metric.pb.go:56-61``); Spark has no unsigned integers, so
they map to LongType and values above 2**63-1 are out of contract.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Envelope payload structs (reference sonde-go/events/*.pb.go)
# ---------------------------------------------------------------------------

# events.LogMessage — reference log.pb.go:57-64; populated fields per
# main.go:330-347 (message, message_type, timestamp, source_type,
# source_instance; app_id stays null for the file-tail pipeline).
LOG_MESSAGE = StructType([
    StructField("message", BinaryType(), False),
    StructField("message_type", StringType(), False),   # OUT | ERR
    StructField("timestamp", LongType(), False),        # ns since epoch
    StructField("app_id", StringType(), True),
    StructField("source_type", StringType(), True),
    StructField("source_instance", StringType(), True),
])

# events.ValueMetric — reference metric.pb.go:22-27
VALUE_METRIC = StructType([
    StructField("name", StringType(), False),
    StructField("value", DoubleType(), False),
    StructField("unit", StringType(), False),
])

# events.CounterEvent — reference metric.pb.go:56-61 (uint64 caveat above)
COUNTER_EVENT = StructType([
    StructField("name", StringType(), False),
    StructField("delta", LongType(), False),
    StructField("total", LongType(), True),
])

# events.ContainerMetric — reference metric.pb.go:90-99
CONTAINER_METRIC = StructType([
    StructField("applicationId", StringType(), False),
    StructField("instanceIndex", IntegerType(), False),
    StructField("cpuPercentage", DoubleType(), False),
    StructField("memoryBytes", LongType(), False),
    StructField("diskBytes", LongType(), False),
    StructField("memoryBytesQuota", LongType(), True),
    StructField("diskBytesQuota", LongType(), True),
])

# events.UUID — reference uuid.pb.go:24-28 (two uint64 halves); carried
# as the canonical 36-char string form instead.
# events.HttpStartStop — reference http.pb.go:218-234
HTTP_START_STOP = StructType([
    StructField("startTimestamp", LongType(), False),
    StructField("stopTimestamp", LongType(), False),
    StructField("requestId", StringType(), False),
    StructField("peerType", StringType(), False),       # Client | Server
    StructField("method", StringType(), False),         # GET | POST | ...
    StructField("uri", StringType(), False),
    StructField("remoteAddress", StringType(), False),
    StructField("userAgent", StringType(), False),
    StructField("statusCode", IntegerType(), False),
    StructField("contentLength", LongType(), False),
    StructField("applicationId", StringType(), True),
    StructField("instanceIndex", IntegerType(), True),
    StructField("instanceId", StringType(), True),
    StructField("forwarded", ArrayType(StringType()), True),
])

# events.Error — reference error.pb.go:22-27
ERROR_EVENT = StructType([
    StructField("source", StringType(), False),
    StructField("code", IntegerType(), False),
    StructField("message", StringType(), False),
])

# events.Envelope — reference envelope.pb.go:99-118.  eventType is the
# union discriminator (envelope.pb.go:51-61); exactly one payload struct
# is non-null per row (enforced by tests, not the type system).
ENVELOPE = StructType([
    StructField("origin", StringType(), False),
    StructField("event_type", StringType(), False),
    StructField("timestamp", LongType(), True),         # ns since epoch
    StructField("deployment", StringType(), True),
    StructField("job", StringType(), True),
    StructField("index", StringType(), True),
    StructField("ip", StringType(), True),
    StructField("tags", MapType(StringType(), StringType()), True),
    StructField("log_message", LOG_MESSAGE, True),
    StructField("value_metric", VALUE_METRIC, True),
    StructField("counter_event", COUNTER_EVENT, True),
    StructField("container_metric", CONTAINER_METRIC, True),
    StructField("http_start_stop", HTTP_START_STOP, True),
    StructField("error", ERROR_EVENT, True),
])

EVENT_TYPES = (
    "HttpStartStop", "LogMessage", "ValueMetric", "CounterEvent",
    "Error", "ContainerMetric",
)

# Discriminator → payload-column name (tagged-union contract).
EVENT_TYPE_PAYLOAD = {
    "HttpStartStop": "http_start_stop",
    "LogMessage": "log_message",
    "ValueMetric": "value_metric",
    "CounterEvent": "counter_event",
    "Error": "error",
    "ContainerMetric": "container_metric",
}

# ---------------------------------------------------------------------------
# Fixture tables (driver-generated; FIXTURES.md at the repo root)
# ---------------------------------------------------------------------------

FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# `events.ts` has shipped as parquet TIMESTAMP(NANOS) (read as LongType
# ns via nanosAsLong) and as plain timestamp[us]; sources/tables.py
# normalizes both to exact int64-ns `ts` + TimestampType `event_time`.
# This StructType describes the normalized load_events output.
EVENTS = StructType([
    StructField("event_id", LongType(), True),
    StructField("ts", LongType(), True),                # ns since epoch
    StructField("user_id", LongType(), True),
    StructField("event_type", StringType(), True),
    StructField("value", DoubleType(), True),
    StructField("props", StringType(), True),           # JSON
])

EMBEDDINGS = StructType([
    StructField("vec_id", LongType(), True),
    StructField("embedding", ArrayType(FloatType()), True),
    StructField("label", IntegerType(), True),
])

# The embeddings fixture contract: 64-dim float vectors.  The validity
# gate (sources/tables.py::embedding_valid) quarantines rows that
# violate it before any similarity/clustering math.
EMBEDDING_DIM = 64
# Magnitude bound for the gate: |x| beyond this is corrupt data, and
# squared products would overflow the exact-decimal aggregation paths
# (DECIMAL(38,6) holds ~1e32; 1e15² = 1e30 stays inside).
EMBEDDING_MAX_ABS = 1.0e15

DOCUMENTS = StructType([
    StructField("doc_id", LongType(), True),
    StructField("text", StringType(), True),
    StructField("lang", StringType(), True),
    StructField("source", StringType(), True),
    StructField("n_chars", LongType(), True),
])

# Explicit lineitem schema for the streaming table-profile twin: a
# readStream needs a declared schema (no inference scan — the same
# contract as DOCUMENTS/JSONL ingest).  Matches the driver-generated
# parquet fixture (FIXTURES.md); `l_shipdate` is TIMESTAMP(us), i.e.
# TimestampNTZType in Spark 4's parquet reader.
from pyspark.sql.types import TimestampNTZType  # noqa: E402

LINEITEM = StructType([
    StructField("l_orderkey", LongType(), True),
    StructField("l_partkey", LongType(), True),
    StructField("l_suppkey", LongType(), True),
    StructField("l_linenumber", IntegerType(), True),
    StructField("l_quantity", DoubleType(), True),
    StructField("l_extendedprice", DoubleType(), True),
    StructField("l_discount", DoubleType(), True),
    StructField("l_tax", DoubleType(), True),
    StructField("l_returnflag", StringType(), True),
    StructField("l_linestatus", StringType(), True),
    StructField("l_shipdate", TimestampNTZType(), True),
])
