"""Consumer-side sources: read back what the sink delivered (S7).

The reference's client library carries an (unused-by-the-daemon)
Kinesis consumer — GetShardIterator/GetRecords paging (reference
kinesis.go:374-423).  The Spark-native consumer of this engine's
output is a reader over delivered pages: JSON-lines/JSON-page files
written by FileTransport / JsonDirTransport (or downloaded from a real
stream by any fetcher), decoded back into Envelope rows with
``from_json`` against the declared schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Wire schema for from_json: mirrors envelope_projection's output.
ENVELOPE_WIRE_SCHEMA = (
    "origin STRING, event_type STRING, timestamp LONG, "
    "log_message STRUCT<message: BINARY, message_type: STRING, "
    "timestamp: LONG, app_id: STRING, source_type: STRING, "
    "source_instance: STRING>"
)


def read_delivered_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Read FileTransport output (one JSON envelope per line)."""
    return spark.read.format("text").load(path).select(
        F.col("value").alias("wire"))


def decode_envelopes(wire: DataFrame,
                     col: str = "wire") -> DataFrame:
    """JSON wire → typed Envelope columns.  Malformed records survive
    as NULL structs (PERMISSIVE mode) so one bad record can't kill a
    100 TB backfill; count them via the is_corrupt column."""
    parsed = wire.withColumn("env", F.from_json(F.col(col),
                                                ENVELOPE_WIRE_SCHEMA))
    # PERMISSIVE from_json maps malformed input to an all-null struct
    # (not a NULL struct); event_type is a required Envelope field, so
    # its absence marks corruption.
    return parsed.select(
        F.col("env.origin").alias("origin"),
        F.col("env.event_type").alias("event_type"),
        F.col("env.timestamp").alias("timestamp"),
        F.col("env.log_message").alias("log_message"),
        (F.col("env").isNull()
         | F.col("env.event_type").isNull()).alias("is_corrupt"),
    )
