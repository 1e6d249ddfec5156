"""Envelope projection: log line → dropsonde Envelope row (T1).

Reference behavior (``src/logs-to-kinesis/main.go:324-347``): each
tailed line becomes an ``events.Envelope`` with ``origin=$INSTANCE``,
``eventType=LogMessage`` and a ``LogMessage`` payload carrying the raw
line, ingest-time nanosecond timestamp (``main.go:331``), constant
``source_type="bosh"`` / ``message_type=OUT`` (``main.go:326-327``),
and ``source_instance=<file path>`` — which doubles as the Kinesis
partition key (``main.go:346``).

Spark-first realization: a narrow ``select`` over the ``text`` file
source — ``input_file_name()`` supplies the path, and the whole
projection stays in whole-stage codegen.  Works identically on a batch
read and on ``readStream`` (the streaming pipeline in pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Reference constants (main.go:324-328, batchproducer.go:14, main.go:84-93).
SOURCE_TYPE = "bosh"
MESSAGE_TYPE_OUT = "OUT"
EVENT_TYPE_LOG = "LogMessage"
MAX_BATCH_SIZE = 500          # Kinesis PutRecords page cap
BUFFER_SIZE = MAX_BATCH_SIZE * 10
FLUSH_INTERVAL_S = 5
MAX_ATTEMPTS_PER_RECORD = 5
STAT_INTERVAL_S = 5


def envelope_projection(lines: DataFrame, origin: str) -> DataFrame:
    """Project a `text`-source DataFrame (column `value`) to Envelope rows.

    Ingest-time semantics per reference main.go:331: `timestamp` is the
    processing wall clock, not anything parsed from the line.
    ``source_instance`` and ``partition_key`` are the line's file path:
    the frame's `path` column if it has one (the tailed pipeline reads
    spool chunks and puts the watched file's path there), else
    ``input_file_name()``.
    """
    path = (F.col("path") if "path" in lines.columns
            else F.input_file_name())
    ts_ns = (F.unix_micros(F.current_timestamp()) * 1000).alias("timestamp")
    return lines.select(
        F.lit(origin).alias("origin"),
        F.lit(EVENT_TYPE_LOG).alias("event_type"),
        ts_ns,
        F.struct(
            F.encode(F.col("value"), "UTF-8").alias("message"),
            F.lit(MESSAGE_TYPE_OUT).alias("message_type"),
            (F.unix_micros(F.current_timestamp()) * 1000).alias("timestamp"),
            F.lit(None).cast("string").alias("app_id"),
            F.lit(SOURCE_TYPE).alias("source_type"),
            path.alias("source_instance"),
        ).alias("log_message"),
        path.alias("partition_key"),
    )


def envelope_to_json(env: DataFrame) -> DataFrame:
    """Serialize Envelope rows for the wire (T3).

    The reference marshals protobuf (main.go:342); its ecosystem also
    ships easyjson codecs for the same schema, so JSON is an accepted
    interchange encoding.  spark-protobuf (`to_protobuf`) slots in here
    when a compiled descriptor is available; JSON needs no descriptor
    and stays fully codegen'd.
    """
    payload = F.to_json(F.struct(*[
        F.col(c) for c in env.columns if c != "partition_key"
    ])).alias("data")
    return env.select(payload, F.col("partition_key"))
