"""The reference pipeline end-to-end: watched files → Envelope → sink.

Reference dataflow (``main.go``): tail files / glob-scan dirs (S1/S3)
→ per-line Envelope projection (T1) → protobuf serialize (T3) →
key-partitioned batching producer → Kinesis PutRecords (K1), stats on a
5 s interval (A1).  Spark-first equivalent: file stream source with
``pathGlobFilter`` → codegen'd projection → JSON serialize →
``foreachBatch`` delivery sink, ``trigger(processingTime="5 seconds")``
as the FlushInterval, checkpointing as the (stronger) replacement for
the in-memory buffer.

Semantic deviation, documented per SURVEY.md §7.4: Spark's file source
ingests new *files*, not appends to existing ones (the reference runs
``tail --follow=name``, main.go:215).  The unit of ingest here is the
rotated/closed file — idiomatic for a distributed engine, and the
rotation case is exactly what the reference's ``--retry`` handles.
For true append-following, :func:`build_tailed_pipeline` composes the
driver-side :class:`~cga_logs_to_kinesis_spark.streaming.tailer.
TailFollower` bridge (§7.4.1 option b) in front of this same pipeline.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from cga_logs_to_kinesis_spark.streaming.envelope import (
    FLUSH_INTERVAL_S,
    envelope_projection,
    envelope_to_json,
)
from cga_logs_to_kinesis_spark.streaming.sink import (
    DeliveryStats,
    SinkConfig,
    Transport,
    foreach_batch_sink,
)


@dataclass
class PipelineConfig:
    """Engine config ≈ the reference's env-var surface
    (main.go:375-407, ctl.erb:17-27)."""
    watch_dir: str                       # DIRS_TO_WATCH root
    glob: str = "*.log"                  # the /**/ glob part
    origin: str = "spark-engine"         # $INSTANCE
    checkpoint_dir: str | None = None
    flush_interval_s: int = FLUSH_INTERVAL_S
    available_now: bool = False          # drain-and-stop (tests/backfill)
    max_files_per_trigger: int | None = None  # rate limiting (B1)


def build_pipeline(spark: SparkSession, cfg: PipelineConfig,
                   transport: Transport,
                   sink_cfg: SinkConfig | None = None,
                   ) -> tuple[StreamingQuery, DeliveryStats]:
    """Assemble and start the streaming query. Returns (query, stats)."""
    return _start(cfg, _read_lines(spark, cfg), transport, sink_cfg)


def _read_lines(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    reader = (spark.readStream.format("text")
              .option("pathGlobFilter", cfg.glob))
    if cfg.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               cfg.max_files_per_trigger)
    return reader.load(cfg.watch_dir)


def _start(cfg: PipelineConfig, lines: DataFrame, transport: Transport,
           sink_cfg: SinkConfig | None,
           ) -> tuple[StreamingQuery, DeliveryStats]:
    sink_cfg = sink_cfg or SinkConfig()
    stats = DeliveryStats()

    wire = envelope_to_json(envelope_projection(lines, cfg.origin))

    writer = (wire.writeStream
              .foreachBatch(foreach_batch_sink(transport, sink_cfg, stats))
              .outputMode("append"))
    if cfg.checkpoint_dir:
        writer = writer.option("checkpointLocation", cfg.checkpoint_dir)
    if cfg.available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(
            processingTime=f"{cfg.flush_interval_s} seconds")
    return writer.start(), stats


def build_tailed_pipeline(spark: SparkSession, cfg: PipelineConfig,
                          transport: Transport,
                          spool_dir: str,
                          sink_cfg: SinkConfig | None = None,
                          poll_interval_s: float = 0.2,
                          ):
    """Append-following variant (reference ``tail --follow=name
    --retry``, main.go:214-250): a driver-side TailFollower converts
    appends under ``cfg.watch_dir`` into atomic spool files, and the
    standard pipeline streams the spool directory.  Appends become
    visible within one poll + one trigger, no rotation needed.  Each
    record is keyed by the path of the watched file it came from,
    decoded from its spool file's name — not by the spool file.

    Returns ``(query, stats, tailer)``; stop the tailer after the
    query.
    """
    from cga_logs_to_kinesis_spark.streaming.tailer import (
        TailFollower,
        spooled_source_path,
    )

    tailer = TailFollower(watch_dir=cfg.watch_dir, spool_dir=spool_dir,
                          glob=cfg.glob,
                          poll_interval_s=poll_interval_s).start()
    if cfg.available_now:
        tailer.poll_once()      # drain mode: capture pre-start appends
    spool_cfg = replace(cfg, watch_dir=spool_dir, glob="*.log")
    lines = _read_lines(spark, spool_cfg).withColumn(
        "path", spooled_source_path(cfg.watch_dir))
    query, stats = _start(spool_cfg, lines, transport, sink_cfg)
    return query, stats, tailer
