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

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from cga_logs_to_kinesis_spark.streaming.envelope import (
    FLUSH_INTERVAL_S,
    MAX_BYTES_PER_TRIGGER,
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
    glob: str = "*.log"                  # relative to watch_dir
    origin: str = "spark-engine"         # $INSTANCE
    checkpoint_dir: str | None = None
    flush_interval_s: int = FLUSH_INTERVAL_S
    available_now: bool = False          # drain-and-stop (tests/backfill)


def build_pipeline(spark: SparkSession, cfg: PipelineConfig,
                   transport: Transport,
                   sink_cfg: SinkConfig | None = None,
                   ) -> tuple[StreamingQuery, DeliveryStats]:
    """Assemble and start the streaming query. Returns (query, stats)."""
    lines = (spark.readStream
             .option("maxBytesPerTrigger", MAX_BYTES_PER_TRIGGER)
             .text(cfg.watch_dir, pathGlobFilter=cfg.glob))
    return _start(cfg, lines, transport, sink_cfg)


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
                          ):
    """Append-following variant (reference ``tail --follow=name
    --retry``, main.go:214-250): a driver-side TailFollower converts
    appends under ``cfg.watch_dir`` into atomic spool files, and the
    standard pipeline streams the spool directory.  Appends become
    visible within one poll + one trigger, no rotation needed.  Each
    record is keyed by the path of the watched file it came from,
    which its spool line carries — not by the spool file.

    With ``cfg.available_now`` the tailer drains in this thread
    (:meth:`TailFollower.drain`) and runs no thread of its own: the
    query ships every complete line appended before the call.

    Returns ``(query, stats, tailer)``; stop the tailer after the
    query, which saves its offsets.
    """
    from cga_logs_to_kinesis_spark.streaming.tailer import (
        TailFollower,
        read_spool,
    )

    tailer = TailFollower(watch_dir=cfg.watch_dir, spool_dir=spool_dir,
                          glob=cfg.glob)
    if cfg.available_now:
        # a started thread's first poll would race this drain and
        # could spool the same lines twice
        tailer.load().drain()
    else:
        tailer.start()
    query, stats = _start(cfg, read_spool(spark, spool_dir, cfg.watch_dir),
                          transport, sink_cfg)
    return query, stats, tailer
