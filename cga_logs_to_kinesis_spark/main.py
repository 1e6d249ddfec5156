"""Daemon entry point: the reference's CLI/env surface, Spark-native.

The reference daemon is configured entirely through env vars wired in
by its BOSH ctl script (reference ``jobs/logs-to-kinesis/templates/
ctl.erb:17-27``, parsed at ``main.go:375-407``):

    FILES_TO_WATCH  ':'-separated file paths
    DIRS_TO_WATCH   ':'-separated 'root/**/glob' entries
    INSTANCE        origin label for every Envelope
    STREAM_NAME     delivery stream
    PORT            metrics port (here: metrics file path instead)

Run the Spark equivalent the same way:

    DIRS_TO_WATCH='/var/log/**/*.log' INSTANCE=web-0 \\
        python -m cga_logs_to_kinesis_spark.main

Each watched target is tailed (``tail --follow=name --retry``,
main.go:214-250) by ``streaming/tailer.py``, which spools appended
lines under ``$CHECKPOINT_DIR`` for a checkpointed streaming query;
a spool file is deleted once its batch is committed.

Differences from the reference, by design: checkpointed exactly-once
source tracking instead of a lossy in-memory buffer; tailer offsets
persist, so a restart re-ships nothing; ``TRANSPORT`` defaults to a
local file sink (``file``), whether or not boto3 is installed.
"""

from __future__ import annotations

import glob as globmod
import os
import signal
import sys
import time

from cga_logs_to_kinesis_spark.session import get_session
from cga_logs_to_kinesis_spark.streaming.config import watch_config_from_env
from cga_logs_to_kinesis_spark.streaming.envelope import FLUSH_INTERVAL_S
from cga_logs_to_kinesis_spark.streaming.metrics import (
    attach_metrics,
    serve_metrics,
)
from cga_logs_to_kinesis_spark.streaming.pipeline import (
    PipelineConfig,
    build_tailed_pipeline,
)
from cga_logs_to_kinesis_spark.streaming.sink import (
    ConsoleTransport,
    FileTransport,
    SinkConfig,
    boto3_transport,
)
from cga_logs_to_kinesis_spark.streaming.tailer import prune_spool


def make_transport(env: dict[str, str]):
    kind = env.get("TRANSPORT", "file")
    if kind == "kinesis":
        return boto3_transport(env.get("AWS_REGION", "ap-southeast-2"))
    if kind == "console":
        return ConsoleTransport()
    return FileTransport(env.get("DELIVERY_DIR", "/tmp/delivered"))


def run(env: dict[str, str] | None = None,
        available_now: bool = False) -> int:
    env = dict(env if env is not None else os.environ)
    files, dirs = watch_config_from_env(env)
    if not files and not dirs:
        print("nothing to watch: set FILES_TO_WATCH and/or DIRS_TO_WATCH",
              file=sys.stderr)
        return 2

    # one tailed streaming query per watch root — the goroutine-per-
    # watch structure of the reference (main.go:259,285); each keeps
    # its checkpoint at <ckpt>/<id> and its spool at <ckpt>/<id>-spool
    ckpt = env.get("CHECKPOINT_DIR", "/tmp/l2k-ckpt")
    # a file target tails exactly that path; a dir target recurses
    targets = ([(f"f{i}", os.path.dirname(f) or ".",
                 globmod.escape(os.path.basename(f)))
                for i, f in enumerate(files)]
               + [(f"d{i}", d.root, "**/" + d.glob)
                  for i, d in enumerate(dirs)])
    for d in dirs:
        # a dir target's tailer globs its root recursively: it would
        # re-ship its own spool files, forever
        root = os.path.realpath(d.root)
        if os.path.commonpath([root, os.path.realpath(ckpt)]) == root:
            print(f"CHECKPOINT_DIR {ckpt} lies under the watched "
                  f"directory {d.root}", file=sys.stderr)
            return 2

    spark = get_session("logs-to-kinesis-spark")
    metrics = attach_metrics(spark)
    transport = make_transport(env)
    sink_cfg = SinkConfig(stream_name=env.get("STREAM_NAME", "logs"))
    queries, stats_list, tailers = [], [], []
    for tid, watch_dir, glob in targets:
        cfg = PipelineConfig(
            watch_dir=watch_dir, glob=glob,
            origin=env.get("INSTANCE", "spark-engine"),
            checkpoint_dir=f"{ckpt}/{tid}", available_now=available_now)
        query, stats, tailer = build_tailed_pipeline(
            spark, cfg, transport, f"{ckpt}/{tid}-spool", sink_cfg)
        queries.append(query)
        stats_list.append(stats)
        tailers.append(tailer)

    # the last source log offset whose spool files are deleted
    pruned = {tid: -1 for tid, _, _ in targets}

    def prune():
        for tid in pruned:
            pruned[tid] = prune_spool(f"{ckpt}/{tid}", f"{ckpt}/{tid}-spool",
                                      pruned[tid])

    if available_now:
        for q, t in zip(queries, tailers):
            q.awaitTermination(600)
            t.stop()
        prune()
        total = sum(s.records_sent for s in stats_list)
        print(f"drained: {total} records sent, "
              f"{sum(s.records_dropped for s in stats_list)} dropped")
        spark.stop()
        return 0

    # daemon mode: serve /metrics on $PORT (reference main.go:410-413)
    # and block until SIGINT/SIGTERM (main.go:415-417)
    server = None
    if env.get("PORT"):
        server = serve_metrics(
            lambda: render_all_metrics(metrics, stats_list, tailers),
            int(env["PORT"]))

    def shutdown(_sig, _frm):
        for q in queries:
            q.stop()

    signal.signal(signal.SIGINT, shutdown)
    signal.signal(signal.SIGTERM, shutdown)
    # delete committed spool files once per trigger, so the spool the
    # file source lists on every trigger stays small
    rc = 0
    while all(q.isActive for q in queries):
        time.sleep(FLUSH_INTERVAL_S)
        prune()
        if not all(t.is_alive() for t in tailers):
            print("a tailer thread died: no further lines would ship",
                  file=sys.stderr)
            rc = 1
            break
    shutdown(None, None)                # one ended: stop the others
    for t in tailers:
        t.stop()
    prune()
    for q in queries:
        q.awaitTermination()            # re-raises a query's failure
    metrics_path = env.get("METRICS_PATH")
    if metrics_path:
        with open(metrics_path, "w") as f:
            f.write(render_all_metrics(metrics, stats_list, tailers))
    if server is not None:
        server.shutdown()
    spark.stop()
    return rc


def render_all_metrics(metrics, stats_list, tailers) -> str:
    """Engine (A3) + delivery (A2) counters in one exposition page —
    the reference's records_sent/records_dropped/request_errors family
    (main.go:28-47) alongside the streaming-progress metrics and the
    tailers' failed polls."""
    sent = sum(s.records_sent for s in stats_list)
    dropped = sum(s.records_dropped for s in stats_list)
    errors = sum(s.request_errors for s in stats_list)
    tailer_errors = sum(t.errors for t in tailers)
    return metrics.render_prometheus() + (
        "# TYPE engine_records_sent_total counter\n"
        f"engine_records_sent_total {sent}\n"
        "# TYPE engine_records_dropped_total counter\n"
        f"engine_records_dropped_total {dropped}\n"
        "# TYPE engine_request_errors_total counter\n"
        f"engine_request_errors_total {errors}\n"
        "# TYPE engine_tailer_errors_total counter\n"
        f"engine_tailer_errors_total {tailer_errors}\n")


if __name__ == "__main__":
    raise SystemExit(run(
        available_now="--drain" in sys.argv))
