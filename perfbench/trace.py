"""Spans around the calls into each layer, for the traced run only.

Spans are recorded from outside the program: :meth:`Tracer.install`
wraps the public functions the pipeline calls —
``foreach_batch_sink``'s callable, ``envelope_projection`` /
``envelope_to_json`` and ``TailFollower.poll_once`` — and the
benchmark transport's receipts give the ``Transport.send`` spans.
Micro-batch trigger spans come from ``StreamingQuery.recentProgress``
and per-query task metrics from Spark's event log.  Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime
from typing import Any

from perfbench.stats import self_time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.sink_rows: list[dict] = []       # per-key delivery stats
        self._restore: list = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start_ns": time.time_ns(), "end_ns": 0,
               "pid": os.getpid(), "thread": threading.get_ident(),
               **attrs}
        try:
            yield rec
        finally:
            rec["end_ns"] = time.time_ns()
            self.spans.append(rec)

    def reset(self) -> None:
        """Forget what was recorded so far (e.g. during a warm-up)."""
        self.spans.clear()
        self.sink_rows.clear()

    def add(self, name: str, start_ns: int, end_ns: int, **attrs) -> None:
        self.spans.append({"name": name, "start_ns": int(start_ns),
                           "end_ns": int(end_ns), **attrs})

    def _patch(self, owner, attr: str, value) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        from cga_logs_to_kinesis_spark.streaming import pipeline
        from cga_logs_to_kinesis_spark.streaming.tailer import TailFollower

        tracer = self
        make_sink = pipeline.foreach_batch_sink
        project = pipeline.envelope_projection
        to_json = pipeline.envelope_to_json
        poll_once = TailFollower.poll_once

        def traced_sink(transport, config, stats):
            update = stats.update

            def record(rows):
                tracer.sink_rows.extend(rows)
                update(rows)

            stats.update = record
            process = make_sink(transport, config, stats)

            def traced_process(batch_df, batch_id):
                with tracer.span("sink.deliver", batch_id=batch_id):
                    process(batch_df, batch_id)
            return traced_process

        def traced_projection(lines, origin):
            with tracer.span("envelope.plan"):
                return project(lines, origin)

        def traced_to_json(env):
            with tracer.span("envelope.plan"):
                return to_json(env)

        def traced_poll(follower):
            with tracer.span("tailer.poll") as rec:
                rec["spool_files"] = poll_once(follower)
            return rec["spool_files"]

        self._patch(pipeline, "foreach_batch_sink", traced_sink)
        self._patch(pipeline, "envelope_projection", traced_projection)
        self._patch(pipeline, "envelope_to_json", traced_to_json)
        self._patch(TailFollower, "poll_once", traced_poll)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, value = self._restore.pop()
            setattr(owner, attr, value)

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start_ns"]):
                f.write(json.dumps(s) + "\n")

    def self_times(self) -> dict[str, float]:
        """Seconds of each layer's spans not covered by its children:
        trigger ⊃ sink.deliver ⊃ sink.send (sends run in parallel
        workers; their union, not their sum, is subtracted)."""
        def iv(name):
            return [(s["start_ns"], s["end_ns"]) for s in self.of(name)]

        triggers, delivers, sends = (iv("pipeline.trigger"),
                                     iv("sink.deliver"), iv("sink.send"))
        return {
            "self.pipeline.trigger_s":
                sum(self_time(t, delivers) for t in triggers) / 1e9,
            "self.sink.deliver_s":
                sum(self_time(d, sends) for d in delivers) / 1e9,
            "self.sink.send_s": sum(e - s for s, e in sends) / 1e9,
            "self.tailer.poll_s":
                sum(e - s for s, e in iv("tailer.poll")) / 1e9,
            "self.envelope.plan_s":
                sum(e - s for s, e in iv("envelope.plan")) / 1e9,
        }


def progress_start_ns(progress: dict) -> int:
    """Trigger start of one ``recentProgress`` entry (ms precision)."""
    ts = datetime.fromisoformat(progress["timestamp"].replace("Z",
                                                              "+00:00"))
    return int(ts.timestamp() * 1000) * 1_000_000


def add_trigger_spans(tracer: Tracer, progress: list[dict]) -> None:
    for p in progress:
        start = progress_start_ns(p)
        dur_ms = p.get("durationMs", {}).get("triggerExecution", 0)
        tracer.add("pipeline.trigger", start, start + dur_ms * 1_000_000,
                   batch_id=p.get("batchId"),
                   rows=p.get("numInputRows", 0))


def read_event_log(event_dir: str, group_prefix: str
                   ) -> dict[str, dict[str, float]]:
    """Per job group (``<prefix><query>|<pass>``): completed stages,
    shuffle bytes written and executor CPU seconds, from every event
    log under ``event_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(group, {"stages": 0, "shuffle_write_bytes":
                                      0, "task_cpu_s": 0.0})

    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(event_dir)
                   for n in names if not n.startswith("."))  # skip .crc
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    if group.startswith(group_prefix):
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group[len(group_prefix):]
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group:
                        acc(stage_group[sid])["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    m = ev.get("Task Metrics") or {}
                    if sid in stage_group and m:
                        a = acc(stage_group[sid])
                        a["task_cpu_s"] += m.get("Executor CPU Time",
                                                 0) / 1e9
                        a["shuffle_write_bytes"] += (
                            m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
    return out
