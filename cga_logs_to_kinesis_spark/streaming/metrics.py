"""Observability surface (A2/A3): cumulative engine metrics.

The reference exposes Prometheus counters/gauges keyed by instance on
an HTTP endpoint (reference main.go:28-47,410-413).  The Spark-native
equivalent is a StreamingQueryListener that folds every progress event
into cumulative counters, plus a text renderer in the Prometheus
exposition format.  :func:`serve_metrics` exposes that render on a
stdlib HTTP server thread (the reference's ``promhttp.Handler()`` at
``/metrics``, main.go:410-413); the engine core itself stays
transport-free — the render can equally be scraped from a file sink.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class EngineMetrics:
    """Counter/gauge registry, labeled by query name (≈ `system`
    label in reference main.go:33)."""
    rows_in: dict[str, int] = field(default_factory=dict)
    batches: dict[str, int] = field(default_factory=dict)
    last_input_rate: dict[str, float] = field(default_factory=dict)
    last_batch_duration_ms: dict[str, int] = field(default_factory=dict)

    def render_prometheus(self) -> str:
        lines = [
            "# TYPE engine_rows_in_total counter",
            *[f'engine_rows_in_total{{query="{q}"}} {v}'
              for q, v in sorted(self.rows_in.items())],
            "# TYPE engine_batches_total counter",
            *[f'engine_batches_total{{query="{q}"}} {v}'
              for q, v in sorted(self.batches.items())],
            "# TYPE engine_input_rate gauge",
            *[f'engine_input_rate{{query="{q}"}} {v}'
              for q, v in sorted(self.last_input_rate.items())],
            "# TYPE engine_last_batch_duration_ms gauge",
            *[f'engine_last_batch_duration_ms{{query="{q}"}} {v}'
              for q, v in sorted(self.last_batch_duration_ms.items())],
        ]
        return "\n".join(lines) + "\n"


class MetricsListener(StreamingQueryListener):
    def __init__(self, metrics: EngineMetrics):
        self.metrics = metrics

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        name = p.name or p.id
        m = self.metrics
        m.rows_in[name] = m.rows_in.get(name, 0) + int(p.numInputRows)
        m.batches[name] = m.batches.get(name, 0) + 1
        m.last_input_rate[name] = float(p.inputRowsPerSecond or 0.0)
        dur = p.durationMs or {}
        m.last_batch_duration_ms[name] = int(dur.get("triggerExecution", 0))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def attach_metrics(spark: SparkSession) -> EngineMetrics:
    """Register a listener; returns the live metrics registry."""
    metrics = EngineMetrics()
    spark.streams.addListener(MetricsListener(metrics))
    return metrics


def serve_metrics(render: Callable[[], str],
                  port: int = 0) -> ThreadingHTTPServer:
    """Serve ``render()`` at ``GET /metrics`` (reference main.go:410-413).

    A daemon thread runs a stdlib ThreadingHTTPServer; ``port=0``
    binds an ephemeral port (read it back from
    ``server.server_address[1]``).  Call ``server.shutdown()`` to stop.
    ``render`` is called per scrape, so counters are always current.
    """

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):                             # noqa: N802 (stdlib API)
            if self.path.rstrip("/") != "/metrics":
                self.send_error(404)
                return
            body = render().encode()
            self.send_response(200)
            self.send_header("Content-Type",
                             "text/plain; version=0.0.4; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *_args):                # keep stderr quiet
            pass

    server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    threading.Thread(target=server.serve_forever,
                     name="metrics-http", daemon=True).start()
    return server
