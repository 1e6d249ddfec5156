"""StreamingQueryListener metrics (A2/A3 surface)."""

from __future__ import annotations

import time

from cga_logs_to_kinesis_spark.streaming.metrics import attach_metrics


def test_metrics_listener_counts_rows(spark, tmp_path):
    src = tmp_path / "src"
    spark.createDataFrame(
        [(i, "x") for i in range(50)], "id long, k string"
    ).coalesce(1).write.parquet(str(src))

    metrics = attach_metrics(spark)
    stream = spark.readStream.schema("id long, k string").parquet(str(src))
    q = (stream.writeStream.format("noop").queryName("metrics_probe")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    # listener callbacks are asynchronous; poll briefly
    for _ in range(40):
        if metrics.rows_in.get("metrics_probe", 0) >= 50:
            break
        time.sleep(0.25)
    assert metrics.rows_in.get("metrics_probe", 0) == 50
    assert metrics.batches.get("metrics_probe", 0) >= 1

    text = metrics.render_prometheus()
    assert 'engine_rows_in_total{query="metrics_probe"} 50' in text
    assert "# TYPE engine_rows_in_total counter" in text


def parse_prometheus(text: str) -> dict[str, float]:
    out = {}
    for line in text.splitlines():
        if not line or line.startswith("#"):
            continue
        name, val = line.rsplit(" ", 1)
        out[name] = float(val)
    return out


def test_metrics_http_endpoint():
    """A3 endpoint (reference main.go:410-413): scrape GET /metrics
    over real HTTP and parse the exposition text."""
    import urllib.error
    import urllib.request

    import pytest

    from cga_logs_to_kinesis_spark.main import render_all_metrics
    from cga_logs_to_kinesis_spark.streaming.metrics import (
        EngineMetrics,
        serve_metrics,
    )
    from cga_logs_to_kinesis_spark.streaming.sink import DeliveryStats

    metrics = EngineMetrics(rows_in={"q1": 7}, batches={"q1": 2})
    stats = DeliveryStats(records_sent=5, records_dropped=1,
                          request_errors=3)
    server = serve_metrics(
        lambda: render_all_metrics(metrics, [stats], []), port=0)
    try:
        port = server.server_address[1]
        with urllib.request.urlopen(
                f"http://127.0.0.1:{port}/metrics", timeout=10) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("text/plain")
            vals = parse_prometheus(resp.read().decode())
        assert vals['engine_rows_in_total{query="q1"}'] == 7
        assert vals["engine_records_sent_total"] == 5
        assert vals["engine_records_dropped_total"] == 1
        assert vals["engine_request_errors_total"] == 3

        # live counters: a second scrape sees the updated registry
        stats.records_sent = 9
        with urllib.request.urlopen(
                f"http://127.0.0.1:{port}/metrics", timeout=10) as resp:
            vals = parse_prometheus(resp.read().decode())
        assert vals["engine_records_sent_total"] == 9

        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/other", timeout=10)
        assert exc.value.code == 404
    finally:
        server.shutdown()


def test_metrics_scrape_shows_batch_duration_and_tailer_errors(tmp_path):
    """The last trigger's duration per query, and the tailers' failed
    polls, are on the scraped page."""
    import urllib.request

    from cga_logs_to_kinesis_spark.main import render_all_metrics
    from cga_logs_to_kinesis_spark.streaming.metrics import (
        EngineMetrics,
        serve_metrics,
    )
    from cga_logs_to_kinesis_spark.streaming.tailer import TailFollower

    metrics = EngineMetrics(last_batch_duration_ms={"q1": 840})
    tailers = [TailFollower(watch_dir=str(tmp_path),
                            spool_dir=str(tmp_path / "s"))
               for _ in range(2)]
    tailers[0].errors = 2
    tailers[1].errors = 1
    server = serve_metrics(
        lambda: render_all_metrics(metrics, [], tailers), port=0)
    try:
        port = server.server_address[1]
        with urllib.request.urlopen(
                f"http://127.0.0.1:{port}/metrics", timeout=10) as resp:
            vals = parse_prometheus(resp.read().decode())
    finally:
        server.shutdown()
    assert vals['engine_last_batch_duration_ms{query="q1"}'] == 840
    assert vals["engine_tailer_errors_total"] == 3
