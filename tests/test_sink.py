"""Delivery-sink semantics: batch cut, retry, drop — against
fault-injecting transports reproducing PutRecordsResp partial failures
(reference kinesis.go:463-474, batchproducer.go:326-444).

``deliver_pages`` collects each batch and calls its transport on the
driver, so tests assert via the returned per-key stats, via files a
transport wrote, and via the transport's own state (the boto3
transport's stubbed client); a pin keeps each call at one Spark job.
"""

from __future__ import annotations

import json

import pytest

from cga_logs_to_kinesis_spark.streaming.envelope import (
    envelope_projection,
    envelope_to_json,
)
from cga_logs_to_kinesis_spark.streaming.faults import (
    CrashingTransport,
    JsonDirTransport,
    PartialFailTransport,
)
from cga_logs_to_kinesis_spark.streaming.sink import SinkConfig, deliver_pages


def _records_df(spark, n, key="k"):
    return spark.createDataFrame(
        [(f"record-{i}".encode(), key) for i in range(n)],
        "data binary, partition_key string")


def test_page_cut_at_500(spark, tmp_path):
    # single-partition input so one task pages all 1200 records
    df = _records_df(spark, 1200).coalesce(1)
    out = tmp_path / "pages"
    agg = deliver_pages(df, JsonDirTransport(str(out)), SinkConfig())
    # ≤500 per page (B2, reference batchproducer.go:14): 500+500+200,
    # read back from the transport's one file per page
    pages = [json.loads(f.read_text()) for f in out.glob("page-*.json")]
    assert sorted(len(p) for p in pages) == [200, 500, 500]
    assert sorted(d for p in pages for d, _k in p) == sorted(
        f"record-{i}" for i in range(1200))
    # the stats fold those pages into one row per first key, O(keys)
    # whatever the batch size
    assert len(agg) == 1
    assert int(agg["pages"].iloc[0]) == 3
    assert int(agg["records_sent"].sum()) == 1200
    assert int(agg["records_dropped"].sum()) == 0


def test_per_record_retry_then_success(spark):
    tp = PartialFailTransport(fail_attempts=2)
    df = spark.createDataFrame(
        [(b"ok-1", "k"), (b"poison-1", "k"), (b"ok-2", "k")],
        "data binary, partition_key string").coalesce(1)
    stats = deliver_pages(df, tp, SinkConfig(base_backoff_s=0))
    assert stats["records_sent"].sum() == 3   # retried within budget
    assert stats["records_dropped"].sum() == 0


def test_per_record_drop_after_max_attempts(spark):
    tp = PartialFailTransport(fail_attempts=99)
    df = spark.createDataFrame(
        [(b"ok-1", "k"), (b"poison-1", "k")],
        "data binary, partition_key string").coalesce(1)
    stats = deliver_pages(df, tp,
                          SinkConfig(base_backoff_s=0,
                                     max_attempts_per_record=5))
    assert stats["records_sent"].sum() == 1
    assert stats["records_dropped"].sum() == 1   # B5 drop policy
    # page needed exactly MaxAttemptsPerRecord passes to exhaust budget
    assert stats["attempts"].max() == 5


def test_request_error_backoff_then_delivery(spark):
    tp = CrashingTransport(crashes=3)
    df = _records_df(spark, 10).coalesce(1)
    stats = deliver_pages(df, tp, SinkConfig(base_backoff_s=0))
    assert stats["records_sent"].sum() == 10
    assert stats["request_errors"].sum() == 3
    assert stats["attempts"].max() == 4


def test_bounded_retry_drops_after_max_request_attempts(spark):
    """A persistently failing transport must not hang the task: after
    max_request_attempts the page is dropped and counted (liveness
    bound on the B4 retry loop; the reference's unbounded doubling can
    park its producer indefinitely)."""
    tp = CrashingTransport(crashes=10**9)
    df = _records_df(spark, 10).coalesce(1)
    cfg = SinkConfig(base_backoff_s=0, max_request_attempts=3)
    stats = deliver_pages(df, tp, cfg)
    assert stats["records_sent"].sum() == 0
    assert stats["records_dropped"].sum() == 10
    assert stats["request_errors"].sum() == 3
    assert stats["attempts"].max() == 3


def test_delivery_completeness_across_tasks(spark, tmp_path):
    """Every record delivered exactly once even when the input arrives
    pre-shuffled across many partitions."""
    out = tmp_path / "pages"
    rows = [(f"r{i}".encode(), f"key-{i % 3}") for i in range(30)]
    df = spark.createDataFrame(
        rows, "data binary, partition_key string").repartition(8)
    stats = deliver_pages(df, JsonDirTransport(str(out)), SinkConfig())
    assert stats["records_sent"].sum() == 30
    delivered = []
    for f in out.glob("page-*.json"):
        delivered.extend(tuple(x) for x in json.loads(f.read_text()))
    assert sorted(delivered) == sorted(
        (f"r{i}", f"key-{i % 3}") for i in range(30))


@pytest.mark.parametrize("n", [0, 1])
def test_empty_and_single(spark, tmp_path, n):
    stats = deliver_pages(_records_df(spark, n).coalesce(1),
                          JsonDirTransport(str(tmp_path / "pages")),
                          SinkConfig())
    assert stats["records_sent"].sum() == n


@pytest.fixture
def kinesis(monkeypatch):
    """The boto3 transport with a Stubber on its client: no request
    leaves the process, and static credentials keep botocore from
    looking any up."""
    from botocore.stub import Stubber

    from cga_logs_to_kinesis_spark.streaming.sink import boto3_transport

    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "AKTEST")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "SKTEST")
    tp = boto3_transport("us-east-1")
    stub = Stubber(tp.client)
    with stub:
        yield tp, stub
    stub.assert_no_pending_responses()


def test_boto3_transport_returns_failed_record_indices(kinesis):
    tp, stub = kinesis
    stub.add_response(
        "put_records",
        {"FailedRecordCount": 1, "Records": [
            {"SequenceNumber": "1", "ShardId": "shardId-0"},
            {"ErrorCode": "ProvisionedThroughputExceededException",
             "ErrorMessage": "slow down"}]},
        {"StreamName": "s1", "Records": [
            {"Data": b"a", "PartitionKey": "k1"},
            {"Data": b"b", "PartitionKey": "k2"}]})
    assert tp.send("s1", [(b"a", "k1"), (b"b", "k2")]) == [1]


def test_boto3_transport_missing_stream_fails_the_batch(kinesis):
    """A wrong stream name cannot be fixed by retrying: the send raises
    FatalDeliveryError, so the micro-batch fails and is replayed."""
    from cga_logs_to_kinesis_spark.streaming.sink import FatalDeliveryError

    tp, stub = kinesis
    stub.add_client_error("put_records", "ResourceNotFoundException")
    with pytest.raises(FatalDeliveryError):
        tp.send("missing", [(b"a", "k")])


def test_boto3_transport_throttled_request_is_retried(kinesis):
    """Throttling raises the plain ClientError, which deliver_pages
    retries with backoff; only FatalDeliveryError fails the batch."""
    from botocore.exceptions import ClientError

    tp, stub = kinesis
    stub.add_client_error("put_records",
                          "ProvisionedThroughputExceededException")
    with pytest.raises(ClientError):
        tp.send("s1", [(b"a", "k")])


def test_deliver_pages_through_boto3_transport(spark, kinesis):
    """The sink pages on the driver, so the transport it calls is the
    one the test holds, stubbed client included.  1,200 records over
    two keys go out as PutRecords calls of 500/500/200 in collect
    order; the one record the last call refuses goes out alone in a
    fourth call."""
    tp, stub = kinesis
    rows = [(f"record-{i}".encode(), "k1" if i < 600 else "k2")
            for i in range(1200)]

    def params(page):
        return {"StreamName": "s1", "Records": [
            {"Data": d, "PartitionKey": k} for d, k in page]}

    def accepted(n):
        return {"Records": [
            {"SequenceNumber": str(i), "ShardId": "shardId-0"}
            for i in range(n)]}

    refused = accepted(200)
    refused["FailedRecordCount"] = 1
    refused["Records"][7] = {
        "ErrorCode": "ProvisionedThroughputExceededException",
        "ErrorMessage": "slow down"}
    stub.add_response("put_records", accepted(500), params(rows[:500]))
    stub.add_response("put_records", accepted(500), params(rows[500:1000]))
    stub.add_response("put_records", refused, params(rows[1000:]))
    stub.add_response("put_records", accepted(1), params([rows[1007]]))

    df = spark.createDataFrame(
        rows, "data binary, partition_key string").coalesce(1)
    stats = deliver_pages(df, tp, SinkConfig(stream_name="s1"))
    got = {r["first_key"]: r for r in stats.to_dict("records")}
    assert {k: (r["pages"], r["records_sent"], r["attempts"])
            for k, r in got.items()} == {"k1": (2, 1000, 1),
                                          "k2": (1, 200, 2)}
    assert int(stats["records_sent"].sum()) == 1200
    assert int(stats["records_dropped"].sum()) == 0
    assert int(stats["request_errors"].sum()) == 0


_PYTHON_NODES = ("MapInPandas", "PythonMapInArrow", "BatchEvalPython",
                 "ArrowEvalPython", "FlatMapGroupsInPandas")


def test_deliver_pages_runs_one_spark_job(spark, tmp_path):
    """One call runs one Spark job of one stage, and its plan has no
    exchange and no Python node: a trigger pays for no shuffle and no
    Python worker, only the scan, the projection and the collect."""
    watch = tmp_path / "logs"
    watch.mkdir()
    for i in range(4):
        (watch / f"f{i}.log").write_text(
            "".join(f"f{i}-line-{j}\n" for j in range(300)))
    df = envelope_to_json(envelope_projection(
        spark.read.text(str(watch)), "inst-j"))
    sc = spark.sparkContext
    group = "deliver-pages-one-job"
    sc.setJobGroup(group, group)
    try:
        stats = deliver_pages(df, JsonDirTransport(str(tmp_path / "out")),
                              SinkConfig())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert int(stats["records_sent"].sum()) == 1200
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1
    store = spark._jsparkSession.sharedState().statusStore()
    executions = store.executionsList()
    plans = [executions.apply(i).physicalPlanDescription()
             for i in range(executions.size())
             if executions.apply(i).description() == group]
    assert len(plans) == 1
    for node in ("Exchange", *_PYTHON_NODES):
        assert node not in plans[0], plans[0]
