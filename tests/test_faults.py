"""``crash_after``: the one crash wrapper every store-sink crash test
uses (plain Python, no Spark)."""

from __future__ import annotations

import pytest

from cga_logs_to_kinesis_spark.streaming.faults import crash_after
from cga_logs_to_kinesis_spark.streaming.sink import FatalDeliveryError


def test_crash_after_raises_once_per_listed_id_after_the_call():
    calls = []
    sink = crash_after(lambda df, bid: calls.append((df, bid)), (1, 3))

    sink("a", 0)                          # unlisted: passes through
    assert calls == [("a", 0)]

    with pytest.raises(FatalDeliveryError):
        sink("b", 1)
    assert calls[-1] == ("b", 1)          # raised after the call returned

    sink("b", 1)                          # the replay of id 1 succeeds
    assert calls[-1] == ("b", 1) and len(calls) == 3

    sink("c", 2)
    with pytest.raises(FatalDeliveryError):
        sink("d", 3)
    sink("d", 3)
    assert [bid for _, bid in calls] == [0, 1, 1, 2, 3, 3]


def test_crash_after_does_not_crash_when_the_sink_fails():
    def failing(df, bid):
        raise ValueError("sink error")

    sink = crash_after(failing, (1,))
    with pytest.raises(ValueError):       # the sink's own error, not ours
        sink(None, 1)
    with pytest.raises(ValueError):       # and the crash is still pending
        sink(None, 1)
