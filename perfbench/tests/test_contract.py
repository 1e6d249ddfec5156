"""BENCHMARK.json declares exactly what the runner reports."""

import json
import os
import re

from cga_logs_to_kinesis_spark.schema import FIXTURE_TABLES
from perfbench.tables import build_tables
from perfbench.workloads import E2E_UNITS, LAYER_UNITS, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metrics_match_the_runner():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == LAYER_UNITS
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)


def test_declaration_limits():
    b = _bench()
    assert 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_generated_tables_have_every_fixture_table():
    tables = build_tables(0.001, seed=3)
    assert set(tables) == set(FIXTURE_TABLES)
    again = build_tables(0.001, seed=3)
    assert all(tables[t].equals(again[t]) for t in tables)
