"""STORE_FAMILIES is executable documentation: every referenced
function must exist, every public sink must be claimed exactly once,
and docs/STORES.md must match the registry — so the family count the
docs (and README) claim can never drift from the code."""

from __future__ import annotations

import importlib.util
import pathlib

from cga_logs_to_kinesis_spark.streaming import corpus

REPO = pathlib.Path(__file__).resolve().parents[1]


def test_every_registry_reference_exists():
    for fam in corpus.STORE_FAMILIES:
        for attr in (*fam.sinks, *fam.readers, *fam.compactors):
            assert callable(getattr(corpus, attr, None)), (
                f"{fam.name}: registry references missing function "
                f"{attr}")


def test_every_public_sink_claimed_exactly_once():
    public_sinks = {n for n in dir(corpus)
                    if n.endswith("_sink") and not n.startswith("_")
                    and callable(getattr(corpus, n))}
    claimed = [s for fam in corpus.STORE_FAMILIES for s in fam.sinks]
    assert sorted(claimed) == sorted(set(claimed)), \
        "a sink is claimed by two families"
    assert set(claimed) == public_sinks, (
        f"registry/module sink drift: "
        f"unclaimed={public_sinks - set(claimed)} "
        f"phantom={set(claimed) - public_sinks}")


def test_every_family_has_a_work_envelope_test():
    """The r11+ bar: no store family ships without a measured
    per-batch work envelope.  Each family must have at least one of
    its sinks driven by a test_incremental_stress.py envelope test."""
    text = (REPO / "tests" / "test_incremental_stress.py").read_text()
    for fam in corpus.STORE_FAMILIES:
        assert any(s in text for s in fam.sinks), (
            f"{fam.name}: no sink of {fam.sinks} appears in "
            "test_incremental_stress.py")


def test_stores_md_is_current():
    spec = importlib.util.spec_from_file_location(
        "gen_stores_md", REPO / "tools" / "gen_stores_md.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    committed = (REPO / "docs" / "STORES.md").read_text()
    assert mod.render() == committed, \
        "docs/STORES.md is stale — run: python tools/gen_stores_md.py"
