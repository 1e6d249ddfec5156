"""Query results against their DuckDB oracles: row count, column names
and an order-insensitive value hash.

The canonicalisation is the repository checker's own
(``tools/check.py``: exact float ``repr``, column order ignored), and the
oracle is materialized through pandas the way the external correctness
driver reads it.
"""

from __future__ import annotations

import os
import sys

from cga_logs_to_kinesis_spark.schema import FIXTURE_TABLES
from perfbench.harness import ROOT

sys.path.insert(0, os.path.join(ROOT, "tools"))
from check import table_hash  # noqa: E402

Digest = tuple[int, tuple[str, ...], str]   # rows, sorted columns, hash


def digest(rows: list[tuple], cols: list[str]) -> Digest:
    return len(rows), tuple(sorted(cols)), table_hash(rows, cols)


def spark_digest(df) -> Digest:
    cols = list(df.columns)
    return digest([tuple(r) for r in df.collect()], cols)


def oracle_digests(data_dir: str, specs: dict) -> dict[str, Digest]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in FIXTURE_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{path}')")
        out = {}
        for name, spec in specs.items():
            pdf = con.execute(spec.oracle).df()
            out[name] = digest(
                list(pdf.itertuples(index=False, name=None)),
                list(pdf.columns))
        return out
    finally:
        con.close()
