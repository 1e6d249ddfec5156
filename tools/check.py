"""Local stand-in for the driver's correctness gate.

Runs every registered query at the given scale factor on Spark AND its
DuckDB oracle, then compares row count, sorted column names, and an
order-insensitive canonical value hash.  Strictness matches or exceeds
the driver: values are stringified with exact float repr (no rounding
tolerance), so anything passing here should pass any reasonable hasher.

Driver fidelity: the oracle result is materialized through pandas
(``con.execute(sql).df()``) exactly like the driver's canonicalizer —
NOT ``fetchall()``.  This is load-bearing: DuckDB types ``SUM(<int>)``
as HUGEINT, which pandas renders as float64 (``"123.0"``) while Spark's
LongType renders ``"123"``; ``fetchall()`` returns Python ints on both
sides and silently hides that divergence (the round-2 36/50 regression).
Oracles must ``CAST(... AS BIGINT)`` integer sums; this checker now
fails locally when they don't.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from cga_logs_to_kinesis_spark.registry import all_queries  # noqa: E402
from cga_logs_to_kinesis_spark.schema import FIXTURE_TABLES  # noqa: E402
from cga_logs_to_kinesis_spark.session import get_session  # noqa: E402


def canon(v) -> str:
    if isinstance(v, (list, tuple, dict, set)) or type(v).__name__ == "ndarray":
        # The driver canonicalizes through pandas sort_values, which dies on
        # non-hashable cells (TypeError: unhashable type 'numpy.ndarray').
        # Reject here so local green predicts driver green: serialize arrays
        # with array_join/to_json in the query itself.
        raise TypeError(
            f"non-scalar output cell ({type(v).__name__}): query must "
            "serialize arrays/maps to strings (array_join / to_json)")
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(rows: list[tuple], cols: list[str]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon(row[i]) for i in order) for row in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_session("check")
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    specs = all_queries()
    results, failed = {}, []
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            scols = list(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
            if spec.oracle is None:
                results[name] = {"status": "rows_only", "rows": len(srows),
                                 "sec": round(time.time() - t0, 2)}
                print(f"  {name}: rows-only, {len(srows)} rows")
                continue
            # Pandas canonicalization path, mirroring the driver: HUGEINT
            # (un-cast integer SUMs) becomes float64 here and hash-fails.
            pdf = con.execute(spec.oracle).df()
            ocols = list(pdf.columns)
            orows = [tuple(r) for r in
                     pdf.itertuples(index=False, name=None)]
            problems = []
            if len(srows) != len(orows):
                problems.append(f"rowcount spark={len(srows)} "
                                f"oracle={len(orows)}")
            if sorted(scols) != sorted(ocols):
                problems.append(f"schema spark={sorted(scols)} "
                                f"oracle={sorted(ocols)}")
            if not problems:
                sh, oh = table_hash(srows, scols), table_hash(orows, ocols)
                if sh != oh:
                    problems.append("value-hash mismatch")
                    # show first differing canonical rows for debugging
                    so = sorted("\x1f".join(
                        canon(r[i]) for i in sorted(
                            range(len(scols)), key=lambda i: scols[i]))
                        for r in srows)
                    oo = sorted("\x1f".join(
                        canon(r[i]) for i in sorted(
                            range(len(ocols)), key=lambda i: ocols[i]))
                        for r in orows)
                    for a, b in zip(so, oo):
                        if a != b:
                            problems.append(f"  spark : {a[:300]}")
                            problems.append(f"  oracle: {b[:300]}")
                            break
            status = "ok" if not problems else "FAIL"
            results[name] = {"status": status, "rows": len(srows),
                             "sec": round(time.time() - t0, 2),
                             "problems": problems}
            mark = "✓" if status == "ok" else "✗"
            print(f"  {mark} {name}: {len(srows)} rows "
                  f"({results[name]['sec']}s)"
                  + ("" if not problems else f"  {problems}"))
            if problems:
                failed.append(name)
        except Exception as e:  # noqa: BLE001
            results[name] = {"status": "ERROR", "error": str(e)[:500]}
            print(f"  ✗ {name}: ERROR {str(e)[:300]}")
            failed.append(name)

    print(json.dumps({"total": len(results), "failed": failed}))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
