"""Generate QUERIES.md — the operator catalog — from the registry."""

from __future__ import annotations

import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from cga_logs_to_kinesis_spark.registry import all_queries  # noqa: E402


def render() -> str:
    """The full QUERIES.md content — shared by main() and the
    doc-drift test (tests/test_registry.py::test_queries_md_is_current)."""
    specs = all_queries()
    by_tag = defaultdict(list)
    for name, spec in sorted(specs.items()):
        primary = spec.tags[0] if spec.tags else "misc"
        by_tag[primary].append(spec)

    lines = [
        "# QUERIES — operator catalog",
        "",
        f"{len(specs)} registered queries; "
        f"{sum(1 for s in specs.values() if s.oracle)} oracle-paired "
        "(hash-checked vs DuckDB by the driver and tools/check.py), "
        f"{sum(1 for s in specs.values() if not s.oracle)} rows-only "
        "(non-SQL-expressible; pinned by pytest instead).",
        "",
        "Auto-generated by tools/gen_queries_md.py — do not edit.",
        "",
        "| query | oracle | tags | what it covers |",
        "|---|---|---|---|",
    ]
    for name, spec in sorted(specs.items()):
        oracle = "duckdb" if spec.oracle else "rows-only"
        lines.append(
            f"| `{name}` | {oracle} | {', '.join(spec.tags)} "
            f"| {spec.doc} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    content = render()
    with open(os.path.join(ROOT, "QUERIES.md"), "w") as f:
        f.write(content)
    n = sum(1 for ln in content.splitlines() if ln.startswith("| `"))
    print(f"wrote QUERIES.md ({n} queries)")


if __name__ == "__main__":
    main()
