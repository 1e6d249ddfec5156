"""No package module that only tests reach.

Builds the import graph of ``cga_logs_to_kinesis_spark`` with ``ast``
(imports inside functions count too) from the entry points: the daemon
(``main.py``), the query registry (``registry.py``, which imports every
operator module), the driver contract (``__spark_entry__.py``),
``bench.py``, ``perfbench/`` and ``tools/``.  Every package module must
be reached, except the ones named in ``UNREACHED``, each with the
reason it stays.  Code that loses its last caller then goes with its
tests instead of growing back unnoticed.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = "cga_logs_to_kinesis_spark"

ROOTS = (
    f"{PKG}/main.py",
    f"{PKG}/registry.py",
    "__spark_entry__.py",
    "bench.py",
    "perfbench/*.py",
    "tools/*.py",
)

UNREACHED = {
    f"{PKG}.streaming.stateful": "next cut: only tests use it",
    f"{PKG}.streaming.stats": "next cut: only tests use it",
    f"{PKG}.streaming.archive": "next cut: only tests use it",
    f"{PKG}.streaming.protobuf_codec": "next cut: only tests use it",
    f"{PKG}.sources.pages": "next cut: only tests use it",
    f"{PKG}.streaming.faults": "fake transports shared by test modules",
}


def package_modules() -> dict[str, pathlib.Path]:
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def imported_modules(path: pathlib.Path, mods) -> set[str]:
    """Package modules ``path`` imports, with the packages that hold
    them (importing a module runs its parents' ``__init__``)."""
    out = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            names = [node.module] + [f"{node.module}.{a.name}"
                                     for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            out.update(m for m in (".".join(parts[:i])
                                   for i in range(1, len(parts) + 1))
                       if m in mods)
    return out


def reached_modules() -> set[str]:
    mods = package_modules()
    todo = [p for pattern in ROOTS for p in REPO.glob(pattern)]
    assert len(todo) > 6, todo
    seen = {m for m, p in mods.items() if p in todo}
    while todo:
        for name in imported_modules(todo.pop(), mods) - seen:
            seen.add(name)
            todo.append(mods[name])
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    unreached = set(package_modules()) - reached_modules()
    assert unreached == set(UNREACHED), (
        f"only tests reach: {sorted(unreached - set(UNREACHED))}; "
        f"reached now, drop from UNREACHED: "
        f"{sorted(set(UNREACHED) - unreached)}")
