"""Every top-level definition in the package is reached from a root, or is
listed in ``KEPT`` with the reason it stays.

Pure AST, no Spark. The roots are:

- every decorated def in the package (the query registry);
- every module-level statement of a non-test file;
- all of ``__spark_entry__.py``, ``bench.py``, ``tools/`` and
  ``perfbench/``, excluding ``test_*.py``.

A definition is reached when a reached body names it as a Name, an
attribute, an import alias, or a string constant that is exactly the
identifier. Docstrings do not count. Matching is by bare identifier, so
the scan can over-count callers but never misses one that names its
callee.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "urban_traffic_data_lake_project_spark"

KEPT = {
    "testing.compare_frames": "test harness: frame comparison used by the test suite",
    "testing.duckdb_con": "test harness: DuckDB connection for oracle tests",
    "operators.bootstrap._poisson1_weights_exact_ref": (
        "reference the bootstrap tests compare the Poisson weights against"
    ),
    "operators.bootstrap._splitmix_uniforms": (
        "reference the bootstrap tests compare the hashed uniforms against"
    ),
    "queries.windows.batch_tumbling": (
        "batch reference the streaming window tests compare against"
    ),
    "streaming.sinks.vacuum_versions": (
        "kept for the atomic layer-commit work, which reuses the versioned sink"
    ),
}


def _docstring_ids(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                out.add(id(body[0].value))
    return out


def _names(node: ast.AST, docstrings: set[int]) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
            and id(n) not in docstrings
        ):
            out.add(n.value)
    return out


def _is_def(node: ast.stmt) -> bool:
    return isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))


def _parse(path: Path) -> tuple[ast.Module, set[int]]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return tree, _docstring_ids(tree)


def unreached_definitions() -> list[str]:
    """Qualified names (relative to the package) of top-level package
    definitions that no root reaches."""
    defs: dict[str, list[tuple[str, ast.stmt, set[int]]]] = {}
    roots: set[str] = set()

    for path in sorted(PKG.rglob("*.py")):
        tree, docs = _parse(path)
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for stmt in tree.body:
            if not _is_def(stmt):
                roots |= _names(stmt, docs)
            elif getattr(stmt, "decorator_list", None):
                roots |= _names(stmt, docs)
            else:
                defs.setdefault(stmt.name, []).append((f"{module}.{stmt.name}", stmt, docs))

    entry_files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for sub in ("tools", "perfbench"):
        entry_files += sorted(p for p in (ROOT / sub).rglob("*.py") if not p.name.startswith("test_"))
    for path in entry_files:
        tree, docs = _parse(path)
        roots |= _names(tree, docs)

    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, stmt, docs in defs[name]:
            todo.extend(n for n in _names(stmt, docs) if n in defs and n not in reached)

    return sorted(q for name, entries in defs.items() if name not in reached for q, _, _ in entries)


def test_every_package_definition_is_reached_or_kept():
    unreached = unreached_definitions()
    stray = [q for q in unreached if q not in KEPT]
    assert not stray, (
        "top-level definitions that no query, pipeline stage, tool or bench reaches "
        "(delete them with their tests, or add them to KEPT with a reason):\n  "
        + "\n  ".join(stray)
    )


def test_kept_entries_are_still_unreached():
    # A KEPT entry that a root now reaches, or that no longer exists, is stale.
    assert sorted(KEPT) == [q for q in unreached_definitions() if q in KEPT]
