"""No environment variable steers the package unless ``ALLOWED`` names it
with the reason it stays.

Pure AST, no Spark. An env read is ``os.environ.get(k)``,
``os.environ[k]``, ``os.environ.setdefault(k, ...)`` or ``os.getenv(k)``
under any alias of ``os``. A read of a ``SPARK_GRAFT_*`` literal must be
listed in ``ALLOWED``; a read whose name is not a string literal fails
too, because the knob it reads cannot be checked.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "urban_traffic_data_lake_project_spark"
PREFIX = "SPARK_GRAFT_"

ALLOWED = {
    "SPARK_GRAFT_SF_DIR": "deployment: where the reference tables live",
    "SPARK_GRAFT_DRIVER_MEM": "deployment: the driver JVM heap",
    "SPARK_GRAFT_CPUS": "deployment: the local[N] core count",
    "SPARK_GRAFT_BPE_CKPT_EVERY": "A/B'd by tools/stress.py (BPE lineage checkpoint interval)",
}


def _env_key(node: ast.AST) -> ast.expr | None:
    """The key expression of an env read, or None if ``node`` is not one."""
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        f = node.func
        environ_method = (
            f.attr in ("get", "setdefault")
            and isinstance(f.value, ast.Attribute)
            and f.value.attr == "environ"
        )
        if (environ_method or f.attr == "getenv") and node.args:
            return node.args[0]
    if (
        isinstance(node, ast.Subscript)
        and isinstance(node.value, ast.Attribute)
        and node.value.attr == "environ"
    ):
        return node.slice
    return None


def unlisted_env_reads() -> list[str]:
    found = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            key = _env_key(node)
            if key is None:
                continue
            where = f"{path.relative_to(PKG)}:{node.lineno}"
            if not (isinstance(key, ast.Constant) and isinstance(key.value, str)):
                found.append(f"{where}: env name is not a literal: {ast.unparse(key)}")
            elif key.value.startswith(PREFIX) and key.value not in ALLOWED:
                found.append(f"{where}: {key.value}")
    return found


def test_every_env_knob_is_allowed():
    found = unlisted_env_reads()
    assert not found, "env reads not in ALLOWED:\n" + "\n".join(found)


def test_allowed_knobs_are_still_read():
    read = set()
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            key = _env_key(node)
            if isinstance(key, ast.Constant):
                read.add(key.value)
    assert set(ALLOWED) <= read, sorted(set(ALLOWED) - read)
