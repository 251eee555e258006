"""Every engine module is reachable from an entry point.

Walks the static import graph (absolute and relative imports, at any
nesting depth) from the entry points: ``__spark_entry__.py``,
``bench.py``, the job and tool mains, and the query registry. Fails on
any ``flink_tank_spark`` module the walk does not reach: a module that
only its own tests and scripts import is a second implementation that
nothing runs. Spark-free.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "flink_tank_spark"

ROOT_FILES = (
    [REPO / "__spark_entry__.py", REPO / "bench.py"]
    + sorted((PKG / "jobs").glob("*.py"))
    + sorted((PKG / "tools").glob("*.py"))
    + [PKG / "plans" / "registry.py"]
)
# Never imported: session.get_spark names it in the
# `spark.python.daemon.module` conf and every Python worker daemon
# starts it with `python -m`.
ROOT_MODULES = ("flink_tank_spark.spark_daemon",)


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _imported_names(path: Path):
    """Every dotted name an import in ``path`` may load as a module."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.rsplit(".", node.level - 1)[0]
                module = f"{base}.{node.module}" if node.module else base
            else:
                module = node.module
            yield module
            # `from pkg import mod` loads the submodule `pkg.mod`
            yield from (f"{module}.{alias.name}" for alias in node.names)


def unreachable_modules() -> list[str]:
    modules = {_module_name(p): p for p in PKG.rglob("*.py")}
    reached: set[str] = set()
    todo = [_module_name(p) for p in ROOT_FILES] + list(ROOT_MODULES)
    files = {_module_name(p): p for p in ROOT_FILES}
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        path = modules.get(name) or files[name]
        for imported in _imported_names(path):
            # importing a.b.c runs the __init__ of a and a.b first
            parts = imported.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in modules and prefix not in reached:
                    todo.append(prefix)
    return sorted(
        name
        for name, path in modules.items()
        if name not in reached and path.read_text().strip()
    )


def test_every_engine_module_is_reachable_from_an_entry_point():
    assert unreachable_modules() == []
