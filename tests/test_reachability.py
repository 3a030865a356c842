"""Regrowth guard: every module under ``scrapy_spark/`` must be imported,
directly or transitively, from a production entry point — not only from
``tests/``. Spark-free: it walks the AST import graph (function-level lazy
imports included), so it runs in well under a second.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "scrapy_spark"
ENTRY_FILES = ["main.py", "__spark_entry__.py", "bench.py", "bench_extra.py", "bench_scaling.py"]


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path, module: str | None) -> set[str]:
    """Dotted names a file imports, with ``from a import b`` contributing
    both ``a`` and ``a.b`` (b may be a submodule)."""
    is_pkg = path.name == "__init__.py"
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level and module is not None:
                anchor = module.split(".")
                anchor = anchor[: len(anchor) - node.level + (1 if is_pkg else 0)]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def _reached(mods: dict[str, Path], roots: list[Path]) -> set[str]:
    reached: set[str] = set()
    todo = [(p, None) for p in roots]
    while todo:
        path, module = todo.pop()
        for name in _imported_names(path, module):
            parts = name.split(".")
            # importing a.b.c runs a/__init__, a.b/__init__ and a.b.c
            for i in range(1, len(parts) + 1):
                cand = ".".join(parts[:i])
                if cand in mods and cand not in reached:
                    reached.add(cand)
                    todo.append((mods[cand], cand))
    return reached


def test_every_package_module_is_reached_from_production():
    mods = _package_modules()
    roots = [REPO / f for f in ENTRY_FILES]
    roots += [p for p in (REPO / "perfbench").glob("*.py") if not p.name.startswith("test_")]
    orphans = sorted(set(mods) - _reached(mods, roots))
    assert not orphans, (
        f"modules reached only from tests/ (wire them in or delete them "
        f"with their tests): {orphans}"
    )
