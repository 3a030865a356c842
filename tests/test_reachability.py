"""Regrowth guard: every module under ``scrapy_spark/`` must be imported,
directly or transitively, from a production entry point — not only from
``tests/`` — and every top-level public function and constant must be
referenced from production code, not only from ``tests/``. Spark-free: it
walks the ASTs (function-level lazy imports included), so it runs in well
under a second.
"""

from __future__ import annotations

import ast
from functools import lru_cache
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "scrapy_spark"
ENTRY_FILES = ["main.py", "__spark_entry__.py", "bench.py", "bench_extra.py", "bench_scaling.py"]

# Names tests may be the only callers of: correctness twins that tests use
# as the expected value for production code, and fixture writers.
TEST_REFERENCES = {
    "psnr_parity",  # PSNR between a resize and its reference
    "py_image_caption_filter",
    "py_pii_counts",
    "py_resize_to_bucket",
    "quantize_for_gif",  # expected pixels of encode_gif on >256 colors
    "generate",  # synth: writes the synthetic web as parquet fixtures
}
# Test-only names already in the tree when this check was added; each is
# due for wiring in or deletion with its tests. The list may only shrink.
KNOWN_TEST_ONLY = {
    "decode_gif_frames",
    "encode_gif_animation",
    "parse_robots_sitemaps",
    "parse_robots_txt",
    "vendor_data",
}


@lru_cache(maxsize=None)
def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


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
    for node in ast.walk(_parse(path)):
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


def _production_files() -> list[Path]:
    roots = [REPO / f for f in ENTRY_FILES]
    return roots + [
        p for p in (REPO / "perfbench").glob("*.py") if not p.name.startswith("test_")
    ]


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
    orphans = sorted(set(mods) - _reached(mods, _production_files()))
    assert not orphans, (
        f"modules reached only from tests/ (wire them in or delete them "
        f"with their tests): {orphans}"
    )


def _public_names(tree: ast.Module) -> set[str]:
    """Top-level public functions (undecorated — a decorator registers the
    function) and UPPER_CASE constants a module defines."""
    names = set()
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if not node.decorator_list:
                names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name) and t.id.isupper())
    return {n for n in names if not n.startswith("_")}


def _referenced_names(tree: ast.Module) -> set[str]:
    """Identifiers a file reads: bare names, attributes and imported names
    (by name only — a same-named symbol elsewhere can only hide an orphan,
    never report a false one)."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            names.update(alias.name for alias in node.names)
    return names


def test_every_public_name_is_referenced_from_production():
    pkg = {path: _parse(path) for path in _package_modules().values()}
    prod = set().union(
        *(_referenced_names(t) for t in pkg.values()),
        *(_referenced_names(_parse(p)) for p in _production_files()),
    )
    tests = set().union(*(_referenced_names(_parse(p)) for p in (REPO / "tests").rglob("*.py")))
    test_only = {
        f"{path.relative_to(REPO)}:{name}"
        for path, tree in pkg.items()
        for name in _public_names(tree) - prod
        if name in tests and name not in TEST_REFERENCES
    }
    unlisted = sorted(t for t in test_only if t.split(":")[1] not in KNOWN_TEST_ONLY)
    assert not unlisted, (
        f"names referenced only from tests/ (wire them in or delete them with "
        f"their tests; correctness twins go on TEST_REFERENCES): {unlisted}"
    )
    stale = KNOWN_TEST_ONLY - {t.split(":")[1] for t in test_only}
    assert not stale, f"no longer test-only, drop from KNOWN_TEST_ONLY: {sorted(stale)}"
