"""Every package module must be reachable from a program entry point.

A module that only tests import is code that no job, query, serving path,
tool or benchmark runs: it costs review and upkeep and measures nothing.
This test walks the import statements (``ast`` only: nothing is imported and
no Spark session starts) from the non-test entry points below and fails on
any ``retailfeaturestore_spark`` module the walk does not reach.
"""

from __future__ import annotations

import ast
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "retailfeaturestore_spark"

# Package modules that are entry points in their own right: the batch jobs,
# the HTTP app, the CLI and the query registry.
_PKG_ENTRIES = ("jobs", "serving.app", "serving.cli", "queries")
# Repo-level scripts and directories whose non-test files are entry points.
_SCRIPT_FILES = ("bench.py", "__spark_entry__.py")
_SCRIPT_DIRS = ("tools", "perfbench")

# `streaming.materialize` is the streaming online publish that ROADMAP
# Direction 7 decides on; it stays until that change keeps or removes it.
_ALLOWED_UNREACHED = {f"{_PKG}.streaming.materialize"}


def _package_modules() -> dict[str, str]:
    """Module name -> file path for every module of the package."""
    mods = {}
    root = os.path.join(_REPO, _PKG)
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        rel = os.path.relpath(dirpath, _REPO).replace(os.sep, ".")
        for fn in filenames:
            if not fn.endswith(".py"):
                continue
            name = rel if fn == "__init__.py" else f"{rel}.{fn[:-3]}"
            mods[name] = os.path.join(dirpath, fn)
    return mods


def _imported(path: str, module: str | None, is_pkg: bool) -> set[str]:
    """Every module name an import statement anywhere in ``path`` names,
    with relative imports resolved against ``module``. ``from X import a``
    yields both ``X`` and ``X.a`` (the latter matters only if it is a module)."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    package = (module if is_pkg else module.rpartition(".")[0]) if module else ""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = ".".join(parts[: len(parts) - node.level + 1])
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module or ""
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def _with_parents(name: str) -> list[str]:
    """``a.b.c`` -> ``a``, ``a.b``, ``a.b.c``: importing a submodule runs
    each enclosing package's ``__init__``."""
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def _entry_files() -> list[str]:
    files = [os.path.join(_REPO, f) for f in _SCRIPT_FILES]
    for d in _SCRIPT_DIRS:
        for fn in sorted(os.listdir(os.path.join(_REPO, d))):
            if fn.endswith(".py") and not fn.startswith("test_"):
                files.append(os.path.join(_REPO, d, fn))
    return files


def reached_modules() -> tuple[set[str], dict[str, str]]:
    mods = _package_modules()
    todo: list[str] = [f"{_PKG}.{e}" for e in _PKG_ENTRIES]
    for path in _entry_files():
        todo.extend(_imported(path, None, False))
    seen: set[str] = set()
    while todo:
        for name in _with_parents(todo.pop()):
            if name in seen or name not in mods:
                continue
            seen.add(name)
            is_pkg = mods[name].endswith("__init__.py")
            todo.extend(_imported(mods[name], name, is_pkg))
    return seen, mods


def test_every_package_module_is_reached_from_an_entry_point():
    seen, mods = reached_modules()
    # the walk must see the live paths' modules, so that a parsing slip
    # cannot pass by reaching nothing
    for m in ("jobs", "queries", "serving.feature_service", "sources.mtable",
              "sources.pred_log", "ml.training", "operators.window_features"):
        assert f"{_PKG}.{m}" in seen, m
    unreached = sorted(set(mods) - seen - _ALLOWED_UNREACHED)
    assert unreached == [], (
        "package modules that no job, query, serving path, tool, perfbench "
        f"or bench.py imports (delete them, or their tests are their only "
        f"callers): {unreached}"
    )
