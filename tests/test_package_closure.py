"""Every package module, function, class and method must be reachable from a
program entry point.

Code that only tests reach is code that no job, query, serving path, tool or
benchmark runs: it costs review and upkeep and measures nothing. This test
walks the source (``ast`` only: nothing is imported and no Spark session
starts) from the non-test entry points below, name by name, and fails on any
``retailfeaturestore_spark`` module or top-level function, class or method
that the walk does not reach.

The walk's rules:

- A module is reached when reached code imports it; its module-level
  statements then run, and the walk follows them.
- A function or class is reached when reached code names it, directly or
  through an import alias (``from .x import f as g``, ``import a.b as m``
  then ``m.f``), including re-exports through a package's ``__init__``.
  A string that is exactly one identifier names it too (``getattr(obj,
  "name")``, a registry or cache key); names in comments, docstrings,
  ``__all__`` and longer strings (SQL text, messages) do not count.
- A method is reached once its class is reached and reached code takes an
  attribute of that name (``obj.meth``); dunder methods count with their
  class. The walk does not infer types, so any object's ``.meth`` counts.
- The query registry's entries are the functions ``queries.py`` decorates
  with ``@register(...)``; the CLI's entry is ``serving.cli.main``.
"""

from __future__ import annotations

import ast
import functools
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = "retailfeaturestore_spark"

# Package modules that are entry points in their own right: the batch jobs,
# the HTTP app, the CLI and the query registry. Their import runs their
# module-level statements.
_PKG_ENTRIES = ("jobs", "serving.app", "serving.cli", "queries")
# Named entries: the console script (pyproject ``rfs-infer``) and the HTTP
# app factory (the Dockerfile's ``uvicorn --factory``).
_NAMED_ENTRIES = (f"{_PKG}.serving.cli.main", f"{_PKG}.serving.app.app_from_env")
# Repo-level scripts and directories whose non-test files are entry points:
# all of their code counts as reached.
_SCRIPT_FILES = ("bench.py", "__spark_entry__.py")
_SCRIPT_DIRS = ("tools", "perfbench")

# Package names that only tests reach but that stay, each with its reason.
_MTABLE_GOLD = "ROADMAP Direction 4 makes the mtable twins the gold sink"
_MAINTENANCE = "the mtable's maintenance API; Direction 4 schedules vacuum"
_REFERENCE_NEARDUP = (
    "directory-state reference for the mtable admission test and the "
    "core's failure tests"
)
_PLAN_ASSERT = "a plan predicate the tests assert physical plans with"
_LATER = "deletion candidate left for a later pass"
_ALLOWED_TEST_ONLY: dict[str, str] = {
    "jobs.build_feature_views_mtable": _MTABLE_GOLD,
    "jobs.backfill_feature_views_mtable": _MTABLE_GOLD,
    "sources.mtable.MTable.vacuum": _MAINTENANCE,
    "sources.mtable.MTable.describe": _MAINTENANCE,
    "sources.mtable.MTable.history": _MAINTENANCE,
    "sources.mtable.MTable.restore": _MAINTENANCE,
    "sources.mtable._rel": "path helper of MTable.vacuum",
    "functions.bpe.learn_bpe": (
        "provenance of queries._BPE_FROZEN_MERGES, which its test replays"
    ),
    "operators.pit.interval_existence_labels_self": (
        "reference for the folded churn label"
    ),
    "streaming.neardup_stream.ingest_batch_neardup": _REFERENCE_NEARDUP,
    "streaming.neardup_stream._read_state": _REFERENCE_NEARDUP,
    "plans.has_broadcast_join": _PLAN_ASSERT,
    "plans.has_sort_merge_join": _PLAN_ASSERT,
    "plans.pushed_filters": _PLAN_ASSERT,
    "plans.wholestage_codegen_spans": _PLAN_ASSERT,
    "operators.quality_checks.run_checks": _LATER,
    "operators.tokenize.corpus_token_stats": _LATER,
    "operators.dedup.minhash_candidate_pairs": _LATER,
}


class _Module:
    """One parsed package module (or entry script, with ``name`` None)."""

    def __init__(self, name: str | None, path: str, is_pkg: bool):
        self.name, self.path = name, path
        with open(path, encoding="utf-8") as f:
            self.tree = ast.parse(f.read(), filename=path)
        if name is None:
            self.package = ""
        else:
            self.package = name if is_pkg else name.rpartition(".")[0]
        # top-level function and class definitions, also those under a
        # top-level ``if``/``try``
        self.defs: dict[str, ast.AST] = {}
        self.top: list[ast.stmt] = []
        self._collect(self.tree.body)
        # local name -> qualified targets, from every import in the file
        self.aliases: dict[str, set[str]] = {}
        # the string constants that are docstrings, which name nothing
        self.docstrings: set[int] = set()
        for node in ast.walk(self.tree):
            for local, target in self._bindings(node):
                self.aliases.setdefault(local, set()).add(target)
            body = getattr(node, "body", None)
            if (isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
                    and body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                self.docstrings.add(id(body[0].value))

    def _collect(self, body: list[ast.stmt]) -> None:
        for stmt in body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs[stmt.name] = stmt
            elif isinstance(stmt, (ast.If, ast.Try)):
                self.top.append(ast.Expr(getattr(stmt, "test", ast.Constant(None))))
                for sub in (stmt.body, stmt.orelse, getattr(stmt, "finalbody", [])):
                    self._collect(sub)
                for h in getattr(stmt, "handlers", []):
                    self._collect(h.body)
            elif not (isinstance(stmt, ast.Assign)
                      and any(getattr(t, "id", None) == "__all__" for t in stmt.targets)):
                # ``__all__`` lists names as strings; it reaches none of them
                self.top.append(stmt)

    def import_base(self, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        parts = self.package.split(".")
        base = ".".join(parts[: len(parts) - node.level + 1])
        return f"{base}.{node.module}" if node.module else base

    def _bindings(self, node: ast.AST):
        """(local name, qualified target) for each name an import binds."""
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    yield a.asname, a.name
                else:
                    # ``import a.b`` binds ``a``; ``a.b.f`` resolves from it
                    yield a.name.split(".")[0], a.name.split(".")[0]
        elif isinstance(node, ast.ImportFrom):
            base = self.import_base(node)
            for a in node.names:
                yield a.asname or a.name, f"{base}.{a.name}"

    def imported_modules(self, node: ast.AST) -> set[str]:
        """Every module name an import statement names (``from X import a``
        yields both ``X`` and ``X.a``; the latter matters if it is a module)."""
        if isinstance(node, ast.Import):
            return {a.name for a in node.names}
        if isinstance(node, ast.ImportFrom):
            base = self.import_base(node)
            return {base} | {f"{base}.{a.name}" for a in node.names}
        return set()


def _package_files() -> dict[str, tuple[str, bool]]:
    """Module name -> (file path, is package) for every package module."""
    mods = {}
    root = os.path.join(_REPO, _PKG)
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        rel = os.path.relpath(dirpath, _REPO).replace(os.sep, ".")
        for fn in filenames:
            if not fn.endswith(".py"):
                continue
            name = rel if fn == "__init__.py" else f"{rel}.{fn[:-3]}"
            mods[name] = (os.path.join(dirpath, fn), fn == "__init__.py")
    return mods


def _entry_files() -> list[str]:
    files = [os.path.join(_REPO, f) for f in _SCRIPT_FILES]
    for d in _SCRIPT_DIRS:
        for fn in sorted(os.listdir(os.path.join(_REPO, d))):
            if fn.endswith(".py") and not fn.startswith("test_"):
                files.append(os.path.join(_REPO, d, fn))
    return files


def _with_parents(name: str) -> list[str]:
    """``a.b.c`` -> ``a``, ``a.b``, ``a.b.c``: importing a submodule runs
    each enclosing package's ``__init__``."""
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def _is_method(node: ast.AST) -> bool:
    return isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))


def _is_registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
        for d in getattr(node, "decorator_list", [])
    )


class _Walk:
    def __init__(self) -> None:
        self.mods = {n: _Module(n, p, pkg) for n, (p, pkg) in _package_files().items()}
        self.modules: set[str] = set()  # modules whose import the walk reaches
        self.names: set[str] = set()    # qualified functions, classes, methods
        self.attrs: set[str] = set()    # every attribute name reached code takes
        self.classes: dict[str, ast.ClassDef] = {}
        self.todo: list[tuple[_Module, list[ast.AST]]] = []

    def all_names(self) -> dict[str, ast.AST]:
        """Qualified name -> definition, for every function, class and method."""
        out = {}
        for mod in self.mods.values():
            for n, node in mod.defs.items():
                out[f"{mod.name}.{n}"] = node
                if isinstance(node, ast.ClassDef):
                    for m in node.body:
                        if _is_method(m):
                            out[f"{mod.name}.{n}.{m.name}"] = m
        return out

    # -- reaching -------------------------------------------------------
    def reach_module(self, name: str) -> None:
        for m in _with_parents(name):
            if m in self.mods and m not in self.modules:
                self.modules.add(m)
                mod = self.mods[m]
                self.todo.append((mod, mod.top))
                if m == f"{_PKG}.queries":
                    for node in mod.defs.values():
                        if _is_registered(node):
                            self.reach_def(mod, node)

    def reach_def(self, mod: _Module, node: ast.AST) -> None:
        qname = f"{mod.name}.{node.name}"
        if qname in self.names:
            return
        self.names.add(qname)
        self.reach_module(mod.name)
        if isinstance(node, ast.ClassDef):
            self.classes[qname] = node
            header = [*node.bases, *node.keywords, *node.decorator_list]
            body = [s for s in node.body if not _is_method(s)]
            self.todo.append((mod, header + body))
            for m in node.body:
                if _is_method(m) and (m.name.startswith("__") and m.name.endswith("__")):
                    self.reach_method(mod, qname, m)
        else:
            self.todo.append((mod, [node]))

    def reach_method(self, mod: _Module, cls: str, node: ast.AST) -> None:
        qname = f"{cls}.{node.name}"
        if qname not in self.names:
            self.names.add(qname)
            self.todo.append((mod, [node]))

    def resolve(self, dotted: str, depth: int = 0) -> None:
        """Reach what the qualified name ``dotted`` denotes: a module, or a
        definition (possibly re-exported through import aliases)."""
        if depth > 20 or not dotted.startswith(_PKG):
            return
        parts = dotted.split(".")
        for i in range(len(parts), 0, -1):
            mod_name = ".".join(parts[:i])
            if mod_name in self.mods:
                break
        else:
            return
        self.reach_module(mod_name)
        rest = parts[i:]
        if not rest:
            return
        mod = self.mods[mod_name]
        head = rest[0]
        if head in mod.defs:
            self.reach_def(mod, mod.defs[head])
        for target in mod.aliases.get(head, ()):
            self.resolve(".".join([target, *rest[1:]]), depth + 1)

    def resolve_local(self, mod: _Module, dotted: str) -> None:
        """Reach what a name chain written in ``mod`` denotes."""
        head, _, rest = dotted.partition(".")
        if head in mod.defs and mod.name is not None:
            self.reach_def(mod, mod.defs[head])
        for target in mod.aliases.get(head, ()):
            self.resolve(f"{target}.{rest}" if rest else target)

    def walk_unit(self, mod: _Module, nodes: list[ast.AST]) -> None:
        for top in nodes:
            for node in ast.walk(top):
                chain = _chain(node)
                if chain is not None:
                    self.resolve_local(mod, chain)
                if isinstance(node, ast.Attribute):
                    self.attrs.add(node.attr)
                elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
                        and node.value.isidentifier() and id(node) not in mod.docstrings):
                    # ``getattr(obj, "name")``, a registry or cache key
                    self.resolve_local(mod, node.value)
                    self.attrs.add(node.value)
                for m in mod.imported_modules(node):
                    self.reach_module(m)

    def run(self) -> None:
        self.reach_module(f"{_PKG}")
        for e in _PKG_ENTRIES:
            self.reach_module(f"{_PKG}.{e}")
        for q in _NAMED_ENTRIES:
            self.resolve(q)
        for path in _entry_files():
            script = _Module(None, path, False)
            self.todo.append((script, [script.tree]))
        while self.todo:
            while self.todo:
                self.walk_unit(*self.todo.pop())
            # methods of reached classes whose names reached code takes
            for cls, node in list(self.classes.items()):
                mod = self.mods[cls.rpartition(".")[0]]
                for m in node.body:
                    if _is_method(m) and m.name in self.attrs:
                        self.reach_method(mod, cls, m)


def _chain(node: ast.AST) -> str | None:
    """``a.b.c`` for a maximal attribute chain rooted at a name (or the bare
    name), else None. Inner links of a chain return None, so each chain is
    resolved once."""
    if isinstance(node, ast.Name):
        return node.id
    if not isinstance(node, ast.Attribute):
        return None
    parts = []
    cur = node
    while isinstance(cur, ast.Attribute):
        parts.append(cur.attr)
        cur = cur.value
    if not isinstance(cur, ast.Name):
        return None
    return ".".join([cur.id, *reversed(parts)])


@functools.lru_cache(maxsize=1)
def walk() -> _Walk:
    w = _Walk()
    w.run()
    return w


def test_every_package_module_is_reached_from_an_entry_point():
    w = walk()
    # the walk must see the live paths' modules, so that a parsing slip
    # cannot pass by reaching nothing
    for m in ("jobs", "queries", "serving.feature_service", "sources.mtable",
              "sources.pred_log", "ml.training", "operators.window_features"):
        assert f"{_PKG}.{m}" in w.modules, m
    unreached = sorted(set(w.mods) - w.modules)
    assert unreached == [], (
        "package modules that no job, query, serving path, tool, perfbench "
        f"or bench.py imports (delete them, or their tests are their only "
        f"callers): {unreached}"
    )


def test_every_package_function_class_and_method_is_reached():
    w = walk()
    for n in ("jobs.backfill_feature_views", "serving.app.predict_once",
              "serving.feature_service.OfflineFeatureService.get_snapshot",
              "sources.mtable.MTable.merge_upsert", "queries.q_feature_view_build"):
        assert f"{_PKG}.{n}" in w.names, n
    allowed = {f"{_PKG}.{n}" for n in _ALLOWED_TEST_ONLY}
    unreached = sorted(set(w.all_names()) - w.names - allowed)
    assert unreached == [], (
        "package functions, classes and methods that no job, query, serving "
        "path, tool, perfbench or bench.py reaches (delete them, or their "
        f"tests are their only callers): {unreached}"
    )
    stale = sorted(n for n in allowed if n in w.names or n not in w.all_names())
    assert stale == [], f"allow-listed names that are reached or gone: {stale}"
