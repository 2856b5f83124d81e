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
  A string names it only as an identifier argument of ``getattr`` or
  ``hasattr``; other strings (registry and cache keys, column names, SQL
  text, messages), comments, docstrings and ``__all__`` name nothing.
- A method is reached once its class is reached and reached code takes an
  attribute of that name (``obj.meth``); dunder methods count with their
  class. The walk does not infer types, so any object's ``.meth`` counts.
- The query registry's entries are the functions ``queries.py`` decorates
  with ``@register(...)``; the CLI's entry is ``serving.cli.main``.

Every defaulted parameter of a reached function, method, class
``__init__`` or dataclass field must be passed by some non-test call site,
and not as one and the same literal by every such call: a value no program
sets, or that every program sets alike, is a constant, not an option.

A second walk starts from the live paths only: the batch jobs, the HTTP app,
the CLI and the benchmark's non-test files without its registry query mix.
It prints the live closure's line count and fails if that closure reaches
the query registry.

An operator that the ranks memo keys by its name alone (the ranks
operators, and whatever passes its ``cache_scope`` on to one) may be given
``cache_scope`` by one program call only, so that each name serves one input
recipe.

Every environment variable the package reads (``os.environ[...]``,
``os.environ.get(...)``, ``os.getenv(...)``) must be listed, with its
reason, in ``_ENV_SETTINGS``, and every listed one must be read: a setting
nothing documents is as hidden as an option no program passes.
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
# The live paths: the batch jobs, the HTTP app, the CLI and the benchmark's
# non-test files, without the benchmark's functions that run registry
# queries and the tools they load.
_LIVE_PKG_ENTRIES = ("jobs", "serving.app", "serving.cli")
_LIVE_SCRIPT_DIRS = ("perfbench",)
_LIVE_DROPPED = ("query_mix", "tool")

# Defaulted parameters that no program passes but that stay, each with its
# reason, as ``module.function(parameter)``.
_ALLOWED_UNSET: dict[str, str] = {
    "session.get_spark(master)": (
        "deployment setting: spark-submit supplies the master on a cluster"
    ),
    "sources.redis_sink.redis_client_factory(url)": (
        "deployment setting: the store's URL, else REDIS_URL"
    ),
    "ml.artifacts.save_artifacts(mlflow_experiment)": (
        "deployment setting: the MLflow experiment, where a tracking server exists"
    ),
    "serving.cli.main(argv)": "test seam: the console script parses sys.argv",
    "sources.mtable.MTable(log_store)": (
        "commit-protocol seam: a store whose Hadoop create is not atomic "
        "needs its own put-if-absent; the tests inject a fake"
    ),
}

# The environment variables the package reads, each with its reason.
_APP_FROM_ENV = (
    "the HTTP app's deployment contract: serving.app.app_from_env, the "
    "Dockerfile's uvicorn --factory entry, reads its settings from the "
    "environment"
)
_ENV_SETTINGS: dict[str, str] = {
    "SPARK_LOCAL_DIRS": (
        "Spark's own scratch-directory setting, which cluster operators set; "
        "the session honours it before its repo-local default"
    ),
    "SPARK_GRAFT_CPUS": "the local master's core count; unset, it uses every core",
    "SPARK_MASTER_OVERRIDE_DISABLED": (
        "keeps the master spark-submit supplies instead of the local default"
    ),
    "SPARK_WAREHOUSE_DIR": "where the session's SQL warehouse lives",
    "SPARK_GRAFT_SF_DIR": "the default test-data directory of the query registry",
    "REDIS_URL": "the online store's address, else localhost; also " + _APP_FROM_ENV,
    "REDIS_TTL_SECONDS": "an expiry for published online-store keys; unset keeps them",
    "MODEL_DIR": _APP_FROM_ENV,
    "GOLD_DIR": _APP_FROM_ENV,
    "FEATURE_BACKEND": _APP_FROM_ENV,
    "REDIS_KEY_PREFIX": _APP_FROM_ENV,
    "PRED_LOG_DIR": _APP_FROM_ENV,
    "THRESHOLD": _APP_FROM_ENV,
}

# Package names that only tests reach but that stay, each with its reason.
_MTABLE_GOLD = "ROADMAP Direction 4 makes the mtable twins the gold sink"
_MAINTENANCE = "the mtable's maintenance API; Direction 4 schedules vacuum"
_REFERENCE_NEARDUP = (
    "directory-state reference for the mtable admission test and the "
    "core's failure tests"
)
_PLAN_ASSERT = "a plan predicate the tests assert physical plans with"
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
    "streaming.neardup_stream.ingest_batch_neardup": _REFERENCE_NEARDUP,
    "streaming.neardup_stream._read_state": _REFERENCE_NEARDUP,
    "plans.has_broadcast_join": _PLAN_ASSERT,
    "plans.has_sort_merge_join": _PLAN_ASSERT,
    "plans.pushed_filters": _PLAN_ASSERT,
    "plans.wholestage_codegen_spans": _PLAN_ASSERT,
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
        for node in ast.walk(self.tree):
            for local, target in self._bindings(node):
                self.aliases.setdefault(local, set()).add(target)

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


def _entry_files(files: tuple[str, ...], dirs: tuple[str, ...]) -> list[str]:
    """The scripts ``files`` and the non-test ``.py`` files of ``dirs``."""
    out = [os.path.join(_REPO, f) for f in files]
    for d in dirs:
        for fn in sorted(os.listdir(os.path.join(_REPO, d))):
            if fn.endswith(".py") and not fn.startswith("test_"):
                out.append(os.path.join(_REPO, d, fn))
    return out


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


def _getattr_name(node: ast.AST) -> str | None:
    """``name`` for ``getattr(obj, "name", ...)`` or ``hasattr(obj, "name")``."""
    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id in ("getattr", "hasattr") and len(node.args) >= 2):
        arg = node.args[1]
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str) and arg.value.isidentifier():
            return arg.value
    return None


class _Walk:
    """The walk from the package modules ``pkg_entries``, the named entries
    and the entry scripts ``scripts``, less their top-level definitions
    named in ``dropped``."""

    def __init__(self, pkg_entries: tuple[str, ...], scripts: list[str],
                 dropped: tuple[str, ...] = ()) -> None:
        self.pkg_entries, self.scripts, self.dropped = pkg_entries, scripts, dropped
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
                name = _getattr_name(node)
                if name is not None:
                    self.resolve_local(mod, name)
                    self.attrs.add(name)
                for m in mod.imported_modules(node):
                    self.reach_module(m)

    def run(self) -> None:
        self.reach_module(f"{_PKG}")
        for e in self.pkg_entries:
            self.reach_module(f"{_PKG}.{e}")
        for q in _NAMED_ENTRIES:
            self.resolve(q)
        for path in self.scripts:
            script = _Module(None, path, False)
            body = [s for s in script.tree.body if getattr(s, "name", None) not in self.dropped]
            self.todo.append((script, body))
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
    w = _Walk(_PKG_ENTRIES, _entry_files(_SCRIPT_FILES, _SCRIPT_DIRS))
    w.run()
    return w


@functools.lru_cache(maxsize=1)
def live_walk() -> _Walk:
    w = _Walk(_LIVE_PKG_ENTRIES, _entry_files((), _LIVE_SCRIPT_DIRS), _LIVE_DROPPED)
    w.run()
    return w


def _callee(func: ast.AST) -> str | None:
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


_NOT_LITERAL = object()


def _literal(node: ast.AST):
    try:
        return ast.literal_eval(node)
    except ValueError:
        return _NOT_LITERAL


class _Site:
    """One non-test call: its positional arguments, keyword names and
    whether it unpacks ``*args`` or ``**kwargs``."""

    def __init__(self, args: list[ast.expr], keywords: list[ast.keyword]):
        self.args = args
        self.keywords = {k.arg: k.value for k in keywords if k.arg}
        self.unpacks = (any(isinstance(a, ast.Starred) for a in args)
                        or any(k.arg is None for k in keywords))

    def argument(self, param: str, index: int | None) -> ast.expr | None:
        """The expression this call passes for ``param``, else None."""
        if param in self.keywords:
            return self.keywords[param]
        if index is not None and len(self.args) > index:
            return self.args[index]
        return None


@functools.lru_cache(maxsize=1)
def _call_sites() -> dict[str, list[_Site]]:
    """Callee name -> each call of that name in non-test code (the package
    and the entry scripts); a ``partial(f, ...)`` counts as a call of ``f``.
    Calls match definitions by name only, so a call of any same-named
    function counts."""
    paths = [p for p, _ in _package_files().values()]
    paths += _entry_files(_SCRIPT_FILES, _SCRIPT_DIRS)
    sites: dict[str, list[_Site]] = {}
    for path in paths:
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func, args = node.func, node.args
            if _callee(func) == "partial" and args:
                func, args = args[0], args[1:]
            name = _callee(func)
            if name is not None:
                sites.setdefault(name, []).append(_Site(args, node.keywords))
    return sites


def _is_dataclass(node: ast.ClassDef) -> bool:
    for d in node.decorator_list:
        d = d.func if isinstance(d, ast.Call) else d
        if _callee(d) == "dataclass":
            return True
    return False


def _function_defaults(fn: ast.AST, skip: int):
    """``(parameter, positional index or None)`` for each defaulted
    parameter of ``fn``, the first ``skip`` positional ones (``self``)
    left out of the index."""
    a = fn.args
    positional = [*a.posonlyargs, *a.args]
    first = len(positional) - len(a.defaults)
    for i, arg in enumerate(positional[first:], start=first):
        yield arg.arg, i - skip
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield arg.arg, None


def _defaults(w: _Walk):
    """``(label, callee name, parameter, positional index)`` for each
    defaulted parameter of a reached function, method, class ``__init__``
    or dataclass field."""
    for mod in w.mods.values():
        short = mod.name[len(_PKG) + 1:]
        for n, node in mod.defs.items():
            qname = f"{mod.name}.{n}"
            if qname not in w.names:
                continue
            if _is_method(node):
                for p, i in _function_defaults(node, 0):
                    yield f"{short}.{n}({p})", n, p, i
                continue
            if not isinstance(node, ast.ClassDef):
                continue
            if _is_dataclass(node):
                fields = [s for s in node.body
                          if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)]
                for i, f in enumerate(fields):
                    if f.value is not None:
                        yield f"{short}.{n}({f.target.id})", n, f.target.id, i
            for m in node.body:
                if not _is_method(m) or f"{qname}.{m.name}" not in w.names:
                    continue
                static = any(_callee(d) == "staticmethod" for d in m.decorator_list)
                if m.name == "__init__":
                    for p, i in _function_defaults(m, 1):
                        yield f"{short}.{n}({p})", n, p, i
                elif not m.name.startswith("__"):
                    for p, i in _function_defaults(m, 0 if static else 1):
                        yield f"{short}.{n}.{m.name}({p})", m.name, p, i


def _passed(sites: list[_Site], param: str, index: int | None) -> bool:
    return any(site.unpacks or site.argument(param, index) is not None
               for site in sites)


def _one_literal(sites: list[_Site], param: str, index: int | None) -> bool:
    """True when every call passes ``param``, each as the same literal."""
    values = []
    for site in sites:
        arg = None if site.unpacks else site.argument(param, index)
        value = _NOT_LITERAL if arg is None else _literal(arg)
        if value is _NOT_LITERAL:
            return False
        values.append(value)
    return bool(values) and all(v == values[0] for v in values)


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


def test_live_closure_stays_off_the_query_registry():
    w = live_walk()
    for m in ("jobs", "serving.app", "serving.feature_service", "ml.training",
              "sources.redis_sink", "sources.xlsx", "sources.pred_log"):
        assert f"{_PKG}.{m}" in w.modules, m
    lines = 0
    for m in w.modules:
        with open(w.mods[m].path, encoding="utf-8") as f:
            lines += sum(1 for _ in f)
    print(f"live closure: {len(w.modules)} modules, {lines} lines")
    assert f"{_PKG}.queries" not in w.modules, (
        "the live paths reach the query registry"
    )


def test_options_are_set_by_a_program():
    w = walk()
    sites = _call_sites()
    defaults = list(_defaults(w))
    assert len(defaults) > len(_ALLOWED_UNSET)  # the walk saw the code
    unset = sorted({label for label, callee, p, i in defaults
                    if not _passed(sites.get(callee, ()), p, i)})
    extra = [u for u in unset if u not in _ALLOWED_UNSET]
    assert extra == [], (
        "defaulted parameters that no job, query, tool, perfbench or "
        "bench.py passes (delete each with the branches only its other "
        f"values reach, or make it a constant): {extra}"
    )
    stale = sorted(set(_ALLOWED_UNSET) - set(unset))
    assert stale == [], f"_ALLOWED_UNSET entries that are passed or gone: {stale}"
    fixed = sorted({label for label, callee, p, i in defaults
                    if _one_literal(sites.get(callee, ()), p, i)})
    assert fixed == [], (
        "defaulted parameters that every job, query, tool, perfbench and "
        f"bench.py call sets to one literal (fold it in): {fixed}"
    )


def _name_keyed_memo_users() -> set[str]:
    """The functions whose ``cache_scope`` reaches the ranks memo, which
    keys its artifact by the operator's name and the scope only: the ranks
    functions that pass ``_resident`` or ``_prefix_and_total`` their name
    as a string, and every function that passes its own ``cache_scope`` on
    to one of them."""
    defs = []
    for name, (path, _) in _package_files().items():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        defs += [(name, n) for n in ast.walk(tree) if _is_method(n)]
    users = {
        fn.name for mod, fn in defs if mod == f"{_PKG}.operators.ranks"
        for c in ast.walk(fn)
        if isinstance(c, ast.Call) and _callee(c.func) in ("_resident", "_prefix_and_total")
        and any(isinstance(a, ast.Constant) and isinstance(a.value, str) for a in c.args)
    }
    grown = True
    while grown:
        grown = False
        for _, fn in defs:
            if fn.name in users:
                continue
            for c in ast.walk(fn):
                if (isinstance(c, ast.Call) and _callee(c.func) in users
                        and any(isinstance(a, ast.Name) and a.id == "cache_scope"
                                for a in [*c.args, *(k.value for k in c.keywords)])):
                    users.add(fn.name)
                    grown = True
                    break
    return users


def _literal_none(arg: ast.expr | None) -> bool:
    return arg is None or (isinstance(arg, ast.Constant) and arg.value is None)


def test_name_keyed_memo_has_one_program_caller():
    """The ranks memo serves one input recipe per operator: a second program
    call that passed ``cache_scope`` to the same operator would be handed
    the first call's checkpointed frame and totals."""
    users = _name_keyed_memo_users()
    assert {"range_prefix_sum", "exact_ntile", "exact_ntile_multi", "exact_auc"} <= users
    sites = _call_sites()
    shared = {}
    for name in sorted(users):
        n = sum(1 for site in sites.get(name, ())
                if site.unpacks or not _literal_none(site.argument("cache_scope", None)))
        if n > 1:
            shared[name] = n
    assert shared == {}, (
        "operators keyed in the ranks memo by their name alone that more "
        "than one program call passes cache_scope (key the memo by the "
        f"input recipe, or let the other calls build): {shared}"
    )


def _env_reads(tree: ast.AST):
    """``(name or None, line)`` for each ``os.environ[...]``,
    ``os.environ.get(...)`` and ``os.getenv(...)`` in ``tree``; the name is
    None when it is not a string literal."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _chain(node.value) == "os.environ":
            key = node.slice
        elif (isinstance(node, ast.Call)
              and _chain(node.func) in ("os.environ.get", "os.getenv") and node.args):
            key = node.args[0]
        else:
            continue
        name = key.value if isinstance(key, ast.Constant) else None
        yield (name if isinstance(name, str) else None), node.lineno


def test_environment_settings_are_listed():
    read: dict[str, list[str]] = {}
    for path, _ in _package_files().values():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        for name, line in _env_reads(tree):
            where = f"{os.path.relpath(path, _REPO)}:{line}"
            read.setdefault(name or f"<not a literal at {where}>", []).append(where)
    # the scan must see the session's reads, so that a parsing slip cannot
    # pass by finding nothing
    assert "SPARK_LOCAL_DIRS" in read and "REDIS_URL" in read
    unlisted = {n: w for n, w in read.items() if n not in _ENV_SETTINGS}
    assert unlisted == {}, (
        "environment variables the package reads that _ENV_SETTINGS does "
        f"not list (make each a constant, or list it with its reason): {unlisted}"
    )
    stale = sorted(set(_ENV_SETTINGS) - set(read))
    assert stale == [], f"_ENV_SETTINGS entries that nothing reads: {stale}"
