"""Local differential checker — mimics the driver's t2 correctness gate.

Runs each registered query through Spark AND its DuckDB oracle on the same
parquet, then compares row count, column names, and an order-insensitive
value hash, and prints both engines' hashes, so two checkouts' runs show
whether a query's rows moved on both engines alike.  Usage::

    python tools/check_oracle.py [query ...] [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import sys
import time

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from retailfeaturestore_spark.queries import REGISTRY  # noqa: E402
from retailfeaturestore_spark.schemas import TESTDATA_TABLES  # noqa: E402
from retailfeaturestore_spark.session import get_spark  # noqa: E402


def canonical(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
            return "∅"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        if isinstance(v, bool):
            return str(bool(v))
        return str(v)

    rows = sorted("\x1f".join(cell(v) for v in row) for row in df.itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def changed_queries_since(rev: str) -> list[str]:
    """Registry names whose behavior may differ from git revision ``rev``,
    at NAME granularity: every package file's top-level defs/assigns are
    AST-compared between revisions, and taint propagates (a) through each
    file's internal reference graph (helper -> query, oracle-SQL constant
    -> query) and (b) across files through ``from .x import name`` edges —
    so a ``write_csv`` edit in io.py taints only its callers, not every
    query that imports ``load_table`` from the same file.

    Conservative fallbacks: a file that doesn't parse at ``rev`` (new or
    renamed) taints all of its names; a ``*``-import or attribute-style
    use taints via the whole source file's identifier set (functions are
    matched by identifier reference, not call analysis).
    """
    import ast
    import glob as _glob
    import subprocess

    repo = ROOT
    root = f"{repo}/retailfeaturestore_spark"

    def run(*cmd):
        return subprocess.run(
            cmd, capture_output=True, text=True, cwd=repo, check=False
        ).stdout

    changed_files = [
        p
        for p in run(
            "git", "diff", "--name-only", rev, "--", "retailfeaturestore_spark/"
        ).split()
        if p.endswith(".py")
    ]
    all_files = [
        p[len(repo) + 1 :]
        for p in _glob.glob(f"{root}/**/*.py", recursive=True)
    ]
    # module dotted path -> repo-relative file
    by_mod = {}
    for p in all_files:
        mod = p[len("retailfeaturestore_spark/") : -3].replace("/", ".")
        by_mod[mod.removesuffix(".__init__")] = p

    def toplevel(src):
        out = {}
        try:
            tree = ast.parse(src)
        except SyntaxError:
            return None
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                names = [node.target.id]
            else:
                continue
            d = ast.dump(node)
            for n in names:
                out[n] = (d, node)
        return out

    def resolve(level: int, module: str, this_file: str) -> str | None:
        """'from .operators.dedup import X' inside this_file -> repo path."""
        pkg_parts = this_file[len("retailfeaturestore_spark/") :].split("/")[:-1]
        base = pkg_parts[: len(pkg_parts) - (level - 1)] if level > 1 else pkg_parts
        dotted = ".".join([*base, *module.split(".")]) if module else ".".join(base)
        return by_mod.get(dotted.strip("."))

    info = {}  # file -> {names, refs, imports: ident -> (file, name)}
    for p in all_files:
        src = open(f"{repo}/{p}").read()
        names = toplevel(src) or {}
        imports = {}
        try:
            tree = ast.parse(src)
        except SyntaxError:
            tree = None
        if tree:
            for x in ast.walk(tree):
                if isinstance(x, ast.ImportFrom) and x.level:
                    target = resolve(x.level, x.module or "", p)
                    for nm in x.names:
                        if target:
                            imports[nm.asname or nm.name] = (target, nm.name)
                        else:
                            # 'from .sources import xlsx' — module import
                            tf = resolve(x.level, f"{x.module + '.' if x.module else ''}{nm.name}", p)
                            if tf:
                                imports[nm.asname or nm.name] = (tf, "*")
        refs = {
            n: {y.id for y in ast.walk(node) if isinstance(y, ast.Name)}
            for n, (_, node) in names.items()
        }
        info[p] = {"names": names, "refs": refs, "imports": imports}

    tainted: set[tuple] = set()
    for p in changed_files:
        if p not in info:  # deleted file: taint importers via fallback below
            tainted.add((p, "*"))
            continue
        old = toplevel(run("git", "show", f"{rev}:{p}"))
        if old is None:
            tainted.update((p, n) for n in info[p]["names"])
            tainted.add((p, "*"))
        else:
            for n, (d, _) in info[p]["names"].items():
                if old.get(n, (None,))[0] != d:
                    tainted.add((p, n))
            for n in old:
                if n not in info[p]["names"]:
                    tainted.add((p, n))

    def ident_tainted(p: str, ident: str) -> bool:
        if (p, ident) in tainted:
            return True
        imp = info.get(p, {}).get("imports", {}).get(ident)
        if imp:
            tf, tn = imp
            return (tf, tn) in tainted or (tf, "*") in tainted or tn == "*" and bool(
                {t for t in tainted if t[0] == tf}
            )
        return False

    grew = True
    while grew:
        grew = False
        for p, d in info.items():
            for n, used in d["refs"].items():
                if (p, n) not in tainted and any(ident_tainted(p, u) for u in used):
                    tainted.add((p, n))
                    grew = True

    qfile = "retailfeaturestore_spark/queries.py"
    return [
        name
        for name, qd in REGISTRY.items()
        if (qfile, qd.fn.__name__) in tainted or (qfile, "*") in tainted
    ]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", default=None)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--changed-since",
        metavar="GIT_REV",
        help="only re-verify queries whose code (or any helper/module they "
        "depend on) changed since GIT_REV — e.g. the previous round's last "
        "commit; conservative (over-includes) by construction",
    )
    args = ap.parse_args()

    if args.changed_since:
        names = [
            n
            for n in changed_queries_since(args.changed_since)
            if not args.names or n in args.names
        ]
        print(f"# {len(names)} queries changed since {args.changed_since}")
        if not names:
            return 0
    else:
        names = args.names or [n for n, qd in REGISTRY.items() if qd.oracle]
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    failures = 0
    for name in names:
        qd = REGISTRY[name]
        t0 = time.time()
        sdf = qd.fn(spark, args.sf).toPandas()
        t_spark = time.time() - t0
        h_spark = canonical(sdf)
        if qd.oracle is None:
            print(f"{name}: rows-only, {len(sdf)} rows spark={h_spark} ({t_spark:.1f}s)")
            continue
        t0 = time.time()
        ddf = con.execute(qd.oracle).df()
        t_duck = time.time() - t0
        h_duck = canonical(ddf)
        ok_rows = len(sdf) == len(ddf)
        ok_cols = sorted(sdf.columns) == sorted(ddf.columns)
        ok_hash = ok_rows and ok_cols and h_spark == h_duck
        # Since r8 even the sketch-backed queries ("approx" tag) hash-gate:
        # their outputs are boolean error-bound verdicts (each engine checks
        # its OWN sketch against its OWN exact aggregate), not raw
        # engine-specific estimates — no exemptions remain.
        passed = ok_rows and ok_cols and ok_hash
        status = "OK" if passed else "FAIL"
        print(
            f"{name}: {status} rows={len(sdf)}/{len(ddf)} cols={ok_cols} "
            f"hash={ok_hash} spark={h_spark} duck={h_duck} "
            f"(spark {t_spark:.1f}s, duck {t_duck:.1f}s)"
        )
        if not passed:
            failures += 1
            if ok_rows and ok_cols:
                # locate first differing column for debugging
                sc = sdf.reindex(sorted(sdf.columns), axis=1)
                dc = ddf.reindex(sorted(ddf.columns), axis=1)
                for c in sc.columns:
                    h1 = canonical(sc[[c]])
                    h2 = canonical(dc[[c]])
                    if h1 != h2:
                        print(f"  first differing column: {c}")
                        print("  spark:", sorted(sc[c].head(1000).tolist())[:5])
                        print("  duck :", sorted(dc[c].head(1000).tolist())[:5])
                        break
            else:
                print(f"  spark cols: {sorted(sdf.columns)}")
                print(f"  duck  cols: {sorted(ddf.columns)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
