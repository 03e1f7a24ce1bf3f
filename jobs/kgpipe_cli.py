#!/usr/bin/env python
"""Operator-registry introspection CLI — the reference's `kgpipe list/show/
discover` surface (`/root/reference/src/kgpipe/cli/main.py:29-86`,
`list.py`, `show.py`, `discover.py`) re-expressed over this repo's registry.

The reference registers Task objects via decorators and entry points; here
the registry IS the driver contract: `__spark_entry__.queries()` (name →
callable(spark, sf_dir) → DataFrame) plus `oracle_sql()` (name → ANSI SQL
DuckDB cross-check). `discover` walks the `kgpipe_spark` package instead of
entry points. Plain argparse/stdout — no click/rich dependency.

    python jobs/kgpipe_cli.py list [--json]
    python jobs/kgpipe_cli.py show NAME [--sql]
    python jobs/kgpipe_cli.py discover [--json]
    python jobs/kgpipe_cli.py run NAME [--sf-dir DIR] [--master MASTER]

`list`/`show`/`discover` never start a JVM (registry construction is pure
Python); only `run` creates a SparkSession.
"""

from __future__ import annotations

import argparse
import importlib
import inspect
import json
import os
import pkgutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _registry():
    import __spark_entry__ as entry

    return entry.queries(), entry.oracle_sql()


def _describe(fn) -> str:
    doc = inspect.getdoc(fn)
    if doc:
        return doc.strip().splitlines()[0]
    # registry entries are closures over operator calls; fall back to the
    # wrapped callable's name
    return getattr(fn, "__name__", "").lstrip("_").replace("_", " ")


def cmd_list(args: argparse.Namespace) -> int:
    queries, oracles = _registry()
    rows = [
        {
            "name": name,
            "oracle": "sql" if name in oracles else "rows-only",
            "description": _describe(fn),
        }
        for name, fn in queries.items()
    ]
    if args.json:
        print(json.dumps(rows, indent=2))
        return 0
    w = max(len(r["name"]) for r in rows) if rows else 4
    print(f"{'NAME':<{w}}  {'ORACLE':<9}  DESCRIPTION")
    for r in rows:
        print(f"{r['name']:<{w}}  {r['oracle']:<9}  {r['description'][:70]}")
    print(f"\n{len(rows)} registered queries")
    return 0


def cmd_show(args: argparse.Namespace) -> int:
    queries, oracles = _registry()
    fn = queries.get(args.name)
    if fn is None:
        near = [n for n in queries if args.name in n]
        print(f"unknown query {args.name!r}" + (f"; close: {', '.join(near[:5])}" if near else ""))
        return 1
    print(f"name:      {args.name}")
    print(f"oracle:    {'ANSI-SQL cross-check (DuckDB)' if args.name in oracles else 'rows-only (non-SQL-expressible)'}")
    doc = inspect.getdoc(fn)
    if doc:
        print("doc:")
        for line in doc.splitlines():
            print(f"  {line}")
    try:
        src_file = inspect.getsourcefile(fn)
        _, lineno = inspect.getsourcelines(fn)
        print(f"defined:   {os.path.relpath(src_file, REPO)}:{lineno}")
    except (OSError, TypeError):
        pass
    if args.sql and args.name in oracles:
        print("oracle SQL:")
        for line in oracles[args.name].strip().splitlines():
            print(f"  {line}")
    return 0


def cmd_discover(args: argparse.Namespace) -> int:
    """Walk kgpipe_spark and report every public operator/function with its
    location — the reference's package discovery without the side-effectful
    decorator registration (operators here are plain functions)."""
    import kgpipe_spark

    found = []
    pkg_path = kgpipe_spark.__path__
    for mod_info in pkgutil.walk_packages(pkg_path, prefix="kgpipe_spark."):
        try:
            mod = importlib.import_module(mod_info.name)
        except Exception as e:  # optional deps ([ml] seam) stay listable
            # any import-time failure (not just ImportError: env-dependent
            # shims can raise RuntimeError/OSError) is recorded, not fatal
            found.append({"module": mod_info.name, "function": None,
                          "line": None, "description": f"(import gated: {e})"})
            continue
        for fname, fn in inspect.getmembers(mod, inspect.isfunction):
            if fname.startswith("_") or fn.__module__ != mod_info.name:
                continue
            try:
                _, lineno = inspect.getsourcelines(fn)
            except (OSError, TypeError):
                lineno = None
            found.append(
                {
                    "module": mod_info.name,
                    "function": fname,
                    "line": lineno,
                    "description": _describe(fn)[:90],
                }
            )
    if args.json:
        print(json.dumps(found, indent=2))
        return 0
    cur = None
    n = 0
    for r in found:
        if r["module"] != cur:
            cur = r["module"]
            print(f"\n{cur}")
        if r["function"]:
            n += 1
            print(f"  {r['function']}:{r['line']}  {r['description']}")
        else:
            print(f"  {r['description']}")
    print(f"\n{n} public functions discovered")
    return 0


def cmd_run(args: argparse.Namespace) -> int:
    queries, _ = _registry()
    if args.name not in queries:
        print(f"unknown query {args.name!r} (try `list`)")
        return 1
    from kgpipe_spark.session import get_spark

    spark = get_spark(master=args.master, shuffle_partitions=args.shuffle_partitions)
    df = queries[args.name](spark, args.sf_dir)
    rows = df.collect()
    print(df.schema.simpleString())
    for r in rows[: args.limit]:
        print(r.asDict())
    print(f"{len(rows)} rows" + (f" (showing {args.limit})" if len(rows) > args.limit else ""))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(prog="kgpipe_cli", description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("list", help="list registered queries/operators")
    p.add_argument("--json", action="store_true")
    p.set_defaults(fn=cmd_list)

    p = sub.add_parser("show", help="show one query's doc, location, oracle")
    p.add_argument("name")
    p.add_argument("--sql", action="store_true", help="print the oracle SQL")
    p.set_defaults(fn=cmd_show)

    p = sub.add_parser("discover", help="walk kgpipe_spark for public operators")
    p.add_argument("--json", action="store_true")
    p.set_defaults(fn=cmd_discover)

    p = sub.add_parser("run", help="execute one registered query")
    p.add_argument("name")
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    p.add_argument("--master", default=None, help="default: local[<host cores>]")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--limit", type=int, default=20)
    p.set_defaults(fn=cmd_run)

    args = ap.parse_args()
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
