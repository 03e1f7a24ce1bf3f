#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() on DuckDB over
the same parquet tables, compare row count + column names + order-insensitive
value hash. Usage:  python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "orders"]


def norm_cell(v):
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    # STRICT: no cross-type coercion. The driver's hash gate is bit-exact on
    # raw cell values, so a Spark Decimal vs a DuckDB float (or int vs float)
    # must FAIL here too — queries must canonicalize output types themselves.
    # (Round-1 driver evidence: DuckDB results are pandas-coerced — DECIMAL
    # and HUGEINT become float64 — while Spark Decimals stay Decimal, so any
    # Spark-side DecimalType output is an automatic hash mismatch.)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return "dec:" + str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def _from_pandas(v):
    """Undo pandas scalar wrappers so norm_cell sees plain Python types."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, np.floating):
        return float(v)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.ndarray):
        return [_from_pandas(x) for x in v.tolist()]
    if isinstance(v, list):
        return [_from_pandas(x) for x in v]
    return v


def frame_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()
    return len(rows), ",".join(sorted_cols), h


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    only = set(a for a in sys.argv[1:] if not os.path.isdir(a))

    import duckdb

    import __spark_entry__ as entrymod
    from kgpipe_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    times: list[tuple[float, str]] = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t_q = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            # FAIL-CLOSED (round-4): an oracle-less registration is exactly
            # the contract drift that zeroed CORRECTNESS_r03.json — every
            # queries() entry MUST have an oracle_sql() entry.
            failures.append(name)
            print(f"FAIL {name}: {len(srows)} rows but NO oracle_sql entry")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            # fetch via pandas like the driver does: DECIMAL → float64,
            # HUGEINT → float64, TIMESTAMP → pd.Timestamp
            ddf = res.df()
            drows = [tuple(_from_pandas(v) for v in row) for row in ddf.itertuples(index=False, name=None)]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        sn, sc, sh = frame_hash(scols, srows)
        dn, dc, dh = frame_hash(dcols, drows)
        times.append((time.time() - t_q, name))
        if (sn, sc, sh) == (dn, dc, dh):
            print(f"OK   {name}: {sn} rows  ({times[-1][0]:.1f}s)")
        else:
            failures.append(name)
            print(f"FAIL {name}: rows {sn} vs {dn}; cols [{sc}] vs [{dc}]; hash {'=' if sh==dh else '≠'}")
            if sn == dn and sc == dc:
                s_set = sorted("\x1f".join(map(norm_cell, r)) for r in srows)
                d_set = sorted("\x1f".join(map(norm_cell, r)) for r in drows)
                diff = [(a, b) for a, b in zip(s_set, d_set) if a != b][:3]
                for a, b in diff:
                    print(f"   spark : {a[:200]}")
                    print(f"   duckdb: {b[:200]}")
    if len(times) > 5:
        top = sorted(times, reverse=True)[:8]
        print("\nslowest: " + ", ".join(f"{n}={t:.1f}s" for t, n in top))
        print(f"gate total {sum(t for t, _ in times):.1f}s over {len(times)} queries")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
