#!/usr/bin/env python
"""Synthesize an sf1.0-shaped dataset from sf0.1 for SCALE TESTING ONLY.

The driver's real sf1.0 is generated by the driver (seed=42) and is not on
disk this session; this produces a 10x replica-scaled approximation under
/tmp so optimizations can be validated at sf1.0-like row counts (guide §1:
measure at the scale you claim). NOT used by any default, never
committed, and never read by any query path unless SPARK_GRAFT_SF_DIR
points at it explicitly.

Replication rules (referential integrity preserved per replica i in 0..9):
  - region/nation: fixed (TPC-H semantics).
  - customer/supplier: key += i*span, name regenerated from the new key.
  - part: key += i*span (names repeat across replicas — join-only column).
  - orders: o_orderkey += i*span, o_custkey += i*cust_span.
  - lineitem: FK offsets matching orders/part/supplier.
  - events: event_id/user_id offsets; timestamps unchanged (per-user
    session structure repeats across disjoint user ids).
  - documents: words deterministically permuted per (replica, doc) so
    shingle sets decorrelate — naive text copies would make every replica
    group a near-dup clique and blow pair counts combinatorially vs a real
    sf1.0.
  - embeddings: original + 0.6*unit-noise, renormalized to the original
    norm — stays in-cluster but cosine≈0.86 to its source, below the 0.95
    near-dup threshold, again to avoid synthetic near-dup cliques.

Usage: python scripts/make_scaled_sf.py [out_dir] [factor]
"""
from __future__ import annotations

import os
import random
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfsynth1.0"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")

    spans = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
             "events_id": 100000, "events_user": 1500, "documents": 5000,
             "embeddings": 2000}

    def rep(table: str, select_tpl: str) -> None:
        parts = " UNION ALL ".join(select_tpl.format(i=i) for i in range(factor))
        con.execute(
            f"COPY ({parts}) TO '{out}/{table}.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 122880)"
        )
        n = con.execute(f"SELECT count(*) FROM '{out}/{table}.parquet'").fetchone()[0]
        print(f"{table}: {n} rows")

    for t in ("region", "nation"):
        con.execute(f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO '{out}/{t}.parquet' (FORMAT PARQUET)")
        print(t, "copied")

    rep("customer",
        "SELECT c_custkey + {i}*15000 AS c_custkey,"
        " printf('Customer#%09d', c_custkey + {i}*15000) AS c_name,"
        " c_nationkey, c_acctbal, c_mktsegment FROM '" + SRC + "/customer.parquet'")
    rep("supplier",
        "SELECT s_suppkey + {i}*1000 AS s_suppkey,"
        " printf('Supplier#%09d', s_suppkey + {i}*1000) AS s_name,"
        " s_nationkey, s_acctbal FROM '" + SRC + "/supplier.parquet'")
    rep("part",
        "SELECT p_partkey + {i}*20000 AS p_partkey, p_name, p_brand, p_type,"
        " p_size, p_retailprice FROM '" + SRC + "/part.parquet'")
    rep("orders",
        "SELECT o_orderkey + {i}*150000 AS o_orderkey,"
        " o_custkey + {i}*15000 AS o_custkey, o_orderstatus, o_totalprice,"
        " o_orderdate, o_orderpriority FROM '" + SRC + "/orders.parquet'")
    rep("lineitem",
        "SELECT l_orderkey + {i}*150000 AS l_orderkey,"
        " l_partkey + {i}*20000 AS l_partkey, l_suppkey + {i}*1000 AS l_suppkey,"
        " l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,"
        " l_returnflag, l_linestatus, l_shipdate FROM '" + SRC + "/lineitem.parquet'")
    rep("events",
        "SELECT event_id + {i}*100000 AS event_id, ts,"
        " user_id + {i}*1500 AS user_id, event_type, value, props"
        " FROM '" + SRC + "/events.parquet'")

    # documents: replica 0 verbatim; replicas 1+ word-permuted per (i, doc)
    docs = con.execute(f"SELECT * FROM '{SRC}/documents.parquet' ORDER BY doc_id").fetchdf()
    frames = []
    for i in range(factor):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + i * spans["documents"]
        if i:
            texts = []
            for did, t in zip(d["doc_id"], docs["text"]):
                words = t.split()
                random.Random(i * 1_000_000 + int(did)).shuffle(words)
                texts.append(" ".join(words))
            d["text"] = texts
            d["n_chars"] = [len(t) for t in texts]
        frames.append(d)
    import pandas as pd

    alldocs = pd.concat(frames, ignore_index=True)
    pq.write_table(pa.Table.from_pandas(alldocs, preserve_index=False),
                   f"{out}/documents.parquet", row_group_size=20000)
    print(f"documents: {len(alldocs)} rows")

    emb = con.execute(f"SELECT * FROM '{SRC}/embeddings.parquet' ORDER BY vec_id").fetchdf()
    vecs = np.array([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    norms = np.linalg.norm(vecs, axis=1, keepdims=True)
    eframes = []
    for i in range(factor):
        e = emb.copy()
        e["vec_id"] = e["vec_id"] + i * spans["embeddings"]
        if i:
            rng = np.random.default_rng(1000 + i)
            noise = rng.standard_normal(vecs.shape)
            noise /= np.linalg.norm(noise, axis=1, keepdims=True)
            v2 = vecs / norms + 0.6 * noise
            v2 /= np.linalg.norm(v2, axis=1, keepdims=True)
            v2 *= norms
            e["embedding"] = [row.astype(np.float32).tolist() for row in v2]
        eframes.append(e)
    import pandas as pd  # noqa: F811

    allemb = pd.concat(eframes, ignore_index=True)
    schema = pa.schema([
        pa.field("vec_id", pa.int64()),
        pa.field("embedding", pa.list_(pa.float32())),
        pa.field("label", pa.int32()),
    ])
    pq.write_table(pa.Table.from_pandas(allemb, schema=schema, preserve_index=False),
                   f"{out}/embeddings.parquet", row_group_size=5000)
    print(f"embeddings: {len(allemb)} rows")
    print("done:", out)


if __name__ == "__main__":
    main()
