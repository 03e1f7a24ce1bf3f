"""The §3.4 pipeline compositions against their DuckDB oracles.

Each composition query runs on Spark and its ``oracle_sql()`` replay runs on
DuckDB over the same parquet tables; the two must agree on row count, column
names and the order-insensitive value hash, exactly as
scripts/check_oracle.py compares them."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

from check_oracle import TABLES, _from_pandas, frame_hash  # noqa: E402
from test_plan_audit import SF_DIR  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

COMPOSITIONS = [
    "kg_pipeline_rdf_a",
    "kg_pipeline_rdf_b",
    "kg_pipeline_json_a",
    "kg_pipeline_json_b",
    "kg_pipeline_text_a",
    "kg_pipeline_text_b",
    "kg_te_construct_full",
    "kg_incremental_3stage",
    "kg_incremental_msp_perm2",
]


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", COMPOSITIONS)
def test_composition_matches_oracle(spark, duck, name):
    sdf = entrymod.queries()[name](spark, SF_DIR)
    got = frame_hash(sdf.columns, [tuple(r) for r in sdf.collect()])

    res = duck.execute(entrymod.oracle_sql()[name])
    cols = [c[0] for c in res.description]
    rows = [
        tuple(_from_pandas(v) for v in row)
        for row in res.df().itertuples(index=False, name=None)
    ]
    assert got == frame_hash(cols, rows)
