"""JSON sampler: greedy set cover over JSONPath sets (SURVEY.md §2.3).

Reimplements ``json_sampler`` greedy mode
(`/root/reference/src/kgpipe_tasks/construction/json_sampler.py:14-110`,
greedy :57-74): pick the minimal set of sample documents that covers every
JSONPath occurring in the corpus. Path enumeration is distributed
(explode over a pandas-free JVM JSON walk is impossible for arbitrary
nesting, so paths come from a pandas UDF); the greedy loop runs on the
driver over the aggregated (doc, path-set) map — exactly the reference's
algorithm, and the path-set universe is small by construction.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType


def _paths_of(obj, prefix: str = "$") -> set[str]:
    out: set[str] = set()
    if isinstance(obj, dict):
        for k, v in obj.items():
            p = f"{prefix}.{k}"
            out.add(p)
            out |= _paths_of(v, p)
    elif isinstance(obj, list):
        p = f"{prefix}[*]"
        for item in obj:
            out |= _paths_of(item, p)
    return out


@F.pandas_udf(ArrayType(StringType()))  # type: ignore[call-overload]
def json_paths(contents: pd.Series) -> pd.Series:
    res = []
    for c in contents:
        try:
            res.append(sorted(_paths_of(json.loads(c))))
        except (ValueError, TypeError):
            res.append([])
    return pd.Series(res)


def greedy_set_cover_sample(corpus: DataFrame) -> list[dict]:
    """Greedy set cover: returns [{repo, path, "paths": [...]}] covering all
    paths, at most 100 documents."""
    id_cols = ["repo", "path"]
    with_paths = (
        corpus.filter(F.col("lang") == "json")
        .select(*id_cols, json_paths(F.col("content")).alias("json_paths"))
        .filter(F.size("json_paths") > 0)
    )
    # SCALE: collapse to one row per DISTINCT path-set (schema shape) before
    # collect — greedy cover only ever needs one representative document per
    # shape, so driver data is O(distinct shapes), not O(corpus rows).
    # Representative = min (id_cols) struct, so the pick is deterministic.
    rows = (
        with_paths.groupBy("json_paths")
        .agg(F.min(F.struct(*id_cols)).alias("_rep"))
        .collect()
    )

    universe: set[str] = set()
    docs = []
    for r in rows:
        ps = set(r["json_paths"])
        universe |= ps
        docs.append(({c: r["_rep"][c] for c in id_cols}, ps))
    # deterministic greedy: largest gain, then smallest total set (the
    # reference's preference for minimal documents), then min representative
    docs.sort(key=lambda d: tuple(d[0][c] for c in id_cols))

    covered: set[str] = set()
    picked: list[dict] = []
    while covered != universe and len(picked) < 100:
        best = min(
            docs,
            key=lambda d: (
                -len(d[1] - covered),
                len(d[1]),
                tuple(d[0][c] for c in id_cols),
            ),
        )
        gain = best[1] - covered
        if not gain:
            break
        covered |= best[1]
        picked.append({**best[0], "paths": sorted(best[1])})
    return picked
