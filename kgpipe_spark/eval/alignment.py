"""Exact fact alignment + P/R/F1 — the acceptance gate (SURVEY.md §2.9).

Reimplements ``graph_fact_alginment``
(`/root/reference/src/kgpipe/evaluation/aspects/func/soft_metrics.py:26-36`):
TP = |actual ∩ expected|, FP = |actual \\ expected|, FN = |expected \\ actual|
over (s, p, o) keys, and ``BinaryClassificationResult`` math
(`integration_eval.py:38-72`). Seed subtraction mirrors
``ReferenceTripleAlignmentMetric`` (`reference.py:443-482`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_KEY = ["subject", "predicate", "object_lex", "object_kind"]


def subtract_kg(triples: DataFrame, seed: DataFrame) -> DataFrame:
    """actual \\ seed — `reference.py:463-482` / `kg_utils.py:164-176`."""
    return triples.join(seed.select(*_KEY).distinct(), _KEY, "left_anti")


def fact_alignment(actual: DataFrame, expected: DataFrame) -> DataFrame:
    """One-row DataFrame: tp, fp, fn, precision, recall, f1 (rounded 6dp).

    ONE job and ONE exchange: both sides are tagged and unioned, then a
    single groupBy on the triple key (max of the tags = set membership —
    subsumes the per-side distincts) feeds the final 1-row rollup. The
    round-1 shape fired three count jobs; the round-5 shape still paid two
    distinct exchanges plus a full-outer sort-merge join on the 4-column
    key — same answer, three sorts more.

    Null-key fidelity: the old full_outer join was null-UNSAFE (a null key
    never matches across sides) while its per-side distincts were null-SAFE
    (null-keyed duplicates collapse). The groupBy reproduces the distinct;
    the ``has_null`` guard below reproduces the join — a null-keyed group
    counts as fp and/or fn, never tp, exactly as before."""
    a = actual.select(*_KEY).withColumn("_a", F.lit(1)).withColumn("_e", F.lit(0))
    e = expected.select(*_KEY).withColumn("_a", F.lit(0)).withColumn("_e", F.lit(1))
    has_null = None
    for k in _KEY:
        cond = F.col(k).isNull()
        has_null = cond if has_null is None else (has_null | cond)
    row = (
        a.unionByName(e)
        .groupBy(*_KEY)
        .agg(F.max("_a").alias("in_a"), F.max("_e").alias("in_e"))
        .agg(
            F.sum(
                F.when((~has_null) & (F.col("in_a") == 1) & (F.col("in_e") == 1), 1).otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when((F.col("in_a") == 1) & (has_null | (F.col("in_e") == 0)), 1).otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when((F.col("in_e") == 1) & (has_null | (F.col("in_a") == 0)), 1).otherwise(0)
            ).alias("fn"),
        )
        .collect()[0]
    )
    tp, fp, fn = int(row["tp"] or 0), int(row["fp"] or 0), int(row["fn"] or 0)
    precision = tp / (tp + fp) if (tp + fp) else 0.0
    recall = tp / (tp + fn) if (tp + fn) else 0.0
    f1 = 2 * precision * recall / (precision + recall) if (precision + recall) else 0.0
    spark = actual.sparkSession
    return spark.createDataFrame(
        [(tp, fp, fn, round(precision, 6), round(recall, 6), round(f1, 6))],
        "tp bigint, fp bigint, fn bigint, precision double, recall double, f1 double",
    )
