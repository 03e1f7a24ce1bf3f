"""Set counts + P/R/F1 — the evaluation layer's one copy of that math
(SURVEY.md §2.9).

Reimplements ``graph_fact_alginment``
(`/root/reference/src/kgpipe/evaluation/aspects/func/soft_metrics.py:26-36`):
TP = |actual ∩ expected|, FP = |actual \\ expected|, FN = |expected \\ actual|
over (s, p, o) keys, and ``BinaryClassificationResult`` math
(`integration_eval.py:38-72`). Seed subtraction mirrors
``ReferenceTripleAlignmentMetric`` (`reference.py:443-482`).

Every P/R/F1 metric in ``eval/`` is ``set_counts`` (or its own counting)
followed by one of two projections. The two differ only in how f1 is
written, and each keeps its oracle's operand order exactly, because a
6-digit rounding tie can fall either way on a one-ulp difference:

 - ``prf_from_rates``: f1 = ((2·p)·r)/(p+r) over the unrounded rates
   (``kg_fact_alignment``, ``kg_er_matching_eval``, ``kg_eval_report``);
 - ``prf_from_counts``: f1 = 2·tp/greatest(2·tp+fp+fn, 1)
   (``_SQL_PRF``, ``kg_er_relation_eval``).

Both round with ``round6``, DuckDB's rounding, on the JVM and give 0.0
where a denominator is zero. Nothing here collects to the driver.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgpipe_spark.functions.literals import round6

TRIPLE_KEY = ["subject", "predicate", "object_lex", "object_kind"]


def subtract_kg(triples: DataFrame, seed: DataFrame) -> DataFrame:
    """actual \\ seed — `reference.py:463-482` / `kg_utils.py:164-176`."""
    return triples.join(seed.select(*TRIPLE_KEY).distinct(), TRIPLE_KEY, "left_anti")


def set_counts(actual: DataFrame, expected: DataFrame, key: list[str]) -> DataFrame:
    """1-row (tp, fp, fn) bigint over the distinct ``key`` tuples of each
    side; 0, never null, when a side is empty. Lazy.

    ONE exchange: both sides are tagged and unioned, then a single groupBy
    on the key (max of the tags = set membership, which subsumes per-side
    distincts) feeds the 1-row rollup.

    Null-key fidelity: a key with a null column never matches across sides
    (as in a SQL join) while null-keyed duplicates within one side collapse
    (as in SQL DISTINCT) — such a group counts as fp and/or fn, never tp."""
    a = actual.select(*key).withColumn("_a", F.lit(1)).withColumn("_e", F.lit(0))
    e = expected.select(*key).withColumn("_a", F.lit(0)).withColumn("_e", F.lit(1))
    has_null = reduce(lambda x, y: x | y, [F.col(k).isNull() for k in key])
    in_a, in_e = F.col("in_a") == 1, F.col("in_e") == 1
    return (
        a.unionByName(e)
        .groupBy(*key)
        .agg(F.max("_a").alias("in_a"), F.max("_e").alias("in_e"))
        .agg(
            F.count(F.when(in_a & in_e & ~has_null, 1)).alias("tp"),
            F.count(F.when(in_a & (has_null | ~in_e), 1)).alias("fp"),
            F.count(F.when(in_e & (has_null | ~in_a), 1)).alias("fn"),
        )
    )


def _rate(num: Column, den: Column) -> Column:
    return F.when(den > 0, num / den).otherwise(F.lit(0.0))


def prf_from_rates(counts: DataFrame) -> DataFrame:
    """(tp, fp, fn) → + precision, recall, f1 rounded to 6 places, with
    f1 = ((2·p)·r)/(p+r) over the unrounded p and r."""
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    p, r = F.col("_p"), F.col("_r")
    return counts.select(
        "tp", "fp", "fn", _rate(tp, tp + fp).alias("_p"), _rate(tp, tp + fn).alias("_r")
    ).select(
        "tp",
        "fp",
        "fn",
        round6(p).alias("precision"),
        round6(r).alias("recall"),
        round6(_rate(2 * p * r, p + r)).alias("f1"),
    )


def prf_from_counts(counts: DataFrame) -> DataFrame:
    """(tp, fp, fn) → + precision, recall, f1 rounded to 6 places, each a
    count ratio over a denominator floored at 1 (the ``_SQL_PRF`` form)."""
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return counts.select(
        "tp",
        "fp",
        "fn",
        round6(tp / F.greatest(tp + fp, F.lit(1))).alias("precision"),
        round6(tp / F.greatest(tp + fn, F.lit(1))).alias("recall"),
        round6(2 * tp / F.greatest(2 * tp + fp + fn, F.lit(1))).alias("f1"),
    )


def fact_alignment(actual: DataFrame, expected: DataFrame) -> DataFrame:
    """One-row DataFrame: tp, fp, fn, precision, recall, f1 (rounded 6dp)
    over the (s, p, o) keys. Lazy: one job when collected."""
    return prf_from_rates(set_counts(actual, expected, TRIPLE_KEY))
