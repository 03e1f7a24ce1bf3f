"""Evaluation report assembly (SURVEY.md §2.9 report surface).

Mirrors the reference's report shape — the Evaluator collects per-aspect
metric rows into one long-table EvaluationReport that the CLI renders
(`/root/reference/src/kgpipe/evaluation/evaluator.py:57-104`,
`src/kgpipe/cli/` report command): rows of (aspect, metric, value) over the
statistical / semantic / reference aspects.

Spark-first: every metric is a 1-row lazy aggregation over the existing
oracle-gated operators' plans (the reference aspect is ``fact_alignment``
itself, not a copy of its math), unioned into ONE DataFrame — no driver-side
loop collects intermediate metrics (the reference evaluates aspect-by-aspect
in Python; here Catalyst sees the whole report as a single plan and shares
the scan of the KG across the aggregations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgpipe_spark.eval.alignment import fact_alignment
from kgpipe_spark.eval.semantic import (
    cardinality_violations,
    datatype_violations,
    domain_violations,
    object_prop_violations,
    range_violations,
)
from kgpipe_spark.schemas import RDF_TYPE


def _metric(df: DataFrame, aspect: str, metric: str) -> DataFrame:
    """1-row (aspect, metric, count(df)) — lazy."""
    return df.agg(F.count(F.lit(1)).cast("double").alias("value")).select(
        F.lit(aspect).alias("aspect"), F.lit(metric).alias("metric"), "value"
    )


def eval_report(kg: DataFrame, gold: DataFrame, ontology: DataFrame) -> DataFrame:
    """Long-table evaluation report: (aspect, metric, value).

    - ``statistical``: count measures (statistics.py / reference
      ``statistical.py:36-220``) — triples, entities, relations, subjects,
      classes.
    - ``semantic``: violation counts from the ontology validators
      (semantic.py / reference ``semantic.py`` checkers).
    - ``reference``: exact fact alignment vs ``gold`` — tp/fp/fn and
      precision/recall/f1, the 1-row ``alignment.fact_alignment`` plan
      stacked into six rows (reference ``reference.py``).
    """
    # --- statistical -------------------------------------------------------
    entities = kg.select(F.col("subject").alias("e")).union(
        kg.filter(F.col("object_kind") == "uri").select(F.col("object_lex").alias("e"))
    )
    stats = [
        _metric(kg, "statistical", "n_triples"),
        _metric(entities.distinct(), "statistical", "n_entities"),
        _metric(kg.select("predicate").distinct(), "statistical", "n_relations"),
        _metric(kg.select("subject").distinct(), "statistical", "n_subjects"),
        _metric(
            kg.filter(F.col("predicate") == RDF_TYPE).select("object_lex").distinct(),
            "statistical",
            "n_classes",
        ),
    ]

    # --- semantic ----------------------------------------------------------
    sem = [
        _metric(cardinality_violations(kg, ontology), "semantic", "cardinality_violations"),
        _metric(domain_violations(kg, ontology), "semantic", "domain_violations"),
        _metric(range_violations(kg, ontology), "semantic", "range_violations"),
        _metric(datatype_violations(kg, ontology), "semantic", "datatype_violations"),
        _metric(object_prop_violations(kg, ontology), "semantic", "object_prop_violations"),
    ]

    # --- reference (exact fact alignment, lazy P/R/F1) ---------------------
    ref = fact_alignment(kg, gold).select(
        F.expr(
            "stack(6, 'tp', CAST(tp AS DOUBLE), 'fp', CAST(fp AS DOUBLE), "
            "'fn', CAST(fn AS DOUBLE), 'precision', precision, 'recall', recall, "
            "'f1', f1) AS (metric, value)"
        )
    ).select(F.lit("reference").alias("aspect"), "metric", "value")

    out = stats[0]
    for part in stats[1:] + sem + [ref]:
        out = out.unionByName(part)
    return out
