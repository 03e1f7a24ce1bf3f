"""ER task evaluation + duplicates (SURVEY.md §2.9).

 - ``evaluate_matching`` mirrors ``evaluate_entity_matching``
   (`/root/reference/src/kgpipe_eval/.../er_task_eval.py:354-440`): a
   predicted pair is TP iff both endpoints share a gold cluster.
 - ``duplicate_entities`` mirrors ``eval_duplicates``
   (`src/kgpipe_eval/metrics/duplicates.py:21-42`): >1 actual entity aligned
   to the same reference entity.

Both matching evaluators count with ``alignment.set_counts`` over the
(id_1, id_2) pair and project with the f1 form their oracle fixes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgpipe_spark.eval.alignment import prf_from_counts, prf_from_rates, set_counts


def evaluate_matching(predicted: DataFrame, gold_clusters: DataFrame) -> DataFrame:
    """predicted(id_1,id_2,...) vs gold_clusters(cluster_id, entity_uri) →
    one row (tp, fp, fn, precision, recall, f1). Gold pairs are all
    unordered within-cluster pairs (cluster.py:134-175 pairwise semantics).
    """
    g = gold_clusters.select("cluster_id", F.col("entity_uri").alias("e"))
    gold_pairs = (
        g.alias("a")
        .join(g.alias("b"), "cluster_id")
        .filter(F.col("a.e") < F.col("b.e"))
        .select(F.col("a.e").alias("id_1"), F.col("b.e").alias("id_2"))
    )
    pred_pairs = predicted.select(
        F.least("id_1", "id_2").alias("id_1"), F.greatest("id_1", "id_2").alias("id_2")
    )
    return prf_from_rates(set_counts(pred_pairs, gold_pairs, ["id_1", "id_2"]))


def duplicate_entities(alignment: DataFrame) -> DataFrame:
    """alignment(actual_uri, reference_uri) → reference entities with >1
    aligned actual entity, with the count."""
    return (
        alignment.groupBy("reference_uri")
        .agg(F.countDistinct("actual_uri").alias("n_dupes"))
        .filter(F.col("n_dupes") > 1)
        .orderBy(F.desc("n_dupes"), F.asc("reference_uri"))
    )


def cluster_pairs(clusters: DataFrame) -> DataFrame:
    """n-member ``uris`` cluster rows → all unordered within-cluster pairs
    (id_1 < id_2).

    Mirrors the cluster-format branch of ``load_matches``
    (`/root/reference/src/kgpipe/evaluation/cluster.py:134-175`): a 2-col row
    is a pair, an n-col row yields all pairwise matches. Row-local explode —
    no shuffle beyond the final distinct."""
    a = clusters.select(F.explode("uris").alias("id_1"), "uris")
    return (
        a.select("id_1", F.explode("uris").alias("id_2"))
        .filter(F.col("id_1") < F.col("id_2"))
        .distinct()
    )


def evaluate_relation_matching(
    predicted: DataFrame,
    gold_clusters: DataFrame | None = None,
    threshold: float = 0.0,
) -> DataFrame:
    """Relation-match P/R/F1 (er_task_eval.py:126-166, 385-403): predicted
    'relation' matches above threshold count as TP when the two URIs share a
    local-name suffix OR co-occur in a gold cluster; '-'-suffixed ids are
    skipped.

    Deterministic deviations from the reference: exact-duplicate pairs are
    deduped relationally (the reference's order-dependent both-seen skip),
    and FN is the count of unmatched gold pairs (the reference hardcodes
    ``23 - matched`` as a TODO workaround, er_task_eval.py:165)."""
    suffix = lambda c: F.regexp_extract(c, r"([^/#]*)$", 1)
    rel = (
        predicted.filter(
            (F.col("id_type") == "relation")
            & (F.coalesce(F.col("score"), F.lit(0.0)) > threshold)
        )
        .filter(~F.col("id_1").endswith("-") & ~F.col("id_2").endswith("-"))
        .select(
            F.least("id_1", "id_2").alias("id_1"), F.greatest("id_1", "id_2").alias("id_2")
        )
    )
    # a predicted pair whose URIs share a local name is judged as if it were
    # gold: tp = rel ∩ (gold ∪ same_name), fp = the rest of rel, and fn =
    # gold \ rel, since same_name ⊆ rel adds nothing to it
    expected = rel.filter(suffix(F.col("id_1")) == suffix(F.col("id_2")))
    if gold_clusters is not None:
        expected = expected.unionByName(cluster_pairs(gold_clusters))
    return prf_from_counts(set_counts(rel, expected, ["id_1", "id_2"]))
