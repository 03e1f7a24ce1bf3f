"""TE expected-link metrics (SURVEY.md §2.9).

Reimplements ``evaluate_expected_entity_links``
(`/root/reference/src/kgpipe/evaluation/aspects/func/te_task_eval.py:56-120`,
`reference.py:130-187`): for each document with expected link targets, count
TE links of the given type above threshold whose mapping hits an expected
id; the remainder of the expected set is missing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgpipe_spark.functions.literals import round6


def evaluate_expected_links(
    te_docs: DataFrame,
    expected: DataFrame,
    link_type: str,
    threshold: float = 0.5,
) -> DataFrame:
    """te_docs(doc_id, ..., links), expected(doc_id, entity_id) → one row
    (true_link_cnt, false_missing_link_cnt, score).

    Per the reference (te_task_eval.py:56-69): every qualifying link row
    counts (duplicates included); per-doc missing = expected ids minus true
    count; docs absent from either side are skipped. score = t / (t + fm)
    (reference.py:150-151).

    A link is true when its mapping hits the expected id EITHER verbatim OR
    in the hash-minted seed form ``http://kg.org/resource/<sha256(id)>``
    (check_links accepts both, te_task_eval.py:57-70 via get_as_seed_uri +
    benchutils.hash_uri): the expected set is expanded with the alternate
    before the join; n_exp stays the ORIGINAL expected count. Each link ROW
    contributes at most 1 even if its mapping matches both the verbatim form
    of one expected id and the hash-minted form of another (check_links
    increments once per link): links carry their per-doc array position and
    the true count is count(DISTINCT pos) per doc.
    """
    links = (
        te_docs.select("doc_id", F.posexplode("links").alias("pos", "l"))
        .filter((F.col("l.link_type") == link_type) & (F.col("l.score") > threshold))
        .select("doc_id", "pos", F.col("l.mapping").alias("mapping"))
    )
    exp = expected.select("doc_id", "entity_id")
    exp_targets = (
        exp.select("doc_id", F.col("entity_id").alias("target"))
        .unionByName(
            exp.select(
                "doc_id",
                F.concat(
                    F.lit("http://kg.org/resource/"), F.sha2(F.col("entity_id"), 256)
                ).alias("target"),
            )
        )
        .dropDuplicates(["doc_id", "target"])
    )
    doc_ids = te_docs.select("doc_id").distinct().join(
        exp.select("doc_id").distinct(), "doc_id", "left_semi"
    )
    true_per_doc = (
        links.join(
            exp_targets,
            (links.doc_id == exp_targets.doc_id) & (links.mapping == exp_targets.target),
        )
        .groupBy(links.doc_id.alias("doc_id"))
        .agg(F.countDistinct(links.pos).alias("n_true"))
    )
    exp_per_doc = exp.join(doc_ids, "doc_id", "left_semi").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_exp")
    )
    per_doc = exp_per_doc.join(true_per_doc, "doc_id", "left").select(
        F.coalesce("n_true", F.lit(0)).alias("n_true"),
        (F.col("n_exp") - F.coalesce("n_true", F.lit(0))).alias("n_missing"),
    )
    agg = per_doc.agg(
        F.sum("n_true").alias("t"), F.sum("n_missing").alias("fm")
    )
    return agg.select(
        F.coalesce("t", F.lit(0)).cast("bigint").alias("true_link_cnt"),
        F.coalesce("fm", F.lit(0)).cast("bigint").alias("false_missing_link_cnt"),
        round6(
            F.coalesce("t", F.lit(0))
            / F.greatest(F.coalesce("t", F.lit(0)) + F.coalesce("fm", F.lit(0)), F.lit(1))
        ).alias("score"),
    )


def evaluate_expected_entity_links(
    te_docs: DataFrame, expected: DataFrame, threshold: float = 0.5
) -> DataFrame:
    return evaluate_expected_links(te_docs, expected, "entity", threshold)
