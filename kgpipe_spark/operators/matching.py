"""Entity / schema matching between two KGs (SURVEY.md §2.5).

Native replacements for the reference's Docker matchers:

 - ``blocked_entity_matching`` replaces PARIS
   (`/root/reference/src/kgpipe_tasks/schema_alignment/matching/paris_rdf_matcher.py:17-58`):
   candidates = exact-normalized-label equi-join ∪ token-block join; score =
   label Jaccard over word tokens + shared-neighbor boost; emits the ER
   matches contract (id_1, id_2, score, id_type) —
   `entity_matching.py:23-30`.
 - ``token_blocking_matches`` replaces pyJedAI tabular ER
   (`jedai_tab_matcher.py:10-101`): explode lowercase word tokens → block
   join → pairwise token-Jaccard (the SparkER pattern, PAPERS.md).
 - ``schema_column_matching`` replaces Valentine
   (`valentine_schema_matching.py:14-83`): column-name + sampled value
   distribution similarity; emits id_type='relation'.
 - ``map_matched_relations`` rewrites source predicates by accepted relation
   matches (`rdf_om.py:445-451`).

Scale notes: blocks are capped (1,000² candidate pairs) so a stop-word token
cannot create a quadratic block — the standard meta-blocking guard; the
final pair scoring is a shuffle join on (block token) with AQE skew
splitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgpipe_spark.functions.strings import normalize_label
from kgpipe_spark.schemas import RDFS_LABEL


def _entity_tokens(kg: DataFrame, side: str) -> DataFrame:
    """(uri, token) pairs from normalized rdfs:label word tokens."""
    return (
        kg.filter(F.col("predicate") == RDFS_LABEL)
        .select(
            F.col("subject").alias(f"id_{side}"),
            F.explode(F.split(normalize_label(F.col("object_lex")), " ")).alias("token"),
        )
        .filter(F.length("token") > 0)
        .dropDuplicates()
    )


def token_blocking_matches(kg1: DataFrame, kg2: DataFrame, threshold: float = 0.3) -> DataFrame:
    """Token-blocked entity candidates scored by token Jaccard.

    matches(id_1, id_2, score, id_type='entity'); score = |T1∩T2|/|T1∪T2|.
    """
    t1 = _entity_tokens(kg1, "1")
    t2 = _entity_tokens(kg2, "2")

    sizes1 = t1.groupBy("id_1").agg(F.count(F.lit(1)).alias("n1"))
    sizes2 = t2.groupBy("id_2").agg(F.count(F.lit(1)).alias("n2"))

    # meta-blocking guard: drop tokens whose block would exceed 1000² pairs
    block_sizes = (
        t1.groupBy("token").agg(F.count(F.lit(1)).alias("b1"))
        .join(t2.groupBy("token").agg(F.count(F.lit(1)).alias("b2")), "token")
        .filter((F.col("b1") * F.col("b2")) <= 1000 * 1000)
        .select("token")
    )
    t1 = t1.join(F.broadcast(block_sizes), "token", "left_semi")
    t2 = t2.join(F.broadcast(block_sizes), "token", "left_semi")

    inter = (
        t1.join(t2, "token")
        .groupBy("id_1", "id_2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    scored = (
        inter.join(sizes1, "id_1")
        .join(sizes2, "id_2")
        .withColumn(
            "score",
            F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")),
        )
        .filter(F.col("score") >= threshold)
        .select("id_1", "id_2", "score", F.lit("entity").alias("id_type"))
    )
    return scored


def blocked_entity_matching(
    kg1: DataFrame,
    kg2: DataFrame,
    threshold: float = 0.5,
    neighbor_boost: float = 0.1,
) -> DataFrame:
    """PARIS-style alignment: token-Jaccard base score + shared-neighbor
    boost (bounded at 1.0). Neighbors = URI objects of each subject.

    SCALE: the shared-neighbor count is computed per CANDIDATE pair (base →
    explode id_1's neighbors → equi-join id_2's neighbor set), never as a
    global neighbor self-join — a hot neighbor (every entity typed
    onto/Customer) makes the global join quadratic (measured 169M rows at
    sf0.1); the candidate-restricted form is |candidates| × avg-degree."""
    # base candidates feed both the shared-neighbor count and the boost
    # join — materialize the token-blocking chain once
    base = token_blocking_matches(kg1, kg2, threshold=0.0).localCheckpoint()

    n1 = kg1.filter(F.col("object_kind") == "uri").select(
        F.col("subject").alias("id_1"), F.col("object_lex").alias("nbr")
    ).distinct()
    n2 = kg2.filter(F.col("object_kind") == "uri").select(
        F.col("subject").alias("id_2"), F.col("object_lex").alias("nbr")
    ).distinct()
    shared = (
        base.select("id_1", "id_2")
        .join(n1, "id_1")
        .join(n2, ["id_2", "nbr"])
        .groupBy("id_1", "id_2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )

    boosted = (
        base.join(shared, ["id_1", "id_2"], "left")
        .withColumn(
            "score",
            F.least(
                F.lit(1.0),
                F.col("score") + F.coalesce(F.col("shared"), F.lit(0)) * F.lit(neighbor_boost),
            ),
        )
        .filter(F.col("score") >= threshold)
        .select("id_1", "id_2", "score", "id_type")
    )
    return boosted


def schema_column_matching(df1: DataFrame, df2: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Valentine-style column matching: name similarity + value overlap on a
    bounded sample (the reference samples 500 rows,
    `valentine_schema_matching.py:74`). Tiny data → computed via a driver
    loop over column pairs on collected samples, exactly like the reference;
    emits matches with id_type='relation'."""
    s1 = df1.limit(500).toPandas()
    s2 = df2.limit(500).toPandas()
    rows = []
    for c1 in s1.columns:
        v1 = set(s1[c1].dropna().astype(str).str.lower())
        toks1 = set(normalize_py(c1).split())
        for c2 in s2.columns:
            v2 = set(s2[c2].dropna().astype(str).str.lower())
            toks2 = set(normalize_py(c2).split())
            name_sim = len(toks1 & toks2) / len(toks1 | toks2) if toks1 | toks2 else 0.0
            val_sim = len(v1 & v2) / len(v1 | v2) if v1 | v2 else 0.0
            score = 0.5 * name_sim + 0.5 * val_sim
            if score >= threshold:
                rows.append((c1, c2, float(score), "relation"))
    spark = df1.sparkSession
    if not rows:
        return spark.createDataFrame([], "id_1 string, id_2 string, score double, id_type string")
    return spark.createDataFrame(rows, ["id_1", "id_2", "score", "id_type"])


def normalize_py(s: str) -> str:
    import re

    s = re.sub(r"(?<=[a-z0-9])(?=[A-Z])", " ", s)
    return re.sub(r"\s+", " ", s.replace("_", " ").replace("-", " ")).strip().lower()


def map_matched_relations(triples: DataFrame, relation_matches: DataFrame) -> DataFrame:
    """Rewrite predicates by accepted relation matches (score > 0.5,
    `rdf_om.py:445-451`): coalesce(mapped, predicate)."""
    mapping = (
        relation_matches.filter(
            (F.col("id_type") == "relation") & (F.col("score") > 0.5)
        )
        .groupBy(F.col("id_1").alias("predicate"))
        .agg(F.min("id_2").alias("__mapped"))
    )
    return (
        triples.join(F.broadcast(mapping), "predicate", "left")
        .withColumn("predicate", F.coalesce(F.col("__mapped"), F.col("predicate")))
        .drop("__mapped")
    )
