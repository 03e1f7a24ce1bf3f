"""Fusion operators (SURVEY.md §2.7) + canonicalization rewrites (§2.6).

 - ``canonicalize_triples`` — rewrite subject / URI-object via a canonical
   map (`preference.py:145-175`), emitting an ``owl:sameAs``
   provenance DataFrame instead of the reference's sidecar graph.
 - ``fuse_first_value`` — the main fuser (`preference.py:103-227`):
   seed-priority first-value for fusable props (max_cardinality==1 ∪
   {rdfs:label, rdf:type}), presence-guard for the rest. The reference's
   "first" iterates an unordered rdflib set (nondeterministic); we pin a
   stable content-hash order (SURVEY.md §4.2.4).
 - ``fuse_union`` — canonicalize + union + dedupe (`fusion/union.py:15-105`).
 - ``fuse_majority`` — most frequent value, ties by avg score then stable
   hash (`fusion/majority.py:3-48`).
 - ``allowed_predicate_filter`` / ``type_namespace_filter`` — the guards the
   first-value fuser applies up front (`preference.py:127,188-193`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgpipe_spark.functions.hashing import stable_order_key
from kgpipe_spark.schemas import (
    KG_NS,
    OWL_SAME_AS,
    RDF_TYPE,
    RDFS_LABEL,
    SKOS_ALT_LABEL,
    TRIPLE_COLS,
)


def allowed_predicate_filter(triples: DataFrame, allowed: DataFrame) -> DataFrame:
    """Keep triples whose predicate ∈ allowed(predicate) — broadcast semi-join
    (`preference.py:127,188-190`)."""
    return triples.join(F.broadcast(allowed.select("predicate").distinct()), "predicate", "left_semi")


def type_namespace_filter(triples: DataFrame, namespace: str) -> DataFrame:
    """Drop rdf:type triples whose object is outside the target ontology
    namespace (`preference.py:192-193`)."""
    return triples.filter(
        ~((F.col("predicate") == RDF_TYPE) & ~F.col("object_lex").startswith(namespace))
    )


def canonicalize_triples(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """Rewrite subject and URI objects to cluster representatives; predicates
    are left as they are. ``canon`` = (entity, canonical).

    The map is alias-sized by construction (one row per *aliased* entity)
    while the triples side is the whole KG, so the map is always broadcast
    by hint and all rewrites stay map-side. The bound is Spark's broadcast
    limit (``spark.sql.maxBroadcastTableSize``, 8 GB by default). The hint
    is needed even under AQE: without it a map built by an aggregate has no
    size estimate, and the static plan is a sort-merge join that
    hash-partitions the whole triple side before AQE can switch strategy.
    Building the plan runs no Spark job.
    """
    c = F.broadcast(canon)

    out = (
        triples.join(c.withColumnRenamed("entity", "subject"), "subject", "left")
        .withColumn("subject", F.coalesce(F.col("canonical"), F.col("subject")))
        .drop("canonical")
    )
    obj_canon = c.select(
        F.col("entity").alias("object_lex"), F.col("canonical").alias("__obj_canon")
    )
    return (
        out.join(obj_canon, "object_lex", "left")
        .withColumn(
            "object_lex",
            F.when(
                (F.col("object_kind") == "uri") & F.col("__obj_canon").isNotNull(),
                F.col("__obj_canon"),
            ).otherwise(F.col("object_lex")),
        )
        .drop("__obj_canon")
    )


def sameas_provenance(canon: DataFrame) -> DataFrame:
    """owl:sameAs triples recording the rewrite (`preference.py:214-227`)."""
    return canon.select(
        F.col("entity").alias("subject"),
        F.lit(OWL_SAME_AS).alias("predicate"),
        F.col("canonical").alias("object_lex"),
        F.lit("uri").alias("object_kind"),
        F.lit(None).cast("string").alias("object_datatype"),
    )


def fusable_predicates(ontology: DataFrame) -> DataFrame:
    """Predicates with max_cardinality == 1, plus rdfs:label / rdf:type
    (`preference.py:103-135` fusable set)."""
    card1 = ontology.filter(F.col("max_cardinality") == 1).select(F.col("uri").alias("predicate"))
    extra = card1.sparkSession.createDataFrame(
        [(RDFS_LABEL,), (RDF_TYPE,)], ["predicate"]
    )
    return card1.unionByName(extra).distinct()


def allowed_predicates(ontology: DataFrame) -> DataFrame:
    """Ontology property URIs plus rdfs:label / rdf:type / skos:altLabel —
    the predicate allowlist select/fusion_first_value build up front
    (`preference.py:46,127`)."""
    props = ontology.select(F.col("uri").alias("predicate"))
    extra = props.sparkSession.createDataFrame(
        [(RDFS_LABEL,), (RDF_TYPE,), (SKOS_ALT_LABEL,)], ["predicate"]
    )
    return props.unionByName(extra).distinct()


def select_first_value(seed: DataFrame, source: DataFrame, ontology: DataFrame) -> DataFrame:
    """Matchless merge of ``source`` into ``seed`` (`preference.py:34-101`):
    unlike ``fusion_first_value`` no id rewrite precedes — the source is
    filtered to allowed predicates, rdf:type objects outside the target
    ontology namespace ``KG_NS + "onto/"`` are dropped, then fusable props
    (max_cardinality==1 ∪ {label, type}) take the seed's value when present
    else ONE source value, and non-fusable props union with a presence
    guard.
    """
    src = type_namespace_filter(
        allowed_predicate_filter(source, allowed_predicates(ontology)), KG_NS + "onto/"
    )
    return fuse_first_value(seed, src, fusable_predicates(ontology))


def fuse_first_value(
    seed: DataFrame, source: DataFrame, fusable: DataFrame
) -> DataFrame:
    """Seed-priority first-value fusion (`preference.py:103-227`).

    fusable props: add source value only if seed has NO value for (s,p)
      → left_anti on (s,p), then one value per (s,p) by stable-hash order.
    non-fusable props: add source triple only if absent from seed
      → left_anti on (s,p,o).
    Result = seed ∪ surviving source triples, deduped.

    SHUFFLE PLAN (the 100 TB-critical part): the source KG crosses ONE
    full-KG-pass of shuffle volume — ``repartition(subject, predicate)``,
    behind which every downstream step is partition-local because
    HashPartitioning(s, p) satisfies the clustering of every later
    grouping: the 4-col dedupe-aggregate (groupBy s,p,o,kind) and the
    fusable first-value pick (groupBy s,p). Catalyst additionally pushes
    each branch's fusable semi/anti broadcast filter BELOW the repartition,
    so the fusable and rest branches shuffle DISJOINT subsets (combined
    bytes = one KG, filtered before the wire) while the broadcast fusable
    set is reused across branches; feed a cached/parquet source so the
    twin filtered scans hit storage pruning instead of recompute.
    ``scripts/plan_audit.py`` asserts this shape stays true.

    Output datatypes are pinned deterministically (the old dropDuplicates
    kept an arbitrary row): rest triples carry min(object_datatype) per
    (s,p,o,kind) — exactly the oracle's final ``min(object_datatype)``
    GROUP BY — and fusable picks carry the datatype of the minimum
    stable-hash row, which is the same row the oracle's ``row_number``
    ordered by sha256(lex,kind,datatype) selects.
    """
    tcols = TRIPLE_COLS
    seed_t = seed.select(*tcols)
    src_t = source.select(*tcols)

    key = stable_order_key(
        F.col("object_lex"), F.col("object_kind"), F.col("object_datatype")
    )
    # ONE exchange; dedupe + both downstream groupings are partition-local
    g = (
        src_t.repartition("subject", "predicate")
        .groupBy("subject", "predicate", "object_lex", "object_kind")
        .agg(
            F.min(F.struct(key.alias("k"), F.col("object_datatype"))).alias("pick"),
            F.min("object_datatype").alias("dt_min"),
        )
    )

    gf = g.join(F.broadcast(fusable), "predicate", "left_semi")
    gr = g.join(F.broadcast(fusable), "predicate", "left_anti")

    seed_sp = seed_t.select("subject", "predicate").distinct()
    new_fusable = gf.join(seed_sp, ["subject", "predicate"], "left_anti")
    # "first" = min stable-hash; min over per-(s,p,o,k) minima equals the
    # global min over raw rows, so this matches the pre-dedupe semantics
    first_vals = (
        new_fusable.groupBy("subject", "predicate")
        .agg(
            F.min(
                F.struct(
                    F.col("pick.k").alias("k"),
                    F.col("object_lex"),
                    F.col("object_kind"),
                    F.col("pick.object_datatype").alias("object_datatype"),
                )
            ).alias("m")
        )
        .select(
            "subject",
            "predicate",
            F.col("m.object_lex").alias("object_lex"),
            F.col("m.object_kind").alias("object_kind"),
            F.col("m.object_datatype").alias("object_datatype"),
        )
    )

    new_rest = gr.select(
        "subject", "predicate", "object_lex", "object_kind",
        F.col("dt_min").alias("object_datatype"),
    ).join(
        seed_t, ["subject", "predicate", "object_lex", "object_kind"], "left_anti"
    )

    # seed-internal dedupe only (branches are disjoint from seed by
    # construction); min(datatype) mirrors the oracle's final GROUP BY
    seed_d = (
        seed_t.groupBy("subject", "predicate", "object_lex", "object_kind")
        .agg(F.min("object_datatype").alias("object_datatype"))
        .select(*tcols)
    )
    return seed_d.unionByName(first_vals).unionByName(new_rest)


def fuse_union(seed: DataFrame, source: DataFrame) -> DataFrame:
    """Graph union with set semantics (`fusion/union.py:44-58`; rdflib Graph
    union dedupes implicitly)."""
    tcols = TRIPLE_COLS
    return (
        seed.select(*tcols)
        .unionByName(source.select(*tcols))
        # deterministic min(datatype) per triple key (dropDuplicates keeps
        # an arbitrary row), single map-side-combinable aggregation
        .groupBy("subject", "predicate", "object_lex", "object_kind")
        .agg(F.min("object_datatype").alias("object_datatype"))
        .select(*tcols)
    )


def fuse_majority(source: DataFrame) -> DataFrame:
    """Most-frequent value per (s,p); ties by avg score desc then stable hash
    (`fusion/majority.py:3-48`)."""
    score_col = F.col("score") if "score" in source.columns else F.lit(1.0)
    grouped = source.groupBy(
        "subject", "predicate", "object_lex", "object_kind", "object_datatype"
    ).agg(F.count(F.lit(1)).alias("n"), F.avg(score_col).alias("avg_score"))
    w = Window.partitionBy("subject", "predicate").orderBy(
        F.desc("n"),
        F.desc("avg_score"),
        stable_order_key(F.col("object_lex"), F.col("object_kind")),
    )
    return (
        grouped.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(*TRIPLE_COLS)
    )


def preference_fusion(triples: DataFrame) -> DataFrame:
    """One value per (subject, predicate): the highest-``score`` value whose
    ``source`` is ``target_kg`` when that source contributed any, else the
    overall highest-scoring value.

    Mirrors ``preference_fusion``
    (`/root/reference/src/kgpipe_tasks/entity_resolution/fusion/preference.py:230-252`).
    The reference's ``max()`` keeps the first of tied scores (list-order
    dependent); we pin a stable content-hash tiebreak (SURVEY.md §4.2.4).
    """
    w = Window.partitionBy("subject", "predicate").orderBy(
        F.when(F.col("source") == "target_kg", 0).otherwise(1),
        F.desc("score"),
        stable_order_key(
            F.col("object_lex"), F.col("object_kind"), F.col("object_datatype")
        ),
    )
    return (
        triples.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def aggregate_matches(m1: DataFrame, m2: DataFrame) -> DataFrame:
    """Union two ER match sets, rewriting id_type 'str'→'relation'
    (`fusion/simple.py:10-37` aggregate_2matches)."""
    u = m1.unionByName(m2)
    rewritten = u.withColumn(
        "id_type", F.regexp_replace(F.col("id_type"), r"^str$", "relation")
    )
    # deterministic dedup: min(score) per pair (dropDuplicates keeps an
    # arbitrary row when the same pair arrives with different scores)
    other = [c for c in rewritten.columns if c not in ("id_1", "id_2", "id_type", "score")]
    aggs = [F.min("score").alias("score")] + [F.min(c).alias(c) for c in other]
    out = rewritten.groupBy("id_1", "id_2", "id_type").agg(*aggs)
    return out.select(*rewritten.columns)
