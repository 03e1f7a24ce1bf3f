from pyspark.sql import functions as F

from kgpipe_spark.operators.fusion import (
    aggregate_matches,
    allowed_predicate_filter,
    canonicalize_triples,
    fuse_first_value,
    fuse_majority,
    fuse_union,
    type_namespace_filter,
)
from kgpipe_spark.schemas import RDF_TYPE, RDFS_LABEL

TRIPLE_DDL = "subject string, predicate string, object_lex string, object_kind string, object_datatype string"


def t(spark, rows):
    return spark.createDataFrame(rows, TRIPLE_DDL)


def test_first_value_seed_priority(spark):
    seed = t(spark, [("s1", "p1", "seed-val", "literal", None)])
    src = t(
        spark,
        [
            ("s1", "p1", "src-val", "literal", None),   # fusable, seed has (s1,p1) → dropped
            ("s2", "p1", "v1", "literal", None),         # fusable, new (s,p) → one of v1/v2 kept
            ("s2", "p1", "v2", "literal", None),
            ("s1", "p2", "multi-a", "literal", None),    # non-fusable → both kept
            ("s1", "p2", "multi-b", "literal", None),
        ],
    )
    fusable = spark.createDataFrame([("p1",)], ["predicate"])
    out = fuse_first_value(seed, src, fusable)
    rows = {(r["subject"], r["predicate"], r["object_lex"]) for r in out.collect()}
    assert ("s1", "p1", "seed-val") in rows
    assert ("s1", "p1", "src-val") not in rows
    assert len([r for r in rows if r[0] == "s2" and r[1] == "p1"]) == 1
    assert ("s1", "p2", "multi-a") in rows and ("s1", "p2", "multi-b") in rows
    # deterministic: same result twice
    rows2 = {(r["subject"], r["predicate"], r["object_lex"]) for r in fuse_first_value(seed, src, fusable).collect()}
    assert rows == rows2


def test_first_value_cardinality_invariant(spark):
    """fusable predicates end with ≤1 value per (s,p) when seed had ≤1."""
    seed = t(spark, [("s1", "p1", "a", "literal", None)])
    src = t(spark, [("s%d" % i, "p1", "v%d" % j, "literal", None) for i in range(5) for j in range(3)])
    fusable = spark.createDataFrame([("p1",)], ["predicate"])
    out = fuse_first_value(seed, src, fusable)
    counts = out.groupBy("subject", "predicate").count().collect()
    assert all(r["count"] == 1 for r in counts)


def test_fuse_union_dedupes(spark):
    a = t(spark, [("s", "p", "o", "literal", None)])
    b = t(spark, [("s", "p", "o", "literal", None), ("s", "p", "o2", "literal", None)])
    assert fuse_union(a, b).count() == 2


def test_fuse_majority(spark):
    src = t(
        spark,
        [
            ("s", "p", "common", "literal", None),
            ("s", "p", "common", "literal", None),
            ("s", "p", "rare", "literal", None),
        ],
    )
    rows = fuse_majority(src).collect()
    assert len(rows) == 1 and rows[0]["object_lex"] == "common"


def test_canonicalize_rewrites_subject_and_uri_object(spark):
    triples = t(
        spark,
        [
            ("alias1", "p", "alias2", "uri", None),
            ("alias1", "p", "alias2", "literal", None),  # literal NOT rewritten
        ],
    )
    canon = spark.createDataFrame(
        [("alias1", "canon1"), ("alias2", "canon2")], ["entity", "canonical"]
    )
    rows = {(r["subject"], r["object_lex"], r["object_kind"]) for r in canonicalize_triples(triples, canon).collect()}
    assert rows == {("canon1", "canon2", "uri"), ("canon1", "alias2", "literal")}


def test_filters(spark):
    triples = t(
        spark,
        [
            ("s", "keep", "o", "literal", None),
            ("s", "drop", "o", "literal", None),
            ("s", RDF_TYPE, "http://other/C", "uri", None),
            ("s", RDF_TYPE, "http://kg.org/onto/C", "uri", None),
        ],
    )
    allowed = spark.createDataFrame([("keep",), (RDF_TYPE,)], ["predicate"])
    out = allowed_predicate_filter(triples, allowed)
    assert out.count() == 3
    out2 = type_namespace_filter(out, "http://kg.org/onto/")
    assert {(r["predicate"], r["object_lex"]) for r in out2.collect()} == {
        ("keep", "o"),
        (RDF_TYPE, "http://kg.org/onto/C"),
    }


def test_aggregate_matches_rewrites_str(spark):
    m1 = spark.createDataFrame([("a", "b", 0.9, "entity")], ["id_1", "id_2", "score", "id_type"])
    m2 = spark.createDataFrame([("p", "q", 0.8, "str")], ["id_1", "id_2", "score", "id_type"])
    rows = {r["id_type"] for r in aggregate_matches(m1, m2).collect()}
    assert rows == {"entity", "relation"}


def test_preference_fusion_prefers_source_then_score(spark):
    from kgpipe_spark.operators.fusion import preference_fusion

    rows = [
        # preferred source present: its best value wins despite lower score
        ("e1", "p", "from-target-low", "literal", None, 0.2, "target_kg"),
        ("e1", "p", "from-target-high", "literal", None, 0.4, "target_kg"),
        ("e1", "p", "from-other", "literal", None, 0.9, "other"),
        # no preferred source: overall best score wins
        ("e2", "p", "a", "literal", None, 0.3, "x"),
        ("e2", "p", "b", "literal", None, 0.8, "y"),
    ]
    df = spark.createDataFrame(
        rows,
        "subject string, predicate string, object_lex string, object_kind string,"
        " object_datatype string, score double, source string",
    )
    out = {r["subject"]: r["object_lex"] for r in preference_fusion(df).collect()}
    assert out == {"e1": "from-target-high", "e2": "b"}


def test_canonicalize_plans_a_broadcast_without_running_a_job(spark):
    """Canonicalizing lazy inputs starts no Spark job, and a map built by an
    aggregate (no size estimate) is still broadcast, never sort-merged."""
    triples = t(spark, [("e/1", "p", "e/1", "uri", None), ("x", "p", "e/1", "literal", None)])
    pairs = spark.createDataFrame(
        spark.sparkContext.parallelize([("e/1", "e/3"), ("e/1", "e/2")]),
        "entity string, canonical string",
    )
    cmap = pairs.groupBy("entity").agg(F.min("canonical").alias("canonical"))

    sc = spark.sparkContext
    sc.setJobGroup("canonicalize-plan", "plan only")
    try:
        out = canonicalize_triples(triples, cmap)
        plan = out._jdf.queryExecution().executedPlan().toString()
        jobs = sc.statusTracker().getJobIdsForGroup("canonicalize-plan")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    rows = {tuple(r) for r in out.select("subject", "object_lex", "object_kind").collect()}
    assert rows == {("e/2", "e/2", "uri"), ("x", "e/1", "literal")}
