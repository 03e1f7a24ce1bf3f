"""Soft (embedding) evaluation metrics — kgpipe_spark.eval.soft.

Mirrors the reference semantics of
`/root/reference/src/kgpipe/evaluation/aspects/func/soft_metrics.py` and
`integration_eval.py` on tiny hand-built KGs.
"""

import hashlib

from pyspark.sql import functions as F

from kgpipe_spark.eval.soft import (
    clean_label,
    cosine_pairs,
    fact_alignment_soft_entities,
    fact_alignment_soft_values,
    gram_bins,
    soft_entity_mapping,
    source_entity_coverage,
    source_entity_coverage_fuzzy,
    source_entity_precision_fuzzy,
)
from kgpipe_spark.schemas import RDFS_LABEL

T = ["subject", "predicate", "object_lex", "object_kind", "object_datatype"]


def _kg(spark, rows):
    return spark.createDataFrame(
        rows,
        "subject string, predicate string, object_lex string, object_kind string,"
        " object_datatype string",
    )


def _lab(s, o):
    return (s, RDFS_LABEL, o, "literal", None)


def test_clean_label(spark):
    df = spark.createDataFrame([("Foo_Bar (novel)",), ("a_b_c",)], ["x"])
    got = [r[0] for r in df.select(clean_label(F.col("x"))).collect()]
    assert got == ["Foo Bar", "a b c"]


def test_gram_bins_matches_numpy_hash_embed(spark):
    texts = ["hello world", "Foo"]
    df = spark.createDataFrame([(t, t) for t in texts], ["id", "text"])
    got = {}
    for r in gram_bins(df, "id", "text").collect():
        got.setdefault(r["id"], {})[r["bin"]] = r["v"]
    for t in texts:
        exp = {}
        s = " " + t.lower() + " "
        for j in range(len(s) - 2):
            h = int.from_bytes(hashlib.md5(s[j : j + 3].encode()).digest()[:4], "little")
            exp[h % 64] = exp.get(h % 64, 0) + (1 if (h >> 31) & 1 == 0 else -1)
        assert got[t] == {k: v for k, v in exp.items()}, t


def test_cosine_identical_is_one(spark):
    df = spark.createDataFrame([("a", "same text"), ("b", "other words")], ["id", "text"])
    pairs = {(r["lid"], r["rid"]): r["cos"] for r in cosine_pairs(df, df).collect()}
    assert pairs[("a", "a")] > 0.999999
    assert pairs[("b", "b")] > 0.999999
    assert pairs.get(("a", "b"), 0.0) < 0.5


def test_soft_entity_mapping_accepts_cleaned_twin(spark):
    actual = _kg(spark, [_lab("a:1", "Berlin City (dup)"), _lab("a:2", "zzz qqq vvv")])
    expected = _kg(spark, [_lab("e:1", "Berlin_City"), _lab("e:2", "unrelated name")])
    m = {r["actual_uri"]: r["expected_uri"] for r in soft_entity_mapping(actual, expected).collect()}
    assert m == {"a:1": "e:1"}  # cleaned labels identical → cos 1; a:2 below threshold


def test_soft_fact_alignment_entities(spark):
    # a:1 soft-maps to e:1, so its p triple becomes a TP; label lex differs → FP
    actual = _kg(
        spark,
        [_lab("a:1", "Berlin (x)"), ("a:1", "p:seg", "AUTO", "literal", None)],
    )
    expected = _kg(
        spark,
        [_lab("e:1", "Berlin"), ("e:1", "p:seg", "AUTO", "literal", None)],
    )
    row = fact_alignment_soft_entities(actual, expected).collect()[0]
    assert (row["tp"], row["fp"], row["fn"]) == (1, 1, 1)


def test_soft_fact_alignment_values_label_expansion(spark):
    # uri object expands to its label on both sides → value cosine 1 → TP
    actual = _kg(
        spark,
        [
            _lab("a:1", "Berlin"),
            ("a:1", "p:in", "a:9", "uri", None),
            _lab("a:9", "Germany (country)"),
        ],
    )
    expected = _kg(
        spark,
        [
            _lab("e:1", "Berlin"),
            ("e:1", "p:in", "e:9", "uri", None),
            _lab("e:9", "Germany"),
        ],
    )
    row = fact_alignment_soft_values(actual, expected).collect()[0]
    # a:1→e:1, a:9→e:9 map. TPs: (e:1, label, 'Berlin') and (e:1, p:in,
    # 'Germany') — the uri object expanded to its CLEANED label on both
    # sides. FP: (e:9, label, 'Germany (country)') — literal values are NOT
    # cleaned (only uri-object expansions are), cos < 0.95 vs 'Germany'.
    assert row["tp"] == 2 and row["fp"] == 1 and row["fn"] == 0


def test_source_entity_coverage_exact(spark):
    kg = _kg(spark, [_lab("e:1", "Alpha"), _lab("e:2", "Beta"), _lab("e:3", "Gamma")])
    d = spark.createDataFrame(
        [("e:1", None), ("d:9", "Beta"), ("d:8", "Nope")], ["entity_uri", "entity_label"]
    )
    row = source_entity_coverage(kg, d).collect()[0]
    # e:1 by uri, e:2 by label; expected 3 → coverage 2/3
    assert row["expected_entities"] == 3
    assert row["found_entities"] == 3
    assert row["overlapping_entities"] == 2
    assert abs(row["coverage"] - 0.666666) < 1e-9


def test_source_entity_coverage_fuzzy(spark):
    kg = _kg(spark, [_lab("e:1", "Alpha Centauri"), _lab("e:2", "Beta"), _lab("e:2", "Beta")])
    d = spark.createDataFrame(
        [("d:1", "Alpha Centauri"), ("d:2", "something else")], ["entity_uri", "entity_label"]
    )
    row = source_entity_coverage_fuzzy(kg, d).collect()[0]
    assert row["expected_entities"] == 2
    assert row["found_labels"] == 3  # occurrences, not distinct
    assert row["overlapping_labels"] == 1  # only 'Alpha Centauri'


def test_source_entity_precision_fuzzy_duplicates(spark):
    # two distinct found labels claim the same dict label → 1 strict + 1 dup;
    # 'Beta' appears twice (occurrence dup)
    kg = _kg(
        spark,
        [
            _lab("e:1", "Alpha Centauri"),
            _lab("e:2", "Alpha Centauri "),  # near-identical → same ref
            _lab("e:3", "Beta"),
            _lab("e:4", "Beta"),
        ],
    )
    d = spark.createDataFrame(
        [("d:1", "Alpha Centauri"), ("d:2", "Beta")], ["entity_uri", "entity_label"]
    )
    row = source_entity_precision_fuzzy(kg, d).collect()[0]
    assert row["expected_entities"] == 2
    assert row["found_labels"] == 4
    assert row["overlapping_labels"] == 3  # distinct matched labels
    assert row["strict_overlapping"] == 2  # one claim per dict label
    assert row["possible_duplicates"] == 2  # 4 matched occurrences - 2 strict


def test_source_entity_metrics_plan_with_no_job(spark):
    """Building the three source-entity metrics runs no Spark job: each is
    one lazy 1-row DataFrame, not driver counts rebuilt by createDataFrame."""
    kg = _kg(spark, [_lab("e:1", "Alpha Centauri"), _lab("e:2", "Beta")]).localCheckpoint()
    d = spark.createDataFrame(
        [("e:1", None), ("d:2", "Beta")], "entity_uri string, entity_label string"
    ).localCheckpoint()

    sc = spark.sparkContext
    sc.setJobGroup("source-entity-plan", "plan only")
    try:
        out = [
            source_entity_coverage(kg, d),
            source_entity_coverage_fuzzy(kg, d),
            source_entity_precision_fuzzy(kg, d),
        ]
        jobs = len(sc.statusTracker().getJobIdsForGroup("source-entity-plan"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == 0
    assert [tuple(df.collect()[0]) for df in out] == [(2, 2, 2, 1.0), (2, 2, 1), (2, 2, 1, 1, 0)]


def test_source_entity_metrics_on_empty_inputs(spark):
    kg = _kg(spark, [])
    d = spark.createDataFrame([], "entity_uri string, entity_label string")
    metrics = (source_entity_coverage, source_entity_coverage_fuzzy, source_entity_precision_fuzzy)
    assert [tuple(f(kg, d).collect()[0]) for f in metrics] == [
        (0, 0, 0, 0.0),
        (0, 0, 0),
        (0, 0, 0, 0, 0),
    ]
