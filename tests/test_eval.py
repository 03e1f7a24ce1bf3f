from kgpipe_spark.eval.alignment import fact_alignment, subtract_kg
from kgpipe_spark.eval.er_eval import duplicate_entities, evaluate_matching
from kgpipe_spark.eval.semantic import (
    cardinality_violations,
    datatype_violations,
    disjoint_class_violations,
    domain_violations,
    object_prop_violations,
)
from kgpipe_spark.eval.statistics import class_histogram, count_measures, predicate_histogram
from kgpipe_spark.schemas import RDF_TYPE, XSD_INTEGER, XSD_STRING

TRIPLE_DDL = "subject string, predicate string, object_lex string, object_kind string, object_datatype string"
ONTO_DDL = "uri string, label string, aliases array<string>, domain string, range string, is_object_prop string, max_cardinality int"


def t(spark, rows):
    return spark.createDataFrame(rows, TRIPLE_DDL)


def test_fact_alignment_prf(spark):
    actual = t(spark, [("s", "p", "o1", "literal", None), ("s", "p", "o2", "literal", None)])
    expected = t(spark, [("s", "p", "o1", "literal", None), ("s", "p", "o3", "literal", None)])
    r = fact_alignment(actual, expected).collect()[0]
    assert (r["tp"], r["fp"], r["fn"]) == (1, 1, 1)
    assert r["precision"] == 0.5 and r["recall"] == 0.5 and r["f1"] == 0.5


def test_fact_alignment_null_keys_never_match(spark):
    """Null-key fidelity of the single-exchange rewrite: a null-keyed triple
    present on BOTH sides counts as fp AND fn (the old null-unsafe
    full_outer join), never tp, while null-keyed duplicates within one side
    still collapse (the old null-safe distinct)."""
    actual = t(
        spark,
        [
            ("s", "p", None, "literal", None),
            ("s", "p", None, "literal", None),  # dup collapses side-locally
            ("s", "p", "o1", "literal", None),
        ],
    )
    expected = t(spark, [("s", "p", None, "literal", None), ("s", "p", "o1", "literal", None)])
    r = fact_alignment(actual, expected).collect()[0]
    assert (r["tp"], r["fp"], r["fn"]) == (1, 1, 1)


def test_subtract_kg(spark):
    a = t(spark, [("s", "p", "o", "literal", None), ("s", "p", "o2", "literal", None)])
    seed = t(spark, [("s", "p", "o", "literal", None)])
    assert subtract_kg(a, seed).collect()[0]["object_lex"] == "o2"


def test_count_measures(spark):
    triples = t(
        spark,
        [
            ("e1", RDF_TYPE, "C1", "uri", None),
            ("e1", "p1", "e2", "uri", None),
            ("e1", "p2", "lit", "literal", None),
            ("e3", "p1", "e1", "uri", None),
        ],
    )
    r = count_measures(triples).collect()[0]
    assert r["n_triples"] == 4
    assert r["n_entities"] == 4  # e1, e3 subjects; e2, C1, e1 uri objects → {e1,e2,e3,C1}
    assert r["n_relations"] == 3
    assert r["n_classes"] == 1
    assert predicate_histogram(triples).collect()[0]["n"] == 2
    assert class_histogram(triples).collect()[0]["class_uri"] == "C1"


def test_er_matching_eval(spark):
    gold = spark.createDataFrame(
        [("c1", "a"), ("c1", "b"), ("c1", "c"), ("c2", "x"), ("c2", "y")],
        ["cluster_id", "entity_uri"],
    )
    pred = spark.createDataFrame(
        [("a", "b", 0.9, "entity"), ("x", "q", 0.9, "entity")],
        ["id_1", "id_2", "score", "id_type"],
    )
    r = evaluate_matching(pred, gold).collect()[0]
    # gold pairs: (a,b),(a,c),(b,c),(x,y) → tp=1, fp=1, fn=3
    assert (r["tp"], r["fp"], r["fn"]) == (1, 1, 3)


def test_duplicates(spark):
    al = spark.createDataFrame(
        [("a1", "ref1"), ("a2", "ref1"), ("a3", "ref2")], ["actual_uri", "reference_uri"]
    )
    rows = duplicate_entities(al).collect()
    assert len(rows) == 1 and rows[0]["reference_uri"] == "ref1" and rows[0]["n_dupes"] == 2


def test_semantic_validators(spark):
    onto = spark.createDataFrame(
        [
            ("p_card1", "p", None, None, None, None, 1),
            ("p_dom", "p", None, "C_expected", None, None, None),
            ("p_dt", "p", None, None, "http://www.w3.org/2001/XMLSchema#integer", None, None),
            ("p_obj", "p", None, None, None, "true", None),
        ],
        ONTO_DDL,
    )
    triples = t(
        spark,
        [
            ("s1", "p_card1", "v1", "literal", None),
            ("s1", "p_card1", "v2", "literal", None),  # cardinality violation
            ("s2", RDF_TYPE, "C_other", "uri", None),
            ("s2", "p_dom", "v", "literal", None),      # domain violation
            ("s3", "p_dt", "abc", "literal", XSD_STRING),  # datatype violation
            ("s4", "p_dt", "42", "literal", XSD_INTEGER),  # ok
            ("s5", "p_obj", "lit", "literal", None),    # object prop w/ literal
        ],
    )
    assert cardinality_violations(triples, onto).count() == 1
    assert domain_violations(triples, onto).count() == 1
    assert datatype_violations(triples, onto).count() == 1
    assert object_prop_violations(triples, onto).count() == 1

    disjoint = spark.createDataFrame([("CA", "CB")], ["cls_a", "cls_b"])
    tt = t(spark, [("e", RDF_TYPE, "CA", "uri", None), ("e", RDF_TYPE, "CB", "uri", None)])
    assert disjoint_class_violations(tt, disjoint).count() == 1


# --- extended validators (semantic.py:302-881) ------------------------------


def _tiny_kg(spark):
    rows = [
        ("e:c1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "o:Customer", "uri", None),
        ("e:n1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "o:Nation", "uri", None),
        ("e:c1", "p:nation", "e:n1", "uri", None),        # correct direction
        ("e:n1", "p:nation", "e:c1", "uri", None),        # swapped
        ("e:c1", "p:born", "1999", "literal", "http://www.w3.org/2001/XMLSchema#gYear"),
        ("e:c1", "p:born", "99x", "literal", "http://www.w3.org/2001/XMLSchema#gYear"),
    ]
    return spark.createDataFrame(
        rows,
        "subject string, predicate string, object_lex string, object_kind string,"
        " object_datatype string",
    )


def _tiny_onto(spark):
    return spark.createDataFrame(
        [
            ("p:nation", "nation", None, "o:Customer", "o:Nation", "true", 1),
            ("p:born", "born", None, "o:Customer",
             "http://www.w3.org/2001/XMLSchema#gYear", "false", 1),
        ],
        "uri string, label string, aliases array<string>, domain string, range string,"
        " is_object_prop string, max_cardinality int",
    )


def test_relation_direction_counts(spark):
    from kgpipe_spark.eval.semantic import relation_direction_counts

    row = relation_direction_counts(_tiny_kg(spark), _tiny_onto(spark)).collect()[0]
    assert (row["incorrect"], row["correct"]) == (1, 1)
    assert abs(row["score"] - 0.5) < 1e-9


def test_datatype_format_violations(spark):
    from kgpipe_spark.eval.semantic import datatype_format_violations

    rows = datatype_format_violations(_tiny_kg(spark), _tiny_onto(spark)).collect()
    assert [(r["object_lex"], r["expected_dt"]) for r in rows] == [
        ("99x", "http://www.w3.org/2001/XMLSchema#gYear")
    ]


def test_ontology_class_coverage(spark):
    from kgpipe_spark.eval.semantic import ontology_class_coverage

    expected = spark.createDataFrame([("o:Customer",), ("o:Supplier",)], ["cls"])
    row = ontology_class_coverage(_tiny_kg(spark), expected).collect()[0]
    # found {Customer, Nation}; expected {Customer, Supplier}
    assert (row["tp"], row["fp"], row["fn"]) == (1, 1, 1)


def test_ontology_relation_coverage(spark):
    from kgpipe_spark.eval.semantic import ontology_relation_coverage

    row = ontology_relation_coverage(_tiny_kg(spark), _tiny_onto(spark)).collect()[0]
    # found {p:nation, p:born} (rdf:type excluded); expected {p:nation, p:born}
    assert (row["tp"], row["fp"], row["fn"]) == (2, 0, 0)
    assert row["f1"] == 1.0


def test_ontology_namespace_coverage(spark):
    from kgpipe_spark.eval.semantic import ontology_namespace_coverage

    kg = spark.createDataFrame(
        [
            ("http://a.org/x/1", "p", "http://b.org/y/2", "uri", None),
            ("http://a.org/x/3", "p", "lit", "literal", None),
        ],
        "subject string, predicate string, object_lex string, object_kind string,"
        " object_datatype string",
    )
    expected = spark.createDataFrame([("http://a.org/x/",), ("http://c.org/z/",)], ["ns"])
    row = ontology_namespace_coverage(kg, expected).collect()[0]
    # found {a.org/x/, b.org/y/}; expected {a.org/x/, c.org/z/}
    assert (row["tp"], row["fp"], row["fn"]) == (1, 1, 1)


def test_cluster_pairs_and_file_reader(spark, tmp_path):
    from kgpipe_spark.eval.er_eval import cluster_pairs
    from kgpipe_spark.sources.readers import read_cluster_file

    p = tmp_path / "gold.tsv"
    p.write_text("a\tb\tc\nx\ty\n\n")
    clusters = read_cluster_file(spark, str(p))
    pairs = {(r["id_1"], r["id_2"]) for r in cluster_pairs(clusters).collect()}
    assert pairs == {("a", "b"), ("a", "c"), ("b", "c"), ("x", "y")}


def test_evaluate_relation_matching(spark):
    from kgpipe_spark.eval.er_eval import evaluate_relation_matching

    preds = spark.createDataFrame(
        [
            ("ns1/name", "ns2/name", 0.9, "relation"),   # suffix match → tp
            ("ns1/p", "ns2/q", 0.9, "relation"),         # in gold → tp
            ("ns1/u", "ns2/v", 0.9, "relation"),         # neither → fp
            ("ns1/w-", "ns2/w-", 0.9, "relation"),       # '-' suffix → skipped
            ("ns1/e", "ns2/e", 0.9, "entity"),           # wrong type → skipped
            ("ns1/lo", "ns2/lo", 0.1, "relation"),       # below threshold
        ],
        "id_1 string, id_2 string, score double, id_type string",
    )
    gold = spark.createDataFrame(
        [(["ns1/p", "ns2/q"],), (["ns1/m", "ns2/n"],)], ["uris"]
    )
    row = evaluate_relation_matching(preds, gold, threshold=0.5).collect()[0]
    assert (row["tp"], row["fp"], row["fn"]) == (2, 1, 1)


def test_evaluate_expected_links(spark):
    from kgpipe_spark.eval.te_eval import evaluate_expected_entity_links

    te = spark.createDataFrame(
        [
            ("d1", [("x", "e:1", "entity", 0.9), ("x", "e:9", "entity", 0.9),
                     ("x", "e:2", "entity", 0.3)]),
            ("d2", [("x", "e:3", "relation", 0.9)]),  # wrong type
            ("d3", []),                                # no expected entry → skipped
        ],
        "doc_id string, links array<struct<span:string,mapping:string,link_type:string,score:double>>",
    )
    exp = spark.createDataFrame(
        [("d1", "e:1"), ("d1", "e:2"), ("d2", "e:3"), ("d9", "e:9")],
        "doc_id string, entity_id string",
    )
    row = evaluate_expected_entity_links(te, exp, threshold=0.5).collect()[0]
    # d1: links e:1 (hit), e:9 (miss-mapping), e:2 below threshold → 1 true, 1 missing
    # d2: relation link doesn't count → 0 true, 1 missing; d9 absent from te → skipped
    assert (row["true_link_cnt"], row["false_missing_link_cnt"]) == (1, 2)


def test_prf_on_empty_sets_is_zero(spark):
    """Two empty sides count 0/0/0 and every rate is 0.0, never null, in
    both f1 projections and in the metrics built on them."""
    from kgpipe_spark.eval.alignment import TRIPLE_KEY, prf_from_counts, prf_from_rates, set_counts
    from kgpipe_spark.eval.semantic import ontology_class_coverage

    empty = t(spark, [])
    counts = set_counts(empty, empty, TRIPLE_KEY)
    rows = [prf(counts).collect()[0] for prf in (prf_from_rates, prf_from_counts)]
    rows.append(ontology_class_coverage(empty, spark.createDataFrame([], "cls string")).collect()[0])
    for r in rows:
        assert r.asDict() == {
            "tp": 0, "fp": 0, "fn": 0, "precision": 0.0, "recall": 0.0, "f1": 0.0
        }
