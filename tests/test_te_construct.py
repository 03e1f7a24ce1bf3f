from pyspark.sql import functions as F

from kgpipe_spark.operators.te_construct import (
    aggregate_te_documents,
    te_documents_to_triples,
)
from kgpipe_spark.schemas import KG_NS, RDF_TYPE, RDFS_LABEL, TE_DOCUMENT_SCHEMA, XSD_STRING


def _span(surface):
    return {"start": 0, "end": len(surface), "surface_form": surface, "text": surface, "mapping": None}


def _te_docs(spark):
    doc = {
        "doc_id": "d1",
        "text": "The Hobbit was written by Tolkien. He liked it.",
        "triples": [
            {"subject": _span("The Hobbit"), "predicate": _span("written by"), "object": _span("Tolkien")},
            {"subject": _span("He"), "predicate": _span("liked"), "object": _span("it")},
        ],
        "chains": [
            {"main": "Tolkien", "aliases": [_span("He")]},
            {"main": "The Hobbit", "aliases": [_span("it")]},
        ],
        "links": [
            {"span": "Tolkien", "mapping": KG_NS + "person/tolkien", "link_type": "entity", "score": 0.9},
            {"span": "written by", "mapping": KG_NS + "onto/author", "link_type": "predicate", "score": 0.5},
            {"span": "The Hobbit", "mapping": KG_NS + "book/hobbit", "link_type": "entity", "score": 0.3},  # below 0.5
        ],
    }
    return spark.createDataFrame([doc], TE_DOCUMENT_SCHEMA)


def _onto(spark):
    return spark.createDataFrame(
        [
            (KG_NS + "onto/author", "author", None, KG_NS + "onto/Book", KG_NS + "onto/Person", "true", 1),
        ],
        "uri string, label string, aliases array<string>, domain string, range string, is_object_prop string, max_cardinality int",
    )


def test_te_construct_full(spark):
    out = te_documents_to_triples(_te_docs(spark), _onto(spark))
    rows = {(r["subject"], r["predicate"], r["object_lex"], r["object_kind"]) for r in out.collect()}

    minted_hobbit = [s for s, p, o, k in rows if p == RDFS_LABEL and o == "The Hobbit"]
    assert len(minted_hobbit) == 1 and minted_hobbit[0].startswith(KG_NS + "newE/")
    hobbit = minted_hobbit[0]

    # linked predicate + linked object entity
    assert (hobbit, KG_NS + "onto/author", KG_NS + "person/tolkien", "uri") in rows
    # coref: "He liked it" → Tolkien liked The Hobbit (minted pred, object prop unknown → literal? no:
    # 'liked' is unlinked and not an object prop in the ontology → literal object "The Hobbit")
    liked = [(s, p, o, k) for s, p, o, k in rows if p == KG_NS + "prop/liked"]
    assert len(liked) == 1
    assert liked[0][0] == KG_NS + "person/tolkien"  # chain alias He → Tolkien → linked
    assert liked[0][2] == "The Hobbit"  # chain alias it → The Hobbit surface
    # rdf:type from domain/range of the linked property
    assert (hobbit, RDF_TYPE, KG_NS + "onto/Book", "uri") in rows
    assert (KG_NS + "person/tolkien", RDF_TYPE, KG_NS + "onto/Person", "uri") in rows


def test_te_construct_mappings_only(spark):
    out = te_documents_to_triples(_te_docs(spark), _onto(spark), mappings_only=True)
    preds = {r["predicate"] for r in out.collect()}
    assert KG_NS + "prop/liked" not in preds
    assert KG_NS + "onto/author" in preds


def test_aggregate_te_documents(spark):
    d1 = _te_docs(spark)
    d2 = _te_docs(spark)
    agg = aggregate_te_documents(d1, d2).collect()
    assert len(agg) == 1
    assert len(agg[0]["triples"]) == 4  # concatenated
    assert len(agg[0]["chains"]) == 4


def test_construct_te_document_from_json(spark):
    """json_processing.py:74-127 semantics: filename URI subject, sha256
    minting for nested dicts, mapping-vs-text span fields."""
    import hashlib
    import json as pyjson

    from kgpipe_spark.operators.te_construct import construct_te_document_from_json

    corpus = spark.createDataFrame(
        [("r", "dir/movie1.json", "c", "json",
          '{"name": "Heat", "director": {"name": "Mann"}, "year": 1995}')],
        "repo string, path string, commit string, lang string, content string",
    )
    docs = construct_te_document_from_json(corpus).collect()
    assert len(docs) == 1 and docs[0]["doc_id"] == "movie1"
    t = {
        (r["subject"]["surface_form"], r["predicate"]["surface_form"], r["object"]["surface_form"])
        for r in docs[0]["triples"]
    }
    duri = "http://kg.org/json/movie1"
    nested = "http://example.org/" + hashlib.sha256(
        pyjson.dumps({"name": "Mann"}, sort_keys=True).encode()
    ).hexdigest()
    assert t == {
        (duri, "name", "Heat"),
        (duri, "director", nested),
        (nested, "name", "Mann"),
        (duri, "year", "1995"),
    }
    # span fields: http surfaces carry mapping, others carry text
    by_obj = {r["object"]["surface_form"]: r["object"] for r in docs[0]["triples"]}
    assert by_obj[nested]["mapping"] == nested and by_obj[nested]["text"] is None
    assert by_obj["Heat"]["text"] == "Heat" and by_obj["Heat"]["mapping"] is None


def test_label_alias_embedding_rl(spark):
    from kgpipe_spark.operators.te_construct import (
        construct_te_document_from_json,
        label_alias_embedding_rl,
    )

    corpus = spark.createDataFrame(
        [("r", "m.json", "c", "json", '{"directed_by": "X", "totally_unrelated_key": "Y"}')],
        "repo string, path string, commit string, lang string, content string",
    )
    te = construct_te_document_from_json(corpus)
    onto = spark.createDataFrame(
        [("http://kg.org/prop/director", "directed by", ["director of"], None, None, "true", 1)],
        "uri string, label string, aliases array<string>, domain string, range string,"
        " is_object_prop string, max_cardinality int",
    )
    out = label_alias_embedding_rl(te, onto).collect()[0]
    links = {(p["span"], p["mapping"]) for p in out["links"]}
    # every surface gets its top-1 (reference links all, thresholds downstream)
    assert ("directed_by", "http://kg.org/prop/director") in links
    scores = {p["span"]: p["score"] for p in out["links"]}
    assert scores["directed_by"] > scores.get("totally_unrelated_key", 0.0)


def test_embedding_linkers_plan_with_no_job(spark):
    """Building either TE embedding linker's plan over checkpointed inputs
    runs no Spark job: no size probe, no eager checkpoint of the targets."""
    from kgpipe_spark.operators.te_construct import (
        label_alias_embedding_el,
        label_alias_embedding_rl,
    )

    te = _te_docs(spark).localCheckpoint()
    onto = _onto(spark).localCheckpoint()
    kg = spark.createDataFrame(
        [(KG_NS + "person/tolkien", RDFS_LABEL, "Tolkien", "literal", XSD_STRING)],
        "subject string, predicate string, object_lex string, object_kind string,"
        " object_datatype string",
    ).localCheckpoint()

    sc = spark.sparkContext
    jobs, out = {}, {}
    for name, build in (
        ("rl", lambda: label_alias_embedding_rl(te, onto)),
        ("el", lambda: label_alias_embedding_el(te, kg)),
    ):
        sc.setJobGroup(f"te-{name}-plan", "plan only")
        try:
            out[name] = build()
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"te-{name}-plan"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == {"rl": 0, "el": 0}

    def appended(df):
        return {(p["span"], p["mapping"]) for p in df.collect()[0]["links"][3:]}

    assert ("written by", KG_NS + "onto/author") in appended(out["rl"])
    assert ("Tolkien", KG_NS + "person/tolkien") in appended(out["el"])


def test_filter_te_entity_links(spark):
    from kgpipe_spark.operators.te_construct import filter_te_entity_links

    te = spark.createDataFrame(
        [
            (
                "d1",
                [
                    ("a", "kg:n1", "entity", 1.0),
                    ("b", "kg:bad", "entity", 0.9),
                    ("p", "kg:prop", "predicate", 0.8),
                ],
            ),
            ("d2", []),
        ],
        "doc_id string, links array<struct<span:string,mapping:string,link_type:string,score:double>>",
    )
    uri_map = spark.createDataFrame([("kg:n1", "ref:n1")], "uri string, alias string")
    out = {r["doc_id"]: r["links"] for r in filter_te_entity_links(te, uri_map).collect()}
    assert [(l["span"], l["mapping"], l["link_type"]) for l in out["d1"]] == [
        ("a", "ref:n1", "entity"),   # kept + rewritten through the alias map
        ("p", "kg:prop", "predicate"),  # non-entity passes untouched
    ]
    assert out["d2"] == []
