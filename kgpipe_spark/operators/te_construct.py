"""TE-document finalizer: TE_Documents → RDF triples (SURVEY.md §2.3).

Reimplements ``construct_rdf_from_te_json``
(`/root/reference/src/kgpipe_tasks/construction/construct.py:39-178,300-330`):

 1. **coref chains** (construct.py:46-59): every alias surface in a chain is
    rewritten to the chain's main surface before linking.
 2. **links** (construct.py:61-105): entity links with score ≥ 0.5 and
    predicate links with score ≥ 0.3 map surfaces (matched lowercased) to
    KG URIs; thresholds are engine config (construct.py:31-32).
 3. **emission** (construct.py:116-177): subject/object surfaces become the
    linked URI or a minted ``newE/sha256(surface)`` URI (benchutils.py:10-14);
    predicates become the linked property URI or ``prop/<normalized>``;
    object literals are typed by the ontology range; ``rdf:type`` triples are
    added from the matched property's domain/range; an ``rdfs:label`` row is
    emitted for every minted entity.

Everything is explode + broadcast joins — per-document arrays become rows,
linking is corpus-wide relational, then triples are assembled back.

The TE linkers (dictionary, embedding EL, embedding RL) all append their
TE_Pairs through ``_append_links``; the two embedding linkers share
``_top1``, a window over ``eval.soft.cosine_all_pairs``. Building a linker's
plan runs no Spark job. Empty TE arrays are typed by ``schemas.TE_PAIR`` /
``TE_CHAIN``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType
from pyspark.sql.window import Window

from kgpipe_spark.eval.soft import cosine_all_pairs
from kgpipe_spark.functions.hashing import mint_uri_sha256
from kgpipe_spark.functions.strings import normalize_label
from kgpipe_spark.operators.linking import label_dictionary, link_exact
from kgpipe_spark.schemas import (
    KG_NS,
    RDF_TYPE,
    RDFS_LABEL,
    TE_CHAIN,
    TE_PAIR,
    TE_TRIPLE,
    XSD_STRING,
)

ENTITY_LINK_THRESHOLD = 0.5  # construct.py:31
PREDICATE_LINK_THRESHOLD = 0.3  # construct.py:32
JSON_DOC_NS = KG_NS + "json/"  # document subjects: <JSON_DOC_NS><filename stem>
JSON_MINT_NS = "http://example.org/"  # nested objects: <JSON_MINT_NS>sha256(json)


def aggregate_te_documents(*te_docs: DataFrame) -> DataFrame:
    """Merge TE_Documents per doc_id across extractor outputs — concat the
    triples/chains/links arrays (`aggregation.py:18-69`, aggregate*_te_json).
    """
    assert te_docs
    u = te_docs[0]
    for d in te_docs[1:]:
        u = u.unionByName(d)
    return u.groupBy("doc_id").agg(
        F.first("text", ignorenulls=True).alias("text"),
        F.flatten(F.collect_list("triples")).alias("triples"),
        F.flatten(F.collect_list("chains")).alias("chains"),
        F.flatten(F.collect_list("links")).alias("links"),
    )


def filter_te_entity_links(te_docs: DataFrame, uri_map: DataFrame) -> DataFrame:
    """Drop entity links to URIs outside the current KG; rewrite kept ones
    through the alias map. Non-entity links pass through untouched.

    Implements ``filter_ie_doc`` inside ``aggregate_3iejson_with_filter``
    (`/root/reference/src/kgpipe_tasks/transform_interop/aggregation.py:209-241`):
    there the KG URI set + reverse "shade" dict is a driver-loaded JSON;
    here it is ``uri_map(uri, alias)`` — kept entity links must have
    ``mapping ∈ uri_map.uri`` and are rewritten to ``alias``.

    SCALE: posexplode → broadcast/equi join on the mapping → re-aggregate
    with ``array_sort`` on the original position, so link order is
    preserved exactly (the reference filters in list order) and the KG-size
    map is joined, never collected.
    """
    exploded = te_docs.select(
        "doc_id", F.posexplode_outer("links").alias("pos", "l")
    )
    m = uri_map.select(F.col("uri").alias("__uri"), F.col("alias").alias("__alias"))
    joined = exploded.join(m, exploded["l.mapping"] == m["__uri"], "left")
    kept = joined.filter(
        F.col("l").isNull()  # docs with no links survive the outer explode
        | (F.col("l.link_type") != "entity")
        | F.col("__alias").isNotNull()
    ).select(
        "doc_id",
        "pos",
        F.when(
            F.col("l").isNull(), F.lit(None)
        )
        .otherwise(
            F.struct(
                F.col("l.span").alias("span"),
                F.when(
                    (F.col("l.link_type") == "entity") & F.col("__alias").isNotNull(),
                    F.col("__alias"),
                )
                .otherwise(F.col("l.mapping"))
                .alias("mapping"),
                F.col("l.link_type").alias("link_type"),
                F.col("l.score").alias("score"),
            )
        )
        .alias("l"),
    )
    regrouped = kept.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos").alias("p"), F.col("l").alias("l")))
            ),
            lambda s: s["l"],
        ).alias("links")
    )
    # null placeholder from link-less docs → empty array
    regrouped = regrouped.withColumn(
        "links", F.filter(F.col("links"), lambda x: x.isNotNull())
    )
    return te_docs.drop("links").join(regrouped, "doc_id", "left").withColumn(
        "links",
        F.coalesce(F.col("links"), F.array().cast(ArrayType(TE_PAIR))),
    )


def _chain_map(te_docs: DataFrame) -> DataFrame:
    """(doc_id, alias_surface, main_surface) from coref chains."""
    return (
        te_docs.select("doc_id", F.explode("chains").alias("c"))
        .select("doc_id", F.col("c.main").alias("main_surface"), F.explode("c.aliases").alias("a"))
        .select("doc_id", F.col("a.surface_form").alias("alias_surface"), "main_surface")
        .filter(F.col("alias_surface").isNotNull())
        .dropDuplicates(["doc_id", "alias_surface"])
    )


def _link_map(te_docs: DataFrame, link_type: str, threshold: float) -> DataFrame:
    """(doc_id, surface_lc, mapping) for accepted links of one type.

    The reference matches link spans by lowercased surface
    (construct.py:61-105 `lower()`); best link per surface wins
    (max score, deterministic tiebreak).
    """
    links = (
        te_docs.select("doc_id", F.explode("links").alias("l"))
        .filter((F.col("l.link_type") == link_type) & (F.col("l.score") >= threshold))
        .select(
            "doc_id",
            F.lower(F.col("l.span")).alias("surface_lc"),
            F.col("l.mapping").alias("mapping"),
            F.col("l.score").alias("score"),
        )
    )
    w = Window.partitionBy("doc_id", "surface_lc").orderBy(F.desc("score"), F.asc("mapping"))
    return (
        links.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "surface_lc", "mapping")
    )


def te_documents_to_triples(
    te_docs: DataFrame, ontology: DataFrame, mappings_only: bool = False
) -> DataFrame:
    """TE_Documents → triples, accepting entity links at
    ``ENTITY_LINK_THRESHOLD`` and predicate links at
    ``PREDICATE_LINK_THRESHOLD``. ``mappings_only=True`` mirrors
    ``construct_rdf_from_te_json_mappings_only`` (construct.py:300-330):
    only triples whose predicate linked to the ontology are emitted."""
    spark = te_docs.sparkSession

    rows = te_docs.select("doc_id", F.explode("triples").alias("t")).select(
        "doc_id",
        F.col("t.subject.surface_form").alias("subj_surface"),
        F.col("t.predicate.surface_form").alias("pred_surface"),
        F.col("t.object.surface_form").alias("obj_surface"),
    ).filter(F.col("subj_surface").isNotNull() & F.col("pred_surface").isNotNull())

    # 1. coref chains: alias → main
    chains = _chain_map(te_docs)
    for side in ("subj_surface", "obj_surface"):
        c = chains.select(
            "doc_id",
            F.col("alias_surface").alias(side),
            F.col("main_surface").alias(f"__main_{side}"),
        )
        rows = (
            rows.join(c, ["doc_id", side], "left")
            .withColumn(side, F.coalesce(F.col(f"__main_{side}"), F.col(side)))
            .drop(f"__main_{side}")
        )

    # 2. links
    ent_links = _link_map(te_docs, "entity", ENTITY_LINK_THRESHOLD)
    pred_links = _link_map(te_docs, "predicate", PREDICATE_LINK_THRESHOLD)

    for side, out in (("subj_surface", "subj_uri"), ("obj_surface", "obj_mapping")):
        el = ent_links.select(
            "doc_id", F.col("surface_lc"), F.col("mapping").alias(f"__m_{out}")
        )
        rows = (
            rows.withColumn("__lc", F.lower(F.col(side)))
            .join(
                el.withColumnRenamed("surface_lc", "__lc"),
                ["doc_id", "__lc"],
                "left",
            )
            .drop("__lc")
            .withColumnRenamed(f"__m_{out}", out)
        )
    rows = (
        rows.withColumn("__lc", F.lower(F.col("pred_surface")))
        .join(
            pred_links.select(
                "doc_id", F.col("surface_lc").alias("__lc"), F.col("mapping").alias("pred_uri")
            ),
            ["doc_id", "__lc"],
            "left",
        )
        .drop("__lc")
    )

    # 3. resolve URIs / minting
    subj_uri = F.coalesce(F.col("subj_uri"), mint_uri_sha256(normalize_label(F.col("subj_surface"))))
    pred_resolved = F.coalesce(
        F.col("pred_uri"),
        F.concat(
            F.lit(KG_NS + "prop/"),
            F.regexp_replace(normalize_label(F.col("pred_surface")), " ", "_"),
        ),
    )
    resolved = rows.select(
        "doc_id",
        subj_uri.alias("subject"),
        pred_resolved.alias("predicate"),
        F.col("pred_uri").isNotNull().alias("pred_linked"),
        F.col("subj_uri").isNotNull().alias("subj_linked"),
        F.col("subj_surface"),
        F.col("obj_surface"),
        F.col("obj_mapping"),
    )
    if mappings_only:
        resolved = resolved.filter(F.col("pred_linked"))

    onto = F.broadcast(
        ontology.select(
            F.col("uri").alias("predicate"), "domain", "range", "is_object_prop"
        )
    )
    resolved = resolved.join(onto, "predicate", "left")

    # object: linked URI, else object property → minted URI, else typed literal
    is_obj_prop = (F.col("is_object_prop") == "true") | F.col("obj_mapping").isNotNull()
    obj_uri = F.coalesce(F.col("obj_mapping"), mint_uri_sha256(normalize_label(F.col("obj_surface"))))
    literal_dt = F.coalesce(
        F.when(F.col("range").startswith("http://www.w3.org/2001/XMLSchema#"), F.col("range")),
        F.lit(XSD_STRING),
    )
    main = resolved.filter(F.col("obj_surface").isNotNull()).select(
        "subject",
        "predicate",
        F.when(is_obj_prop, obj_uri).otherwise(F.col("obj_surface")).alias("object_lex"),
        F.when(is_obj_prop, F.lit("uri")).otherwise(F.lit("literal")).alias("object_kind"),
        F.when(is_obj_prop, F.lit(None).cast("string")).otherwise(literal_dt).alias(
            "object_datatype"
        ),
    )

    # rdf:type from domain/range (construct.py:166-177)
    types_dom = (
        resolved.filter(F.col("domain").isNotNull())
        .select(
            "subject",
            F.lit(RDF_TYPE).alias("predicate"),
            F.col("domain").alias("object_lex"),
            F.lit("uri").alias("object_kind"),
            F.lit(None).cast("string").alias("object_datatype"),
        )
    )
    types_rng = (
        resolved.filter(
            F.col("range").isNotNull()
            & ~F.col("range").startswith("http://www.w3.org/2001/XMLSchema#")
            & F.col("obj_surface").isNotNull()
        )
        .select(
            obj_uri.alias("subject"),
            F.lit(RDF_TYPE).alias("predicate"),
            F.col("range").alias("object_lex"),
            F.lit("uri").alias("object_kind"),
            F.lit(None).cast("string").alias("object_datatype"),
        )
    )

    # rdfs:label for minted entities (construct.py label union)
    subj_labels = (
        resolved.filter(~F.col("subj_linked"))
        .select(
            F.col("subject"),
            F.lit(RDFS_LABEL).alias("predicate"),
            F.col("subj_surface").alias("object_lex"),
            F.lit("literal").alias("object_kind"),
            F.lit(XSD_STRING).alias("object_datatype"),
        )
    )
    obj_labels = (
        resolved.filter(
            is_obj_prop & F.col("obj_mapping").isNull() & F.col("obj_surface").isNotNull()
        )
        .select(
            obj_uri.alias("subject"),
            F.lit(RDFS_LABEL).alias("predicate"),
            F.col("obj_surface").alias("object_lex"),
            F.lit("literal").alias("object_kind"),
            F.lit(XSD_STRING).alias("object_datatype"),
        )
    )

    return (
        main.unionByName(types_dom)
        .unionByName(types_rng)
        .unionByName(subj_labels)
        .unionByName(obj_labels)
        .dropDuplicates(["subject", "predicate", "object_lex", "object_kind"])
    )


# ---------------------------------------------------------------------------
# JSON → TE_Document producer (the missing half of the TE loop)
# ---------------------------------------------------------------------------


def construct_te_document_from_json(corpus: DataFrame) -> DataFrame:
    """JSON-lang blobs → TE_Documents.

    Mirrors ``construct_te_document_from_json`` /
    ``__extract_data_filenameUri``
    (`/root/reference/src/kgpipe_tasks/construction/json_processing.py:74-127,
    303-310`): the document subject is ``<JSON_DOC_NS><filename-stem>``,
    nested dicts mint
    ``<JSON_MINT_NS>sha256(json.dumps(obj, sort_keys=True))``, lists recurse
    with the parent key, primitives attach to the parent subject.
    Span fields follow json_processing.py:84-100: http-prefixed surfaces get
    ``mapping``, others get ``text``; start=0, end=len(surface).

    Arrow-batched pandas UDF (one Python pass per blob, no per-row UDF).
    """
    import hashlib
    import json

    import pandas as pd

    def _subject(data) -> str:
        payload = json.dumps(data, sort_keys=True)
        return JSON_MINT_NS + hashlib.sha256(payload.encode()).hexdigest()

    def _extract(data, parent_key, parent_subject, out):
        if isinstance(data, dict):
            subject = _subject(data)
            if parent_subject:
                out.append((parent_subject, parent_key, subject))
            for key, value in data.items():
                _extract(value, key, subject, out)
        elif isinstance(data, list):
            for item in data:
                _extract(item, parent_key, parent_subject, out)
        else:
            out.append((parent_subject, parent_key, data))

    def _span(v) -> dict:
        s = str(v)
        http = s.startswith("http")
        return {
            "start": 0,
            "end": len(s),
            "surface_form": s,
            "text": None if http else s,
            "mapping": s if http else None,
        }

    def _extract_te(doc_ids, contents):
        results = []
        for doc_id, content in zip(doc_ids, contents):
            triplets: list = []
            try:
                obj = json.loads(content)
                if isinstance(obj, dict):
                    # top level: keys attach to the filename URI directly
                    for key, value in obj.items():
                        _extract(value, key, JSON_DOC_NS + doc_id, triplets)
                elif isinstance(obj, list):
                    _extract(obj, None, JSON_DOC_NS + doc_id, triplets)
            except (ValueError, TypeError):
                pass
            results.append(
                [
                    {"subject": _span(s), "predicate": _span(p), "object": _span(o)}
                    for s, p, o in triplets
                ]
            )
        return pd.Series(results)

    extract_te = F.pandas_udf(_extract_te, ArrayType(TE_TRIPLE))  # type: ignore[call-overload]

    # basename up to the FIRST dot — the reference keys docs by
    # filename.split('.')[0] (json_processing.py:76), so 'foo.bar.json' →
    # 'foo', not 'foo.bar'; expected-link tables join on that id.
    stem = F.regexp_extract(
        F.element_at(F.split(F.col("path"), "/"), -1), r"^([^.]*)", 1
    )
    return (
        corpus.filter(F.col("lang") == "json")
        .select(stem.alias("doc_id"), F.col("content"))
        .select(
            "doc_id",
            F.lit("").alias("text"),
            extract_te(F.col("doc_id"), F.col("content")).alias("triples"),
            F.array().cast(ArrayType(TE_CHAIN)).alias("chains"),
            F.array().cast(ArrayType(TE_PAIR)).alias("links"),
        )
    )


# ---------------------------------------------------------------------------
# relation linker over predicate surfaces (label + alias embedding)
# ---------------------------------------------------------------------------


def surface_triples_to_te_documents(surfaces: DataFrame) -> DataFrame:
    """OpenIE-style surface triples → TE_Documents, one per source file.

    Native replacement for ``corenlp_exchange``
    (`/root/reference/src/kgpipe_tasks/text_processing/text_extraction/corenlp_extraction.py:65`):
    the reference converts CoreNLP's OpenIE output files into TE JSON docs;
    here the extractor's (repo, path, commit, subj/pred/obj surface) rows are
    regrouped into (doc_id, text, triples, chains, links) with empty chains
    and links. doc_id = basename(path) up to the FIRST dot, matching the
    reference's filename.split('.')[0] keying.

    SCALE: one groupBy on doc_id (the natural partition key downstream);
    array order inside a doc is irrelevant — every consumer explodes.
    """
    stem = F.regexp_extract(
        F.element_at(F.split(F.col("path"), "/"), -1), r"^([^.]*)", 1
    )

    def span(col):
        return F.struct(
            F.lit(None).cast("int").alias("start"),
            F.lit(None).cast("int").alias("end"),
            col.alias("surface_form"),
            col.alias("text"),
            F.lit(None).cast("string").alias("mapping"),
        )

    rows = surfaces.select(
        stem.alias("doc_id"),
        F.struct(
            span(F.col("subj_surface")).alias("subject"),
            span(F.col("pred_surface")).alias("predicate"),
            span(F.col("obj_surface")).alias("object"),
        ).alias("t"),
    )
    return rows.groupBy("doc_id").agg(F.collect_list("t").alias("triples")).select(
        "doc_id",
        F.lit("").alias("text"),
        "triples",
        F.array().cast(ArrayType(TE_CHAIN)).alias("chains"),
        F.array().cast(ArrayType(TE_PAIR)).alias("links"),
    )


def _entity_surfaces(te_docs: DataFrame) -> DataFrame:
    """(doc_id, span): distinct subject/object surfaces per document."""
    return (
        te_docs.select("doc_id", F.explode("triples").alias("t"))
        .select(
            "doc_id",
            F.explode(
                F.array(F.col("t.subject.surface_form"), F.col("t.object.surface_form"))
            ).alias("span"),
        )
        .filter(F.col("span").isNotNull())
        .distinct()
    )


def _append_links(te_docs: DataFrame, links: DataFrame, link_type: str) -> DataFrame:
    """Append (doc_id, span, mapping, score) rows to te_docs.links as
    TE_Pairs of ``link_type``; documents without new links keep theirs."""
    doc_links = links.groupBy("doc_id").agg(
        F.collect_list(
            F.struct("span", "mapping", F.lit(link_type).alias("link_type"), "score")
        ).alias("_new_links")
    )
    return (
        te_docs.join(doc_links, "doc_id", "left")
        .withColumn(
            "links",
            F.concat(
                F.coalesce(F.col("links"), F.array()),
                F.coalesce(F.col("_new_links"), F.array().cast(ArrayType(TE_PAIR))),
            ),
        )
        .drop("_new_links")
    )


def link_te_entities_dictionary(te_docs: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Append entity links for triple surfaces whose NORMALIZED form exactly
    matches a dictionary label.

    Native replacement for the ``dbpedia_spotlight_ner_nel`` +
    ``dbpedia_spotlight_exchange`` stages
    (`/root/reference/src/kgpipe_tasks/text_processing/entity_linking/spotlight_entity_linking.py:51,143`,
    pipeline.conf:103-104): spotlight's surface→DBpedia-URI annotations
    become exact-label hits against a KG label dictionary
    (``label_dictionary(kg)`` → (uri, label, norm_label)). This is
    ``linking.link_exact`` over the surfaces: ambiguous labels resolve to
    the min URI and hits carry its score 1.0.

    SCALE: distinct surfaces per doc → broadcast join on the (small)
    dictionary → per-doc re-aggregation; no driver collect.
    """
    hits = link_exact(
        _entity_surfaces(te_docs).withColumnRenamed("span", "query_text"), dictionary
    ).filter(F.col("mapping").isNotNull())
    return _append_links(
        te_docs, hits.withColumnRenamed("query_text", "span"), "entity"
    )


def _top1(mentions: DataFrame, targets: DataFrame) -> DataFrame:
    """Exact-cosine top-1 of each mention (id, text) against a small target
    side (id, text) → (span, mapping, score): a window over
    ``cosine_all_pairs``, ties to the min target id.

    All pairs sharing a hash bin are scored, so the argmax is complete; the
    target side must be dictionary/ontology-sized, since its binned vectors
    are broadcast. ``_sql_cosine_binpairs`` replays this pair set in SQL.
    """
    w = Window.partitionBy("lid").orderBy(F.desc("cos"), F.asc("rid"))
    return (
        cosine_all_pairs(mentions, targets)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("lid").alias("span"), F.col("rid").alias("mapping"), F.col("cos").alias("score")
        )
    )


def label_alias_embedding_el(te_docs: DataFrame, kg: DataFrame) -> DataFrame:
    """Link every distinct subject/object surface to its best KG entity by
    embedding cosine over rdfs:label texts and append the matches as
    ``link_type='entity'`` TE_Pairs carrying the raw cosine score.

    Mirrors ``AliasAndLabelBasedEntityLinker`` / ``label_alias_embedding_el``
    (`/root/reference/src/kgpipe_tasks/text_processing/entity_linking/entity_linker.py:25-103`):
    the reference embeds ALL target-KG label strings, takes the full
    cosine-matrix argmax per extracted surface, and links every surface —
    thresholding happens downstream at TE finalization
    (``te_documents_to_triples`` at ``ENTITY_LINK_THRESHOLD``). Here the
    matrix argmax is ``_top1`` over the label dictionary — JVM-side, no
    driver collect, no job until the result is used.
    """
    surfaces = _entity_surfaces(te_docs)
    targets = (
        label_dictionary(kg, include_alt=False)
        .groupBy(F.col("norm_label").alias("text"))
        .agg(F.min("uri").alias("id"))
        .select("id", "text")
    )
    mentions = surfaces.select(F.col("span").alias("id")).distinct().withColumn(
        "text", normalize_label(F.col("id"))
    )
    best = _top1(mentions, targets)
    return _append_links(te_docs, surfaces.join(F.broadcast(best), "span"), "entity")


def label_alias_embedding_rl(te_docs: DataFrame, ontology: DataFrame) -> DataFrame:
    """Link each distinct predicate surface to its best ontology property and
    append the matches as ``link_type='predicate'`` TE_Pairs.

    Mirrors ``AliasAndTransformerBasedRelationLinker`` /
    ``label_alias_embedding_rl``
    (`/root/reference/src/kgpipe_tasks/text_processing/relation_match.py:35-134`):
    property text = ``label: <norm label>; altLabels: <norm aliases>``,
    cosine top-1 per extracted relation surface (every top-1 is linked, as in
    the reference — thresholding happens downstream at TE finalization).
    Embeddings are the engine-symmetric hashed-gram cosine (``_top1``) —
    JVM-side, no driver collect, no job until the result is used.
    """
    surfaces = (
        te_docs.select("doc_id", F.explode("triples").alias("t"))
        .select("doc_id", F.col("t.predicate.surface_form").alias("span"))
        .filter(F.col("span").isNotNull())
        .distinct()
    )
    prop_text = F.concat(
        F.lit("label: "),
        normalize_label(F.col("label")),
        F.lit("; altLabels: "),
        F.array_join(
            F.transform(F.coalesce(F.col("aliases"), F.array()), normalize_label),
            ", ",
        ),
    )
    props = ontology.select(F.col("uri").alias("id"), prop_text.alias("text"))
    mentions = surfaces.select(F.col("span").alias("id")).distinct().withColumn(
        "text", normalize_label(F.col("id"))
    )
    best = _top1(mentions, props)
    return _append_links(te_docs, surfaces.join(F.broadcast(best), "span"), "predicate")
