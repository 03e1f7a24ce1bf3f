"""Flagship end-to-end pipeline (SURVEY.md §3.4 `json_b`/`text_b` shape):

    corpus → extract (per-lang) → link (broadcast dict) → canonicalize (CC)
           → fuse (first-value vs seed) → type-complete → triples

Fully native — zero external tools — mirroring the reference pipelines
`json_b` (`/root/reference/experiments/moviekg/pipeline.conf:73`:
construct_linkedrdf_from_json_v3 → select_first_value → type_inference) and
`text_b` (pipeline.conf:112) over the source-code corpus of
BASELINE.json input_hint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgpipe_spark.operators.cluster import canonical_map, connected_components
from kgpipe_spark.operators.extract import (
    extract_code_triples,
    extract_json_triples,
    extract_text_surface_triples,
    mentions_from_triples,
    salted_repartition,
)
from kgpipe_spark.operators.fusion import canonicalize_triples, fuse_first_value
from kgpipe_spark.operators.linking import (
    label_dictionary,
    link_exact,
    link_or_mint,
)
from kgpipe_spark.operators.transform import remove_empty_literals, type_inference_branches
from kgpipe_spark.functions.strings import normalize_label
from kgpipe_spark.schemas import KG_NS, RDF_TYPE, RDFS_LABEL, TRIPLE_COLS, XSD_STRING


def _stage_cut(df: DataFrame) -> DataFrame:
    """Cut the logical plan at a flagship stage boundary.

    The cut is mandatory: each downstream stage references its input 2-3x,
    so with lineage intact the final plan tree multiplies to ~14 MB of plan
    text whose Catalyst/AQE analysis stalls the DRIVER ~20-30 s per run
    independent of data size (measured via event-log gap analysis).

    ``localCheckpoint(eager=False)`` replaces the plan with a LogicalRDD
    leaf at once, so downstream analysis stays cheap, and defers writing
    the data to the first downstream action. It is not barrier-free: under
    AQE an input that ends in a shuffle runs one job at the cut (its
    shuffle-map stage); a narrow input, or AQE off, runs none.

    The stages also cut their multi-consumer intermediates (the text-link
    table, the link map, the composed rewrite map) this way instead of
    ``persist()``: a cut registers nothing with the session's cache
    manager, so a long-lived session does not pile up cached plans, and
    its blocks are released with the RDD once nothing references it.
    """
    return df.localCheckpoint(eager=False)


def text_surface_to_triples(surfaces: DataFrame, dictionary: DataFrame) -> DataFrame:
    """TE surface triples → linked RDF triples (construct.py:39-178 shape):
    link subject/object surfaces against the dictionary, mint newE URIs for
    misses, map predicate surfaces to ontology-ish code predicates."""
    subj_m = surfaces.select(F.col("subj_surface").alias("query_text")).distinct()
    obj_m = surfaces.select(F.col("obj_surface").alias("query_text")).distinct()
    mentions = subj_m.union(obj_m).distinct().withColumn("kind", F.lit("entity")).withColumn(
        "doc_uri", F.lit(None).cast("string")
    )
    # cut: lk is consumed three times (subject join, object join,
    # minted-label emission) — without this the distinct+link recomputes 3×
    linked = _stage_cut(link_or_mint(link_exact(mentions, dictionary)))
    lk = linked.select("query_text", "resolved_uri")

    with_subj = surfaces.join(
        lk.withColumnRenamed("query_text", "subj_surface").withColumnRenamed(
            "resolved_uri", "subj_uri"
        ),
        "subj_surface",
    )
    with_obj = with_subj.join(
        lk.withColumnRenamed("query_text", "obj_surface").withColumnRenamed(
            "resolved_uri", "obj_uri"
        ),
        "obj_surface",
    )
    rel = (
        with_obj.select(
            F.col("subj_uri").alias("subject"),
            F.concat(
                F.lit(KG_NS + "prop/"),
                F.regexp_replace(normalize_label(F.col("pred_surface")), " ", "_"),
            ).alias("predicate"),
            F.col("obj_uri").alias("object_lex"),
            F.lit("uri").alias("object_kind"),
            F.lit(None).cast("string").alias("object_datatype"),
            F.col("repo").alias("prov_repo"),
            F.col("path").alias("prov_path"),
            F.col("commit").alias("prov_commit"),
        )
    )
    # label triples for minted entities (construct.py unions label rows in)
    minted_labels = (
        linked.filter(F.col("mapping").isNull())
        .select(
            F.col("resolved_uri").alias("subject"),
            F.lit(RDFS_LABEL).alias("predicate"),
            F.col("query_text").alias("object_lex"),
            F.lit("literal").alias("object_kind"),
            F.lit(XSD_STRING).alias("object_datatype"),
            F.lit(None).cast("string").alias("prov_repo"),
            F.lit(None).cast("string").alias("prov_path"),
            F.lit(None).cast("string").alias("prov_commit"),
        )
        .distinct()
    )
    return rel.unionByName(minted_labels)


def link_entities(triples: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Entity-link extracted entities by their labels; rewrite subjects and
    URI objects to the linked URI. Decomposed linking (SURVEY.md §2.4):
    mentions → exact broadcast dict join → link-or-keep → rewrite joins."""
    return canonicalize_triples(triples, link_map(triples, dictionary))


def link_map(triples: DataFrame, dictionary: DataFrame) -> DataFrame:
    """(entity, canonical) rewrite map from exact-label linking (no rewrite)."""
    mentions = mentions_from_triples(triples)
    linked = link_exact(mentions, dictionary)
    return (
        linked.filter(F.col("mapping").isNotNull())
        .select(F.col("doc_uri").alias("entity"), F.col("mapping").alias("canonical"))
        .filter(F.col("entity") != F.col("canonical"))
        # deterministic: an entity with several labels resolving to different
        # URIs keeps the min canonical (dropDuplicates keeps an arbitrary row)
        .groupBy("entity")
        .agg(F.min("canonical").alias("canonical"))
    )


def compose_maps(first: DataFrame, second: DataFrame) -> DataFrame:
    """Compose two rewrite maps: result(x) = second(first(x) or x) or first(x).

    Both maps are alias-sized (small); the composition is two small joins so
    the expensive full-KG rewrite happens exactly once downstream.
    """
    f = first.select("entity", F.col("canonical").alias("c1"))
    s = second.select(F.col("entity").alias("c1"), F.col("canonical").alias("c2"))
    via = f.join(s, "c1", "left").select(
        "entity", F.coalesce(F.col("c2"), F.col("c1")).alias("canonical")
    )
    rest = second.join(first.select("entity"), "entity", "left_anti").select(
        "entity", "canonical"
    )
    return via.unionByName(rest).filter(F.col("entity") != F.col("canonical"))


# calibrated on this sandbox: 200k-row corpora need ≥48 extraction partitions
# for the dedupe partial-agg to stay in memory → ≤ ~4.2k rows/partition
_ROWS_PER_MAP_PARTITION = 4000


def _stage_extract(spark: SparkSession, corpus: DataFrame, seed: DataFrame) -> DataFrame:
    """Stage 1: corpus → deduplicated extracted triples (unpersisted)."""
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # map-partition count is sized by DATA (corpus rows), not by cores: the
    # extraction stage ends in the dedupe's partial hash-aggregation, whose
    # per-task hash map must fit in (execution memory / concurrent tasks).
    # With core-count partitions the map grows ~2M string entries and SPILLS
    # at high parallelism while fitting at low — measured NEGATIVE shuffle
    # scaling (80s@2cores vs 58s@8). ~4k corpus rows (~100k extracted
    # triples) per partition keeps each map bounded at ANY cluster size,
    # while a small corpus no longer fans out into hundreds of tiny
    # pandas-UDF tasks (measured 6.5s→1.2s at 15k rows, 128→32 parts).
    # Plan-statistics sizing is NOT usable here: join-output estimates run
    # ~140× high and range-expression estimates ~100× low; one cheap
    # aggregation job on the (parquet-backed) corpus is exact — and the same
    # job's per-lang counts let us skip extractor branches for absent langs
    # (each unbuilt branch saves serial driver-side Catalyst analysis of its
    # plan tree — measured 2.9s for the text-link branch alone — plus its
    # per-task overhead at run time).
    lang_counts = {r["lang"]: r["n"] for r in corpus.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_rows = sum(lang_counts.values())
    map_parts = max(
        spark.sparkContext.defaultParallelism, npart, -(-n_rows // _ROWS_PER_MAP_PARTITION)
    )
    corpus = salted_repartition(corpus, map_parts)

    dictionary = label_dictionary(seed)

    branches = []
    if lang_counts.get("json"):
        branches.append(extract_json_triples(corpus))
    if lang_counts.get("python"):
        branches.append(extract_code_triples(corpus))
    if lang_counts.get("text"):
        branches.append(
            text_surface_to_triples(extract_text_surface_triples(corpus), dictionary)
        )
    if not branches:  # empty corpus → empty triples with the right schema
        branches = [extract_json_triples(corpus)]
    extracted = branches[0]
    for b in branches[1:]:
        extracted = extracted.unionByName(b)
    # early set-semantics dedupe: rdflib graphs dedupe on add (the reference's
    # implicit behavior) and repeated nested entities (same md5 URI across
    # blobs) collapse 3×+ here — every downstream shuffle gets that much
    # lighter; dropDuplicates does map-side partial dedupe before the shuffle.
    # Project to the 5 triple columns FIRST: nothing downstream of the
    # flagship reads provenance (fuse selects TRIPLE_COLS), so carrying the
    # repo/path/commit strings through the dedupe exchange and every later
    # shuffle is pure wasted bytes (guide §2.3), and keeping them made the
    # dedupe a first()-of-strings SortAggregate. Deduping on ALL five columns
    # is a pure-grouping HashAggregate (no sort); it is equivalent to the
    # 4-col dedupe because object_datatype is functionally determined by
    # (subject, predicate, object_lex, object_kind) here — subjects are
    # content-hash minted, so identical (s,p,o,kind) rows come from identical
    # blobs parsed deterministically (driver-oracle-verified).
    return (
        remove_empty_literals(extracted)
        .select(*TRIPLE_COLS)
        .dropDuplicates()
    )


def _stage_link_canonicalize(
    spark: SparkSession, extracted: DataFrame, seed: DataFrame
) -> DataFrame:
    """Stage 2: extracted triples → canonicalized triples (link + CC rewrite)."""
    dictionary = label_dictionary(seed)
    # entity linking: map extracted entities onto seed URIs by label — the
    # map only (the expensive full-KG rewrite is deferred and fused with the
    # CC rewrite below into a single pass)
    # alias-sized map, two consumers (label rewrite, composition): a lazy
    # cut, so no materialization job barrier on the cold path and nothing
    # left in the session's cache afterwards
    lmap = _stage_cut(link_map(extracted, dictionary))

    # canonicalization: same-label entities (post-linking) → connected
    # components, computed on the label rows only (a small projection of the
    # KG), never on the full triple set
    components = connected_components(same_label_edges(extracted, lmap))
    canon = canonical_map(components, prefer_namespace=KG_NS + "person/")

    # ONE rewrite pass over the full KG with the composed link∘CC map
    composed = _stage_cut(compose_maps(lmap, canon))
    return canonicalize_triples(extracted, composed)


def same_label_edges(extracted: DataFrame, lmap: DataFrame) -> DataFrame:
    """(src, dst) star edges joining entities that share a normalized label
    after linking: every member of a same-label group connects to the
    group's min subject.

    Connectivity (hence the components) equals that of the pairwise
    self-join, but the edge count is LINEAR in group size — a hot label
    ("readme", "main") with 100k members yields 100k-1 edges instead of
    ~5e9 pairs. No frequency cap needed.
    """
    from pyspark.sql.window import Window

    # repartition by norm BEFORE the distinct: HashPartitioning(norm)
    # satisfies the clustering of both the (subject, norm) distinct and the
    # per-norm window below, so the whole edge build costs ONE exchange
    # (guide §2.4). norm.isNotNull(): null-normalized labels form no edges,
    # and the window would group the nulls together
    label_pairs = (
        canonicalize_triples(
            extracted.filter(F.col("predicate") == RDFS_LABEL), lmap
        )
        .select("subject", normalize_label(F.col("object_lex")).alias("norm"))
        .filter(F.col("norm").isNotNull())
        .repartition("norm")
        .distinct()
    )
    return (
        label_pairs.withColumn(
            "src", F.min("subject").over(Window.partitionBy("norm"))
        )
        .filter(F.col("subject") != F.col("src"))
        .select("src", F.col("subject").alias("dst"))
    )


def default_flagship_ontology(spark: SparkSession, seed: DataFrame) -> DataFrame:
    """Ontology for fusion + type completion: DERIVED from the seed KG's own
    rdfs:domain/range/owl:maxCardinality declarations via
    ``extract_ontology_from_rdf`` (transform.py), so the flagship follows
    whatever schema the target KG declares. Seeds that declare nothing (the
    demo corpus) fall back to the built-in movie/code property table — the
    flagship is parameterized, not schema-bound."""
    from kgpipe_spark.operators.transform import extract_ontology_from_rdf

    # cheap declaration probe FIRST (one pushed-down filter + limit-1 scan);
    # only build the 5-way derived-ontology join when declarations exist —
    # probing via extract_ontology_from_rdf(...).isEmpty() would run the
    # whole join once per flagship call
    RDFS = "http://www.w3.org/2000/01/rdf-schema#"
    has_decls = not seed.filter(
        F.col("predicate").isin(RDFS + "domain", RDFS + "range")
    ).isEmpty()
    if has_decls:
        return extract_ontology_from_rdf(seed)
    return spark.createDataFrame(
        [
            (KG_NS + "prop/director", "director", None, KG_NS + "onto/EXCDocument", KG_NS + "onto/Person", "true", 1),
            (KG_NS + "prop/starring", "starring", None, KG_NS + "onto/EXCDocument", None, "true", None),
            (KG_NS + "prop/directed_by", "directed by", None, None, KG_NS + "onto/Person", "true", 1),
            (KG_NS + "prop/stars", "stars", None, None, KG_NS + "onto/Person", "true", None),
            (KG_NS + "code/imports", "imports", None, KG_NS + "onto/SourceFile", None, "false", None),
        ],
        "uri string, label string, aliases array<string>, domain string, range string, is_object_prop string, max_cardinality int",
    )


def _complete_with_types(fused: DataFrame, ontology: DataFrame) -> DataFrame:
    """Type-complete a ``fuse_first_value`` output: fused ∪ inferred types
    not already present.

    ``fused`` is (s,p,o,kind)-unique by fuse_first_value construction
    (seed_d / first_vals / new_rest are each grouped on that key and
    mutually disjoint), so the former
    ``fused.filter(≠type) ∪ dedup(existing_types ∪ inferred)`` equals
    tagging existing(1)/inferred-raw(2), keeping ``min(tag)==2`` groups
    from ONE groupBy over the 5 triple columns, and unioning them onto the
    UNSPLIT fused KG (the same tag-and-group shape as the fact_alignment
    rewrite). Honest plan accounting: the exchange count is unchanged —
    RemoveRedundantAggregates already collapsed the inference's internal
    dedupe into the type-subset dedupe — the gains are that the full KG no
    longer pays a ≠type filter re-evaluation on its union branch, the
    aggregate emits only the genuinely-new type rows instead of the whole
    type subset, and the single-exchange shape is now explicit in code
    instead of depending on an optimizer rule. (A broadcast-anti-join form
    measured ~0.5 s faster at sf1.0 locally but only because the type
    subset broadcasts; past the broadcast threshold it plans 3 exchanges
    vs this form's 1 — rejected as a local-only win.) groupBy treats nulls
    as equal exactly like dropDuplicates did (rdf:type rows carry a null
    object_datatype). Verified row-identical to the dedupe form, including
    a forced existing∩inferred overlap (tests/test_pipeline.py).
    """
    inferred = type_inference_branches(fused, ontology)
    existing = fused.filter(F.col("predicate") == RDF_TYPE)
    new_types = (
        existing.withColumn("_t", F.lit(1))
        .unionByName(inferred.withColumn("_t", F.lit(2)))
        .groupBy(*TRIPLE_COLS)
        .agg(F.min("_t").alias("_m"))
        .filter(F.col("_m") == 2)
        .select(*TRIPLE_COLS)
    )
    return fused.unionByName(new_types)


def _stage_fuse_complete(
    spark: SparkSession,
    canonical: DataFrame,
    seed: DataFrame,
    ontology: DataFrame | None = None,
) -> DataFrame:
    """Stage 3: canonicalized triples → fused + type-completed KG."""
    if ontology is None:
        ontology = default_flagship_ontology(spark, seed)

    # plan cut (not persist): three downstream references (full-KG union,
    # existing types, type inference) would otherwise each carry the full
    # fuse plan — see _stage_cut
    fused = _stage_cut(
        fuse_first_value(
            seed.select(*TRIPLE_COLS),
            canonical.select(*TRIPLE_COLS),
            fusable=_fusable(spark, ontology),
        )
    )
    # type completion touches only rdf:type rows; tag-and-group form —
    # equivalence + plan accounting in _complete_with_types
    return _complete_with_types(fused, ontology)


def run_flagship(
    spark: SparkSession,
    corpus: DataFrame,
    seed: DataFrame,
    ontology: DataFrame | None = None,
) -> DataFrame:
    """Full extract→link→canonicalize→fuse→complete over a corpus DataFrame.

    ``ontology`` (uri, label, aliases, domain, range, is_object_prop,
    max_cardinality) drives fusion predicates + type completion; default =
    the seed's own declarations (``default_flagship_ontology``).
    Returns the fused triples table (with the seed folded in).
    """
    # stage boundary: extraction feeds three downstream consumers (linking,
    # CC edge building, canonicalize rewrite joins). The plan cut is
    # mandatory (see _stage_cut). (On a cluster this boundary is the
    # per-stage Iceberg snapshot; see run_flagship_checkpointed.)
    extracted = _stage_cut(_stage_extract(spark, corpus, seed))
    canonical = _stage_link_canonicalize(spark, extracted, seed)
    return _stage_fuse_complete(spark, canonical, seed, ontology)


def run_flagship_checkpointed(
    spark: SparkSession,
    corpus: DataFrame,
    seed: DataFrame,
    checkpoint_dir: str,
    input_fingerprint: str = "corpus",
):
    """Flagship run, with the default flagship ontology, through the
    content-addressed checkpointed ``plans.pipeline.Pipeline``.

    Each stage snapshots to ``{checkpoint_dir}/stage-{chain_hash}.parquet``
    and logs (rows, partitions, duration) to ``manifest.json`` — the north
    rule's per-partition lineage + metrics. A rerun with the same
    (input_fingerprint, stage list) resumes after the last completed stage;
    editing a stage (the wired ``_stage_*`` helper source participates in
    the chain key via ``code_token``) invalidates it and everything
    downstream. Pass ``input_fingerprint=fingerprint_parquet_dir(path)`` so
    changed data at the same path also invalidates — the default "corpus"
    constant only dedupes within one process.
    Returns (completed_triples, report_rows).
    """
    from kgpipe_spark.plans.pipeline import Pipeline, Stage, code_token

    stages = [
        Stage(
            "extract",
            lambda df: _stage_extract(spark, df, seed),
            config={"code": code_token(_stage_extract)},
        ),
        Stage(
            "link_canonicalize",
            lambda df: _stage_link_canonicalize(spark, df, seed),
            config={"code": code_token(_stage_link_canonicalize, same_label_edges)},
        ),
        Stage(
            "fuse_complete",
            lambda df: _stage_fuse_complete(spark, df, seed),
            config={"code": code_token(_stage_fuse_complete)},
        ),
    ]
    pipe = Pipeline(spark, stages, checkpoint_dir=checkpoint_dir)
    out = pipe.run(corpus, input_fingerprint=input_fingerprint)
    return out, pipe.report


def align_kg_increment(
    spark: SparkSession,
    kg: DataFrame,
    src_triples: DataFrame,
    fusable: DataFrame,
    ontology: DataFrame,
) -> DataFrame:
    """One incremental-MSP stage: align a source KG against the ACCUMULATED
    KG and fuse it in.

    Mirrors the stage body of the reference's incremental loop
    (`/root/reference/experiments/moviekg/src/moviekg/pipelines/helpers.py:50-90`:
    stage 1 targets the seed, stage N targets stage N-1's result.nt):
    paris-style blocked matching → exchange (top-1 target per source
    entity) → canonicalize the source → first-value fusion with
    accumulated-KG priority → simple type inference re-run.

    SCALE: matching is token-blocked with a hot-block cap; the rewrite map
    is broadcast; fusion is the one-KG-pass tail — per-stage cost is
    O(source) plus one pass over the accumulated KG.
    """
    from pyspark.sql.window import Window

    from kgpipe_spark.operators.matching import blocked_entity_matching

    # the source KG feeds ~6 consumers below (token sets, sizes, neighbor
    # sets, canonicalize, both fusion branches): localCheckpoint once so an
    # expression-tree source (e.g. a pandas-UDF extraction) is not
    # re-evaluated per consumer (and the blocks are ContextCleaner-freed
    # after the query, unlike persist in the long-lived gate session)
    src_triples = src_triples.localCheckpoint()
    matches = blocked_entity_matching(kg, src_triples, threshold=0.5, neighbor_boost=0.1)
    w = Window.partitionBy("id_2").orderBy(F.desc("score"), F.asc("id_1"))
    mmap = (
        matches.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("id_2").alias("entity"), F.col("id_1").alias("canonical"))
    )
    canon2 = canonicalize_triples(src_triples, mmap)
    # fused feeds three consumers (full-KG union, type filter, inference
    # join) — localCheckpoint so the fusion isn't recomputed per branch
    fused = fuse_first_value(kg, canon2, fusable).localCheckpoint()
    # tag-and-group type completion — equivalence + plan accounting in
    # _complete_with_types
    return _complete_with_types(fused, ontology)


def run_incremental_msp(
    spark: SparkSession,
    seed: DataFrame,
    stages: list,
    ontology: DataFrame,
    checkpoint_dir: str | None = None,
    input_fingerprint: str = "sources",
):
    """The reference's 3-split incremental MSP loop
    (`test_inc_msp.py:17-33`): stage N aligns source N into the KG produced
    by stage N-1 (stage 1 into the seed).

    ``stages``: list of ``(name, src_fn, fusable)`` where ``src_fn(kg)``
    returns the stage's source triples given the CURRENT accumulated KG
    (text stages use it for the NER/NEL dictionary — later sources can link
    to entities earlier stages introduced).

    With ``checkpoint_dir`` each stage snapshots through the
    content-addressed Pipeline driver (resume skips completed stages);
    without it, lineage is cut per stage with ``localCheckpoint`` so the
    composed plan stays linear in stage count. Returns (kg, report).
    """
    from kgpipe_spark.plans.pipeline import Pipeline, Stage, code_token

    def make_fn(src_fn, fusable):
        def fn(df):
            out = align_kg_increment(spark, df, src_fn(df), fusable, ontology)
            return out if checkpoint_dir else out.localCheckpoint()

        return fn

    stage_objs = [
        Stage(
            name,
            make_fn(src_fn, fusable),
            config={"code": code_token(align_kg_increment, src_fn)},
        )
        for name, src_fn, fusable in stages
    ]
    pipe = Pipeline(spark, stage_objs, checkpoint_dir=checkpoint_dir)
    out = pipe.run(seed, input_fingerprint=input_fingerprint)
    return out, pipe.report


def _fusable(spark: SparkSession, ontology: DataFrame) -> DataFrame:
    from kgpipe_spark.operators.fusion import fusable_predicates

    return fusable_predicates(ontology)
