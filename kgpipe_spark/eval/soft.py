"""Soft (embedding) evaluation metrics — SURVEY.md §2.9.

Reimplements the reference's embedding-based acceptance math:

 - ``soft_label_matches`` / ``soft_entity_mapping`` mirror
   ``graph_match_labels_soft``
   (`/root/reference/src/kgpipe/evaluation/aspects/func/soft_metrics.py:47-85`):
   best-cosine entity mapping actual→expected over cleaned rdfs:labels,
   accepted above a threshold (0.95).
 - ``fact_alignment_soft_entities`` mirrors
   ``graph_fact_alginment_soft_entities`` (`soft_metrics.py:87-101`, SoftE):
   rewrite actual subjects/objects through the mapping, then exact alignment.
 - ``fact_alignment_soft_values`` mirrors
   ``graph_fact_alginment_soft_entities_values`` (`soft_metrics.py:104-205`,
   SoftEV): additionally replace URI objects by their labels and compare
   values per (s, p) group by best cosine.
 - ``source_entity_coverage`` / ``source_entity_coverage_fuzzy`` /
   ``source_entity_precision_fuzzy`` mirror ``evaluate_source_entity_*``
   (`integration_eval.py:119-250`).

Both soft P/R/F1 rows end in ``alignment.prf_from_counts`` (SoftE counts
with ``alignment.set_counts``), so empty inputs give 0 and 0.0, not nulls.

Engine-symmetric embedding design (the point of this module): instead of
float32 numpy vectors behind a pandas UDF
(``functions.embedders.HashedGramEmbedder``), metrics use a *sparse
integer* representation computed entirely JVM-side —
char-3-grams → md5 → signed 64-bin counts — so the DuckDB oracle replicates
every intermediate bit-exactly:

    cosine(a, b) = Σ va·vb / (sqrt(Σ va²) · sqrt(Σ vb²))

All sums are sums of small integers (exact in double regardless of addition
order); the only roundings are two sqrts, one multiply, one divide — all
IEEE-correctly-rounded, hence identical across engines. A vector whose
signed counts all cancel (e.g. "ig", "rd") has norm 0; its cosine is NULL,
what DuckDB's ``0 / 0`` gives the oracle, so it ranks after every score and
passes no threshold. ``_bin_cosine`` is the one place this formula runs.
The cosine value is numerically the same as the float32 dense cosine up to
1e-6, far from the 0.95 acceptance threshold on any realistic margin.

Scale design: candidate pairs come from a *shared-gram equi-join* with a
frequency cap (mirroring ``dedup.py``'s blocked joins) rather than the
reference's dense N×M matrix — any pair with cosine ≥ 0.95 shares most of
its grams, so blocking on one shared (non-hot) gram is a superset of the
accepted set while staying linear in corpus size.  Determinism deviations
from the reference (which iterates unordered rdflib sets): one label per
URI = min(cleaned label); argmax ties broken by min expected URI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgpipe_spark.eval.alignment import TRIPLE_KEY, prf_from_counts, set_counts
from kgpipe_spark.schemas import RDFS_LABEL

SOFT_THRESHOLD = 0.95  # soft_metrics.py:15-16, integration_eval.py:22
EMBED_BINS = 64
DEFAULT_MAX_BLOCK = 1000


def clean_label(c: F.Column) -> F.Column:
    """`soft_metrics.py:40-45`: '_'→' ', drop '(...)' spans, trim."""
    return F.trim(F.regexp_replace(F.regexp_replace(c, "_", " "), r"\([^)]*\)", ""))


# ---------------------------------------------------------------------------
# sparse signed-gram vectors (engine-symmetric hashed embedding)
# ---------------------------------------------------------------------------


def _grams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, g): every char-3-gram of ``' ' + lower(text) + ' '``."""
    s = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    return (
        df.select(F.col(id_col).alias("id"), s.alias("s"))
        # Spark sequence(1, n<1) is DESCENDING, not empty — guard short strings
        .filter(F.length("s") >= 3)
        .withColumn("j", F.explode(F.sequence(F.lit(1), F.length("s") - 2)))
        .select("id", F.col("s").substr(F.col("j"), F.lit(3)).alias("g"))
    )


def gram_bins(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, bin, v): signed char-3-gram counts over ``EMBED_BINS`` bins, the
    sparse integer form of
    ``embedders.HashedGramEmbedder.encode`` (same md5
    first-4-bytes-little-endian hash, same sign bit 31, same modulus)."""
    d = (
        _grams(df, id_col, text_col)
        .withColumn("m", F.md5("g"))
        .withColumn(
            "h",
            F.conv(
                F.concat(
                    F.col("m").substr(7, 2),
                    F.col("m").substr(5, 2),
                    F.col("m").substr(3, 2),
                    F.col("m").substr(1, 2),
                ),
                16,
                10,
            ).cast("long"),
        )
        .withColumn("bin", F.col("h") % EMBED_BINS)
        .withColumn("sign", F.lit(1) - 2 * F.shiftright("h", 31))
    )
    return d.groupBy("id", "bin").agg(F.sum("sign").alias("v"))


def _bin_cosine(lv: DataFrame, rv: DataFrame, cand: DataFrame | None) -> DataFrame:
    """(lid, rid, cos) over ``gram_bins`` vectors ``lv`` × ``rv``: the
    integer bin dot over ``sqrt(Σ v²) · sqrt(Σ w²)``, NULL when either norm
    is 0 — the oracle's ``sum(v·w) / (sqrt(min(ssq)) · sqrt(min(ssq)))``.
    Scores the (lid, rid) pairs of ``cand`` that share a bin, or with
    ``cand=None`` every pair sharing a bin, the right side broadcast.

    Each bin row carries its vector's ssq (a window over the id), so the
    pair aggregate needs no join after it."""

    def with_ssq(vec: DataFrame, id_: str, val: str, ssq: str) -> DataFrame:
        return vec.select(
            F.col("id").alias(id_),
            "bin",
            F.col("v").alias(val),
            F.sum(F.col("v") * F.col("v")).over(Window.partitionBy("id")).alias(ssq),
        )

    lb = with_ssq(lv, "lid", "v", "lssq")
    rb = with_ssq(rv, "rid", "w", "rssq")
    if cand is None:
        joined = lb.join(F.broadcast(rb), "bin")
    else:
        joined = cand.join(lb, "lid").join(rb, ["rid", "bin"])
    norms = F.sqrt(F.min("lssq").cast("double")) * F.sqrt(F.min("rssq").cast("double"))
    return joined.groupBy("lid", "rid").agg(
        F.try_divide(F.sum(F.col("v") * F.col("w")), norms).alias("cos")
    )


def cosine_pairs(left: DataFrame, right: DataFrame) -> DataFrame:
    """(left.id, right.id, cos) candidate pairs with exact cosine.

    left/right: (id, text). Candidate generation is a PREFIX FILTER with a
    global rarity order (ppjoin-style): each string keeps only its
    ``⌊n/10⌋+2`` globally-rarest grams (rank by total frequency, then gram),
    and a pair is a candidate iff the kept prefixes intersect — for the
    near-identical strings a 0.95 threshold accepts, the gram sets overlap
    ~90%+, so their rarity prefixes must collide. This keeps candidates
    LINEAR in corpus size where share-any-gram blocking grows quadratically
    in every mid-frequency gram's block (measured: minutes vs seconds at 10×
    data).

    Only valid under a high (≥0.9) similarity cut downstream: the rarity
    prefix of two moderately-similar strings is dominated by exactly the
    grams they DON'T share, so it can miss a weaker argmax pair. Top-1
    consumers with no cut use ``cosine_all_pairs``. Grams hotter than
    ``DEFAULT_MAX_BLOCK`` on either side are dropped from candidate
    generation. The
    dot product itself is exact over all 64 bins.
    """
    lg = _grams(left, "id", "text").distinct()
    rg = _grams(right, "id", "text").distinct()
    freq = (
        lg.groupBy("g").agg(F.count(F.lit(1)).alias("nl"))
        .join(rg.groupBy("g").agg(F.count(F.lit(1)).alias("nr")), "g", "outer")
        .select(
            "g",
            (F.coalesce("nl", F.lit(0)) + F.coalesce("nr", F.lit(0))).alias("freq"),
            F.coalesce("nl", F.lit(0)).alias("nl"),
            F.coalesce("nr", F.lit(0)).alias("nr"),
        )
    )
    keep = freq.filter(
        (F.col("nl") <= DEFAULT_MAX_BLOCK) & (F.col("nr") <= DEFAULT_MAX_BLOCK)
    ).select(
        "g", "freq"
    )

    def prefix(grams: DataFrame) -> DataFrame:
        w = Window.partitionBy("id").orderBy(F.asc("freq"), F.asc("g"))
        n = Window.partitionBy("id")
        return (
            grams.join(keep, "g")
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(n))
            .filter(F.col("_rn") <= F.floor(F.col("_n") / 10) + 2)
            .select("id", "g")
        )

    cand = (
        prefix(lg).join(prefix(rg).withColumnRenamed("id", "rid"), "g")
        .select(F.col("id").alias("lid"), "rid")
        .distinct()
    )
    return _bin_cosine(gram_bins(left, "id", "text"), gram_bins(right, "id", "text"), cand)


def cosine_all_pairs(left: DataFrame, right: DataFrame) -> DataFrame:
    """(lid, rid, cos) over the FULL cross product — same exact integer
    dot / sqrt math as ``cosine_pairs`` (bit-identical scores), no candidate
    blocking. Use only when one side is small (e.g. ontology-sized): the
    small side's binned vectors are broadcast into the join.

    Every pair sharing at least one hash bin gets a row, so a top-1 over it
    is argmax-complete; the TE linkers' top-1 (``te_construct._top1``) is a
    window over this pair set, which the oracle replays bin for bin."""
    return _bin_cosine(gram_bins(left, "id", "text"), gram_bins(right, "id", "text"), None)


# ---------------------------------------------------------------------------
# entity mapping (graph_match_labels_soft)
# ---------------------------------------------------------------------------


def _uri_labels(kg: DataFrame) -> DataFrame:
    """One cleaned label per URI (min — the reference's dict keeps an
    arbitrary rdflib-order label; soft_metrics.py:48-56)."""
    return (
        kg.filter(F.col("predicate") == RDFS_LABEL)
        .select(F.col("subject").alias("id"), clean_label(F.col("object_lex")).alias("text"))
        .groupBy("id")
        .agg(F.min("text").alias("text"))
    )


def soft_entity_mapping(actual: DataFrame, expected: DataFrame) -> DataFrame:
    """(actual_uri, expected_uri, score): best expected per actual, score >
    ``SOFT_THRESHOLD`` (strict >, soft_metrics.py:76-83)."""
    pairs = cosine_pairs(_uri_labels(actual), _uri_labels(expected))
    w = Window.partitionBy("lid").orderBy(F.desc("cos"), F.asc("rid"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("cos") > SOFT_THRESHOLD))
        .select(
            F.col("lid").alias("actual_uri"),
            F.col("rid").alias("expected_uri"),
            F.col("cos").alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# SoftE — fact alignment after soft entity rewrite
# ---------------------------------------------------------------------------


def fact_alignment_soft_entities(actual: DataFrame, expected: DataFrame) -> DataFrame:
    """SoftE (`soft_metrics.py:87-101`): map actual subjects AND uri objects
    through the soft mapping, then exact alignment (``set_counts`` over the
    triple key)."""
    # the mapping cosine chain feeds both the subject and the object rewrite
    # joins — materialize it once
    mapping = soft_entity_mapping(actual, expected).select(
        "actual_uri", "expected_uri"
    ).localCheckpoint()
    ms = mapping.withColumnRenamed("actual_uri", "subject").withColumnRenamed(
        "expected_uri", "subject_m"
    )
    mo = mapping.withColumnRenamed("actual_uri", "object_lex").withColumnRenamed(
        "expected_uri", "object_m"
    )
    rewritten = (
        actual.join(F.broadcast(ms), "subject", "left")
        .join(
            F.broadcast(mo),
            (F.col("object_kind") == "uri") & (actual["object_lex"] == mo["object_lex"]),
            "left",
        )
        .select(
            F.coalesce("subject_m", "subject").alias("subject"),
            "predicate",
            F.coalesce("object_m", actual["object_lex"]).alias("object_lex"),
            "object_kind",
        )
    )
    return prf_from_counts(set_counts(rewritten, expected, TRIPLE_KEY))


# ---------------------------------------------------------------------------
# SoftEV — value-level soft alignment
# ---------------------------------------------------------------------------


def _label_expanded(kg: DataFrame, subject_map: DataFrame | None) -> DataFrame:
    """(subject, predicate, value): URI objects replaced by each of their
    cleaned labels (or the URI string when unlabeled) — `soft_metrics.py:
    109-145` get_label + graph rebuild. Subjects optionally rewritten."""
    labels = (
        kg.filter(F.col("predicate") == RDFS_LABEL)
        .select(
            F.col("subject").alias("_luri"),
            clean_label(F.col("object_lex")).alias("_label"),
        )
        .distinct()
    )
    t = kg.select("subject", "predicate", "object_lex", "object_kind")
    if subject_map is not None:
        sm = subject_map.select(
            F.col("actual_uri").alias("subject"), F.col("expected_uri").alias("_sm")
        )
        t = t.join(F.broadcast(sm), "subject", "left").withColumn(
            "subject", F.coalesce("_sm", "subject")
        ).drop("_sm")
    uris = t.filter(F.col("object_kind") == "uri")
    lits = t.filter(F.col("object_kind") != "uri").select(
        "subject", "predicate", F.col("object_lex").alias("value")
    )
    expanded = (
        uris.join(labels, uris["object_lex"] == labels["_luri"], "left")
        .select(
            "subject",
            "predicate",
            F.coalesce("_label", F.col("object_lex")).alias("value"),
        )
    )
    return expanded.unionByName(lits).distinct()


def fact_alignment_soft_values(actual: DataFrame, expected: DataFrame) -> DataFrame:
    """SoftEV (`soft_metrics.py:104-205`): subjects soft-mapped, URI objects
    label-expanded on BOTH sides, values compared per (s, p) group by best
    cosine (> ``SOFT_THRESHOLD`` → tp, else fp; expected (s,p) groups absent from
    actual contribute their triple count to fn)."""
    mapping = soft_entity_mapping(actual, expected).select("actual_uri", "expected_uri")
    # the soft-mapping cosine chain folded into `ga` is referenced by the
    # pair join, the scored join AND the fn anti-join — persist both
    # expanded sides once instead of re-deriving the chain per consumer
    ga = _label_expanded(actual, mapping).localCheckpoint()
    ge = _label_expanded(expected, None).localCheckpoint()

    # embed each distinct value string once (relational CSE of encode_wrapper)
    vals = (
        ga.select(F.col("value").alias("text"))
        .unionByName(ge.select(F.col("value").alias("text")))
        .distinct()
        .withColumn("id", F.col("text"))
    )
    vec = gram_bins(vals, "id", "text").localCheckpoint()

    pairs = (
        ga.join(
            ge.select("subject", "predicate", F.col("value").alias("evalue")),
            ["subject", "predicate"],
        ).localCheckpoint()
    )
    cand = pairs.select(F.col("value").alias("lid"), F.col("evalue").alias("rid")).distinct()
    cos = _bin_cosine(vec, vec, cand).withColumnsRenamed({"lid": "value", "rid": "evalue"})
    # a pair sharing no bin, or with a zero-norm side, scores 0.0
    scored = pairs.join(cos, ["value", "evalue"], "left").withColumn(
        "cos", F.coalesce("cos", F.lit(0.0))
    )
    per_actual = scored.groupBy("subject", "predicate", "value").agg(
        F.max("cos").alias("best")
    )
    hit = F.coalesce(F.col("best") > SOFT_THRESHOLD, F.lit(False))
    counts = per_actual.agg(
        F.count(F.when(hit, 1)).alias("tp"), F.count(F.when(~hit, 1)).alias("fp")
    )
    sp_actual = ga.select("subject", "predicate").distinct()
    fn_df = (
        ge.join(sp_actual, ["subject", "predicate"], "left_anti")
        .agg(F.count(F.lit(1)).alias("fn"))
    )
    return prf_from_counts(counts.crossJoin(fn_df))


# ---------------------------------------------------------------------------
# source entity coverage (integration_eval.py:119-250)
# ---------------------------------------------------------------------------
#
# Each metric is one lazy 1-row DataFrame: 1-row aggregates cross-joined,
# run as one job when collected.


def _n_rows(df: DataFrame, name: str) -> DataFrame:
    return df.agg(F.count(F.lit(1)).alias(name))


def _expected_entities(entity_dict: DataFrame) -> DataFrame:
    return _n_rows(entity_dict.select("entity_uri").distinct(), "expected_entities")


def source_entity_coverage(kg: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """Exact coverage (`integration_eval.py:119-140`): labeled KG subjects
    overlapping the verified-entity dict by URI or raw label."""
    labeled = kg.filter(F.col("predicate") == RDFS_LABEL).select(
        "subject", F.col("object_lex").alias("label")
    )
    dict_uris = entity_dict.select(F.col("entity_uri").alias("subject")).distinct()
    dict_labels = (
        entity_dict.filter(F.col("entity_label").isNotNull())
        .select(F.col("entity_label").alias("label"))
        .distinct()
    )
    overlap = (
        labeled.join(F.broadcast(dict_uris), "subject", "left_semi")
        .select("subject")
        .unionByName(
            labeled.join(F.broadcast(dict_labels), "label", "left_semi").select("subject")
        )
        .distinct()
    )
    e, o = F.col("expected_entities"), F.col("overlapping_entities")
    cov = F.when(e > 0, o / e).otherwise(F.lit(0.0))
    return (
        _expected_entities(entity_dict)
        .crossJoin(_n_rows(labeled.select("subject").distinct(), "found_entities"))
        .crossJoin(_n_rows(overlap, "overlapping_entities"))
        .select(
            "expected_entities",
            "found_entities",
            "overlapping_entities",
            # engine-portable quantize: floor to 6 places, as the oracle does
            (F.floor(F.least(cov, F.lit(1.0)) * 1000000) / 1000000).alias("coverage"),
        )
    )


def source_entity_coverage_fuzzy(kg: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """Fuzzy coverage (`integration_eval.py:142-177`): found labels matching
    any dict label at cosine ≥ ``SOFT_THRESHOLD`` (raw labels, not cleaned — the
    reference embeds them as-is)."""
    found = kg.filter(F.col("predicate") == RDFS_LABEL).select(
        F.col("object_lex").alias("label")
    )
    dict_labels = (
        entity_dict.filter(F.col("entity_label").isNotNull())
        .select(F.col("entity_label").alias("text"))
        .distinct()
        .withColumn("id", F.col("text"))
    )
    found_distinct = found.distinct().select(F.col("label").alias("text"), F.col("label").alias("id"))
    pairs = cosine_pairs(found_distinct, dict_labels)
    matched = (
        pairs.filter(F.col("cos") >= SOFT_THRESHOLD).select(F.col("lid").alias("label")).distinct()
    )
    return (
        _expected_entities(entity_dict)
        # label *occurrences*, integration_eval.py:153-156
        .crossJoin(_n_rows(found, "found_labels"))
        .crossJoin(_n_rows(matched, "overlapping_labels"))
    )


def source_entity_precision_fuzzy(kg: DataFrame, entity_dict: DataFrame) -> DataFrame:
    """Fuzzy precision (`integration_eval.py:179-244`): each found label
    claims its best dict label ≥ ``SOFT_THRESHOLD``; a dict label claimed more than
    once marks the extra claims as possible duplicates.

    Deterministic deviation: the reference claims in unordered graph
    iteration order; we rank claimants per dict label by (score desc, label
    asc) so the strict set is stable.
    """
    found = kg.filter(F.col("predicate") == RDFS_LABEL).select(
        F.col("object_lex").alias("label")
    )
    occ = found.groupBy("label").agg(F.count(F.lit(1)).alias("n_occ"))
    dict_labels = (
        entity_dict.filter(F.col("entity_label").isNotNull())
        .select(F.col("entity_label").alias("text"))
        .distinct()
        .withColumn("id", F.col("text"))
    )
    found_distinct = occ.select(F.col("label").alias("text"), F.col("label").alias("id"))
    pairs = cosine_pairs(found_distinct, dict_labels).filter(F.col("cos") >= SOFT_THRESHOLD)
    best = (
        pairs.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("lid").orderBy(F.desc("cos"), F.asc("rid"))),
        )
        .filter(F.col("rn") == 1)
        .select(F.col("lid").alias("label"), F.col("rid").alias("ref"), "cos")
    )
    claimed = best.join(occ, "label").withColumn(
        "claim_rn",
        F.row_number().over(Window.partitionBy("ref").orderBy(F.desc("cos"), F.asc("label"))),
    )
    agg = claimed.agg(
        F.countDistinct("label").alias("overlapping"),
        F.sum(F.when(F.col("claim_rn") == 1, 1).otherwise(0)).alias("strict"),
        F.sum("n_occ").alias("matched_occ"),
    )
    strict = F.coalesce("strict", F.lit(0))
    dup = F.coalesce("matched_occ", F.lit(0)) - strict
    return (
        _expected_entities(entity_dict)
        .crossJoin(_n_rows(found, "found_labels"))
        .crossJoin(agg)
        .select(
            "expected_entities",
            "found_labels",
            F.col("overlapping").alias("overlapping_labels"),
            strict.cast("bigint").alias("strict_overlapping"),
            dup.cast("bigint").alias("possible_duplicates"),
        )
    )
