"""Entity / relation linking: mention → KG URI (SURVEY.md §2.4).

The reference's native linkers all share one pattern (`SimpleEntityLinker`,
`/root/reference/src/kgpipe_tasks/construction/extract_json.py:52-129`):
build a label dictionary from the KG → embed → cosine top-k → threshold
accept (0.70). Our decomposition keeps the corpus-wide parts relational:

 1. ``label_dictionary``   — KG triples → (uri, normalized label) dim table
 2. ``link_exact``         — broadcast equi-join on the normalized label
                             (the fast path that resolves the vast majority
                             of mentions at corpus scale)
 3. ``link_embedding_topk``— residuals → Arrow-batched pandas UDF computing
                             ``queries @ label_matrix.T`` against a
                             *broadcast* dictionary matrix; top-1 ≥ threshold
                             (mirrors extract_json.py:93-96 argmax ≥ 0.70)

Embeddings default to deterministic hashed char-ngram vectors
(``functions.embedders.HashedGramEmbedder``) so tests are reproducible
without ML deps — mirroring the reference's optional ``[ml]`` extra
(`pyproject.toml:23-25`). A real sentence-transformer can be slotted in by
passing ``embedder=``.

Per-key memoization in the reference (extract_json.py:145-168) maps to
``distinct()`` before the expensive UDF + join back after (relational CSE).

The reference's *dynamic* index (newly minted entities appended mid-run,
extract_json.py:84-89,498-510) is order-dependent mutable state; we ship the
two-pass variant (SURVEY.md §4.2.5): ``link_two_pass`` links against the
seed dictionary, then re-links residuals against pass-1 minted entities.
Pass 2 (``minted_near_edges``) is a char-3-gram front end on the engine's
one banded MinHash-LSH kernel, ``minhash_token_signatures`` →
``minhash_verified_pairs``.
The reference itself ships ``dynamic_index=False`` variants
(extract_json.py:583,624) — those are the semantics we match.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgpipe_spark.functions.hashing import mint_uri_sha256
from kgpipe_spark.functions.strings import normalize_label
from kgpipe_spark.schemas import RDFS_LABEL, SKOS_ALT_LABEL

DEFAULT_ACCEPT = 0.70  # extract_json.py:23 ENTITY_ACCEPT

# MinHash-LSH layout of ``minted_near_edges``: 16 hashes in 8 bands of 2,
# verified by set Jaccard ≥ 0.5
NUM_HASHES = 16
BANDS = 8
JACCARD_THRESHOLD = 0.5


# ---------------------------------------------------------------------------
# dictionary
# ---------------------------------------------------------------------------


def label_dictionary(kg: DataFrame, include_alt: bool = True) -> DataFrame:
    """(uri, label, norm_label) from rdfs:label (+ skos:altLabel).

    Mirrors ``load_kg_labels`` (extract_json.py:52-66).
    """
    preds = [RDFS_LABEL] + ([SKOS_ALT_LABEL] if include_alt else [])
    return (
        kg.filter(F.col("predicate").isin(preds))
        .select(
            F.col("subject").alias("uri"),
            F.col("object_lex").alias("label"),
            normalize_label(F.col("object_lex")).alias("norm_label"),
        )
        .dropDuplicates(["uri", "norm_label"])
    )


# ---------------------------------------------------------------------------
# exact path
# ---------------------------------------------------------------------------


def link_exact(mentions: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Broadcast equi-join on normalized label; score 1.0 on hit.

    Result: mentions + (mapping URI or null, score). One candidate per
    normalized label is kept deterministically (min uri) so a mention never
    fans out — matches the reference's argmax-single-link semantics.
    """
    dict_best = dictionary.groupBy("norm_label").agg(F.min("uri").alias("mapping"))
    m = mentions.withColumn("norm_query", normalize_label(F.col("query_text")))
    joined = m.join(F.broadcast(dict_best), m.norm_query == dict_best.norm_label, "left")
    return joined.select(
        *mentions.columns,
        F.col("mapping"),
        F.when(F.col("mapping").isNotNull(), F.lit(1.0)).otherwise(F.lit(None).cast("double")).alias("score"),
    )


# ---------------------------------------------------------------------------
# embedding top-1 against a broadcast dictionary
# ---------------------------------------------------------------------------


def link_embedding_topk(
    mentions: DataFrame,
    dictionary: DataFrame,
    spark: SparkSession,
    accept: float = DEFAULT_ACCEPT,
    embedder=None,
) -> DataFrame:
    """Residual mentions → top-1 cosine against broadcast label matrix.

    The dictionary (uri, label) is collected to the driver, embedded once,
    and broadcast — mirroring the reference's in-memory ``LabelIndex``
    (extract_json.py:73-96) but batched via Arrow. The distinct() before the
    UDF is the relational version of the reference's per-key memo cache.

    ``embedder`` is any ``functions.embedders.Embedder`` (default: the
    process-wide provider, a deterministic HashedGramEmbedder); swap in
    ``SentenceTransformerEmbedder`` for a real model — the reference's
    ``[ml]``-extra seam (st_emb.py:17).

    SCALE: every (uri, label) row is collected to the driver and embedded
    there. That collect is bounded by ``spark.driver.maxResultSize`` (Spark
    default 1g), which fails an oversized dictionary with Spark's own error.
    At every dictionary size a link means "nearest label by embedding cosine".
    """
    from kgpipe_spark.functions.embedders import get_default_embedder

    emb = embedder if embedder is not None else get_default_embedder()
    dict_rows = dictionary.select("uri", "label").collect()
    uris = [r["uri"] for r in dict_rows]
    labels = pd.Series([r["label"] for r in dict_rows])
    label_mat = emb.encode(labels) if len(labels) else np.zeros((0, emb.dim), np.float32)
    bc = spark.sparkContext.broadcast((uris, label_mat))

    from pyspark.sql.types import StringType, StructField, StructType, DoubleType

    out_schema = StructType(
        [StructField("mapping", StringType()), StructField("score", DoubleType())]
    )

    @F.pandas_udf(out_schema)  # type: ignore[call-overload]
    def topk(queries: pd.Series) -> pd.DataFrame:
        uris_b, mat_b = bc.value
        if len(uris_b) == 0 or len(queries) == 0:
            return pd.DataFrame({"mapping": [None] * len(queries), "score": [None] * len(queries)})
        q = emb.encode(queries)
        sims = q @ mat_b.T  # (batch, dict) — both sides L2-normalized
        best = sims.argmax(axis=1)
        best_sim = sims[np.arange(len(queries)), best].astype(float)
        mapping = [uris_b[i] if s >= accept else None for i, s in zip(best, best_sim)]
        score = [float(s) if m is not None else None for m, s in zip(mapping, best_sim)]
        return pd.DataFrame({"mapping": mapping, "score": score})

    distinct_q = mentions.select("query_text").distinct()
    linked_q = distinct_q.withColumn("res", topk(F.col("query_text"))).select(
        "query_text", F.col("res.mapping").alias("mapping"), F.col("res.score").alias("score")
    )
    return mentions.join(F.broadcast(linked_q), "query_text", "left")


# ---------------------------------------------------------------------------
# link-or-mint + two-pass dynamic index replacement
# ---------------------------------------------------------------------------


def link_or_mint(linked_mentions: DataFrame) -> DataFrame:
    """Accepted link (score ≥ ``DEFAULT_ACCEPT``) → reuse URI; else mint
    ``newE/sha256(surface)``.

    Mirrors ``_link_or_create_entity`` (extract_json.py:478-521) with the
    reference's sha256 minting (benchutils.py:10-14).
    """
    accepted = F.coalesce(F.col("score"), F.lit(0.0)) >= DEFAULT_ACCEPT
    return linked_mentions.withColumn(
        "resolved_uri",
        F.when(F.col("mapping").isNotNull() & accepted, F.col("mapping")).otherwise(
            mint_uri_sha256(normalize_label(F.col("query_text")))
        ),
    )


def char_gram_set(norm: "F.Column") -> "F.Column":
    """Distinct char-3-grams of an (already normalized) string, JVM-side.

    ``sequence(1, length-2)`` would run *descending* for short strings
    (Spark's sequence fills stop < start), so the under-length case is
    guarded to an empty array explicitly.
    """
    return F.when(
        F.length(norm) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(norm) - 2),
                lambda i: F.substring(norm, i, 3),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_token_signatures(tokens: DataFrame) -> DataFrame:
    """MinHash signature step: (id, token) rows, distinct per id →
    (id, grams64 ARRAY<BIGINT>, sig ARRAY<BIGINT>).

    sig[i] = min over tokens of (a + i·b) mod 2^32, where (a, b) are the
    first two 32-bit words of md5(token). Carter-Wegman hash family: ONE md5
    per token instead of ``NUM_HASHES`` (16× fewer digests — the digest was
    the dominant cost), deterministic and engine-portable (DuckDB:
    CAST('0x'||hex AS UBIGINT)).

    ``grams64`` is the id's token set as 64-bit xxhash64 values — the
    lightweight proxy the verification join intersects instead of the token
    strings themselves (8 bytes/token through the pair shuffle instead of
    ~25; set sizes and intersections are identical barring a 2^-64 hash
    collision). Ids without tokens get no row.
    """
    ab = tokens.select(
        "id",
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long").alias("a"),
        F.conv(F.substring(F.md5("token"), 9, 8), 16, 10).cast("long").alias("b"),
        F.xxhash64("token").alias("h64"),
    )
    # 16 parallel MIN aggregates (no 16× row explode) plus the gram set in
    # ONE ObjectHashAggregate with map-side partials
    agg = ab.groupBy("id").agg(
        *[
            F.min((F.col("a") + F.lit(i) * F.col("b")) % F.lit(4294967296)).alias(f"_h{i}")
            for i in range(NUM_HASHES)
        ],
        F.collect_list("h64").alias("grams64"),
    )
    return agg.select(
        "id",
        "grams64",
        F.array(*[F.col(f"_h{i}") for i in range(NUM_HASHES)]).alias("sig"),
    )


def minhash_verified_pairs(sigs: DataFrame) -> DataFrame:
    """MinHash-LSH pair step: ``minhash_token_signatures`` output →
    (id_a < id_b, jaccard) for every pair that shares at least one full band
    and whose token-set Jaccard (over the ``grams64`` proxies) is
    ≥ ``JACCARD_THRESHOLD``. Jaccard is unrounded.
    """
    rows_per_band = NUM_HASHES // BANDS
    # the band explode and both verify joins read sigs: compute them once
    sigs = sigs.localCheckpoint(eager=False)
    # band on (band, bucket) WITHOUT the gram arrays — shuffling the arrays
    # through the 8-way band explode is the scale killer; gram sets are
    # joined back only for the (few) surviving candidate pairs.
    banded = sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # candidates per bucket via ONE groupBy + in-bucket pair explode instead
    # of the banded self-join (which exchanged the banded table twice and
    # joined): same (id_a < id_b) pair set, measured ~40% faster. Both forms
    # emit O(k²) pairs for a k-id bucket; the k-element id array this form
    # additionally buffers is the smaller of the two costs (8 B/id vs k²
    # joined rows).
    cand = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .dropDuplicates()
    )
    sh = sigs.select("id", "grams64")
    cand = cand.join(
        sh.select(F.col("id").alias("id_a"), F.col("grams64").alias("sh_a")), "id_a"
    ).join(sh.select(F.col("id").alias("id_b"), F.col("grams64").alias("sh_b")), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", "jaccard")
    )


def minted_near_edges(minted_dict: DataFrame) -> DataFrame:
    """(src, dst) edges between minted URIs whose normalized surfaces are
    near-identical: the engine's one banded MinHash-LSH
    (``minhash_token_signatures`` → ``minhash_verified_pairs``,
    16 hashes in 8 bands) over char-3-gram sets, verified by set
    Jaccard ≥ 0.5.

    The md5-derived hash family is deterministic and engine-portable, so the
    whole two-pass linker replays in DuckDB (unlike MLlib MinHashLSH, whose
    hash family an external oracle cannot reproduce). Pure JVM and blocked:
    no all-pairs, the verify join touches only bucket-collision survivors.

    Input: (uri, norm) — one row per minted uri (uri ↔ norm is 1:1, the uri
    IS sha256(norm)).
    """
    tokens = minted_dict.select(
        F.col("uri").alias("id"), F.explode(char_gram_set(F.col("norm"))).alias("token")
    )
    return minhash_verified_pairs(minhash_token_signatures(tokens)).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )


def link_two_pass(mentions: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Two-pass replacement for the reference's mutable dynamic index
    (extract_json.py:84-89,498-510).

    Pass 1: exact-dictionary link-or-mint. Identical normalized surfaces
    already share one sha256-minted URI. Pass 2: the minted residual's
    normalized surfaces are MinHash-LSH self-joined (``minted_near_edges`` —
    the repo's own md5-derived, DuckDB-replayable hash family, NOT MLlib)
    and clustered via connected components, so *near*-identical new surfaces
    collapse to one canonical minted URI (min URI per component — the
    deterministic batch analogue of the reference's order-dependent
    "first minted entity wins").
    """
    from kgpipe_spark.operators.cluster import connected_components

    pass1 = link_or_mint(link_exact(mentions, dictionary))
    minted = pass1.filter(F.col("mapping").isNull())
    # uri = sha256(normalized surface), so uri ↔ norm is functional; dedup by
    # uri keeps one deterministic (uri, norm) row even when several raw
    # surfaces normalize identically.
    minted_dict = minted.select(
        F.col("resolved_uri").alias("uri"),
        normalize_label(F.col("query_text")).alias("norm"),
    ).dropDuplicates(["uri"])
    edges = minted_near_edges(minted_dict)
    comp = connected_components(edges)
    rewrite = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("resolved_uri"), F.col("component").alias("_canon")
    )
    return (
        pass1.join(F.broadcast(rewrite), "resolved_uri", "left")
        .withColumn("resolved_uri", F.coalesce("_canon", "resolved_uri"))
        .drop("_canon")
    )
