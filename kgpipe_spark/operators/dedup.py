"""Large-scale training-data deduplication operators.

Beyond the reference's own operators (which dedupe only at triple level via
set semantics), a 100 TB corpus pipeline needs document-level dedup. All
variants are expressed with built-in JVM functions (no Python in the hot
path); MinHash signatures use md5-based hashes so results are portable and
deterministic across engines.

 - ``exact_duplicates``      — hash-groupBy on normalized text.
 - ``minhash_token_signatures`` — the MinHash signature step over (id, token)
                                rows: one md5 per token, Carter-Wegman
                                h_i = min((a + i·b) mod 2^32).
 - ``minhash_verified_pairs``   — the MinHash-LSH pair step: band the
                                signature, pair ids within each bucket,
                                verify token-set Jaccard ≥ threshold. These
                                two steps are the engine's one banded
                                MinHash; ``linking.minted_near_edges`` runs
                                them over char-3-grams.
 - ``minhash_signatures``    — the signature step over word shingles.
 - ``minhash_lsh_pairs``     — both steps over word shingles.
 - ``ngram_jaccard_pairs``   — exact n-gram Jaccard join (token blocking).
 - ``simhash_fingerprints``  — 32-bit SimHash over word tokens (bit-majority
                                of md5-derived token hashes).
 - ``embedding_near_duplicates`` — cosine ≥ t pairs over an embedding column
                                (brute within LSH-ish buckets, see
                                similarity.py for the ANN path).

Scale notes: every pair-producing operator blocks first (LSH bands / shared
tokens) so no O(n²) pair enumeration happens; bands and token blocks are the
shuffle keys, AQE splits skewed buckets; stop-token blocks are capped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kgpipe_spark.functions.literals import round6

_SHINGLE_N = 3
_SIMHASH_BITS = 32


def _norm_text(col: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def _words(col: Column) -> Column:
    return F.filter(F.split(_norm_text(col), " "), lambda w: w != "")


def word_shingles(col: Column) -> Column:
    """Array of distinct 3-word shingles (JVM higher-order functions)."""
    words = _words(col)
    k = F.size(words) - F.lit(_SHINGLE_N - 1)
    shingles = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, _SHINGLE_N)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(shingles)


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """(content_hash, n_copies, keep_id, doc_ids) for ``text``s appearing >1×.

    keep_id = min ``doc_id`` — the deterministic survivor.
    """
    h = docs.select("doc_id", F.md5(_norm_text(F.col("text"))).alias("content_hash"))
    return (
        h.groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_copies") > 1)
    )


def _shingle_tokens(docs: DataFrame) -> DataFrame:
    """(id, token) — each doc's distinct 3-word shingles, one row each.

    The input is repartitioned first: higher-order lambda expressions are
    interpreted (not codegen'd), so this projection is CPU-bound — a narrow
    parquet scan would otherwise pin it to 1-3 cores.
    """
    from pyspark.sql.window import Window

    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # ONE exchange (repartition by doc) and everything downstream is
    # partition-local: the window-lead shingle build (the higher-order
    # transform/slice lambda formulation is interpreted, ~5× slower), the
    # per-doc distinct and the signature aggregation all cluster on id.
    words = (
        docs.repartition(n_part, F.col("doc_id"))
        .select(
            F.col("doc_id").alias("id"),
            F.posexplode(_words(F.col("text"))).alias("pos", "w"),
        )
    )
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.lead("w", j).over(w) for j in range(1, _SHINGLE_N)]
    return (
        words.withColumn("token", F.concat_ws(" ", F.col("w"), *leads))
        .withColumn("_last", leads[-1])
        .filter(F.col("_last").isNotNull())
        .select("id", "token")
        .distinct()  # set semantics (word_shingles is distinct) — local
    )


def minhash_token_signatures(tokens: DataFrame, num_hashes: int = 16) -> DataFrame:
    """MinHash signature step: (id, token) rows, distinct per id →
    (id, grams64 ARRAY<BIGINT>, sig ARRAY<BIGINT>).

    sig[i] = min over tokens of (a + i·b) mod 2^32, where (a, b) are the
    first two 32-bit words of md5(token). Carter-Wegman hash family: ONE md5
    per token instead of ``num_hashes`` (16× fewer digests — the digest was
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
            for i in range(num_hashes)
        ],
        F.collect_list("h64").alias("grams64"),
    )
    return agg.select(
        "id",
        "grams64",
        F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def minhash_verified_pairs(
    sigs: DataFrame, num_hashes: int = 16, bands: int = 8, jaccard_threshold: float = 0.5
) -> DataFrame:
    """MinHash-LSH pair step: ``minhash_token_signatures`` output →
    (id_a < id_b, jaccard) for every pair that shares at least one full band
    and whose token-set Jaccard (over the ``grams64`` proxies) is
    ≥ ``jaccard_threshold``. Jaccard is unrounded.
    """
    rows_per_band = num_hashes // bands
    # the band explode and both verify joins read sigs: compute them once
    sigs = sigs.localCheckpoint(eager=False)
    # band on (band, bucket) WITHOUT the gram arrays — shuffling the arrays
    # through the 8-way band explode is the scale killer; gram sets are
    # joined back only for the (few) surviving candidate pairs.
    banded = sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
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
    # emit O(k²) pairs for a k-id bucket — a mega-bucket (1M exact copies
    # of one doc share every band) kills either shape via its own k² output,
    # which is why exact dedup runs upstream; the k-element id array this
    # form additionally buffers is the smaller of the two costs (8 B/id vs
    # k² joined rows). Contrast ngram_jaccard_pairs / simhash, where blocks
    # grow with the corpus and the streamed join is kept.
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
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, grams64, sig) over each doc's distinct 3-word shingles —
    the 16-hash ``minhash_token_signatures`` of the shingle set."""
    return minhash_token_signatures(_shingle_tokens(docs)).withColumnRenamed("id", "doc_id")


def minhash_lsh_pairs(
    docs: DataFrame, num_hashes: int = 16, bands: int = 8, jaccard_threshold: float = 0.5
) -> DataFrame:
    """Near-duplicate ``doc_id`` pairs (id_a < id_b, jaccard) via banded
    MinHash-LSH over the 3-word shingles of ``text``.

    Candidates share at least one full band; verification computes exact
    shingle-set Jaccard (array_intersect/union over the 64-bit gram-hash
    proxy sets — identical to string-set Jaccard barring a 2^-64 collision)
    and filters ≥ threshold.
    """
    sigs = minhash_token_signatures(_shingle_tokens(docs), num_hashes)
    return minhash_verified_pairs(sigs, num_hashes, bands, jaccard_threshold).select(
        "id_a", "id_b", round6(F.col("jaccard")).alias("jaccard")
    )


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact 3-word-shingle Jaccard ≥ t ``doc_id`` pairs via shared-shingle
    blocking.

    Blocks on each shingle (capped at 2,000 docs to kill stop-shingle
    blowup), counts shared shingles per pair, then Jaccard from per-doc
    shingle counts — no arrays are carried through the shuffle.
    """
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    sh = (
        docs.repartition(n_part, F.col("doc_id"))
        .select("doc_id", F.explode(word_shingles(F.col("text"))).alias("shingle"))
        .dropDuplicates()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    # NOTE: the in-bucket pair-explode rewrite used in minhash_lsh_pairs was
    # tried here and measured 87 s vs ~8 s at sf1.0 — ngram blocks run right
    # up to the 2000-doc stop-shingle cap, and the interpreted nested
    # transform materializes O(k²) structs per block, while the streamed
    # self-join (AQE skew-splittable) handles large blocks gracefully. The
    # join stays.
    block_ok = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("bn")).filter(
        F.col("bn") <= 2000
    )
    sh_f = sh.join(block_ok.select("shingle"), "shingle", "left_semi")

    pairs = (
        sh_f.alias("x")
        .join(sh_f.alias("y"), "shingle")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_shingles", "na"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_shingles", "nb"), "id_b")
        .withColumn("jaccard", F.col("common") / (F.col("na") + F.col("nb") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", round6(F.col("jaccard")).alias("jaccard"))
    )


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash BIGINT) — bit b of 32 set iff the majority of the
    ``text``'s word tokens have md5-bit b set. Pure JVM: per-token bits from
    conv(md5 hex, 16, 10).
    """
    toks = docs.select("doc_id", F.explode(F.array_distinct(_words(F.col("text")))).alias("tok"))
    # token hash = first 8 hex chars of md5 → 32-bit int (conv returns string)
    toks = toks.withColumn(
        "th", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
    )
    per_bit = [
        F.sum(F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(
            f"b{b}"
        )
        for b in range(_SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*per_bit)
    fp = None
    for b in range(_SIMHASH_BITS):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.cast("bigint").alias("simhash"))


def simhash_near_duplicates(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming, blocked on the 4 byte-bands
    of the fingerprint (a pair within distance 3 must agree on ≥1 of 4
    bands — pigeonhole)."""
    fps = simhash_fingerprints(docs)
    banded = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(i),
                        F.shiftright(F.col("simhash"), i * 8).bitwiseAND(F.lit(0xFF)),
                    )
                    for i in range(_SIMHASH_BITS // 8)
                ]
            )
        ).alias("band_key"),
    )
    # kept as a streamed self-join (NOT the in-bucket pair explode used in
    # minhash_lsh_pairs): byte-band pigeonhole buckets hold corpus_size/256
    # docs per band value — they grow linearly with the corpus — and the
    # interpreted nested-transform explode materializes O(k²) structs per
    # bucket, while the join streams pairs and AQE can split skewed buckets.
    a = banded.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"), "band_key")
    b = banded.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"), "band_key")
    cand = a.join(b, "band_key").filter(F.col("id_a") < F.col("id_b")).dropDuplicates(["id_a", "id_b"])
    xor = F.col("ha").bitwiseXOR(F.col("hb"))
    hamming = F.bit_count(xor)
    return cand.withColumn("hamming", hamming).filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


def embedding_near_duplicates(
    embeddings: DataFrame, threshold: float = 0.95, bucket_col: str | None = None
) -> DataFrame:
    """Cosine ≥ t (``vec_id``) pairs over the ``embedding`` column. With
    ``bucket_col``, pairs are only searched within buckets (IVF-style).
    Without one, the input is COUNTED first: up to 20,000 rows run
    all-pairs exactly; above it, buckets are
    auto-derived from deterministic hyperplane LSH so the pair count stays
    bounded instead of going quadratic — at 100 TB an unbucketed cartesian
    is a plan that never finishes, so the guard refuses to build one.
    Auto-bucketing is approximate (cross-bucket near-dups are missed), the
    standard LSH recall trade-off; pass an explicit ``bucket_col`` to choose
    the partitioning yourself."""
    if bucket_col is None:
        # materialize ONCE before the guard count — the bucket join and the
        # pair join below would otherwise re-evaluate a potentially expensive
        # upstream 2-3×; localCheckpoint also breaks the twin lineage of the
        # a/b self-join
        embeddings = embeddings.localCheckpoint(eager=True)
        if embeddings.count() > 20_000:
            from kgpipe_spark.operators.similarity import random_hyperplane_buckets

            # collision-safe derived-bucket name: the input may legitimately
            # carry its own 'bucket' column that the caller chose NOT to use
            buckets = random_hyperplane_buckets(embeddings).withColumnRenamed(
                "bucket", "_auto_bucket"
            )
            embeddings = embeddings.drop("_auto_bucket").join(buckets, "vec_id")
            bucket_col = "_auto_bucket"
    e = embeddings.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("v"),
        *( [F.col(bucket_col).alias("bucket")] if bucket_col else [F.lit(0).alias("bucket")] ),
    ).withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    )
    a = e.select(F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na"), "bucket")
    b = e.select(F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"), "bucket")
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot / (F.col("na") * F.col("nb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", round6(F.col("cosine")).alias("cosine"))
    )
