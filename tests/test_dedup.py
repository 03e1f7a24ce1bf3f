"""Near-duplicate detection by the linker's MinHash-LSH kernel
(``linking.minhash_token_signatures`` → ``linking.minhash_verified_pairs``)
over word-3-shingle sets, and through its char-3-gram front end
``minted_near_edges``."""

from pyspark.sql import functions as F

from kgpipe_spark.operators.linking import (
    JACCARD_THRESHOLD,
    NUM_HASHES,
    minhash_token_signatures,
    minhash_verified_pairs,
    minted_near_edges,
)

_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river delta"),  # near dup of 1
    (4, "completely different text about spark dataframes and shuffle plans here"),
    (5, "short text"),  # fewer than three words: no shingle, no signature
]


def _shingles(spark, docs):
    """(id, token) rows, distinct per id: each document's word 3-shingles."""
    rows = []
    for i, text in docs:
        w = text.split()
        rows += [(i, t) for t in sorted({" ".join(w[k : k + 3]) for k in range(len(w) - 2)})]
    return spark.createDataFrame(rows, "id bigint, token string")


def _pairs(spark, docs):
    out = minhash_verified_pairs(minhash_token_signatures(_shingles(spark, docs)))
    return {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}


def test_exact_duplicates(spark):
    """Every pair of identical shingle sets verifies at Jaccard exactly 1.0,
    including all three pairs of a bucket holding three copies."""
    docs = _DOCS + [(6, _DOCS[0][1])]
    pairs = _pairs(spark, docs)
    for p in ((1, 2), (1, 6), (2, 6)):
        assert pairs[p] == 1.0
    assert sorted(p for p, j in pairs.items() if j == 1.0) == [(1, 2), (1, 6), (2, 6)]


def test_minhash_signature_properties(spark):
    sigs = {r["id"]: r["sig"] for r in minhash_token_signatures(_shingles(spark, _DOCS)).collect()}
    assert 5 not in sigs  # no tokens, no row
    assert all(len(s) == NUM_HASHES for s in sigs.values())
    assert all(0 <= h < 2**32 for s in sigs.values() for h in s)
    assert sigs[1] == sigs[2]  # identical docs → identical signatures
    same = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert same > 0  # near-dups share some minhashes
    assert sum(a == b for a, b in zip(sigs[1], sigs[4])) < same


def test_minhash_lsh_pairs(spark):
    pairs = _pairs(spark, _DOCS)
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and JACCARD_THRESHOLD <= pairs[(1, 3)] < 1.0
    assert not any(4 in p or 5 in p for p in pairs)
    assert all(a < b for a, b in pairs)


def test_ngram_jaccard_pairs(spark):
    """``minted_near_edges`` joins surfaces whose char-3-gram sets reach the
    Jaccard threshold, once per pair with src < dst, and leaves a surface
    shorter than one gram alone."""
    norms = [
        "the river bank",
        "the river banks",  # 12 of 13 grams shared
        "a lazy dog",
        "ab",
    ]
    df = spark.createDataFrame([(f"newE/{n}", n) for n in norms], "uri string, norm string")
    edges = {(r["src"], r["dst"]) for r in minted_near_edges(df).collect()}
    assert edges == {("newE/the river bank", "newE/the river banks")}
    assert minted_near_edges(df).filter(F.col("src") >= F.col("dst")).count() == 0
