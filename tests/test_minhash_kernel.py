"""The linker's MinHash-LSH kernel (linking.minhash_token_signatures →
linking.minhash_verified_pairs) against a pure-Python replay of its hash
family, over word-3-shingle sets fed to the kernel directly and through its
one consumer, the two-pass linker's char-3-gram edges
(``minted_near_edges``)."""

import hashlib
import itertools
from collections import defaultdict

from kgpipe_spark.operators.linking import (
    minhash_token_signatures,
    minhash_verified_pairs,
    minted_near_edges,
)


def _md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def _replay(sets, num_hashes=16, bands=8, threshold=0.5):
    """(candidate pairs, {verified pair: jaccard}, missed pairs) for
    {id: token set}: md5(token) → (a, b); sig[i] = min((a + i·b) mod 2^32);
    a band's bucket is md5('|'.join(its sig values)); ids sharing a bucket
    are candidates; exact set Jaccard ≥ threshold verifies. Missed pairs
    reach the threshold but share no bucket."""
    rows = num_hashes // bands
    buckets = defaultdict(set)
    for i, toks in sets.items():
        if not toks:
            continue
        ab = [(int(_md5(t)[:8], 16), int(_md5(t)[8:16], 16)) for t in toks]
        sig = [min((a + k * b) % 2**32 for a, b in ab) for k in range(num_hashes)]
        for band in range(bands):
            key = _md5("|".join(str(x) for x in sig[band * rows : (band + 1) * rows]))
            buckets[band, key].add(i)
    cand = {p for ids in buckets.values() for p in itertools.combinations(sorted(ids), 2)}
    jac = {
        (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        for a, b in itertools.combinations(sorted(sets), 2)
        if sets[a] and sets[b]
    }
    verified = {p: j for p, j in jac.items() if j >= threshold and p in cand}
    missed = {p for p, j in jac.items() if j >= threshold and p not in cand}
    return cand, verified, missed


def _replay_checked(sets):
    cand, verified, missed = _replay(sets)
    # the fixture exercises every decision of the kernel: a near-identical
    # pair, a banded candidate the verify step rejects, and a pair above the
    # threshold that the banding misses (so the exact hash family and band
    # layout decide the output, not the Jaccard filter alone)
    assert any(j >= 0.8 for j in verified.values())
    assert cand - set(verified)
    assert missed
    return verified


def test_minhash_lsh_pairs_match_replay(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    words = base.split()
    docs = {
        1: base,
        2: base.replace("today", "tonight"),
        3: "completely different text about spark dataframes and shuffle plans here",
        4: "short text",
    }
    for k in range(len(words)):  # one word replaced at each position
        docs[100 + k] = " ".join(words[:k] + [f"w{k}"] + words[k + 1 :])
    sets = {}
    for i, text in docs.items():
        w = text.split()
        sets[i] = {" ".join(w[k : k + 3]) for k in range(len(w) - 2)}
    verified = _replay_checked(sets)

    tokens = spark.createDataFrame(
        [(i, t) for i, toks in sets.items() for t in sorted(toks)], "id bigint, token string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_verified_pairs(minhash_token_signatures(tokens)).collect()
    }
    assert {p: round(j, 6) for p, j in got.items()} == {p: round(j, 6) for p, j in verified.items()}


def test_minted_near_edges_match_replay(spark):
    phrase = "some brand new entity"
    norms = [phrase, "some brandy old entity", "some old entity", "brand new", "totally other thing"]
    # one character replaced at each non-space position
    norms += [phrase[:k] + "x" + phrase[k + 1 :] for k in range(len(phrase)) if phrase[k] != " "]
    norms.append("ab")  # shorter than one gram: no signature, no edge
    uris = {f"newE/{n}": n for n in norms}
    sets = {u: {n[k : k + 3] for k in range(len(n) - 2)} for u, n in uris.items()}
    verified = _replay_checked(sets)

    df = spark.createDataFrame(list(uris.items()), "uri string, norm string")
    got = {(r["src"], r["dst"]) for r in minted_near_edges(df).collect()}
    assert got == set(verified)
