"""Connected components vs a pure-Python union-find oracle (SURVEY.md §5),
mirroring the reference's MatchCluster semantics (cluster.py:41-93)."""

import random

from kgpipe_spark.operators.cluster import (
    _connected_components_distributed,
    _connected_components_driver,
    best_match_1to1,
    canonical_map,
    connected_components,
    match_edges,
)


class UnionFind:
    def __init__(self):
        self.parent = {}

    def find(self, x):
        self.parent.setdefault(x, x)
        while self.parent[x] != x:
            self.parent[x] = self.parent[self.parent[x]]
            x = self.parent[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def test_cc_matches_union_find(spark):
    rng = random.Random(42)
    nodes = [f"e{i}" for i in range(200)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]

    uf = UnionFind()
    for a, b in edges:
        uf.union(a, b)
    expected = {}
    for a, b in edges:
        expected[a] = uf.find(a)
        expected[b] = uf.find(b)

    df = spark.createDataFrame(edges, ["src", "dst"])
    # the distributed pointer-jumping path; the driver union-find is the oracle
    got = {r["node"]: r["component"] for r in _connected_components_distributed(df).collect()}
    got_driver = {r["node"]: r["component"] for r in _connected_components_driver(df).collect()}
    assert got == got_driver

    # same partition: two nodes share a component iff union-find agrees
    ks = sorted(got)
    for i in range(0, len(ks) - 1):
        a, b = ks[i], ks[i + 1]
        assert (got[a] == got[b]) == (expected[a] == expected[b])
    # min-label convention
    assert all(got[n] <= n for n in got)


def test_transitive_chain_single_cluster(spark):
    df = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "d")], ["src", "dst"])
    comps = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert len(set(comps.values())) == 1 and set(comps.values()) == {"a"}


def test_match_edges_cleanup(spark):
    m = spark.createDataFrame(
        [
            ("x_uri", "y_literal", 0.9, "entity"),
            ("a", "b-", 0.9, "entity"),       # '-' suffix dropped
            ("c", "d", 0.4, "entity"),         # below threshold
            ("e", "f", 0.9, "relation"),       # wrong type
        ],
        ["id_1", "id_2", "score", "id_type"],
    )
    rows = match_edges(m, threshold=0.5, id_type="entity").collect()
    assert {(r["src"], r["dst"]) for r in rows} == {("x", "y")}


def test_canonical_map_namespace_preference(spark):
    comps = spark.createDataFrame(
        [("http://kg.org/person/a1", "c1"), ("http://kg.org/newE/zz", "c1")],
        ["node", "component"],
    )
    cm = canonical_map(comps, prefer_namespace="http://kg.org/person/").collect()
    assert cm[0]["entity"] == "http://kg.org/newE/zz"
    assert cm[0]["canonical"] == "http://kg.org/person/a1"


def test_best_match_1to1_symmetric(spark):
    m = spark.createDataFrame(
        [
            ("a", "x", 0.9, "entity"),
            ("a", "y", 0.8, "entity"),
            ("b", "x", 0.7, "entity"),  # x's best is a → (b,x) dropped
            ("b", "z", 0.6, "entity"),
        ],
        ["id_1", "id_2", "score", "id_type"],
    )
    got = {(r["id_1"], r["id_2"]) for r in best_match_1to1(m).collect()}
    assert got == {("a", "x"), ("b", "z")}


def test_best_match_1to1_equals_sequential_greedy_random(spark):
    """Randomized equivalence: on distinct scores the iterated
    locally-dominant-edge matching must produce EXACTLY the sequential
    greedy matching (score desc, skip used endpoints) — the reference's
    semantics (fusion/simple.py:41-67). Several seeded rounds, one Spark
    job each."""
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 40
        pairs = set()
        while len(pairs) < 120:
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                pairs.add((f"L{min(a,b)}", f"R{max(a,b)}"))
        # distinct scores → greedy is unique
        scores = rng.sample(range(1, 100000), len(pairs))
        rows = [
            (a, b, s / 100000.0, "entity")
            for (a, b), s in zip(sorted(pairs), scores)
        ]

        used, expected = set(), set()
        for a, b, s, _ in sorted(rows, key=lambda r: -r[2]):
            if a not in used and b not in used:
                used.add(a)
                used.add(b)
                expected.add((a, b))

        m = spark.createDataFrame(rows, "id_1 string, id_2 string, score double, id_type string")
        from kgpipe_spark.operators.cluster import best_match_1to1

        got = {(r["id_1"], r["id_2"]) for r in best_match_1to1(m).collect()}
        assert got == expected, f"seed {seed}: {got ^ expected}"
