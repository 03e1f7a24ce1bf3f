"""Clustering / canonicalization: union-find as connected components
(SURVEY.md §2.6, §4.2.1).

The reference's ``MatchCluster`` is a driver-side union-find
(`/root/reference/src/kgpipe/evaluation/cluster.py:41-93`; duplicate at
`src/kgpipe_tasks/common/benchutils.py:26-121`). At 10^12-file scale the
match edge list doesn't fit one machine, so we compute connected components
with iterative min-label propagation over self-joins (the
large-star/small-star family), ``localCheckpoint()`` every iteration to
break lineage growth. Converges in O(log n) rounds on real match graphs
(match clusters are tiny — diameter 2-4).

Representative choice: the reference rewrites to a *namespace-preferred*
member when one exists (`preference.py:145-162` via ``has_match_to_namespace``,
`cluster.py:104-116`), else the cluster's own id. ``canonical_map`` supports
both (``prefer_namespace=``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def match_edges(
    matches: DataFrame, threshold: float = 0.5, id_type: str = "entity"
) -> DataFrame:
    """Thresholded, type-filtered, suffix-cleaned edge list.

    Mirrors ``load_matches_from_file`` (`fusion/util.py:6-27`): drop ids
    ending '-', strip ``_uri``/``_literal`` suffixes, filter score>t and
    id_type.
    """
    def clean(c):
        stripped = F.regexp_replace(F.col(c), r"(_uri|_literal)$", "")
        return stripped

    e = (
        matches.filter((F.col("score") > F.lit(threshold)) & (F.col("id_type") == id_type))
        .select(clean("id_1").alias("src"), clean("id_2").alias("dst"))
        .filter(~F.col("src").endswith("-") & ~F.col("dst").endswith("-"))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )
    return e


# edge lists up to this size are clustered by the exact driver union-find
_DRIVER_CC_MAX_EDGES = 200_000
# pointer-jumping rounds of the distributed path (O(log diameter) in practice)
_CC_MAX_ROUNDS = 25


def connected_components(edges: DataFrame) -> DataFrame:
    """Dispatch: exact driver union-find for small edge lists (the match set
    of one incremental stage is usually tiny — the reference does exactly
    this in memory, cluster.py:41-93), distributed pointer-jumping beyond
    ``_DRIVER_CC_MAX_EDGES`` edges. Both produce min-id representatives;
    tests assert they agree."""
    # materialize once, fully parallel — a limit().count() probe would run
    # CollectLimit's incremental (partially serial) scan through the whole
    # unmaterialized upstream
    edges = edges.localCheckpoint(eager=True)
    if edges.count() > _DRIVER_CC_MAX_EDGES:
        return _connected_components_distributed(edges)
    return _connected_components_driver(edges)


def _connected_components_driver(edges: DataFrame) -> DataFrame:
    """(node, component) by union-find over the collected edge list."""
    import pandas as pd

    # Arrow both ways: toPandas() batches the edge list across (vs the
    # pickle row path of collect()), and createDataFrame(pandas) ships the
    # mapping back as Arrow batches — at the 200k-edge ceiling this cuts
    # several seconds of SERIAL driver time, which an N-vs-4N scaling pair
    # pays at both levels
    pdf = edges.select("src", "dst").toPandas()
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf["src"].values, pdf["dst"].values):
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    out = [(n, find(n)) for n in parent]
    spark = edges.sparkSession
    if not out:
        return spark.createDataFrame([], "node string, component string")
    return spark.createDataFrame(
        pd.DataFrame(out, columns=["node", "component"]).astype("string")
    )


def _connected_components_distributed(edges: DataFrame) -> DataFrame:
    """(node, component) — component = min node id reachable (lexicographic).

    Min-label propagation with **pointer jumping**: each round every node
    takes ``min(own, neighbors' labels)``, then labels are path-compressed
    (``component := label[component]``), giving O(log diameter) rounds
    instead of O(diameter). Labels are ``localCheckpoint``ed each round to
    break lineage growth (SURVEY.md §4.2.1). Equivalent to the reference
    union-find's partition (`cluster.py:41-93`) — the representative differs
    (min-id here vs smaller-cluster-id there) but the *partition into
    clusters* is identical, which is what canonicalization consumes.
    """
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = sym.dropDuplicates().localCheckpoint(eager=True)

    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )

    for _ in range(_CC_MAX_ROUNDS):
        # 1) neighbor-min
        nbr_min = (
            sym.join(
                labels.select(F.col("node").alias("dst"), "component"), "dst"
            )
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
            .withColumnRenamed("src", "node")
        )
        stepped = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
            ).alias("component"),
        )
        # 2) pointer jumping: component := component's own label (path halving)
        reps = stepped.select(
            F.col("node").alias("component"), F.col("component").alias("parent")
        )
        jumped = (
            stepped.join(reps, "component", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("parent"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.join(
                labels.select("node", F.col("component").alias("old_component")), "node"
            )
            .filter(F.col("component") != F.col("old_component"))
            .isEmpty()
        )
        labels = jumped
        if changed:
            break
    return labels


def canonical_map(
    components: DataFrame, prefer_namespace: str | None = None
) -> DataFrame:
    """(entity, canonical) rewrite map from a component assignment.

    With ``prefer_namespace``, the representative is the min member inside
    that namespace when one exists (``has_match_to_namespace``,
    cluster.py:104-116); else the component min-id.
    """
    if prefer_namespace is None:
        reps = components.groupBy("component").agg(F.min("node").alias("canonical"))
    else:
        in_ns = F.when(
            F.col("node").startswith(prefer_namespace), F.col("node")
        ).otherwise(F.lit(None))
        reps = components.groupBy("component").agg(
            F.coalesce(F.min(in_ns), F.min("node")).alias("canonical")
        )
    return (
        components.join(reps, "component")
        .select(F.col("node").alias("entity"), "canonical")
        .filter(F.col("entity") != F.col("canonical"))
    )


def best_match_1to1(matches: DataFrame) -> DataFrame:
    """Iterated symmetric best-match — the deterministic, distributable
    counterpart of the reference's greedy 1:1 reduction
    (`fusion/simple.py:41-67`).

    Each round keeps pairs that are the top match for BOTH endpoints
    (score desc, deterministic tiebreak), removes their endpoints, and
    repeats on the residual pairs, for at most 10 rounds. This converges to the same matching as
    sequential greedy whenever scores are distinct per endpoint (greedy's
    accepted pair is always locally symmetric-best among remaining pairs);
    ties are broken by id order instead of input order.

    Endpoints form ONE node universe (the reference keeps a single
    ``used`` set across both columns, simple.py:50-63): a pair is accepted
    iff it is the best pair incident to each of its two endpoints counting
    incidence through either column ("locally dominant edge" — exactly the
    greedy matching when scores are distinct).
    """
    remaining = matches
    accepted: DataFrame | None = None
    pair_key = F.sha2(F.concat_ws("\x01", "id_1", "id_2"), 256)
    for _ in range(10):
        pairs = remaining.withColumn("pk", pair_key)
        incid = pairs.select(F.col("id_1").alias("node"), "pk", "score").unionByName(
            pairs.select(F.col("id_2").alias("node"), "pk", "score")
        )
        w = Window.partitionBy("node").orderBy(F.desc("score"), F.asc("pk"))
        best_per_node = (
            incid.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .groupBy("pk")
            .agg(F.count(F.lit(1)).alias("n_dominant"))
            .filter(F.col("n_dominant") == 2)
            .select("pk")
        )
        round_best = pairs.join(best_per_node, "pk", "left_semi").drop("pk").localCheckpoint(
            eager=True
        )
        if round_best.isEmpty():
            break
        accepted = round_best if accepted is None else accepted.unionByName(round_best)
        used = round_best.select(F.col("id_1").alias("node")).unionByName(
            round_best.select(F.col("id_2").alias("node"))
        )
        remaining = (
            remaining.join(used.withColumnRenamed("node", "id_1"), "id_1", "left_anti")
            .join(used.withColumnRenamed("node", "id_2"), "id_2", "left_anti")
            .localCheckpoint(eager=True)
        )
        if remaining.isEmpty():
            break
    if accepted is None:
        return matches.limit(0)
    return accepted
