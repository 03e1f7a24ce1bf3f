"""Similarity search over embedding columns (array<float>).

The corpus side is a ``(vec_id, embedding)`` frame and the query side a
``(q_id, q_vec)`` frame.

 - ``cosine_topk_bruteforce`` — exact top-k neighbors for a query set via
   JVM higher-order-function dot products + Window top-k. The correctness
   baseline; O(n·q) but fully distributed and codegen'd.
 - ``ivf_topk`` — IVF-style scale path: assign every vector to its nearest
   of C centroids (one broadcast matmul pass), search only the ``nprobe``
   closest centroids per query. Centroids come from a deterministic sample +
   one Lloyd refinement in a pandas UDF-free driver step (tiny C).
 - ``random_hyperplane_buckets`` — LSH bucketing via md5-seeded pseudo-random
   hyperplanes (deterministic; no RNG state).

Every cosine here, and ``dedup.embedding_near_duplicates``', is ``_cosine``:
``_dot`` over ``_norm`` · ``_norm``, divided with ``try_divide``, so a
zero vector scores NULL — what DuckDB's ``0 / 0`` gives the oracle — and
never stops the job. A NULL cosine ranks after every score and passes no
threshold.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgpipe_spark.functions.literals import round6


def _dot(a: str | Column, b: str | Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _ensure_compute_parallelism(df: DataFrame) -> DataFrame:
    """Spread a compute-bound scoring input over at least the session's
    cores.

    The per-pair dot folds below are interpreted higher-order functions —
    heavy CPU per row — while the embeddings input is often ONE small
    parquet file (one row group = one scan task regardless of row count),
    which serializes the whole O(n·q) pass on a single core. Repartition
    ONLY when the scan carries fewer partitions than the session's default
    parallelism: a real at-scale table has far more input splits than
    cores, so this is a metadata probe and a no-op there; a pathologically
    under-split input pays one tiny shuffle (rows × dim doubles) to unlock
    every core (guide §2.5: repartition right after an unsplittable read).
    Row values and all downstream ranks are unchanged — the top-k window
    orders by (cosine, vec_id), a total order per query.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _vectors(embeddings: DataFrame) -> DataFrame:
    return embeddings.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))


def _query_vectors(queries: DataFrame) -> DataFrame:
    return queries.select("q_id", F.col("q_vec").cast("array<double>").alias("qv"))


def _norm(v: str | Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def _cosine(a: str, b: str, na: Column, nb: Column) -> Column:
    """cos(a, b) given the norms ``na``, ``nb``; NULL when either is 0."""
    return F.try_divide(_dot(a, b), na * nb)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """(q_id, vec_id, cosine, rank): the ``k`` best ``cosine`` per query,
    ties to the smaller ``vec_id``."""
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", round6(F.col("cosine")).alias("cosine"), "rank")
    )


def cosine_topk_bruteforce(embeddings: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """(q_id, vec_id, cosine, rank) — exact top-k per query.

    The query set is broadcast (it is small by construction); the corpus side
    streams through one codegen'd projection — no shuffle until the top-k
    window, which AQE keeps partition-local via partial top-k.
    """
    e = _ensure_compute_parallelism(_vectors(embeddings)).withColumn("vnorm", _norm("v"))
    q = _query_vectors(queries).withColumn("qnorm", _norm("qv"))
    joined = e.crossJoin(F.broadcast(q))
    cosine = _cosine("v", "qv", F.col("vnorm"), F.col("qnorm"))
    return _topk(joined.select("q_id", "vec_id", cosine.alias("cosine")), k)


def _deterministic_hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    """md5-seeded pseudo-random ±1 hyperplanes — identical everywhere."""
    rows = []
    for p in range(n_planes):
        vals = []
        for d in range(0, dim, 16):
            h = hashlib.md5(f"plane:{p}:{d}".encode()).digest()
            vals.extend(1.0 if b & 1 else -1.0 for b in h[: min(16, dim - d)])
        rows.append(vals)
    return np.asarray(rows, dtype=np.float64)


def _hyperplane_bucket(embeddings: DataFrame, n_planes: int) -> Column:
    """The int sign-pattern bucket of ``embeddings.embedding`` over
    ``n_planes`` deterministic hyperplanes, as a column of ``embeddings``.

    The planes are literal arrays baked into the plan (they are tiny), so the
    bucket is one JVM projection; reading the width is one ``first()`` job.
    """
    dim = len(embeddings.select("embedding").first()[0])
    planes = _deterministic_hyperplanes(dim, n_planes)
    v = F.col("embedding").cast("array<double>")
    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(float(x)) for x in planes[p]])
        bits.append(F.when(_dot(v, plane) >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return bucket.cast("int")


def random_hyperplane_buckets(embeddings: DataFrame, n_planes: int = 8) -> DataFrame:
    """(vec_id, bucket) — sign-pattern bucket over deterministic hyperplanes."""
    return embeddings.select("vec_id", _hyperplane_bucket(embeddings, n_planes).alias("bucket"))


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    lloyd_steps: int = 1,
) -> DataFrame:
    """Approximate top-k: centroid-partitioned search (IVF).

    Centroids = deterministic sample (first n_centroids by id), optionally
    refined with one Lloyd step computed distributively (groupBy mean). Each
    vector is assigned to its nearest centroid; each query probes its
    ``nprobe`` nearest centroid partitions. Recall < 1.0 by design; the
    brute-force operator is the exactness baseline.

    ``lloyd_steps=0`` keeps the raw sample centroids — fully bit-exact
    cross-engine (no float means whose summation order varies with the
    shuffle), which is what the oracle-gated recall query uses. With a Lloyd
    step the means can shift by an ULP with summation order, which follows
    the input's partitioning, so neighbours near a tie can change rank.

    The sample is read before ``_ensure_compute_parallelism``'s repartition,
    and a Lloyd step cuts the repartitioned vectors first, so the
    repartition's shuffle runs once however many actions read it.
    """
    vecs = _vectors(embeddings)
    init = [r["v"] for r in vecs.orderBy("vec_id").limit(n_centroids).collect()]
    e = _ensure_compute_parallelism(vecs)
    if lloyd_steps > 0:
        e = e.localCheckpoint(eager=False)
        assign = _assign_nearest(e, init)
        means = (
            assign.select("cid", F.posexplode("v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s["m"]).alias("centroid"))
            .collect()
        )
        centroids = {r["cid"]: r["centroid"] for r in means}
        cent_list = [centroids.get(i, init[i % len(init)]) for i in sorted(centroids)]
    else:
        cent_list = init

    assigned = _assign_nearest(e, cent_list).select("vec_id", "v", "cid")

    q_probe = _assign_topn(_query_vectors(queries), cent_list, nprobe)

    joined = assigned.join(q_probe, "cid")
    cosine = _cosine("v", "qv", _norm("v"), _norm("qv"))
    return _topk(joined.select("q_id", "vec_id", cosine.alias("cosine")), k)


def _centroid_dists(v: str, cent_list: list) -> Column:
    """array<struct<d, cid>>: squared distance from ``v`` to each centroid."""
    dists = []
    for i, c in enumerate(cent_list):
        cent = F.array(*[F.lit(float(x)) for x in c])
        sq = F.zip_with(v, cent, lambda x, y: (x - y) * (x - y))
        d = F.aggregate(sq, F.lit(0.0), lambda a, x: a + x)
        dists.append(F.struct(d.alias("d"), F.lit(i).alias("cid")))
    return F.array(*dists)


def _assign_nearest(df: DataFrame, cent_list: list) -> DataFrame:
    return df.withColumn("cid", F.array_min(_centroid_dists("v", cent_list))["cid"])


def _assign_topn(df: DataFrame, cent_list: list, n: int) -> DataFrame:
    top = F.slice(F.array_sort(_centroid_dists("qv", cent_list)), 1, n)
    return df.withColumn("probe", F.explode(top)).select(
        *df.columns, F.col("probe.cid").alias("cid")
    )
