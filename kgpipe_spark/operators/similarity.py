"""Similarity search over embedding columns (array<float>).

The corpus side is a ``(vec_id, embedding)`` frame and the query side a
``(q_id, q_vec)`` frame.

 - ``cosine_topk_bruteforce`` — exact top-k neighbors for a query set via
   JVM `zip_with`/`aggregate` dot products + Window top-k. The correctness
   baseline; O(n·q) but fully distributed and codegen'd.
 - ``ivf_topk`` — IVF-style scale path: assign every vector to its nearest
   of C centroids (one broadcast matmul pass), search only the ``nprobe``
   closest centroids per query. Centroids come from a deterministic sample +
   one Lloyd refinement in a pandas UDF-free driver step (tiny C).
 - ``random_hyperplane_buckets`` — LSH bucketing via md5-seeded pseudo-random
   hyperplanes (deterministic; no RNG state).
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


def cosine_topk_bruteforce(embeddings: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """(q_id, vec_id, cosine, rank) — exact top-k per query.

    The query set is broadcast (it is small by construction); the corpus side
    streams through one codegen'd projection — no shuffle until the top-k
    window, which AQE keeps partition-local via partial top-k.
    """
    e = _ensure_compute_parallelism(_vectors(embeddings)).withColumn("vnorm", _norm("v"))
    q = _query_vectors(queries).withColumn("qnorm", _norm("qv"))
    joined = e.crossJoin(F.broadcast(q))
    scored = joined.select(
        "q_id",
        "vec_id",
        (_dot("v", "qv") / (F.col("vnorm") * F.col("qnorm"))).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", round6(F.col("cosine")).alias("cosine"), "rank")
    )


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


def random_hyperplane_buckets(embeddings: DataFrame, n_planes: int = 8) -> DataFrame:
    """(vec_id, bucket) — sign-pattern bucket over deterministic hyperplanes.

    The planes are literal arrays baked into the plan (they are tiny), so the
    whole operator is one JVM projection.
    """
    dim = len(embeddings.select("embedding").first()[0])
    planes = _deterministic_hyperplanes(dim, n_planes)
    v = F.col("embedding").cast("array<double>")
    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(float(x)) for x in planes[p]])
        s = F.aggregate(F.zip_with(v, plane, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
        bits.append(F.when(s >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return embeddings.select("vec_id", bucket.cast("int").alias("bucket"))


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
    scored = joined.select(
        "q_id",
        "vec_id",
        (_dot("v", "qv") / (_norm("v") * _norm("qv"))).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", round6(F.col("cosine")).alias("cosine"), "rank")
    )


def _cent_cols(cent_list: list) -> list[Column]:
    return [F.array(*[F.lit(float(x)) for x in c]) for c in cent_list]


def _assign_nearest(df: DataFrame, cent_list: list) -> DataFrame:
    vcol = "v" if "v" in df.columns else "qv"
    dists = [
        F.struct(
            F.aggregate(
                F.zip_with(vcol, c, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda a, x: a + x
            ).alias("d"),
            F.lit(i).alias("cid"),
        )
        for i, c in enumerate(_cent_cols(cent_list))
    ]
    return df.withColumn("cid", F.array_min(F.array(*dists))["cid"])


def _assign_topn(df: DataFrame, cent_list: list, n: int) -> DataFrame:
    vcol = "v" if "v" in df.columns else "qv"
    dists = [
        F.struct(
            F.aggregate(
                F.zip_with(vcol, c, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda a, x: a + x
            ).alias("d"),
            F.lit(i).alias("cid"),
        )
        for i, c in enumerate(_cent_cols(cent_list))
    ]
    top = F.slice(F.array_sort(F.array(*dists)), 1, n)
    return df.withColumn("probe", F.explode(top)).select(
        *df.columns, F.col("probe.cid").alias("cid")
    )
