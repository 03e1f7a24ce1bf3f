import numpy as np
import pytest
from pyspark.sql import functions as F

from kgpipe_spark.operators.similarity import (
    cosine_topk_bruteforce,
    ivf_topk,
    random_hyperplane_buckets,
)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(42)
    vecs = rng.randn(100, 8).astype(float)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(100)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").cache(), vecs


def test_bruteforce_matches_numpy(spark, emb):
    df, vecs = emb
    q = spark.createDataFrame([(0, [float(x) for x in vecs[0]])], "q_id bigint, q_vec array<double>")
    got = cosine_topk_bruteforce(df, q, k=5).orderBy("rank").collect()
    sims = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
    expected = list(np.argsort(-sims)[:5])
    assert [r["vec_id"] for r in got] == expected
    assert got[0]["vec_id"] == 0 and abs(got[0]["cosine"] - 1.0) < 1e-6


def test_ivf_recall(spark, emb):
    df, vecs = emb
    q = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(5)], "q_id bigint, q_vec array<double>"
    )
    exact = cosine_topk_bruteforce(df, q, k=5)
    approx = ivf_topk(df, q, k=5, n_centroids=8, nprobe=4)
    e = {(r["q_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["q_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6  # approximate, but must be useful
    # self-hit always found (query vector is in its own probe cell)
    assert all((i, i) in a for i in range(5))


def test_hyperplane_buckets_deterministic(spark, emb):
    df, _ = emb
    b1 = {r["vec_id"]: r["bucket"] for r in random_hyperplane_buckets(df, n_planes=6).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in random_hyperplane_buckets(df, n_planes=6).collect()}
    assert b1 == b2
    assert len(set(b1.values())) > 1


def test_compute_parallelism_guard(spark, emb):
    """The under-split-input guard must (a) leave results bit-identical and
    (b) no-op when the input already carries >= defaultParallelism
    partitions (the at-scale case — no shuffle sneaks in)."""
    from kgpipe_spark.operators.similarity import _ensure_compute_parallelism

    df, vecs = emb
    q = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(3)], "q_id bigint, q_vec array<double>"
    )
    # (a) results identical whether the input is 1-partition or spread
    one_part = df.coalesce(1)
    got_narrow = {
        tuple(r) for r in cosine_topk_bruteforce(one_part, q, k=5).collect()
    }
    got_wide = {
        tuple(r)
        for r in cosine_topk_bruteforce(
            df.repartition(spark.sparkContext.defaultParallelism), q, k=5
        ).collect()
    }
    assert got_narrow == got_wide
    # (b) already-parallel input passes through with its partitioning intact
    wide = df.repartition(spark.sparkContext.defaultParallelism + 3)
    out = _ensure_compute_parallelism(wide)
    assert out is wide
    # under-split input is spread to the session parallelism
    spread = _ensure_compute_parallelism(one_part)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_ivf_recall_at_partial_probe(spark):
    """IVF at nprobe=2/8 with raw sample centroids must keep recall high on
    the driver's embeddings table (round-1 verdict #10)."""
    from kgpipe_spark.operators.similarity import cosine_topk_bruteforce, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    ivf = ivf_topk(emb, q, k=10, n_centroids=8, nprobe=2, lloyd_steps=0)
    bf = cosine_topk_bruteforce(emb, q, k=10)
    overlap = ivf.join(bf.select("q_id", "vec_id"), ["q_id", "vec_id"], "left_semi").count()
    total = bf.count()
    assert overlap / total >= 0.5  # partial probe keeps at least half the hits


def test_ivf_lloyd_step_repartitions_an_under_split_input_once(spark, emb):
    """Over a 1-partition input, building the IVF plan with a Lloyd step
    runs 5 Spark jobs: the centroid sample (read before the repartition)
    and the Lloyd means. Re-running the repartition under each action
    took 6. The final query reads the cut vectors instead of shuffling
    them again, and its rows equal the spread input's."""
    df, vecs = emb
    q = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(3)], "q_id bigint, q_vec array<double>"
    )
    sc = spark.sparkContext
    sc.setJobGroup("ivf-lloyd-plan", "plan only")
    try:
        out = ivf_topk(df.coalesce(1), q, k=5, n_centroids=8, nprobe=4, lloyd_steps=1)
        jobs = sc.statusTracker().getJobIdsForGroup("ivf-lloyd-plan")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) == 5
    assert "RoundRobinPartitioning" not in out._jdf.queryExecution().executedPlan().toString()
    wide = ivf_topk(df.repartition(8), q, k=5, n_centroids=8, nprobe=4, lloyd_steps=1)
    assert {(r["q_id"], r["vec_id"]) for r in out.collect()} == {
        (r["q_id"], r["vec_id"]) for r in wide.collect()
    }


def test_zero_vector_scores_null(spark):
    """An all-zero embedding (``HashedGramEmbedder``'s vector for "") has no
    cosine: both searches score its pairs NULL and rank them last, as the
    DuckDB oracle's 0/0 does, instead of stopping the job."""
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0]), (3, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    q = df.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    for out in (cosine_topk_bruteforce(df, q, k=4), ivf_topk(df, q, k=4, n_centroids=2, nprobe=2)):
        got = {(r["q_id"], r["vec_id"]): (r["cosine"], r["rank"]) for r in out.collect()}
        assert {got[(1, v)] for v in range(4)} == {(None, 1), (None, 2), (None, 3), (None, 4)}
        assert got[(0, 1)] == (None, 4) and got[(0, 0)] == (1.0, 1)
