from pyspark.sql import functions as F

from kgpipe_spark.streaming.ingest import stream_corpus_to_triples


def _write_corpus_batch(spark, path, start, n):
    df = spark.range(start, start + n).select(
        F.lit("org/r").alias("repo"),
        F.concat(F.lit("f"), F.col("id"), F.lit(".json")).alias("path"),
        F.sha2(F.col("id").cast("string"), 256).substr(1, 40).alias("commit"),
        F.lit("json").alias("lang"),
        F.to_json(F.struct(F.concat(F.lit("Doc "), F.col("id")).alias("name"))).alias("content"),
    )
    df.coalesce(1).write.mode("append").parquet(path)


def test_streaming_incremental_ingest(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write_corpus_batch(spark, inp, 0, 10)
    q = stream_corpus_to_triples(spark, inp, out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0

    # second micro-batch: only NEW triples are appended (set semantics);
    # re-delivering batch 1 rows adds nothing
    _write_corpus_batch(spark, inp, 5, 10)  # overlaps 5..9
    q2 = stream_corpus_to_triples(spark, inp, out, ckpt)
    q2.awaitTermination(120)
    triples = spark.read.parquet(out)
    n2 = triples.count()
    assert n2 > n1
    # no duplicate (s,p,o) rows despite the overlap
    assert triples.dropDuplicates(["subject", "predicate", "object_lex", "object_kind"]).count() == n2
