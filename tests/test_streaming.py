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


def test_streaming_uri_sink_keeps_set_semantics(spark, tmp_path):
    """A sink given as a ``file://`` URI dedupes against what it holds exactly
    like the same sink given as a plain path."""
    inp = str(tmp_path / "in")
    sinks = {"path": str(tmp_path / "out_path"), "uri": (tmp_path / "out_uri").as_uri()}

    def drain():
        for kind, sink in sinks.items():
            q = stream_corpus_to_triples(spark, inp, sink, str(tmp_path / f"ckpt_{kind}"))
            q.awaitTermination(120)

    _write_corpus_batch(spark, inp, 0, 10)
    drain()
    _write_corpus_batch(spark, inp, 5, 10)  # re-delivers the triples of 5..9
    drain()

    key = ["subject", "predicate", "object_lex", "object_kind"]
    by_uri = spark.read.parquet(sinks["uri"])
    assert by_uri.dropDuplicates(key).count() == by_uri.count()
    assert sorted(by_uri.collect()) == sorted(spark.read.parquet(sinks["path"]).collect())


def test_linked_stream_matches_batch_link_after_restart(spark, seed, tmp_path):
    """The stream with a dictionary, drained in two runs against one
    checkpoint, holds exactly the batch extract-and-link over the union of
    its input files: a set, with seed URIs among its subjects."""
    from kgpipe_spark.corpus import synth_corpus
    from kgpipe_spark.operators.extract import extract_code_triples, extract_json_triples
    from kgpipe_spark.operators.linking import label_dictionary
    from kgpipe_spark.pipelines import link_entities
    from kgpipe_spark.schemas import TRIPLE_COLS
    from kgpipe_spark.streaming.ingest import KEY

    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    corpus = synth_corpus(spark, 60, seed=3)

    def write_commit(k):
        corpus.filter(F.col("id") % 3 == k).coalesce(1).write.mode("append").parquet(inp)

    def drain():
        q = stream_corpus_to_triples(spark, inp, out, ckpt, dictionary=label_dictionary(seed))
        assert q.awaitTermination(300)

    write_commit(0)
    write_commit(1)
    drain()
    write_commit(2)
    write_commit(1)  # re-delivered: adds nothing
    drain()

    union = spark.read.parquet(inp)
    extracted = extract_json_triples(union).unionByName(extract_code_triples(union))
    expected = (
        link_entities(extracted.select(*TRIPLE_COLS), label_dictionary(seed))
        .select(*TRIPLE_COLS)
        .dropDuplicates(KEY)
    )
    rows = [tuple(r) for r in spark.read.parquet(out).select(*TRIPLE_COLS).collect()]
    assert len({r[:4] for r in rows}) == len(rows)
    assert set(rows) == {tuple(r) for r in expected.collect()}
    seed_uris = {r["subject"] for r in seed.select("subject").distinct().collect()}
    assert seed_uris & {r[0] for r in rows}
