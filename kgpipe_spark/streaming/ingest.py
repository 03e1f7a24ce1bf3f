"""Structured-Streaming incremental triple ingest.

The reference is strictly batch (SURVEY.md §2.10 — "Streaming: none"); its
incrementality is stage-wise: stage N's result KG feeds stage N+1
(`/root/reference/experiments/moviekg/src/moviekg/pipelines/helpers.py:62-69`).
This module is the streaming-native version of that loop for a corpus that
keeps growing: new corpus blobs land as parquet files, each micro-batch is
extracted + linked and appended to the triples table with set semantics
(dedupe against what is already materialized — rdflib Graph-union semantics,
`fusion/union.py:44-58`, made incremental).

foreachBatch is used (not a plain append sink) because the dedupe-vs-existing
anti-join needs batch-scoped reads of the sink — the standard idempotent-
upsert pattern. Checkpointing gives exactly-once per input file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kgpipe_spark.schemas import CORPUS_SCHEMA, TRIPLE_COLS

# the sink's set-semantics key
KEY = ["subject", "predicate", "object_lex", "object_kind"]


def stream_corpus_to_triples(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    dictionary: DataFrame | None = None,
    max_files_per_trigger: int = 16,
):
    """Start (and return) a streaming query: corpus dir → triples parquet.

    ``dictionary`` (the seed's ``label_dictionary``) is materialised once,
    here, with ``localCheckpoint()``, so no micro-batch re-reads and
    regroups it from its source. The query runs with
    ``trigger(availableNow=True)``: it drains what the input holds, then
    stops; await it with ``awaitTermination``.
    """
    if dictionary is not None:
        dictionary = dictionary.localCheckpoint()
    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    query = (
        stream.writeStream.foreachBatch(
            lambda batch_df, _batch_id: process_batch(batch_df, output_dir, dictionary)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return query


def process_batch(
    batch_df: DataFrame, sink: str, dictionary: DataFrame | None = None
) -> None:
    """One micro-batch: extract (JSON + code), link against ``dictionary``
    when given, and append to ``sink`` only the triples it does not hold.

    Linking reads the extracted triples three times (mentions, subject and
    object rewrite), so they are ``localCheckpoint``ed first and the
    extraction UDF runs once per batch. The sink is read with the triples' own
    schema, which skips the parquet footer inference job."""
    from kgpipe_spark.operators.extract import extract_code_triples, extract_json_triples
    from kgpipe_spark.pipelines import link_entities

    triples = (
        extract_json_triples(batch_df)
        .unionByName(extract_code_triples(batch_df))
        .select(*TRIPLE_COLS)
    )
    if dictionary is not None:
        triples = link_entities(triples.localCheckpoint(), dictionary).select(*TRIPLE_COLS)
    triples = triples.dropDuplicates(KEY)
    # set semantics vs the already-materialized KG (incremental union)
    spark = batch_df.sparkSession
    if _has_parquet(spark, sink):
        existing = spark.read.schema(triples.schema).parquet(sink).select(*KEY)
        triples = triples.join(existing, KEY, "left_anti")
    triples.write.mode("append").parquet(sink)


def _has_parquet(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` holds parquet files, asked through the Hadoop
    FileSystem of ``path``'s scheme so URIs and non-local sinks answer too."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    return bool(fs.globStatus(jvm.org.apache.hadoop.fs.Path(hpath, "*.parquet")))
