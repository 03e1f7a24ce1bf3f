"""Output checks run after every benchmark run.

A digest is order-insensitive: the row count plus the sum of a 64-bit hash
over the five triple columns, summed as an exact decimal so it cannot
overflow. The invariants hold for any seed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgpipe_spark.schemas import RDF_TYPE, TRIPLE_COLS

KEY = ["subject", "predicate", "object_lex", "object_kind"]
NULL = "\x01"  # null stand-in, so (a, null) and (null, a) hash apart


def kg_digest(kg: DataFrame) -> tuple:
    """(digest, whether some (s, p, o, kind) appears more than once), from
    one aggregation over the KG."""
    h = F.xxhash64(*[F.coalesce(F.col(c), F.lit(NULL)) for c in TRIPLE_COLS])
    per_key = kg.groupBy(*KEY).agg(F.count(F.lit(1)).alias("n"), F.sum(h.cast("decimal(38,0)")).alias("h"))
    row = per_key.agg(F.sum("n"), F.sum("h"), F.max("n")).first()
    return [int(row[0] or 0), str(row[1] or 0)], (row[2] or 0) > 1


def content_digest(corpus: DataFrame) -> tuple:
    """(digest of ``sha2(content, 256)`` over the corpus rows, content MB)."""
    h = F.xxhash64(F.sha2(F.col("content"), 256))
    row = corpus.agg(
        F.count(F.lit(1)), F.sum(h.cast("decimal(38,0)")), F.sum(F.octet_length("content"))
    ).first()
    return [int(row[0]), str(row[1] or 0)], (row[2] or 0) / 1e6


def _exists(df: DataFrame) -> bool:
    return not df.isEmpty()


def seed_missing(kg: DataFrame, seed: DataFrame) -> bool:
    """Some seed triple is absent from the output."""
    return _exists(seed.select(*KEY).join(kg.select(*KEY), KEY, "left_anti"))


def fusable_conflicts(kg: DataFrame, seed: DataFrame, fusable: DataFrame) -> bool:
    """Some fusable (s, p) that the seed does not hold has two objects.

    ``rdf:type`` is left out: type completion adds inferred classes next to
    the fused one by design."""
    seed_sp = seed.select("subject", "predicate").distinct()
    return _exists(
        kg.filter(F.col("predicate") != RDF_TYPE)
        .join(F.broadcast(fusable), "predicate", "left_semi")
        .join(seed_sp, ["subject", "predicate"], "left_anti")
        .groupBy("subject", "predicate")
        .count()
        .filter(F.col("count") > 1)
    )
