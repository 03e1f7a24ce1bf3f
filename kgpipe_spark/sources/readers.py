"""Format readers/writers for the reference's exchange contracts (SURVEY.md §2.1).

 - ``read_paris_dir`` — PARIS output TSVs: picks the last non-empty iteration
   of ``<it>_eqv.tsv`` (entities) and ``<it>_superrelations{1,2}.tsv``
   (relations), resolving prefixed URIs against a prefix map
   (`/root/reference/src/kgpipe_tasks/schema_alignment/matching/paris_rdf_matcher.py:63-157`).
 - ``read_er_json`` / ``write_er_json`` — the ER_Document exchange format
   (`entity_matching.py:46-58`): {"matches": [{id_1,id_2,score,id_type}],
   "blocks": [...], "clusters": [...]}.
 - ``read_te_json`` — TE_Document files (`text_extraction.py:39-56`).
 - ``read_csv_table`` / ``write_csv_table`` — plain CSV interop
   (`transform.py:33-53`).
"""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgpipe_spark.schemas import ER_MATCH_SCHEMA, TE_DOCUMENT_SCHEMA

DEFAULT_PREFIXES = {
    "dbo:": "http://dbpedia.org/ontology/",
    "dbr:": "http://dbpedia.org/resource/",
    "rdfs:": "http://www.w3.org/2000/01/rdf-schema#",
    "rdf:": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
}


def _expand_prefix(col):
    """Prefixed URI → full URI via chained conditionals over the tiny
    ``DEFAULT_PREFIXES`` map."""
    expr = col
    for pfx, ns in DEFAULT_PREFIXES.items():
        expr = F.when(
            col.startswith(pfx), F.concat(F.lit(ns), F.substring(col, len(pfx) + 1, 10_000))
        ).otherwise(expr)
    return expr


def read_paris_dir(spark: SparkSession, paris_dir: str) -> DataFrame:
    """PARIS csv dir → ER matches DataFrame (last non-empty iteration).

    Iteration choice happens on the driver (it is a handful of small files —
    exactly what the reference does, paris_rdf_matcher.py:102-157); the TSV
    parse is a parallel spark.read.csv.
    """
    def last_nonempty(pattern: str) -> str | None:
        files = sorted(
            glob.glob(os.path.join(paris_dir, pattern)),
            key=lambda p: int(re.match(r"(\d+)_", os.path.basename(p)).group(1)),
        )
        for p in reversed(files):
            if os.path.getsize(p) > 0:
                return p
        return None

    parts = []
    eqv = last_nonempty("*_eqv.tsv")
    if eqv:
        df = spark.read.csv(eqv, sep="\t").toDF("id_1", "id_2", "score")
        parts.append(
            df.select(
                _expand_prefix(F.col("id_1")).alias("id_1"),
                _expand_prefix(F.col("id_2")).alias("id_2"),
                F.col("score").cast("double").alias("score"),
                F.lit("entity").alias("id_type"),
            )
        )
    for pattern in ("*_superrelations1.tsv", "*_superrelations2.tsv"):
        rel = last_nonempty(pattern)
        if rel:
            df = spark.read.csv(rel, sep="\t").toDF("id_1", "id_2", "score")
            parts.append(
                df.select(
                    _expand_prefix(F.col("id_1")).alias("id_1"),
                    _expand_prefix(F.col("id_2")).alias("id_2"),
                    F.col("score").cast("double").alias("score"),
                    F.lit("relation").alias("id_type"),
                )
            )
    if not parts:
        return spark.createDataFrame([], ER_MATCH_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_er_json(spark: SparkSession, path: str) -> DataFrame:
    """er.json file(s) → flat matches DataFrame."""
    raw = spark.read.option("multiLine", "true").json(path)
    return raw.select(F.explode("matches").alias("m")).select(
        F.col("m.id_1").cast("string").alias("id_1"),
        F.col("m.id_2").cast("string").alias("id_2"),
        F.col("m.score").cast("double").alias("score"),
        F.col("m.id_type").cast("string").alias("id_type"),
    )


def write_er_json(matches: DataFrame, path: str) -> None:
    """Flat matches → one er.json-shaped JSON document (driver-side for the
    exchange file; matches sets are small by the time they are exchanged)."""
    import json

    rows = [
        {"id_1": r["id_1"], "id_2": r["id_2"], "score": r["score"], "id_type": r["id_type"]}
        for r in matches.collect()
    ]
    with open(path, "w") as f:
        json.dump({"matches": rows, "blocks": [], "clusters": []}, f)


def read_te_json(spark: SparkSession, path: str) -> DataFrame:
    """te.json file(s) → TE_Document rows with the canonical struct schema."""
    return spark.read.option("multiLine", "true").schema(TE_DOCUMENT_SCHEMA).json(path)


def write_te_json(te_docs: DataFrame, out_dir: str) -> None:
    """TE_Documents → one ``<doc_id>.json`` per doc under ``out_dir`` — the
    TE_JSON exchange contract the reference emits (one TE_Document
    ``model_dump_json`` per file, `aggregation.py:38-45`; filename is the
    doc key). Rows stream through ``toLocalIterator`` (bounded driver
    memory) — exchange sets are small by the time they are written; bulk KG
    output goes to parquet sinks, not this format."""
    import json

    os.makedirs(out_dir, exist_ok=True)

    def span(s):
        if s is None:
            return None
        return {
            "start": s["start"],
            "end": s["end"],
            "surface_form": s["surface_form"],
            "text": s["text"],
            "mapping": s["mapping"],
        }

    for r in te_docs.toLocalIterator():
        doc = {
            "doc_id": r["doc_id"],
            "text": r["text"],
            "triples": [
                {
                    "subject": span(t["subject"]),
                    "predicate": span(t["predicate"]),
                    "object": span(t["object"]),
                }
                for t in (r["triples"] or [])
            ],
            "chains": [
                {"main": c["main"], "aliases": [span(a) for a in (c["aliases"] or [])]}
                for c in (r["chains"] or [])
            ],
            "links": [
                {
                    "span": l["span"],
                    "mapping": l["mapping"],
                    "link_type": l["link_type"],
                    "score": l["score"],
                }
                for l in (r["links"] or [])
            ],
        }
        with open(os.path.join(out_dir, f"{r['doc_id']}.json"), "w") as f:
            json.dump(doc, f)


def read_csv_table(spark: SparkSession, path: str, **options) -> DataFrame:
    opts: dict = {"header": True, "inferSchema": True}
    opts.update(options)  # caller overrides win (e.g. inferSchema=False)
    return spark.read.options(**opts).csv(path)


def write_csv_table(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", True).csv(path)


def read_cluster_file(spark: SparkSession, path: str) -> DataFrame:
    """verified_matches-style gold file → (uris array<string>) cluster rows.

    Mirrors ``load_matches`` (`/root/reference/src/kgpipe/evaluation/
    cluster.py:134-175`): per line, TSV two-column rows are pairs, n-column
    rows are clusters; empty cells dropped; a file whose first line holds no
    tab is split on commas instead. Pair with ``eval.er_eval.cluster_pairs``
    for the pairwise edge list."""
    lines = spark.read.text(path)
    first = lines.limit(1).collect()
    sep = "\t" if (first and "\t" in first[0]["value"]) else ","
    return (
        lines.select(F.split(F.col("value"), sep).alias("raw"))
        .select(
            F.filter(
                F.transform(F.col("raw"), lambda c: F.trim(c)), lambda c: c != ""
            ).alias("uris")
        )
        .filter(F.size("uris") > 0)
    )
