"""Canonical schemas for the engine (SURVEY.md §1).

The triples schema mirrors the reference's rdflib (s, p, o) triple sets
(`/root/reference/src/kgpipe/common/model/kg.py:14-66`) with the
object split into lexical form / kind / datatype the way the reference's
wide-CSV transform encodes it as `_uri` / `_literal` column suffixes
(`/root/reference/src/kgpipe_tasks/transform_interop/transform.py:20`).
Provenance columns replace the reference's sidecar `.prov` files
(`/root/reference/src/kgpipe_tasks/construction/extract_json.py:523-563`).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Well-known URIs (subset the reference hardcodes all over)
# ---------------------------------------------------------------------------
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"
SKOS_ALT_LABEL = "http://www.w3.org/2004/02/skos/core#altLabel"
OWL_SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"
XSD = "http://www.w3.org/2001/XMLSchema#"
XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_BOOLEAN = XSD + "boolean"
XSD_DATE = XSD + "date"
XSD_DATETIME = XSD + "dateTime"

# default minting namespace, mirrors the reference's http://kg.org/
# (`/root/reference/src/kgpipe_tasks/construction/json_to_rdf.py:14`)
KG_NS = "http://kg.org/"

# ---------------------------------------------------------------------------
# Corpus table (BASELINE.json input_hint)
# ---------------------------------------------------------------------------
CORPUS_SCHEMA = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("lang", StringType(), False),
        StructField("content", StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Canonical triples table (SURVEY.md §1.3)
# ---------------------------------------------------------------------------
TRIPLE_FIELDS = [
    StructField("subject", StringType(), False),
    StructField("predicate", StringType(), False),
    StructField("object_lex", StringType(), True),
    StructField("object_kind", StringType(), False),
    StructField("object_datatype", StringType(), True),
]

TRIPLE_SCHEMA = StructType(TRIPLE_FIELDS)

TRIPLE_COLS = [f.name for f in TRIPLE_FIELDS]

# ---------------------------------------------------------------------------
# ER exchange — flat matches table
# (`/root/reference/src/kgpipe_tasks/transform_interop/exchange/entity_matching.py:23-58`)
# ---------------------------------------------------------------------------
ER_MATCH_SCHEMA = StructType(
    [
        StructField("id_1", StringType(), False),
        StructField("id_2", StringType(), False),
        StructField("score", DoubleType(), False),
        StructField("id_type", StringType(), False),  # 'entity' | 'relation'
    ]
)

# ---------------------------------------------------------------------------
# TE exchange — per-document extraction container
# (`/root/reference/src/kgpipe_tasks/transform_interop/exchange/text_extraction.py:5-56`)
# ---------------------------------------------------------------------------
TE_SPAN = StructType(
    [
        StructField("start", IntegerType(), True),
        StructField("end", IntegerType(), True),
        StructField("surface_form", StringType(), True),
        StructField("text", StringType(), True),
        StructField("mapping", StringType(), True),
    ]
)

TE_TRIPLE = StructType(
    [
        StructField("subject", TE_SPAN, True),
        StructField("predicate", TE_SPAN, True),
        StructField("object", TE_SPAN, True),
    ]
)

TE_PAIR = StructType(
    [
        StructField("span", StringType(), True),
        StructField("mapping", StringType(), True),
        StructField("link_type", StringType(), True),  # entity|predicate|type
        StructField("score", DoubleType(), True),
    ]
)

TE_CHAIN = StructType(
    [
        StructField("main", StringType(), True),
        StructField("aliases", ArrayType(TE_SPAN), True),
    ]
)

TE_DOCUMENT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("text", StringType(), True),
        StructField("triples", ArrayType(TE_TRIPLE), True),
        StructField("chains", ArrayType(TE_CHAIN), True),
        StructField("links", ArrayType(TE_PAIR), True),
    ]
)
