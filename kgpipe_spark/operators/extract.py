"""Extraction operators: corpus blob → triples / mentions (SURVEY.md §2.3).

Three extractors keyed by ``lang``:

 - **JSON structure extractor** — reimplements the semantics of
   ``construct_rdf_from_json`` heuristic variants
   (`/root/reference/src/kgpipe_tasks/construction/json_to_rdf.py:177-411,479-580`):
   dict → entity (URI = md5 of its canonical JSON), labelish key → rdfs:label,
   nested dict → object edge, list → repeated edges, scalar → typed literal,
   class minting ``EXC<Kind>`` from the key. Implemented as an Arrow-batched
   pandas UDF returning an array of triple structs which the caller explodes
   — the recursion over nested JSON happens per-blob inside the batch; all
   corpus-wide work stays relational.

 - **code extractor** — replaces the reference's Docker OpenIE step for the
   code corpus (contract per `corenlp_extraction.py:20-56`): pure JVM
   ``regexp_extract_all`` for imports / class defs / function defs; no
   Python at all in this path.

 - **text extractor** — pattern-based surface-triple extraction emitting the
   reference's TE surface-form contract
   (`text_extraction.py:34-37`): "<S> was directed by <O>", "stars <O>".

Skew handling: ``salted_repartition`` spreads mega-repos over the cluster
before the (CPU-heavy) extraction UDF (SURVEY.md §4.2.3).
"""

from __future__ import annotations

import hashlib
import json
import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from kgpipe_spark.functions.literals import guess_literal_datatype
from kgpipe_spark.schemas import (
    KG_NS,
    RDF_TYPE,
    RDFS_LABEL,
    TRIPLE_SCHEMA,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_INTEGER,
    XSD_STRING,
)

# ---------------------------------------------------------------------------
# salting for mega-repo skew
# ---------------------------------------------------------------------------


def salted_repartition(corpus: DataFrame, num_partitions: int) -> DataFrame:
    """Repartition by (repo, hash(path) % 64) so one mega-repo spreads over
    64 partitions instead of one (north rule skew handling)."""
    return corpus.repartition(
        num_partitions,
        F.col("repo"),
        F.pmod(F.xxhash64(F.col("path")), F.lit(64)),
    )


# ---------------------------------------------------------------------------
# JSON structure extraction (pandas UDF)
# ---------------------------------------------------------------------------

_LABELISH = re.compile(r"(?i)^(.*(name|label|title)|displayname|preflabel)$")
_INT_RE = re.compile(r"^[+-]?\d+$")
_FLOAT_RE = re.compile(r"^[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$")
_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_DATETIME_RE = re.compile(r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}")


def _guess_dt(value) -> tuple[str, str]:
    """(lexical, xsd datatype) — mirrors extract_json.py:257-279."""
    if isinstance(value, bool):
        return ("true" if value else "false", XSD_BOOLEAN)
    if isinstance(value, int):
        return (str(value), XSD_INTEGER)
    if isinstance(value, float):
        return (repr(value), XSD_DECIMAL)
    s = str(value)
    if _DATETIME_RE.match(s):
        return (s, XSD_DATETIME)
    if _DATE_RE.match(s):
        return (s, XSD_DATE)
    if _INT_RE.match(s):
        return (s, XSD_INTEGER)
    if _FLOAT_RE.match(s) and any(ch in s for ch in ".eE"):
        return (s, XSD_DECIMAL)
    return (s, XSD_STRING)


def _mint(obj) -> str:
    """URI = md5 of the canonical JSON of the object (json_to_rdf.py:197,325)."""
    payload = json.dumps(obj, sort_keys=True, separators=(",", ":"))
    return KG_NS + "e/" + hashlib.md5(payload.encode("utf-8")).hexdigest()


def _pred(key: str) -> str:
    return KG_NS + "prop/" + key


def _cls(key: str) -> str:
    """Class minting ``EXC<Kind>`` (json_to_rdf.py:232-240 semantics)."""
    return KG_NS + "onto/EXC" + key[:1].upper() + key[1:]


def _extract_obj(obj: dict, kind: str, out: list) -> str:
    """Recursive dict → triples; returns the minted subject URI."""
    uri = _mint(obj)
    out.append((uri, RDF_TYPE, _cls(kind), "uri", None))
    for key in sorted(obj.keys()):
        value = obj[key]
        if value is None:
            continue
        if isinstance(value, dict):
            child = _extract_obj(value, key, out)
            out.append((uri, _pred(key), child, "uri", None))
        elif isinstance(value, list):
            for item in value:
                if isinstance(item, dict):
                    child = _extract_obj(item, key, out)
                    out.append((uri, _pred(key), child, "uri", None))
                elif item is not None:
                    lex, dt = _guess_dt(item)
                    out.append((uri, _pred(key), lex, "literal", dt))
        else:
            lex, dt = _guess_dt(value)
            if _LABELISH.match(key):
                out.append((uri, RDFS_LABEL, lex, "literal", XSD_STRING))
            out.append((uri, _pred(key), lex, "literal", dt))
    return uri


def _extract_json_series(contents: pd.Series) -> pd.Series:
    results = []
    for content in contents:
        triples: list = []
        try:
            obj = json.loads(content)
            if isinstance(obj, dict):
                _extract_obj(obj, "document", triples)
            elif isinstance(obj, list):
                for item in obj:
                    if isinstance(item, dict):
                        _extract_obj(item, "document", triples)
        except (ValueError, TypeError):
            pass
        results.append(triples)
    return pd.Series(results)


_extract_json_udf = F.pandas_udf(  # type: ignore[call-overload]
    _extract_json_series, ArrayType(TRIPLE_SCHEMA)
)


def extract_json_triples(corpus: DataFrame) -> DataFrame:
    """JSON-lang blobs → triples with provenance columns."""
    blobs = corpus.filter(F.col("lang") == "json")
    exploded = (
        blobs.select(
            "repo",
            "path",
            "commit",
            F.explode(_extract_json_udf(F.col("content"))).alias("t"),
        )
        .select(
            F.col("t.subject").alias("subject"),
            F.col("t.predicate").alias("predicate"),
            F.col("t.object_lex").alias("object_lex"),
            F.col("t.object_kind").alias("object_kind"),
            F.col("t.object_datatype").alias("object_datatype"),
            F.col("repo").alias("prov_repo"),
            F.col("path").alias("prov_path"),
            F.col("commit").alias("prov_commit"),
        )
    )
    return exploded


def map_jsonpaths_to_rdf(corpus: DataFrame, mappings: list[dict]) -> DataFrame:
    """Mapping-driven JSON→RDF: emit one triple per (document, mapping) hit.

    Implements the intent of ``map_jsonpaths_to_rdf``
    (`/root/reference/src/kgpipe_tasks/construction/mapping.py:4-11`, shipped
    as a ``pass`` stub there): ``mappings`` is the task's mappings config —
    a list of ``{"path": "$.nation.name", "predicate": <uri>,
    "kind": "literal"|"uri", "datatype": <xsd uri>|None}``. Subjects are
    md5-minted from the whole blob (the heuristic extractor's document
    mint); ``kind='uri'`` values are md5-minted the same way nested
    entities are.

    SCALE: unlike the heuristic extractor (arbitrary recursion → pandas
    UDF), declared paths make this 100% JVM: one ``get_json_object`` per
    mapping inside a single projection, explode, filter — whole-stage
    codegen, zero Python, no shuffle.
    """
    blobs = corpus.filter(F.col("lang") == "json")
    subject = F.concat(F.lit(KG_NS + "e/"), F.md5(F.col("content")))
    rows = []
    for m in mappings:
        val = F.get_json_object(F.col("content"), m["path"])
        is_uri = m.get("kind", "literal") == "uri"
        rows.append(
            F.struct(
                F.lit(m["predicate"]).alias("predicate"),
                (
                    F.concat(F.lit(KG_NS + "e/"), F.md5(val)) if is_uri else val
                ).alias("object_lex"),
                F.lit("uri" if is_uri else "literal").alias("object_kind"),
                F.lit(m.get("datatype") if not is_uri else None)
                .cast("string")
                .alias("object_datatype"),
            )
        )
    return (
        blobs.select(
            subject.alias("subject"),
            F.explode(F.array(*rows)).alias("t"),
            F.col("repo").alias("prov_repo"),
            F.col("path").alias("prov_path"),
            F.col("commit").alias("prov_commit"),
        )
        .filter(F.col("t.object_lex").isNotNull())
        .select(
            "subject",
            F.col("t.predicate").alias("predicate"),
            F.col("t.object_lex").alias("object_lex"),
            F.col("t.object_kind").alias("object_kind"),
            F.col("t.object_datatype").alias("object_datatype"),
            "prov_repo",
            "prov_path",
            "prov_commit",
        )
    )


# ---------------------------------------------------------------------------
# code extraction (pure JVM — regexp_extract_all)
# ---------------------------------------------------------------------------


def _file_uri() -> Column:
    return F.concat(F.lit(KG_NS + "file/"), F.md5(F.concat_ws("#", "repo", "path")))


def extract_code_triples(corpus: DataFrame) -> DataFrame:
    """python-lang blobs → (file, imports|defines_class|defines_function, name).

    Whole path is JVM expressions: regexp_extract_all + explode; this is the
    scan-heavy extractor at 10^12-file scale so it must stay codegen'd.
    """
    blobs = corpus.filter(F.col("lang") == "python").select(
        "repo", "path", "commit", "content", _file_uri().alias("file_uri")
    )

    def emit(pattern: str, predicate: str) -> DataFrame:
        return blobs.select(
            "repo",
            "path",
            "commit",
            "file_uri",
            F.explode(F.regexp_extract_all(F.col("content"), F.lit(pattern), 1)).alias("name"),
        ).select(
            F.col("file_uri").alias("subject"),
            F.lit(KG_NS + "code/" + predicate).alias("predicate"),
            F.col("name").alias("object_lex"),
            F.lit("literal").alias("object_kind"),
            F.lit(XSD_STRING).alias("object_datatype"),
            F.col("repo").alias("prov_repo"),
            F.col("path").alias("prov_path"),
            F.col("commit").alias("prov_commit"),
        )

    imports = emit(r"(?m)^import\s+([\w.]+)", "imports")
    classes = emit(r"(?m)^class\s+(\w+)", "defines_class")
    funcs = emit(r"(?m)^\s*def\s+(\w+)", "defines_function")

    types = blobs.select(
        F.col("file_uri").alias("subject"),
        F.lit(RDF_TYPE).alias("predicate"),
        F.lit(KG_NS + "onto/SourceFile").alias("object_lex"),
        F.lit("uri").alias("object_kind"),
        F.lit(None).cast("string").alias("object_datatype"),
        F.col("repo").alias("prov_repo"),
        F.col("path").alias("prov_path"),
        F.col("commit").alias("prov_commit"),
    )
    return imports.unionByName(classes).unionByName(funcs).unionByName(types)


# ---------------------------------------------------------------------------
# text extraction (pattern-based, JVM) — emits surface triples
# ---------------------------------------------------------------------------

_DIRECTED_RE = r"(Film \d+) was directed by ([^.]+)\."
_STARS_RE = r"It stars ([^.]+)\."


def extract_text_surface_triples(corpus: DataFrame) -> DataFrame:
    """text-lang blobs → surface-form triples (subject/pred/object strings).

    Contract = the reference's TE_Triple surface forms
    (`text_extraction.py:34-37`); linking turns surfaces into URIs later
    (`construct.py:39-178` semantics).
    """
    blobs = corpus.filter(F.col("lang") == "text")
    directed = blobs.select(
        "repo",
        "path",
        "commit",
        F.regexp_extract("content", _DIRECTED_RE, 1).alias("subj_surface"),
        F.lit("directed by").alias("pred_surface"),
        F.trim(F.regexp_extract("content", _DIRECTED_RE, 2)).alias("obj_surface"),
    ).filter(F.col("subj_surface") != "")
    stars = blobs.select(
        "repo",
        "path",
        "commit",
        F.regexp_extract("content", _DIRECTED_RE, 1).alias("subj_surface"),
        F.lit("stars").alias("pred_surface"),
        F.explode(
            F.split(F.regexp_extract("content", _STARS_RE, 1), r"\s+and\s+")
        ).alias("obj_surface"),
    ).filter((F.col("subj_surface") != "") & (F.col("obj_surface") != ""))
    return directed.unionByName(stars)


# ---------------------------------------------------------------------------
# mention extraction for linking (SURVEY.md §2.4 decomposition, step 1)
# ---------------------------------------------------------------------------


def mentions_from_triples(triples: DataFrame) -> DataFrame:
    """Label-bearing rows → mention rows (doc_uri, kind, query_text).

    In the reference, linking queries are the labelish values of each JSON
    object (`extract_json.py:110-129`); here they are the rdfs:label rows of
    extracted entities.
    """
    return triples.filter(F.col("predicate") == RDFS_LABEL).select(
        F.col("subject").alias("doc_uri"),
        F.lit("entity").alias("kind"),
        F.col("object_lex").alias("query_text"),
    )


# ---------------------------------------------------------------------------
# relational unpivot helper: wide table → triples (used by oracle queries)
# ---------------------------------------------------------------------------


def unpivot_to_triples(
    df: DataFrame,
    subject_expr: Column,
    type_uri: str,
    label_col: str | None,
    literal_cols: dict[str, str],
    uri_cols: dict[str, Column] | None = None,
) -> DataFrame:
    """Generic wide-row → triples extraction (one SELECT + UNION per column).

    Mirrors the reference's JSON-object → triples shape on relational input;
    used to derive deterministic triples tables from the driver's TPC-H-ish
    parquet for the DuckDB oracle harness.
    """
    base = df.withColumn("__subj", subject_expr)
    parts = [
        base.select(
            F.col("__subj").alias("subject"),
            F.lit(RDF_TYPE).alias("predicate"),
            F.lit(type_uri).alias("object_lex"),
            F.lit("uri").alias("object_kind"),
            F.lit(None).cast("string").alias("object_datatype"),
        )
    ]
    if label_col is not None:
        parts.append(
            base.select(
                F.col("__subj").alias("subject"),
                F.lit(RDFS_LABEL).alias("predicate"),
                F.col(label_col).cast("string").alias("object_lex"),
                F.lit("literal").alias("object_kind"),
                F.lit(XSD_STRING).alias("object_datatype"),
            )
        )
    for col_name, pred in literal_cols.items():
        lex = F.col(col_name).cast("string")
        parts.append(
            base.filter(lex.isNotNull()).select(
                F.col("__subj").alias("subject"),
                F.lit(pred).alias("predicate"),
                lex.alias("object_lex"),
                F.lit("literal").alias("object_kind"),
                guess_literal_datatype(lex).alias("object_datatype"),
            )
        )
    for pred, uri_expr in (uri_cols or {}).items():
        parts.append(
            base.select(
                F.col("__subj").alias("subject"),
                F.lit(pred).alias("predicate"),
                uri_expr.cast("string").alias("object_lex"),
                F.lit("uri").alias("object_kind"),
                F.lit(None).cast("string").alias("object_datatype"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


__all__ = [
    "salted_repartition",
    "extract_json_triples",
    "extract_code_triples",
    "extract_text_surface_triples",
    "mentions_from_triples",
    "unpivot_to_triples",
]
