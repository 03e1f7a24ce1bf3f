"""Semantic validators (SURVEY.md §2.9) — each one = triples ⋈ broadcast
ontology constraints + filter violations.

Reimplements the validator family in
`/root/reference/src/kgpipe/evaluation/aspects/semantic.py:257-881`:
cardinality, domain, range, datatype, relation-direction, disjoint-domain.
Each returns the violating rows (callers count them for violation metrics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgpipe_spark.eval.alignment import prf_from_counts, set_counts
from kgpipe_spark.functions.literals import round6
from kgpipe_spark.schemas import RDF_TYPE


def _types(triples: DataFrame) -> DataFrame:
    return triples.filter(F.col("predicate") == RDF_TYPE).select(
        F.col("subject").alias("e"), F.col("object_lex").alias("cls")
    )


def cardinality_violations(triples: DataFrame, ontology: DataFrame) -> DataFrame:
    """(s, p, n) where n > max_cardinality (semantic.py cardinality checker)."""
    card = F.broadcast(
        ontology.filter(F.col("max_cardinality").isNotNull()).select(
            F.col("uri").alias("predicate"), "max_cardinality"
        )
    )
    return (
        triples.join(card, "predicate")
        .groupBy("subject", "predicate", "max_cardinality")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > F.col("max_cardinality"))
        .select("subject", "predicate", "n")
    )


def domain_violations(triples: DataFrame, ontology: DataFrame) -> DataFrame:
    """Triples whose subject has a type that contradicts the predicate domain."""
    dom = F.broadcast(
        ontology.filter(F.col("domain").isNotNull()).select(
            F.col("uri").alias("predicate"), "domain"
        )
    )
    typed = _types(triples).withColumnRenamed("e", "subject")
    return (
        triples.join(dom, "predicate")
        .join(typed, "subject", "inner")
        .filter(F.col("cls") != F.col("domain"))
        .select("subject", "predicate", F.col("cls").alias("actual_type"), "domain")
        .distinct()
    )


def range_violations(triples: DataFrame, ontology: DataFrame) -> DataFrame:
    """URI-object triples whose object type contradicts the predicate range."""
    rng = F.broadcast(
        ontology.filter(
            F.col("range").isNotNull() & ~F.col("range").startswith("http://www.w3.org/2001/XMLSchema#")
        ).select(F.col("uri").alias("predicate"), "range")
    )
    typed = _types(triples).withColumnRenamed("e", "object_lex")
    return (
        triples.filter(F.col("object_kind") == "uri")
        .join(rng, "predicate")
        .join(typed, "object_lex", "inner")
        .filter(F.col("cls") != F.col("range"))
        .select(
            "subject", "predicate", F.col("object_lex").alias("object_uri"),
            F.col("cls").alias("actual_type"), "range",
        )
        .distinct()
    )


def datatype_violations(triples: DataFrame, ontology: DataFrame) -> DataFrame:
    """Literal triples whose datatype contradicts an xsd range declaration."""
    rng = F.broadcast(
        ontology.filter(
            F.col("range").isNotNull() & F.col("range").startswith("http://www.w3.org/2001/XMLSchema#")
        ).select(F.col("uri").alias("predicate"), F.col("range").alias("expected_dt"))
    )
    return (
        triples.filter(F.col("object_kind") == "literal")
        .join(rng, "predicate")
        .filter(F.coalesce(F.col("object_datatype"), F.lit("")) != F.col("expected_dt"))
        .select("subject", "predicate", "object_lex", "object_datatype", "expected_dt")
    )


def object_prop_violations(triples: DataFrame, ontology: DataFrame) -> DataFrame:
    """Object-property used with a literal, or datatype-property with a URI
    (relation 'direction'/kind checker)."""
    kinds = F.broadcast(
        ontology.filter(F.col("is_object_prop").isNotNull()).select(
            F.col("uri").alias("predicate"), "is_object_prop"
        )
    )
    return (
        triples.join(kinds, "predicate")
        .filter(
            ((F.col("is_object_prop") == "true") & (F.col("object_kind") == "literal"))
            | ((F.col("is_object_prop") == "false") & (F.col("object_kind") == "uri"))
        )
        .select("subject", "predicate", "object_lex", "object_kind", "is_object_prop")
    )


def disjoint_class_violations(triples: DataFrame, disjoint_pairs: DataFrame) -> DataFrame:
    """Entities typed with two disjoint classes. disjoint_pairs(cls_a, cls_b)."""
    t = _types(triples)
    a = t.withColumnRenamed("cls", "cls_a")
    b = t.withColumnRenamed("cls", "cls_b")
    return (
        a.join(b, "e")
        .join(F.broadcast(disjoint_pairs), ["cls_a", "cls_b"], "left_semi")
        .select(F.col("e").alias("subject"), "cls_a", "cls_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# extended validators (semantic.py:302-401, 672-881)
# ---------------------------------------------------------------------------

_XSD_NS = "http://www.w3.org/2001/XMLSchema#"

# lexical format rules per XSD datatype — mirrors validate_datatype
# (`/root/reference/src/kgpipe/evaluation/aspects/func/datatype_validator.py:5-31`)
_FORMAT_RULES: list[tuple[str, str]] = [
    (_XSD_NS + "integer", r"^[0-9]+$"),
    (_XSD_NS + "double", r"^-?[0-9]*\.?[0-9]+$"),
    (_XSD_NS + "date", r"^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
    (_XSD_NS + "gYear", r"^[0-9]{4}$"),
    (_XSD_NS + "gMonth", r"^[0-9]{2}$"),
    (_XSD_NS + "gDay", r"^[0-9]{2}$"),
    (_XSD_NS + "gYearMonth", r"^[0-9]{4}-[0-9]{2}$"),
    (_XSD_NS + "gMonthDay", r"^[0-9]{2}-[0-9]{2}$"),
]


def _format_ok(value, expected_dt):
    expr = F.lit(True)
    for dt, rx in _FORMAT_RULES:
        expr = F.when(expected_dt == dt, value.rlike(rx)).otherwise(expr)
    return expr


def datatype_format_violations(triples: DataFrame, ontology: DataFrame) -> DataFrame:
    """Literal triples whose LEXICAL form violates the ontology range's
    format rules (IncorrectDatatypeFormatMetric, `semantic.py:672-746` +
    `datatype_validator.py`). Unknown datatypes are always valid."""
    rng = F.broadcast(
        ontology.filter(
            F.col("range").isNotNull() & F.col("range").startswith(_XSD_NS)
        ).select(F.col("uri").alias("predicate"), F.col("range").alias("expected_dt"))
    )
    return (
        triples.filter(F.col("object_kind") == "literal")
        .join(rng, "predicate")
        .filter(~_format_ok(F.col("object_lex"), F.col("expected_dt")))
        .select("subject", "predicate", "object_lex", "expected_dt")
    )


def relation_direction_counts(triples: DataFrame, ontology: DataFrame) -> DataFrame:
    """One row (incorrect, correct, score): URI-object triples under a
    predicate with declared (domain, range), counted correct when the
    subject carries the domain type and the object the range type, incorrect
    when the types are swapped (IncorrectRelationDirectionMetric,
    `semantic.py:302-401`). Triples with untyped endpoints are skipped, as
    in the reference."""
    preds = F.broadcast(
        ontology.filter(F.col("domain").isNotNull() & F.col("range").isNotNull()).select(
            F.col("uri").alias("predicate"), "domain", "range"
        )
    )
    has = _types(triples).distinct()
    t = (
        triples.filter(F.col("object_kind") == "uri")
        .select("subject", "predicate", "object_lex")
        .distinct()
        .join(preds, "predicate")
    )

    def flag(df, ent_col, cls_col, name):
        h = has.select(
            F.col("e").alias(ent_col), F.col("cls").alias(cls_col), F.lit(1).alias(name)
        )
        return df.join(h, [ent_col, cls_col], "left")

    t = flag(t, "subject", "domain", "_sd")
    t = flag(t, "object_lex", "range", "_or")
    t = flag(t, "object_lex", "domain", "_od")
    t = flag(t, "subject", "range", "_sr")
    agg = t.agg(
        F.sum(F.when(F.col("_sd").isNotNull() & F.col("_or").isNotNull(), 1).otherwise(0)).alias("correct"),
        F.sum(F.when(F.col("_od").isNotNull() & F.col("_sr").isNotNull(), 1).otherwise(0)).alias("incorrect"),
    )
    return agg.select(
        F.coalesce("incorrect", F.lit(0)).cast("bigint").alias("incorrect"),
        F.coalesce("correct", F.lit(0)).cast("bigint").alias("correct"),
        round6(
            F.when(
                (F.col("incorrect") + F.col("correct")) > 0,
                1.0 - F.col("incorrect") / (F.col("incorrect") + F.col("correct")),
            ).otherwise(F.lit(0.0))
        ).alias("score"),
    )


_OWL_NS = "http://www.w3.org/2002/07/owl#"
_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"


def ontology_class_coverage(triples: DataFrame, expected_classes: DataFrame) -> DataFrame:
    """Found rdf:type objects vs declared ontology classes → one P/R/F1 row
    (OntologyClassCoverageMetric, `semantic.py:749-785`). OWL-namespace
    classes excluded on both sides."""
    found = (
        triples.filter(F.col("predicate") == RDF_TYPE)
        .select(F.col("object_lex").alias("cls"))
        .filter(~F.col("cls").startswith(_OWL_NS))
    )
    expected = expected_classes.select("cls").filter(~F.col("cls").startswith(_OWL_NS))
    return prf_from_counts(set_counts(found, expected, ["cls"]))


def ontology_relation_coverage(triples: DataFrame, ontology: DataFrame) -> DataFrame:
    """Found predicates vs declared ontology properties → one P/R/F1 row
    (OntologyRelationCoverageMetric, `semantic.py:787-838`). OWL/RDF/RDFS
    namespaces excluded on both sides."""
    def keep(c):
        return (
            ~F.col(c).startswith(_OWL_NS)
            & ~F.col(c).startswith(_RDF_NS)
            & ~F.col(c).startswith(_RDFS_NS)
        )

    found = triples.select(F.col("predicate").alias("rel")).filter(keep("rel"))
    expected = ontology.select(F.col("uri").alias("rel")).filter(keep("rel"))
    return prf_from_counts(set_counts(found, expected, ["rel"]))


def ontology_namespace_coverage(triples: DataFrame, expected_ns: DataFrame) -> DataFrame:
    """Namespaces (URI prefix up to the last '/' or '#') of subjects and URI
    objects vs an expected namespace list → one P/R/F1 row.

    The reference declares OntologyNamespaceCoverageMetric
    (`semantic.py:836-881`) but ships it as a not-implemented stub; this
    implements the declared intent with the same P/R/F1 shape as its
    sibling coverage metrics."""
    ns = lambda c: F.regexp_extract(c, r"^(.*[/#])[^/#]*$", 1)
    found = (
        triples.select(ns(F.col("subject")).alias("ns"))
        .unionByName(
            triples.filter(F.col("object_kind") == "uri").select(
                ns(F.col("object_lex")).alias("ns")
            )
        )
        .filter(F.col("ns") != "")
    )
    return prf_from_counts(set_counts(found, expected_ns, ["ns"]))
