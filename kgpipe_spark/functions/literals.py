"""Literal datatype guessing as a column expression.

Mirrors ``guess_literal``
(`/root/reference/src/kgpipe_tasks/construction/extract_json.py:257-279`)
and ``_literal`` (`json_to_rdf.py:168-175`): bool → xsd:boolean,
int → xsd:integer, float → xsd:decimal, ISO date → xsd:date,
ISO dateTime → xsd:dateTime, fallback xsd:string.

``round6`` rounds a double to 6 places the way the DuckDB oracle does, for
every rounded score the engine emits.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from kgpipe_spark.schemas import (
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_INTEGER,
    XSD_STRING,
)

_INT_RE = r"^[+-]?\d+$"
_FLOAT_RE = r"^[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?$"
_DATE_RE = r"^\d{4}-\d{2}-\d{2}$"
_DATETIME_RE = r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}"


def guess_literal_datatype(lex: Column) -> Column:
    t = F.trim(lex)
    return (
        F.when(F.lower(t).isin("true", "false"), F.lit(XSD_BOOLEAN))
        .when(t.rlike(_INT_RE), F.lit(XSD_INTEGER))
        .when(t.rlike(_DATETIME_RE), F.lit(XSD_DATETIME))
        .when(t.rlike(_DATE_RE), F.lit(XSD_DATE))
        .when(t.rlike(_FLOAT_RE) & t.rlike(r"[.eE]"), F.lit(XSD_DECIMAL))
        .otherwise(F.lit(XSD_STRING))
    )


def round6(x: Column) -> Column:
    """A double rounded to 6 places as DuckDB's ``round(x, 6)`` does it:
    round(x·10⁶)/10⁶. Spark's ``round(x, 6)`` rounds the shortest decimal
    string of x half-up instead, and splits some ties the other way
    (41/640: 0.064063 there, 0.064062 here and in DuckDB)."""
    return F.round(x * 1e6) / 1e6
