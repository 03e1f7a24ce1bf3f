"""String normalization column expressions (all JVM-side, codegen-friendly).

Mirrors the reference's label cleanups:
 - `_`/`-` → space + lowercase
   (`/root/reference/src/kgpipe_tasks/text_processing/entity_match.py:17-18`,
   `relation_match.py:32-33`)
 - camelCase splitting for JSON keys
   (`/root/reference/src/kgpipe_tasks/construction/json_to_rdf.py:16-20`)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_label(col: Column) -> Column:
    """lowercase, translate _ and - to spaces, collapse whitespace, trim."""
    c = F.lower(F.translate(col, "_-", "  "))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def split_camel_case(col: Column) -> Column:
    """``releaseDate`` → ``release date`` (json_to_rdf.py:16-20 semantics)."""
    return F.lower(F.regexp_replace(col, r"(?<=[a-z0-9])(?=[A-Z])", " "))


def labelish_key(col: Column) -> Column:
    """True when a JSON key looks like a label key.

    Regex mirrors `/root/reference/src/kgpipe_tasks/construction/extract_json.py:22`
    (``name|label|title|displayName|prefLabel``).
    """
    return col.rlike(r"(?i)^(.*(name|label|title)|displayname|preflabel)$")
