"""String normalization column expressions (all JVM-side, codegen-friendly).

Mirrors the reference's label cleanups:
 - `_`/`-` → space + lowercase
   (`/root/reference/src/kgpipe_tasks/text_processing/entity_match.py:17-18`,
   `relation_match.py:32-33`)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def normalize_label(col: Column) -> Column:
    """lowercase, translate _ and - to spaces, collapse whitespace, trim."""
    c = F.lower(F.translate(col, "_-", "  "))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def labelish_key(col: Column) -> Column:
    """True when a JSON key looks like a label key.

    Regex mirrors `/root/reference/src/kgpipe_tasks/construction/extract_json.py:22`
    (``name|label|title|displayName|prefLabel``).
    """
    return col.rlike(r"(?i)^(.*(name|label|title)|displayname|preflabel)$")
