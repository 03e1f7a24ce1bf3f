"""Deterministic URI minting + stable ordering keys.

The reference mints URIs two ways:
 - ``md5(json.dumps(obj))`` for JSON-structure entities
   (`/root/reference/src/kgpipe_tasks/construction/json_to_rdf.py:197,325`,
   `extract_json.py:480-481`) — minted inside ``operators.extract``, where
   the JSON is parsed
 - ``sha256(surface_form)`` for new entities from text surfaces
   (`/root/reference/src/kgpipe_tasks/common/benchutils.py:10-14`,
   `construct.py:116-177`) — ``mint_uri_sha256``

``stable_order_key`` pins the engine's deterministic "first value"
(SURVEY.md §4.2.4): the reference iterates rdflib's unordered set, so its
"first" is nondeterministic; we order by a content hash instead.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from kgpipe_spark.schemas import KG_NS


def mint_uri_sha256(surface: Column) -> Column:
    """``KG_NS`` + ``newE/`` + sha256(surface)."""
    return F.concat(F.lit(KG_NS + "newE/"), F.sha2(surface, 256))


def stable_order_key(*cols: Column) -> Column:
    """Deterministic tiebreak: sha256 over the null-safe concat of cols."""
    safe = [F.coalesce(c.cast("string"), F.lit("\x01")) for c in cols]
    return F.sha2(F.concat_ws("", *safe), 256)
