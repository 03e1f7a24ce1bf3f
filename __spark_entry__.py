"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline
(extract → link → canonicalize → fuse → type-complete, SURVEY.md §3.4
`json_b` shape) over a corpus derived from the sf0.001 parquet tables.

``queries()`` exposes every implemented operator from SURVEY.md §2 over the
driver's parquet tables; ``oracle_sql()`` holds the DuckDB-equivalent SQL.
Shared derived inputs (the KG "triples" table, the ER "matches" table) are
deterministic functions of customer/nation/region so both engines compute
them independently and must agree bit-for-bit.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgpipe_spark.functions.literals import round6
from kgpipe_spark.schemas import (
    KG_NS,
    RDF_TYPE,
    RDFS_LABEL,
    SKOS_ALT_LABEL,
    XSD_BOOLEAN,
    XSD_DATE,
    XSD_DATETIME,
    XSD_DECIMAL,
    XSD_INTEGER,
    XSD_STRING,
)

# ---------------------------------------------------------------------------
# helpers: derived deterministic inputs (Spark side)
# ---------------------------------------------------------------------------

CUST = KG_NS + "cust/"
NAT = KG_NS + "nation/"
REG = KG_NS + "region/"
P = KG_NS + "prop/"
O = KG_NS + "onto/"


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# shared-input cache: most kg_* queries derive from the same base/actual
# triple views; without it every query (and every branch duplicated by the
# planner) re-evaluates the 11-branch unpivot union from parquet — measured
# 9.9s → 2.0s for kg_fuse_first_value at sf0.1. persist() is semantically
# transparent; keyed by (spark application, sf_dir) so driver reruns across
# scale factors or restarted sessions never alias.
_SHARED_VIEW_CACHE: dict = {}


def _cached_view(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _SHARED_VIEW_CACHE:
        _SHARED_VIEW_CACHE[key] = build().persist()
    return _SHARED_VIEW_CACHE[key]


def _base_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_view(spark, sf_dir, "base", lambda: _base_triples_build(spark, sf_dir))


def _base_triples_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer/nation/region → triples (the relational 'extraction')."""
    from kgpipe_spark.operators.extract import unpivot_to_triples

    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")

    cust_t = unpivot_to_triples(
        cust,
        subject_expr=F.concat(F.lit(CUST), F.col("c_custkey").cast("string")),
        type_uri=O + "Customer",
        label_col="c_name",
        literal_cols={
            "c_mktsegment": P + "mktsegment",
        },
        uri_cols={P + "nation": F.concat(F.lit(NAT), F.col("c_nationkey").cast("string"))},
    )
    acct = cust.select(
        F.concat(F.lit(CUST), F.col("c_custkey").cast("string")).alias("subject"),
        F.lit(P + "acctbal").alias("predicate"),
        F.col("c_acctbal").cast("decimal(12,2)").cast("string").alias("object_lex"),
        F.lit("literal").alias("object_kind"),
        F.lit(XSD_DECIMAL).alias("object_datatype"),
    )
    alt = cust.filter(F.col("c_custkey") % 5 == 0).select(
        F.concat(F.lit(CUST), F.col("c_custkey").cast("string")).alias("subject"),
        F.lit(SKOS_ALT_LABEL).alias("predicate"),
        F.upper(F.col("c_name")).alias("object_lex"),
        F.lit("literal").alias("object_kind"),
        F.lit(XSD_STRING).alias("object_datatype"),
    )
    nat_t = unpivot_to_triples(
        nation,
        subject_expr=F.concat(F.lit(NAT), F.col("n_nationkey").cast("string")),
        type_uri=O + "Nation",
        label_col="n_name",
        literal_cols={},
        uri_cols={P + "region": F.concat(F.lit(REG), F.col("n_regionkey").cast("string"))},
    )
    reg_t = unpivot_to_triples(
        region,
        subject_expr=F.concat(F.lit(REG), F.col("r_regionkey").cast("string")),
        type_uri=O + "Region",
        label_col="r_name",
        literal_cols={},
    )
    return cust_t.unionByName(acct).unionByName(alt).unionByName(nat_t).unionByName(reg_t)


def _matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_view(spark, sf_dir, "matches", lambda: _matches_build(spark, sf_dir))


def _matches_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ER match table from customer keys (FIXTURES.md §4):
    transitive chains, below-threshold pairs, relation matches, suffixed ids.
    """
    cust = _read(spark, sf_dir, "customer").select("c_custkey")
    k = F.col("c_custkey").cast("string")
    k1 = (F.col("c_custkey") + 1).cast("string")
    k2 = (F.col("c_custkey") + 2).cast("string")
    k3 = (F.col("c_custkey") + 3).cast("string")
    m1 = cust.filter(F.col("c_custkey") % 10 == 0).select(
        F.concat(F.lit(CUST), k).alias("id_1"),
        F.concat(F.lit(CUST), k1).alias("id_2"),
        F.lit(0.9).alias("score"),
        F.lit("entity").alias("id_type"),
    )
    m2 = cust.filter(F.col("c_custkey") % 20 == 0).select(
        F.concat(F.lit(CUST), k1).alias("id_1"),
        F.concat(F.lit(CUST), k2).alias("id_2"),
        F.lit(0.8).alias("score"),
        F.lit("entity").alias("id_type"),
    )
    m3 = cust.filter(F.col("c_custkey") % 10 == 5).select(
        F.concat(F.lit(CUST), k).alias("id_1"),
        F.concat(F.lit(CUST), k3).alias("id_2"),
        F.lit(0.4).alias("score"),
        F.lit("entity").alias("id_type"),
    )
    m4 = cust.filter(F.col("c_custkey") % 50 == 0).select(
        F.concat(F.lit(CUST), k, F.lit("_uri")).alias("id_1"),
        F.concat(F.lit(CUST), k3, F.lit("_literal")).alias("id_2"),
        F.lit(0.7).alias("score"),
        F.lit("entity").alias("id_type"),
    )
    rel = spark.createDataFrame(
        [(P + "mktsegment", P + "segment", 0.9, "relation")],
        "id_1 string, id_2 string, score double, id_type string",
    )
    return m1.unionByName(m2).unionByName(m3).unionByName(m4).unionByName(rel)


def _ontology(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [
            (P + "nation", "nation", None, O + "Customer", O + "Nation", "true", 1),
            (P + "region", "region", None, O + "Nation", O + "Region", "true", 1),
            (P + "acctbal", "acctbal", None, O + "Customer", XSD_DECIMAL, "false", 1),
            (P + "mktsegment", "mktsegment", None, O + "Customer", XSD_STRING, "false", 1),
        ],
        "uri string, label string, aliases array<string>, domain string, range string, is_object_prop string, max_cardinality int",
    )


# ---------------------------------------------------------------------------
# shared SQL CTEs (DuckDB side) — MUST mirror the Spark derivations above
# ---------------------------------------------------------------------------

_RT = RDF_TYPE
_RL = RDFS_LABEL
_SA = SKOS_ALT_LABEL
_XS = XSD_STRING
_XD = XSD_DECIMAL

SQL_TRIPLES = f"""
triples AS (
  SELECT 'http://kg.org/cust/' || c_custkey AS subject, '{_RT}' AS predicate,
         'http://kg.org/onto/Customer' AS object_lex, 'uri' AS object_kind,
         CAST(NULL AS VARCHAR) AS object_datatype FROM customer
  UNION ALL
  SELECT 'http://kg.org/cust/' || c_custkey, '{_RL}', c_name, 'literal', '{_XS}' FROM customer
  UNION ALL
  SELECT 'http://kg.org/cust/' || c_custkey, 'http://kg.org/prop/mktsegment', c_mktsegment,
         'literal', '{_XS}' FROM customer
  UNION ALL
  SELECT 'http://kg.org/cust/' || c_custkey, 'http://kg.org/prop/nation',
         'http://kg.org/nation/' || c_nationkey, 'uri', NULL FROM customer
  UNION ALL
  SELECT 'http://kg.org/cust/' || c_custkey, 'http://kg.org/prop/acctbal',
         CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR), 'literal', '{_XD}' FROM customer
  UNION ALL
  SELECT 'http://kg.org/cust/' || c_custkey, '{_SA}', upper(c_name), 'literal', '{_XS}'
  FROM customer WHERE c_custkey % 5 = 0
  UNION ALL
  SELECT 'http://kg.org/nation/' || n_nationkey, '{_RT}', 'http://kg.org/onto/Nation', 'uri', NULL FROM nation
  UNION ALL
  SELECT 'http://kg.org/nation/' || n_nationkey, '{_RL}', n_name, 'literal', '{_XS}' FROM nation
  UNION ALL
  SELECT 'http://kg.org/nation/' || n_nationkey, 'http://kg.org/prop/region',
         'http://kg.org/region/' || n_regionkey, 'uri', NULL FROM nation
  UNION ALL
  SELECT 'http://kg.org/region/' || r_regionkey, '{_RT}', 'http://kg.org/onto/Region', 'uri', NULL FROM region
  UNION ALL
  SELECT 'http://kg.org/region/' || r_regionkey, '{_RL}', r_name, 'literal', '{_XS}' FROM region
)"""

_SQL_NORM = "trim(regexp_replace(lower(replace(replace({c}, '_', ' '), '-', ' ')), '\\s+', ' ', 'g'))"

# the flagship corpus is ONE fixed JSON template per customer, so the
# pandas-UDF extraction collapses to closed-form per-column md5 minting —
# shared by the kg_flagship_stats and kg_streaming_ingest oracles
_SQL_FLAGSHIP_EXTRACT = f"""src AS (
          SELECT c_custkey, c_name, c_mktsegment, CAST(c_acctbal AS VARCHAR) AS bal, n_name
          FROM customer JOIN nation ON c_nationkey = n_nationkey
        ),
        doc AS MATERIALIZED (
          SELECT *,
            'http://kg.org/e/' || md5('{{"balance":' || bal || ',"name":"' || c_name
              || '","nation":{{"name":"' || n_name || '"}},"segment":"' || c_mktsegment || '"}}') AS duri,
            'http://kg.org/e/' || md5('{{"name":"' || n_name || '"}}') AS nuri
          FROM src
        ),
        extracted AS MATERIALIZED (
          SELECT DISTINCT subject, predicate, object_lex, object_kind, object_datatype FROM (
            SELECT duri AS subject, '{_RT}' AS predicate, 'http://kg.org/onto/EXCDocument' AS object_lex,
                   'uri' AS object_kind, CAST(NULL AS VARCHAR) AS object_datatype FROM doc
            UNION ALL SELECT duri, 'http://kg.org/prop/balance', bal, 'literal', '{_XD}' FROM doc
            UNION ALL SELECT duri, '{_RL}', c_name, 'literal', '{_XS}' FROM doc
            UNION ALL SELECT duri, 'http://kg.org/prop/name', c_name, 'literal', '{_XS}' FROM doc
            UNION ALL SELECT duri, 'http://kg.org/prop/nation', nuri, 'uri', NULL FROM doc
            UNION ALL SELECT duri, 'http://kg.org/prop/segment', c_mktsegment, 'literal', '{_XS}' FROM doc
            UNION ALL SELECT nuri, '{_RT}', 'http://kg.org/onto/EXCNation', 'uri', NULL FROM doc
            UNION ALL SELECT nuri, '{_RL}', n_name, 'literal', '{_XS}' FROM doc
            UNION ALL SELECT nuri, 'http://kg.org/prop/name', n_name, 'literal', '{_XS}' FROM doc
          )
        )"""

# full closed-form flagship replay (extract → link → CC → compose →
# first-value fuse): ends at CTEs `unioned` (pre-grouping) / `seed`; the
# flagship oracle groups it to the final 5-col KG, the stats oracle counts
# it. Type inference adds nothing for this corpus (no flagship-ontology
# predicate is ever extracted from the JSON template), which the Spark side
# executes and the hash equality therefore proves.
_SQL_FLAGSHIP_CHAIN = f"""{{extract}},
        seed AS MATERIALIZED (
          SELECT 'http://kg.org/nation/' || n_nationkey AS subject, '{_RT}' AS predicate,
                 'http://kg.org/onto/Nation' AS object_lex, 'uri' AS object_kind,
                 CAST(NULL AS VARCHAR) AS object_datatype FROM nation
          UNION ALL
          SELECT 'http://kg.org/nation/' || n_nationkey, '{_RL}', n_name, 'literal', '{_XS}' FROM nation
          UNION ALL
          SELECT 'http://kg.org/nation/' || n_nationkey, 'http://kg.org/prop/region',
                 'http://kg.org/region/' || n_regionkey, 'uri', NULL FROM nation
          UNION ALL
          SELECT 'http://kg.org/region/' || r_regionkey, '{_RT}', 'http://kg.org/onto/Region', 'uri', NULL FROM region
          UNION ALL
          SELECT 'http://kg.org/region/' || r_regionkey, '{_RL}', r_name, 'literal', '{_XS}' FROM region
        ),
        dict_best AS (
          SELECT norm, min(uri) AS mapping FROM (
            SELECT subject AS uri, {_SQL_NORM.format(c='object_lex')} AS norm
            FROM seed WHERE predicate = '{_RL}'
          ) GROUP BY norm
        ),
        lmap AS MATERIALIZED (
          SELECT entity, min(canonical) AS canonical FROM (
            SELECT e.subject AS entity, db.mapping AS canonical
            FROM (SELECT subject, object_lex FROM extracted WHERE predicate = '{_RL}') e
            JOIN dict_best db ON {_SQL_NORM.format(c='e.object_lex')} = db.norm
            WHERE db.mapping <> e.subject
          ) GROUP BY entity
        ),
        label_pairs AS (
          SELECT DISTINCT coalesce(m.canonical, e.subject) AS subject,
                 {_SQL_NORM.format(c='e.object_lex')} AS norm
          FROM (SELECT subject, object_lex FROM extracted WHERE predicate = '{_RL}') e
          LEFT JOIN lmap m ON e.subject = m.entity
        ),
        canon AS (
          -- star-edge CC: each same-norm group collapses to its min subject
          -- (groups are disjoint here: every extracted entity has one label)
          SELECT subject AS entity, min_s AS canonical FROM (
            SELECT subject, min(subject) OVER (PARTITION BY norm) AS min_s,
                   count(*) OVER (PARTITION BY norm) AS grp_n
            FROM label_pairs
          ) WHERE grp_n > 1 AND subject <> min_s
        ),
        composed AS MATERIALIZED (
          SELECT entity, canonical FROM (
            SELECT l.entity, coalesce(c.canonical, l.canonical) AS canonical
            FROM lmap l LEFT JOIN canon c ON l.canonical = c.entity
            UNION ALL
            SELECT c.entity, c.canonical FROM canon c
            WHERE NOT EXISTS (SELECT 1 FROM lmap l WHERE l.entity = c.entity)
          ) WHERE entity <> canonical
        ),
        canonical_kg AS MATERIALIZED (
          SELECT coalesce(ms.canonical, t.subject) AS subject, t.predicate,
                 CASE WHEN t.object_kind = 'uri' THEN coalesce(mo.canonical, t.object_lex)
                      ELSE t.object_lex END AS object_lex,
                 t.object_kind, t.object_datatype
          FROM extracted t
          LEFT JOIN composed ms ON t.subject = ms.entity
          LEFT JOIN composed mo ON t.object_kind = 'uri' AND t.object_lex = mo.entity
        ),
        fusable(predicate) AS (VALUES ('{_RL}'), ('{_RT}'),
          ('http://kg.org/prop/director'), ('http://kg.org/prop/directed_by')),
        src_fusable AS (SELECT * FROM canonical_kg WHERE predicate IN (SELECT predicate FROM fusable)),
        src_rest AS (SELECT * FROM canonical_kg WHERE predicate NOT IN (SELECT predicate FROM fusable)),
        seed_sp AS (SELECT DISTINCT subject, predicate FROM seed),
        new_fusable AS (
          SELECT f.* FROM src_fusable f ANTI JOIN seed_sp sp USING (subject, predicate)
        ),
        first_vals AS (
          SELECT subject, predicate, object_lex, object_kind, object_datatype FROM (
            SELECT *, row_number() OVER (
              PARTITION BY subject, predicate
              ORDER BY sha256(coalesce(object_lex, chr(1)) || coalesce(object_kind, chr(1)) || coalesce(object_datatype, chr(1)))
            ) AS rn FROM new_fusable
          ) WHERE rn = 1
        ),
        new_rest AS (
          SELECT r.* FROM src_rest r
          ANTI JOIN (SELECT DISTINCT subject, predicate, object_lex, object_kind FROM seed) s
            USING (subject, predicate, object_lex, object_kind)
        ),
        unioned AS (
          SELECT * FROM seed UNION ALL SELECT * FROM first_vals UNION ALL SELECT * FROM new_rest
        )"""

SQL_MATCHES = """
matches AS (
  SELECT 'http://kg.org/cust/' || c_custkey AS id_1,
         'http://kg.org/cust/' || (c_custkey + 1) AS id_2,
         0.9 AS score, 'entity' AS id_type FROM customer WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT 'http://kg.org/cust/' || (c_custkey + 1), 'http://kg.org/cust/' || (c_custkey + 2),
         0.8, 'entity' FROM customer WHERE c_custkey % 20 = 0
  UNION ALL
  SELECT 'http://kg.org/cust/' || c_custkey, 'http://kg.org/cust/' || (c_custkey + 3),
         0.4, 'entity' FROM customer WHERE c_custkey % 10 = 5
  UNION ALL
  SELECT 'http://kg.org/cust/' || c_custkey || '_uri',
         'http://kg.org/cust/' || (c_custkey + 3) || '_literal',
         0.7, 'entity' FROM customer WHERE c_custkey % 50 = 0
  UNION ALL
  SELECT 'http://kg.org/prop/mktsegment', 'http://kg.org/prop/segment', 0.9, 'relation'
)"""

SQL_EDGES_ONLY = """
edges AS (
  SELECT DISTINCT regexp_replace(id_1, '(_uri|_literal)$', '') AS src,
                  regexp_replace(id_2, '(_uri|_literal)$', '') AS dst
  FROM matches
  WHERE score > 0.5 AND id_type = 'entity'
    AND NOT regexp_replace(id_1, '(_uri|_literal)$', '') LIKE '%-'
    AND NOT regexp_replace(id_2, '(_uri|_literal)$', '') LIKE '%-'
    AND regexp_replace(id_1, '(_uri|_literal)$', '') <> regexp_replace(id_2, '(_uri|_literal)$', '')
)"""

# requires a WITH RECURSIVE prefix on the enclosing query
SQL_EDGES = (
    SQL_EDGES_ONLY
    + """,
sym AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
),
reach(a, b) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.a, e.dst FROM reach r JOIN sym e ON e.src = r.b
),
components AS (
  SELECT a AS node, least(a, min(b)) AS component FROM reach GROUP BY a
)"""
)


# ---------------------------------------------------------------------------
# entry — flagship pipeline on sf0.001
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: JSON corpus derived from sf0.001 customers → extract → link
    (nation labels vs seed KG) → canonicalize → fuse → type-complete."""
    sf_dir = "/root/testdata/sf0.001"
    return _flagship(spark, sf_dir)


def _flagship_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One JSON blob per customer (input_hint shape)."""
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    return cust.join(nation, cust.c_nationkey == nation.n_nationkey).select(
        F.lit("org/tpch").alias("repo"),
        F.concat(F.lit("cust/"), F.col("c_custkey").cast("string"), F.lit(".json")).alias("path"),
        F.sha2(F.concat(F.lit("c"), F.col("c_custkey").cast("string")), 256).substr(1, 40).alias("commit"),
        F.lit("json").alias("lang"),
        F.to_json(
            F.struct(
                F.col("c_name").alias("name"),
                F.struct(F.col("n_name").alias("name")).alias("nation"),
                F.col("c_mktsegment").alias("segment"),
                F.col("c_acctbal").alias("balance"),
            )
        ).alias("content"),
    )


def _te_triple_rows(te: DataFrame) -> DataFrame:
    """One row per TE-document triple: doc id, surface forms and mappings."""
    return te.select("doc_id", F.explode("triples").alias("t")).select(
        "doc_id",
        F.col("t.subject.surface_form").alias("s_surface"),
        F.col("t.subject.mapping").alias("s_mapping"),
        F.col("t.predicate.surface_form").alias("p_surface"),
        F.col("t.object.surface_form").alias("o_surface"),
        F.col("t.object.mapping").alias("o_mapping"),
    )


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kgpipe_spark.pipelines import run_flagship

    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    corpus = _flagship_corpus(spark, sf_dir)

    # seed KG: nation + region entities
    from kgpipe_spark.operators.extract import unpivot_to_triples

    seed = unpivot_to_triples(
        nation,
        subject_expr=F.concat(F.lit(NAT), F.col("n_nationkey").cast("string")),
        type_uri=O + "Nation",
        label_col="n_name",
        literal_cols={},
        uri_cols={P + "region": F.concat(F.lit(REG), F.col("n_regionkey").cast("string"))},
    ).unionByName(
        unpivot_to_triples(
            region,
            subject_expr=F.concat(F.lit(REG), F.col("r_regionkey").cast("string")),
            type_uri=O + "Region",
            label_col="r_name",
            literal_cols={},
        )
    )
    return run_flagship(spark, corpus, seed)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from kgpipe_spark.eval.alignment import fact_alignment, subtract_kg
    from kgpipe_spark.eval.er_eval import duplicate_entities, evaluate_matching
    from kgpipe_spark.eval.semantic import cardinality_violations
    from kgpipe_spark.eval.statistics import class_histogram, count_measures, predicate_histogram
    from kgpipe_spark.operators.cluster import (
        best_match_1to1,
        canonical_map,
        connected_components,
        match_edges,
    )
    from kgpipe_spark.operators.fusion import (
        aggregate_matches,
        allowed_predicate_filter,
        canonicalize_triples,
        fuse_first_value,
        fuse_majority,
        sameas_provenance,
        type_namespace_filter,
    )
    from kgpipe_spark.operators.transform import (
        ntriples_lines,
        pivot_triples_to_wide,
        type_inference_simple,
    )
    from kgpipe_spark.pipelines import (
        _complete_with_types,
        align_kg_increment,
        run_incremental_msp,
    )

    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- extraction / scans -------------------------------------------------
    q["kg_extract_triples"] = lambda s, d: _base_triples(s, d)

    q["kg_load_drop_altlabel"] = lambda s, d: _base_triples(s, d).filter(
        F.col("predicate") != SKOS_ALT_LABEL
    )

    def _allowed(s, d):
        allowed = s.createDataFrame(
            [(RDF_TYPE,), (RDFS_LABEL,), (P + "nation",)], ["predicate"]
        )
        return allowed_predicate_filter(_base_triples(s, d), allowed)

    q["kg_allowed_predicates"] = _allowed

    q["kg_type_namespace_filter"] = lambda s, d: type_namespace_filter(
        _base_triples(s, d).withColumn(
            "object_lex",
            F.when(
                (F.col("predicate") == RDF_TYPE) & (F.col("subject").startswith(REG)),
                F.concat(F.lit("http://other.org/"), F.col("object_lex")),
            ).otherwise(F.col("object_lex")),
        ),
        O,
    )

    def _seed_subtract(s, d):
        base = _base_triples(s, d)
        seed = base.filter(F.col("subject").startswith(NAT) | F.col("subject").startswith(REG))
        return subtract_kg(base, seed)

    q["kg_seed_subtract"] = _seed_subtract

    # --- statistics ----------------------------------------------------------
    q["kg_statistics"] = lambda s, d: count_measures(_base_triples(s, d))
    q["kg_predicate_histogram"] = lambda s, d: predicate_histogram(_base_triples(s, d))
    q["kg_class_histogram"] = lambda s, d: class_histogram(_base_triples(s, d))

    # --- matching / clustering / canonicalization ----------------------------
    q["kg_match_edges"] = lambda s, d: match_edges(_matches(s, d)).select(
        F.col("src"), F.col("dst")
    )

    q["kg_connected_components"] = lambda s, d: connected_components(
        match_edges(_matches(s, d))
    )

    q["kg_canonical_map"] = lambda s, d: canonical_map(
        connected_components(match_edges(_matches(s, d)))
    )

    q["kg_sameas_provenance"] = lambda s, d: sameas_provenance(
        canonical_map(connected_components(match_edges(_matches(s, d))))
    )

    def _canonicalized(s, d):
        canon = canonical_map(connected_components(match_edges(_matches(s, d))))
        # all-column dedupe == the 4-col dedupe here (object_datatype is a
        # function of (predicate, object_kind) in the base triples) but
        # plans as a pure-grouping HashAggregate instead of a
        # first()-of-strings SortAggregate over the whole KG
        return canonicalize_triples(
            _base_triples(s, d).filter(F.col("predicate") != SKOS_ALT_LABEL), canon
        ).dropDuplicates()

    q["kg_canonicalize_triples"] = _canonicalized

    q["kg_best_match_1to1"] = lambda s, d: best_match_1to1(
        _matches(s, d).filter(F.col("id_type") == "entity")
    )

    def _agg_matches(s, d):
        m = _matches(s, d)
        m1 = m.filter(F.col("id_type") == "entity")
        m2 = m.filter(F.col("id_type") == "relation").withColumn("id_type", F.lit("str"))
        return aggregate_matches(m1, m2)

    q["kg_aggregate_matches"] = _agg_matches

    # --- fusion ---------------------------------------------------------------
    def _first_value(s, d):
        base = _base_triples(s, d)
        labels = base.filter(F.col("predicate") == RDFS_LABEL)
        seed = labels.filter(
            (F.col("subject").startswith(CUST))
            & (F.regexp_extract("subject", r"(\d+)$", 1).cast("bigint") % 2 == 0)
        )
        src_a = labels.filter(F.col("subject").startswith(CUST)).withColumn(
            "object_lex", F.concat(F.lit("A:"), F.col("object_lex"))
        )
        src_b = labels.filter(F.col("subject").startswith(CUST)).withColumn(
            "object_lex", F.concat(F.lit("B:"), F.col("object_lex"))
        )
        seg = base.filter(F.col("predicate") == P + "mktsegment")
        # lazy plan cut: fuse_first_value's fusable/rest split references the
        # source twice; without the cut both branches re-evaluate the 3-way
        # union + concat projections over the cached base (measured 1.5s →
        # 1.2s at sf1.0)
        source = src_a.unionByName(src_b).unionByName(seg).localCheckpoint(eager=False)
        fusable = s.createDataFrame([(RDFS_LABEL,)], ["predicate"])
        return fuse_first_value(seed, source, fusable)

    q["kg_fuse_first_value"] = _first_value

    def _majority(s, d):
        orders = _read(s, d, "orders")
        src = orders.select(
            F.concat(F.lit(CUST), F.col("o_custkey").cast("string")).alias("subject"),
            F.lit(P + "priority").alias("predicate"),
            F.col("o_orderpriority").alias("object_lex"),
            F.lit("literal").alias("object_kind"),
            F.lit(XSD_STRING).alias("object_datatype"),
        )
        return fuse_majority(src)

    q["kg_fuse_majority"] = _majority

    # --- transform / enrichment ------------------------------------------------
    q["kg_type_inference"] = lambda s, d: type_inference_simple(
        _base_triples(s, d), _ontology(s)
    )

    def _pivot(s, d):
        base = _base_triples(s, d).filter(F.col("subject").startswith(CUST))
        wide = pivot_triples_to_wide(
            base,
            predicates=[
                RDFS_LABEL + "_literal",
                P + "mktsegment_literal",
                P + "acctbal_literal",
                P + "nation_uri",
            ],
        )
        return wide.select(
            "subject",
            F.col("`" + RDFS_LABEL + "_literal`").alias("label"),
            F.col("`" + P + "mktsegment_literal`").alias("mktsegment"),
            F.col("`" + P + "acctbal_literal`").alias("acctbal"),
            F.col("`" + P + "nation_uri`").alias("nation"),
        )

    q["kg_pivot_wide"] = _pivot

    # CSV scan/sink under the driver gate (round-2 verdict: the one untested
    # §2.1 row): pivot the KG to the wide-CSV exchange shape, write with
    # write_csv_table, read back with read_csv_table (no inference — the
    # exchange contract is strings), return the re-read rows
    def _csv_roundtrip(s, d):
        import os as _os

        from kgpipe_spark.sources.readers import read_csv_table, write_csv_table

        out = _os.path.join(
            _os.environ.get("TMPDIR", "/tmp"),
            f"kg_csv_roundtrip_{s.sparkContext.applicationId}_{_os.path.basename(d.rstrip('/'))}",
        )
        write_csv_table(_pivot(s, d), out)
        back = read_csv_table(s, out, inferSchema=False)
        return back.select("subject", "label", "mktsegment", "acctbal", "nation")

    q["kg_csv_roundtrip"] = _csv_roundtrip

    def _paris_exchange(s, d):
        """paris_exchange reader under the driver gate (read_paris_dir,
        readers.py:44-95 mirroring paris_rdf_matcher.py:102-157): three
        iterations are written — 0 (stale scores), 1 (final scores), 2
        (EMPTY, as PARIS emits on convergence) — and the reader must pick
        the last NON-EMPTY one, parse eqv + superrelations TSVs, and expand
        dbr:/dbo:/rdfs: prefixes while passing unknown-prefix ids through."""
        import os as _os

        from kgpipe_spark.sources.readers import read_paris_dir

        out = _os.path.join(
            _os.environ.get("TMPDIR", "/tmp"),
            f"kg_paris_dir_{s.sparkContext.applicationId}_{_os.path.basename(d.rstrip('/'))}",
        )
        _os.makedirs(out, exist_ok=True)
        nations = sorted(
            _read(s, d, "nation").select("n_nationkey").collect(),
            key=lambda r: r["n_nationkey"],
        )
        with open(_os.path.join(out, "0_eqv.tsv"), "w") as f:
            for r in nations:
                f.write(f"dbr:N{r['n_nationkey']}\tnation:{r['n_nationkey']}\t0.5\n")
        with open(_os.path.join(out, "1_eqv.tsv"), "w") as f:
            for r in nations:
                f.write(f"dbr:N{r['n_nationkey']}\tnation:{r['n_nationkey']}\t0.9\n")
        open(_os.path.join(out, "2_eqv.tsv"), "w").close()
        with open(_os.path.join(out, "1_superrelations1.tsv"), "w") as f:
            f.write("dbo:nation\trdfs:label\t0.8\n")
        return read_paris_dir(s, out)

    q["kg_paris_exchange"] = _paris_exchange

    def _ntriples(s, d):
        return ntriples_lines(
            _base_triples(s, d).filter(F.col("subject").startswith(NAT))
        )

    q["kg_ntriples_lines"] = _ntriples

    # --- evaluation --------------------------------------------------------------
    def _alignment(s, d):
        actual = _base_triples(s, d)
        phantom = _read(s, d, "customer").filter(F.col("c_custkey") % 7 == 0).select(
            F.concat(F.lit(CUST), F.col("c_custkey").cast("string")).alias("subject"),
            F.lit(P + "phantom").alias("predicate"),
            F.lit("missing").alias("object_lex"),
            F.lit("literal").alias("object_kind"),
            F.lit(XSD_STRING).alias("object_datatype"),
        )
        expected = actual.filter(F.col("predicate") != SKOS_ALT_LABEL).unionByName(phantom)
        return fact_alignment(actual, expected)

    q["kg_fact_alignment"] = _alignment

    def _card_viol(s, d):
        orders = _read(s, d, "orders")
        src = orders.select(
            F.concat(F.lit(CUST), F.col("o_custkey").cast("string")).alias("subject"),
            F.lit(P + "order").alias("predicate"),
            F.concat(F.lit(KG_NS + "order/"), F.col("o_orderkey").cast("string")).alias("object_lex"),
            F.lit("uri").alias("object_kind"),
            F.lit(None).cast("string").alias("object_datatype"),
        )
        onto = s.createDataFrame(
            [(P + "order", "order", None, None, None, "true", 1)],
            "uri string, label string, aliases array<string>, domain string, range string, is_object_prop string, max_cardinality int",
        )
        return cardinality_violations(src, onto)

    q["kg_cardinality_violations"] = _card_viol

    def _er_eval(s, d):
        cust = _read(s, d, "customer")
        gold = cust.select(
            F.expr("CAST(c_custkey DIV 2 AS STRING)").alias("cluster_id"),
            F.concat(F.lit(CUST), F.col("c_custkey").cast("string")).alias("entity_uri"),
        )
        pred = _matches(s, d).filter(F.col("id_type") == "entity")
        return evaluate_matching(pred, gold)

    q["kg_er_matching_eval"] = _er_eval

    def _dupes(s, d):
        cust = _read(s, d, "customer")
        al = cust.select(
            F.concat(F.lit(CUST), F.col("c_custkey").cast("string")).alias("actual_uri"),
            F.concat(F.lit(KG_NS + "ref/"), (F.col("c_custkey") % 700).cast("string")).alias(
                "reference_uri"
            ),
        )
        return duplicate_entities(al)

    q["kg_duplicate_entities"] = _dupes

    # --- semantic validators --------------------------------------------------
    def _domain_viol(s, d):
        from kgpipe_spark.eval.semantic import domain_violations

        base = _base_triples(s, d).withColumn(
            "object_lex",
            F.when(
                (F.col("predicate") == RDF_TYPE)
                & F.col("subject").startswith(CUST)
                & (F.regexp_extract("subject", r"(\d+)$", 1).cast("bigint") % 9 == 0),
                F.lit(O + "Supplier"),
            ).otherwise(F.col("object_lex")),
        )
        return domain_violations(base, _ontology(s))

    q["kg_domain_violations"] = _domain_viol

    # cleaning: subtract every triple the semantic validators flag
    # (clean.py:10-11 intent; the reference ships a NotImplementedError stub)
    def _remove_inconsistent(s, d):
        from kgpipe_spark.operators.transform import remove_inconsistent_triples

        k = F.regexp_extract("subject", r"(\d+)$", 1).cast("bigint")
        base = (
            _base_triples(s, d)
            .withColumn(
                "object_lex",
                F.when(
                    (F.col("predicate") == RDF_TYPE)
                    & F.col("subject").startswith(CUST)
                    & (k % 9 == 0),
                    F.lit(O + "Supplier"),
                ).otherwise(F.col("object_lex")),
            )
            .withColumn(
                "object_datatype",
                F.when(
                    (F.col("predicate") == P + "acctbal") & (k % 11 == 0),
                    F.lit(XSD_STRING),
                ).otherwise(F.col("object_datatype")),
            )
        )
        return remove_inconsistent_triples(base, _ontology(s))

    q["kg_remove_inconsistent"] = _remove_inconsistent

    # mapping-driven JSON→RDF (mapping.py:4-11 intent; a `pass` stub in the
    # reference): declared JSONPaths → pure-JVM get_json_object extraction
    def _jsonpath_map(s, d):
        from kgpipe_spark.operators.extract import map_jsonpaths_to_rdf

        mappings = [
            {"path": "$.name", "predicate": P + "name", "kind": "literal", "datatype": XSD_STRING},
            {"path": "$.nation", "predicate": P + "nation", "kind": "uri"},
            {"path": "$.segment", "predicate": P + "segment", "kind": "literal", "datatype": XSD_STRING},
            {"path": "$.balance", "predicate": P + "balance", "kind": "literal", "datatype": XSD_DECIMAL},
        ]
        return map_jsonpaths_to_rdf(_flagship_corpus(s, d), mappings).select(
            "subject", "predicate", "object_lex", "object_kind", "object_datatype"
        )

    q["kg_jsonpath_mapping"] = _jsonpath_map

    # relation linker (relation_match.py:35-134): every distinct predicate
    # surface → top-1 ontology property by hashed-gram cosine (no
    # threshold), through the full TE-document path
    def _rel_link_top1(s, d):
        from kgpipe_spark.operators.te_construct import (
            construct_te_document_from_json,
            label_alias_embedding_rl,
        )

        linked = label_alias_embedding_rl(
            construct_te_document_from_json(_flagship_corpus(s, d)), _ontology(s)
        )
        return (
            linked.select(F.explode("links").alias("l"))
            .filter(F.col("l.link_type") == "predicate")
            .select(
                F.col("l.span").alias("span"),
                F.col("l.mapping").alias("mapping"),
                round6(F.col("l.score")).alias("score_r"),
            )
            .distinct()
        )

    q["kg_relation_link_top1"] = _rel_link_top1

    # TE link filtering against the current KG (aggregate_3iejson_with_filter
    # / filter_ie_doc, aggregation.py:209-241): entity links outside the KG
    # drop, kept ones rewrite through the alias map, others pass through
    def _te_filter_links(s, d):
        from kgpipe_spark.operators.te_construct import filter_te_entity_links

        cust = _read(s, d, "customer")
        links = F.array(
            F.struct(
                F.col("c_name").alias("span"),
                F.concat(F.lit(NAT), F.col("c_nationkey").cast("string")).alias("mapping"),
                F.lit("entity").alias("link_type"),
                F.lit(1.0).alias("score"),
            ),
            F.struct(
                F.lit("stale").alias("span"),
                F.concat(F.lit(KG_NS + "unk/"), F.col("c_custkey").cast("string")).alias(
                    "mapping"
                ),
                F.lit("entity").alias("link_type"),
                F.lit(0.9).alias("score"),
            ),
            F.struct(
                F.lit("p").alias("span"),
                F.lit(P + "mktsegment").alias("mapping"),
                F.lit("predicate").alias("link_type"),
                F.lit(0.8).alias("score"),
            ),
        )
        te = cust.select(
            F.concat(F.lit(CUST), F.col("c_custkey").cast("string")).alias("doc_id"),
            links.alias("links"),
        )
        uri_map = _read(s, d, "nation").select(
            F.concat(F.lit(NAT), F.col("n_nationkey").cast("string")).alias("uri"),
            F.concat(F.lit("http://ref.org/nation/"), F.col("n_nationkey").cast("string")).alias(
                "alias"
            ),
        )
        out = filter_te_entity_links(te, uri_map)
        return out.select("doc_id", F.posexplode("links").alias("pos", "l")).select(
            "doc_id",
            "pos",
            F.col("l.span").alias("span"),
            F.col("l.mapping").alias("mapping"),
            F.col("l.link_type").alias("link_type"),
            F.col("l.score").alias("score"),
        )

    q["kg_te_filter_links"] = _te_filter_links

    def _datatype_viol(s, d):
        from kgpipe_spark.eval.semantic import datatype_violations

        base = _base_triples(s, d).withColumn(
            "object_datatype",
            F.when(
                (F.col("predicate") == P + "acctbal")
                & (F.regexp_extract("subject", r"(\d+)$", 1).cast("bigint") % 11 == 0),
                F.lit(XSD_STRING),
            ).otherwise(F.col("object_datatype")),
        )
        return datatype_violations(base, _ontology(s))

    q["kg_datatype_violations"] = _datatype_viol

    def _objprop_viol(s, d):
        from kgpipe_spark.eval.semantic import object_prop_violations

        base = _base_triples(s, d).withColumn(
            "object_kind",
            F.when(
                (F.col("predicate") == P + "nation")
                & (F.regexp_extract("subject", r"(\d+)$", 1).cast("bigint") % 13 == 0),
                F.lit("literal"),
            ).otherwise(F.col("object_kind")),
        )
        return object_prop_violations(base, _ontology(s))

    q["kg_object_prop_violations"] = _objprop_viol

    def _disjoint_viol(s, d):
        from kgpipe_spark.eval.semantic import disjoint_class_violations

        extra_types = _read(s, d, "customer").filter(F.col("c_custkey") % 17 == 0).select(
            F.concat(F.lit(CUST), F.col("c_custkey").cast("string")).alias("subject"),
            F.lit(RDF_TYPE).alias("predicate"),
            F.lit(O + "Supplier").alias("object_lex"),
            F.lit("uri").alias("object_kind"),
            F.lit(None).cast("string").alias("object_datatype"),
        )
        base = _base_triples(s, d).unionByName(extra_types)
        disjoint = s.createDataFrame([(O + "Customer", O + "Supplier")], ["cls_a", "cls_b"])
        return disjoint_class_violations(base, disjoint)

    q["kg_disjoint_class_violations"] = _disjoint_viol

    def _json_extract(s, d):
        """The pandas-UDF JSON extractor itself (construct_rdf_from_json),
        oracle-checked against the closed-form md5-mint derivation."""
        from kgpipe_spark.operators.extract import extract_json_triples

        return (
            extract_json_triples(_flagship_corpus(s, d))
            .select("subject", "predicate", "object_lex", "object_kind", "object_datatype")
            .distinct()
        )

    q["kg_json_extract"] = _json_extract

    def _json_typed_literals(s, d):
        """The object-vs-literal / datatype ladder of the JSON extractor
        (_guess_dt, extract.py:82-100 mirroring the reference's
        json_to_rdf.py:257-279): one doc per customer whose values cover
        bool / int / float / datetime-string / date-string / integer-string
        / float-string / plain string — every typed branch (and the lexical
        form it must preserve, e.g. leading zeros on integer-strings) is
        replayed closed-form by the oracle."""
        from kgpipe_spark.operators.extract import extract_json_triples

        k = F.col("c_custkey")
        corpus = _read(s, d, "customer").select(
            F.lit("org/typed").alias("repo"),
            F.concat(F.lit("typed/"), k.cast("string"), F.lit(".json")).alias("path"),
            F.lit("c0").alias("commit"),
            F.lit("json").alias("lang"),
            F.to_json(
                F.struct(
                    (k % 2 == 0).alias("active"),
                    F.concat(
                        F.lit("1990-07-"), F.lpad((k % 28 + 1).cast("string"), 2, "0")
                    ).alias("birthday"),
                    F.lpad((k % 997).cast("string"), 5, "0").alias("code"),
                    k.alias("count"),
                    F.concat(
                        F.lit("2021-03-04T05:06:"), F.lpad((k % 60).cast("string"), 2, "0")
                    ).alias("joined"),
                    F.concat(F.lit("plain "), k.cast("string")).alias("note"),
                    F.lit("1.5e2").alias("rate"),
                    ((k % 10).cast("double") + F.lit(0.5)).alias("score"),
                )
            ).alias("content"),
        )
        return (
            extract_json_triples(corpus)
            .select("subject", "predicate", "object_lex", "object_kind", "object_datatype")
            .distinct()
        )

    q["kg_json_typed_literals"] = _json_typed_literals

    def _nt_roundtrip(s, d):
        """emit → parse N-Triples roundtrip; the oracle states the algebraic
        result (altLabel dropped, literal datatypes normalized to xsd:string
        when absent, uri datatypes null)."""
        from kgpipe_spark.operators.transform import ntriples_lines, parse_ntriples

        return parse_ntriples(ntriples_lines(_base_triples(s, d)), drop_alt_labels=True)

    q["kg_ntriples_roundtrip"] = _nt_roundtrip

    def _prefix_expand(s, d):
        from kgpipe_spark.sources.readers import _expand_prefix

        cust = _read(s, d, "customer")
        k = F.col("c_custkey")
        ids = cust.select(
            F.when(k % 4 == 0, F.concat(F.lit("dbr:Cust"), k.cast("string")))
            .when(k % 4 == 1, F.concat(F.lit("dbo:prop"), k.cast("string")))
            .when(k % 4 == 2, F.concat(F.lit("rdfs:label"), k.cast("string")))
            .otherwise(F.concat(F.lit("http://already.org/"), k.cast("string")))
            .alias("raw")
        )
        return ids.select("raw", _expand_prefix(F.col("raw")).alias("expanded"))

    q["kg_prefix_expansion"] = _prefix_expand

    def _labelish(s, d):
        from kgpipe_spark.functions.strings import labelish_key

        cust = _read(s, d, "customer")
        k = F.col("c_custkey")
        keys = cust.select(
            F.when(k % 5 == 0, F.lit("name"))
            .when(k % 5 == 1, F.lit("displayName"))
            .when(k % 5 == 2, F.concat(F.lit("film_"), k.cast("string"), F.lit("_title")))
            .when(k % 5 == 3, F.lit("prefLabel"))
            .otherwise(F.concat(F.lit("budget"), k.cast("string")))
            .alias("key")
        )
        return keys.select("key", labelish_key(F.col("key")).alias("is_labelish"))

    q["kg_labelish_keys"] = _labelish

    def _token_blocking(s, d):
        from kgpipe_spark.operators.matching import token_blocking_matches

        return token_blocking_matches(_base_triples(s, d), _soft_actual(s, d), threshold=0.3)

    q["kg_token_blocking_matches"] = _token_blocking

    def _paris_match(s, d):
        from kgpipe_spark.operators.matching import blocked_entity_matching

        return blocked_entity_matching(
            _base_triples(s, d), _soft_actual(s, d), threshold=0.5, neighbor_boost=0.1
        )

    q["kg_paris_blocked_matching"] = _paris_match

    # The §3.4 compositions are short calls into the engine's own stage
    # functions: align_kg_increment (paris blocked matching → exchange →
    # canonicalize → fusion_first_value → type completion) for the
    # paris-style ones, _complete_with_types for the type tail of the rest.
    # Their sources come from the four builders below.

    def _preds(s, *uris):
        """A fusable-predicate table."""
        return s.createDataFrame([(u,) for u in uris], ["predicate"])

    def _json_source(s, d):
        """construct_rdf_from_json3 over the flagship corpus."""
        from kgpipe_spark.operators.extract import extract_json_triples

        return (
            extract_json_triples(_flagship_corpus(s, d))
            .select("subject", "predicate", "object_lex", "object_kind", "object_datatype")
            .distinct()
        )

    def _onto_movie(s):
        """The text_a relation-linking ontology: director/stars/writer."""
        return s.createDataFrame(
            [
                (P + "director", "directed by", ["director"], O + "Movie", O + "Person", "true", None),
                (P + "stars", "stars", ["cast member"], O + "Movie", O + "Person", "true", None),
                (P + "writer", "written by", ["writer"], O + "Movie", O + "Person", "true", None),
            ],
            "uri string, label string, aliases array<string>, domain string, range string, is_object_prop string, max_cardinality int",
        )

    # the rdf_a pipeline composition (SURVEY §3.4, pipeline.conf:7):
    # paris_entity_matching → exchange (one target per source entity) →
    # canonicalize source KG → fusion_first_value → type_inference
    def _rdf_a(s, d):
        fusable = _preds(s, RDFS_LABEL, P + "mktsegment")
        return align_kg_increment(s, _base_triples(s, d), _soft_actual(s, d), fusable, _ontology(s))

    q["kg_pipeline_rdf_a"] = _rdf_a

    # the rdf_b pipeline composition (SURVEY §3.4, pipeline.conf:21):
    # pyjedai-style token blocking → greedy 1:1 reduction → valentine-style
    # relation matches → aggregate_2matches → relation rewrite +
    # canonicalize → fusion_first_value → type_inference
    def _rdf_b(s, d):
        from kgpipe_spark.operators.matching import (
            map_matched_relations,
            token_blocking_matches,
        )

        kg1 = _base_triples(s, d)
        kg2 = _soft_actual(s, d)
        ent = token_blocking_matches(kg1, kg2, threshold=0.3)
        best = best_match_1to1(ent)
        rel = s.createDataFrame(
            [
                (P + "mktsegment", P + "segment", 0.9, "str"),
                (P + "acctbal", P + "balance", 0.3, "str"),
            ],
            "id_1 string, id_2 string, score double, id_type string",
        )
        allm = aggregate_matches(best, rel)
        mmap = (
            allm.filter(F.col("id_type") == "entity")
            .groupBy(F.col("id_2").alias("entity"))
            .agg(F.min("id_1").alias("canonical"))
        )
        canon2 = map_matched_relations(canonicalize_triples(kg2, mmap), allm)
        fused = fuse_first_value(kg1, canon2, _preds(s, RDFS_LABEL, P + "mktsegment"))
        return _complete_with_types(fused.localCheckpoint(), _ontology(s))

    q["kg_pipeline_rdf_b"] = _rdf_b

    # the json_a pipeline composition (SURVEY §3.4, pipeline.conf:62-71):
    # construct_rdf_from_json3 → paris_entity_matching → paris_exchange →
    # fusion_first_value → type_inference
    def _json_a(s, d):
        fusable = _preds(s, RDFS_LABEL, P + "segment")
        return align_kg_increment(s, _base_triples(s, d), _json_source(s, d), fusable, _ontology(s))

    q["kg_pipeline_json_a"] = _json_a

    # the text_a pipeline composition (SURVEY §3.4, pipeline.conf:96-110):
    # corenlp_openie_extraction → corenlp_exchange → label_alias_embedding_rl
    # → spotlight NER/NEL (native dictionary linker) → aggregate3_te_json →
    # construct_rdf_from_te_json_mappings_only → paris_entity_matching →
    # paris_exchange → fusion_first_value → type_inference
    def _text_corpus(s, d):
        cust = _read(s, d, "customer")
        nation = _read(s, d, "nation")
        region = _read(s, d, "region")
        joined = cust.join(nation, cust.c_nationkey == nation.n_nationkey).join(
            region, nation.n_regionkey == region.r_regionkey
        )
        return joined.select(
            F.lit("org/tpch").alias("repo"),
            F.concat(F.lit("films/"), F.col("c_custkey").cast("string"), F.lit(".txt")).alias("path"),
            F.lit("c0").alias("commit"),
            F.lit("text").alias("lang"),
            F.concat(
                F.lit("Film "), F.col("c_custkey").cast("string"),
                F.lit(" was directed by "), F.col("c_name"),
                F.lit(". It stars "), F.col("n_name"), F.lit(" and "), F.col("r_name"),
                F.lit("."),
            ).alias("content"),
        )

    def _text_a_source(s, d, kg):
        """text_a staging up to the mappings-only construct; the spotlight
        dictionary holds ``kg``'s geography entities."""
        from kgpipe_spark.operators.extract import extract_text_surface_triples
        from kgpipe_spark.operators.linking import label_dictionary
        from kgpipe_spark.operators.te_construct import (
            aggregate_te_documents,
            label_alias_embedding_rl,
            link_te_entities_dictionary,
            surface_triples_to_te_documents,
            te_documents_to_triples,
        )

        onto = _onto_movie(s)
        te = surface_triples_to_te_documents(
            extract_text_surface_triples(_text_corpus(s, d))
        )
        # lineage cut: the rl chain (all-pairs cosine top-1) references
        # its own subtree several times, and every downstream stage references
        # `te`/`staging` 3-5×; without truncation Catalyst analyzes an
        # exponentially duplicated tree and the driver OOMs
        te = label_alias_embedding_rl(te, onto).localCheckpoint()
        # spotlight-native annotator: knows the geography entities of the KG
        spot_dict = label_dictionary(
            kg.filter(F.col("subject").startswith(NAT) | F.col("subject").startswith(REG)),
            include_alt=False,
        )
        te = link_te_entities_dictionary(aggregate_te_documents(te), spot_dict)
        return te_documents_to_triples(te, onto, mappings_only=True)

    def _text_a(s, d):
        kg1 = _base_triples(s, d)
        return align_kg_increment(
            s, kg1, _text_a_source(s, d, kg1), _preds(s, RDFS_LABEL), _ontology(s)
        )

    q["kg_pipeline_text_a"] = _text_a

    # the 3-split incremental MSP loop (test_inc_msp.py:17-33, which
    # parametrizes PERMUTATIONS of one SSP per source format,
    # config.py:60-64): the rdf, json and text sources folded into the
    # accumulated KG in the given order through the checkpointable Pipeline
    # driver. Each stage is align_kg_increment against the PREVIOUS stage's
    # result, so the fold-in is order-dependent: later sources link against
    # entities earlier stages introduced.
    def _incremental(order):
        def run(s, d):
            rdf_src, json_src = _soft_actual(s, d), _json_source(s, d)
            sources = {
                "rdf": (lambda kg: rdf_src, _preds(s, RDFS_LABEL, P + "mktsegment")),
                "json": (lambda kg: json_src, _preds(s, RDFS_LABEL, P + "segment")),
                "text": (lambda kg: _text_a_source(s, d, kg), _preds(s, RDFS_LABEL)),
            }
            stages = [(name, *sources[name]) for name in order]
            out, _report = run_incremental_msp(s, _base_triples(s, d), stages, _ontology(s))
            return out

        return run

    q["kg_incremental_3stage"] = _incremental(("rdf", "json", "text"))
    q["kg_incremental_msp_perm2"] = _incremental(("text", "rdf", "json"))

    # the json_b pipeline composition (SURVEY §3.4, pipeline.conf:73-81):
    # construct_linkedrdf_from_json_v3 (extraction + exact-label linking
    # against the seed in one task) → select_first_value (matchless
    # allowed/namespace-filtered seed-priority merge) →
    # type_inference_ontology_simple
    def _json_b(s, d):
        from kgpipe_spark.operators.fusion import select_first_value
        from kgpipe_spark.operators.linking import label_dictionary
        from kgpipe_spark.pipelines import link_entities

        kg1 = _base_triples(s, d)
        linked = link_entities(_json_source(s, d).localCheckpoint(), label_dictionary(kg1))
        fused = select_first_value(kg1, linked, _ontology(s))
        return _complete_with_types(fused.localCheckpoint(), _ontology(s))

    q["kg_pipeline_json_b"] = _json_b

    # text_b fixture ontology: movie props with max_cardinality=1 (card-1 →
    # fusable, preference.py:46); 'stars' is intentionally ABSENT so the
    # 'stars' surface mints prop/stars — exercising the full (non
    # mappings-only) construct path
    def _onto_text_b(s):
        return s.createDataFrame(
            [
                (P + "director", "directed by", ["director"], O + "Movie", O + "Person", "true", 1),
                (P + "writer", "written by", ["writer"], O + "Movie", O + "Person", "true", 1),
            ],
            "uri string, label string, aliases array<string>, domain string, range string, is_object_prop string, max_cardinality int",
        )

    def _text_b_staging(s, d):
        from kgpipe_spark.operators.extract import extract_text_surface_triples
        from kgpipe_spark.operators.te_construct import (
            aggregate_te_documents,
            label_alias_embedding_el,
            label_alias_embedding_rl,
            surface_triples_to_te_documents,
            te_documents_to_triples,
        )

        kg1 = _base_triples(s, d)
        onto_b = _onto_text_b(s)
        te = surface_triples_to_te_documents(
            extract_text_surface_triples(_text_corpus(s, d))
        )
        # label_alias_embedding_el replaces the spotlight dictionary NER/NEL
        # of text_a: cosine-matrix argmax per surface against the KG's
        # geography labels, raw scores kept (thresholding happens inside
        # te_documents_to_triples at ENTITY_LINK_THRESHOLD)
        geo = kg1.filter(
            F.col("subject").startswith(NAT) | F.col("subject").startswith(REG)
        )
        # checkpoint between EL and RL: each linker references its input
        # 2× (surface extraction + link append), so an un-cut chain squares
        # the cosine subtree's evaluation count
        te = label_alias_embedding_el(te, geo).localCheckpoint()
        te = label_alias_embedding_rl(te, onto_b).localCheckpoint()
        te = aggregate_te_documents(te)
        return kg1, onto_b, te_documents_to_triples(
            te, onto_b, mappings_only=False
        ).localCheckpoint()

    # construct_rdf_from_te_json (FULL mode, construct.py:300-330 without the
    # mappings-only filter): unlinked predicate surfaces mint
    # prop/<norm_underscored>, unlinked subjects mint newE URIs with label
    # rows — registered on its own so the minting branches are hash-pinned
    def _te_construct_full(s, d):
        _, _, staging = _text_b_staging(s, d)
        return staging

    q["kg_te_construct_full"] = _te_construct_full

    # the text_b pipeline composition (SURVEY §3.4, pipeline.conf:112-124):
    # corenlp_openie_extraction → corenlp_exchange → label_alias_embedding_el
    # → label_alias_embedding_rl → aggregate3_te_json →
    # construct_rdf_from_te_json → select_first_value →
    # type_inference_ontology_simple
    def _text_b(s, d):
        from kgpipe_spark.operators.fusion import select_first_value

        kg1, onto_b, staging = _text_b_staging(s, d)
        fused = select_first_value(kg1, staging, onto_b)
        return _complete_with_types(fused.localCheckpoint(), onto_b)

    q["kg_pipeline_text_b"] = _text_b

    # evaluation report assembly (evaluator.py:57-104 / the CLI report
    # command): statistical + semantic + reference aspects as ONE long-table
    # (aspect, metric, value) plan. KG under eval = the base triples with the
    # kg_domain_violations mistype perturbation; gold = the kg_fact_alignment
    # expected set
    def _eval_report(s, d):
        from kgpipe_spark.eval.report import eval_report

        base = _base_triples(s, d)
        mutated = base.withColumn(
            "object_lex",
            F.when(
                (F.col("predicate") == RDF_TYPE)
                & F.col("subject").startswith(CUST)
                & (F.regexp_extract("subject", r"(\d+)$", 1).cast("bigint") % 9 == 0),
                F.lit(O + "Supplier"),
            ).otherwise(F.col("object_lex")),
        )
        phantom = _read(s, d, "customer").filter(F.col("c_custkey") % 7 == 0).select(
            F.concat(F.lit(CUST), F.col("c_custkey").cast("string")).alias("subject"),
            F.lit(P + "phantom").alias("predicate"),
            F.lit("missing").alias("object_lex"),
            F.lit("literal").alias("object_kind"),
            F.lit(XSD_STRING).alias("object_datatype"),
        )
        gold = base.filter(F.col("predicate") != SKOS_ALT_LABEL).unionByName(phantom)
        return eval_report(mutated, gold, _ontology(s))

    q["kg_eval_report"] = _eval_report

    def _fuse_union(s, d):
        from kgpipe_spark.operators.fusion import fuse_union

        base = _base_triples(s, d)
        seed = base.filter(
            F.regexp_extract("subject", r"(\d+)$", 1).cast("bigint") % 2 == 0
        )
        extra = base.filter(F.col("predicate") == RDFS_LABEL).withColumn(
            "object_lex", F.concat(F.lit("U:"), F.col("object_lex"))
        )
        return fuse_union(seed, base.unionByName(extra))

    q["kg_fuse_union"] = _fuse_union

    def _cleaning(s, d):
        from kgpipe_spark.operators.transform import remove_empty_literals

        cust = _read(s, d, "customer")
        k = F.col("c_custkey")
        dirty = cust.filter(k % 3 == 0).select(
            F.concat(F.lit(CUST), k.cast("string")).alias("subject"),
            F.lit(P + "note").alias("predicate"),
            F.when(k % 2 == 0, F.lit("   ")).otherwise(F.lit("")).alias("object_lex"),
            F.lit("literal").alias("object_kind"),
            F.lit(XSD_STRING).alias("object_datatype"),
        )
        return remove_empty_literals(_base_triples(s, d).unionByName(dirty))

    q["kg_remove_empty_literals"] = _cleaning

    def _rel_match_fixture(s, d):
        """Deterministic relation-match predictions + gold clusters from
        customer keys: suffix-equal pairs (k%40==0), gold-cluster pairs
        (k%60==0), unmatched pairs (k%50==0, no suffix/gold support)."""
        cust = _read(s, d, "customer").select("c_custkey")
        k = F.col("c_custkey").cast("string")
        m_suffix = cust.filter(F.col("c_custkey") % 40 == 0).select(
            F.concat(F.lit(KG_NS + "a/attr"), k).alias("id_1"),
            F.concat(F.lit(KG_NS + "b/attr"), k).alias("id_2"),
            F.lit(0.9).alias("score"), F.lit("relation").alias("id_type"),
        )
        m_gold = cust.filter(F.col("c_custkey") % 60 == 0).select(
            F.concat(F.lit(KG_NS + "a/p"), k).alias("id_1"),
            F.concat(F.lit(KG_NS + "b/q"), k).alias("id_2"),
            F.lit(0.8).alias("score"), F.lit("relation").alias("id_type"),
        )
        m_bad = cust.filter(F.col("c_custkey") % 50 == 0).select(
            F.concat(F.lit(KG_NS + "a/x"), k).alias("id_1"),
            F.concat(F.lit(KG_NS + "b/y"), k).alias("id_2"),
            F.lit(0.7).alias("score"), F.lit("relation").alias("id_type"),
        )
        preds = m_suffix.unionByName(m_gold).unionByName(m_bad)
        gold = cust.filter(F.col("c_custkey") % 30 == 0).select(
            F.array(
                F.concat(F.lit(KG_NS + "a/p"), k), F.concat(F.lit(KG_NS + "b/q"), k)
            ).alias("uris")
        )
        return preds, gold

    def _er_relation_eval(s, d):
        from kgpipe_spark.eval.er_eval import evaluate_relation_matching

        preds, gold = _rel_match_fixture(s, d)
        return evaluate_relation_matching(preds, gold, threshold=0.5)

    q["kg_er_relation_eval"] = _er_relation_eval

    def _cluster_pairs(s, d):
        from kgpipe_spark.eval.er_eval import cluster_pairs

        cust = _read(s, d, "customer").filter(F.col("c_custkey") % 25 == 0)
        k = F.col("c_custkey").cast("string")
        clusters = cust.select(
            F.array(
                F.concat(F.lit(CUST), k),
                F.concat(F.lit(KG_NS + "dupA/"), k),
                F.concat(F.lit(KG_NS + "dupB/"), k),
            ).alias("uris")
        )
        return cluster_pairs(clusters)

    q["kg_cluster_file_pairs"] = _cluster_pairs

    def _rel_direction(s, d):
        from kgpipe_spark.eval.semantic import relation_direction_counts

        swapped = _read(s, d, "customer").filter(F.col("c_custkey") % 9 == 0).select(
            F.concat(F.lit(NAT), F.col("c_nationkey").cast("string")).alias("subject"),
            F.lit(P + "nation").alias("predicate"),
            F.concat(F.lit(CUST), F.col("c_custkey").cast("string")).alias("object_lex"),
            F.lit("uri").alias("object_kind"),
            F.lit(None).cast("string").alias("object_datatype"),
        )
        return relation_direction_counts(
            _base_triples(s, d).unionByName(swapped), _ontology(s)
        )

    q["kg_relation_direction"] = _rel_direction

    def _dt_format(s, d):
        from kgpipe_spark.eval.semantic import datatype_format_violations

        cust = _read(s, d, "customer")
        k = F.col("c_custkey")
        regdate = cust.select(
            F.concat(F.lit(CUST), k.cast("string")).alias("subject"),
            F.lit(P + "regdate").alias("predicate"),
            F.when(
                k % 7 != 0,
                F.concat(F.lit("2020-01-"), F.lpad((k % 28 + 1).cast("string"), 2, "0")),
            ).otherwise(F.concat(F.lit("bad-"), k.cast("string"))).alias("object_lex"),
            F.lit("literal").alias("object_kind"),
            F.lit("http://www.w3.org/2001/XMLSchema#date").alias("object_datatype"),
        )
        onto = _ontology(s).unionByName(
            s.createDataFrame(
                [(P + "regdate", "regdate", None, O + "Customer",
                  "http://www.w3.org/2001/XMLSchema#date", "false", 1)],
                _ontology(s).schema,
            )
        )
        return datatype_format_violations(_base_triples(s, d).unionByName(regdate), onto)

    q["kg_datatype_format_violations"] = _dt_format

    def _cls_coverage(s, d):
        from kgpipe_spark.eval.semantic import ontology_class_coverage

        ghost = _read(s, d, "customer").filter(F.col("c_custkey") % 13 == 0).select(
            F.concat(F.lit(CUST), F.col("c_custkey").cast("string")).alias("subject"),
            F.lit(RDF_TYPE).alias("predicate"),
            F.lit(O + "Ghost").alias("object_lex"),
            F.lit("uri").alias("object_kind"),
            F.lit(None).cast("string").alias("object_datatype"),
        )
        expected = s.createDataFrame(
            [(O + "Customer",), (O + "Nation",), (O + "Region",), (O + "Supplier",)], ["cls"]
        )
        return ontology_class_coverage(_base_triples(s, d).unionByName(ghost), expected)

    q["kg_ontology_class_coverage"] = _cls_coverage

    def _rel_coverage(s, d):
        from kgpipe_spark.eval.semantic import ontology_relation_coverage

        onto = _ontology(s).unionByName(
            s.createDataFrame(
                [(P + "founded", "founded", None, O + "Customer", XSD_STRING, "false", 1)],
                _ontology(s).schema,
            )
        )
        return ontology_relation_coverage(_base_triples(s, d), onto)

    q["kg_ontology_relation_coverage"] = _rel_coverage

    def _ns_coverage(s, d):
        from kgpipe_spark.eval.semantic import ontology_namespace_coverage

        expected = s.createDataFrame(
            [(CUST,), (NAT,), (REG,), (KG_NS + "person/",)], ["ns"]
        )
        return ontology_namespace_coverage(_base_triples(s, d), expected)

    q["kg_ontology_namespace_coverage"] = _ns_coverage

    # flagship end-to-end (no SQL oracle — iterative/UDF pipeline)
    q["kg_flagship_pipeline"] = lambda s, d: _flagship(s, d)

    def _te_expected_links(s, d):
        from kgpipe_spark.eval.te_eval import evaluate_expected_entity_links

        cust = _read(s, d, "customer")
        k = F.col("c_custkey")
        te_docs = cust.select(
            k.cast("string").alias("doc_id"),
            F.lit("").alias("text"),
            F.array().cast(
                "array<struct<subject:struct<start:int,end:int,surface_form:string,text:string,mapping:string>,"
                "predicate:struct<start:int,end:int,surface_form:string,text:string,mapping:string>,"
                "object:struct<start:int,end:int,surface_form:string,text:string,mapping:string>>>"
            ).alias("triples"),
            F.array(
                F.struct(
                    F.lit("s").alias("span"),
                    F.concat(F.lit(CUST), k.cast("string")).alias("mapping"),
                    F.lit("entity").alias("link_type"),
                    # k%3==0 links score 0.4 (below threshold)
                    F.when(k % 3 == 0, F.lit(0.4)).otherwise(F.lit(0.9)).alias("score"),
                )
            ).alias("links"),
        )
        # expected: even custkeys expect their own uri, k%5==0 expect a second
        # unreachable id (stays missing)
        exp1 = cust.filter(k % 2 == 0).select(
            k.cast("string").alias("doc_id"),
            F.concat(F.lit(CUST), k.cast("string")).alias("entity_id"),
        )
        exp2 = cust.filter(k % 5 == 0).select(
            k.cast("string").alias("doc_id"),
            F.concat(F.lit(KG_NS + "ghost/"), k.cast("string")).alias("entity_id"),
        )
        return evaluate_expected_entity_links(te_docs, exp1.unionByName(exp2), threshold=0.5)

    q["kg_te_expected_links"] = _te_expected_links

    def _te_links_seed_uri(s, d):
        # Same fixture as kg_te_expected_links but the TE links carry the
        # HASH-MINTED seed form http://kg.org/resource/<sha256(id)> instead of
        # the raw URI (te_task_eval.py:52-62 get_as_seed_uri): the evaluator
        # must still count them as true links.
        from kgpipe_spark.eval.te_eval import evaluate_expected_entity_links

        cust = _read(s, d, "customer")
        k = F.col("c_custkey")
        raw_uri = F.concat(F.lit(CUST), k.cast("string"))
        te_docs = cust.select(
            k.cast("string").alias("doc_id"),
            F.lit("").alias("text"),
            F.array(
                F.struct(
                    F.lit("s").alias("span"),
                    F.concat(
                        F.lit("http://kg.org/resource/"), F.sha2(raw_uri, 256)
                    ).alias("mapping"),
                    F.lit("entity").alias("link_type"),
                    F.when(k % 3 == 0, F.lit(0.4)).otherwise(F.lit(0.9)).alias("score"),
                )
            ).alias("links"),
        )
        exp1 = cust.filter(k % 2 == 0).select(
            k.cast("string").alias("doc_id"),
            F.concat(F.lit(CUST), k.cast("string")).alias("entity_id"),
        )
        exp2 = cust.filter(k % 5 == 0).select(
            k.cast("string").alias("doc_id"),
            F.concat(F.lit(KG_NS + "ghost/"), k.cast("string")).alias("entity_id"),
        )
        return evaluate_expected_entity_links(te_docs, exp1.unionByName(exp2), threshold=0.5)

    q["kg_te_links_seed_uri"] = _te_links_seed_uri

    def _te_from_json(s, d):
        from kgpipe_spark.operators.te_construct import construct_te_document_from_json

        return _te_triple_rows(construct_te_document_from_json(_flagship_corpus(s, d)))

    q["kg_te_from_json"] = _te_from_json

    def _te_json_roundtrip(s, d):
        """TE_JSON exchange sink+scan under the driver gate (write_te_json →
        read_te_json, readers.py:121-176 mirroring the reference's
        one-``model_dump_json``-per-file contract, aggregation.py:38-45):
        the re-read documents must explode to exactly the rows the direct
        construct emits (same oracle as kg_te_from_json on the same
        deterministic 1-in-10 customer subset)."""
        import os as _os

        from kgpipe_spark.operators.te_construct import construct_te_document_from_json
        from kgpipe_spark.sources.readers import read_te_json, write_te_json

        # c_custkey % 10 == 0 ⇔ the key's decimal form ends in 0
        corpus = _flagship_corpus(s, d).filter(F.col("path").endswith("0.json"))
        out = _os.path.join(
            _os.environ.get("TMPDIR", "/tmp"),
            f"kg_te_json_{s.sparkContext.applicationId}_{_os.path.basename(d.rstrip('/'))}",
        )
        write_te_json(construct_te_document_from_json(corpus), out)
        back = read_te_json(s, out)
        return _te_triple_rows(back)

    q["kg_te_json_roundtrip"] = _te_json_roundtrip

    def _flagship_stats(s, d):
        from kgpipe_spark.eval.statistics import count_measures

        return count_measures(_flagship(s, d))

    # statistics-level oracle for the flagship: DuckDB re-derives the whole
    # extract→link→canonicalize→fuse pipeline in closed form (the corpus is
    # one fixed JSON template per customer, so the pandas-UDF extraction
    # collapses to per-column md5 minting) and must agree on every count
    q["kg_flagship_stats"] = _flagship_stats

    q.update(_soft_queries())
    q.update(_linking_queries())

    # The driver's correctness gate records only the FIRST 50 registrations.
    # Rounds 1-2 left 42 queries (incl. the 4 round-1 hash failures) outside
    # that window; reorder so every query that was ever red or unrecorded is
    # recorded first.  Names absent from q (refactors) are skipped, and any
    # query not listed keeps its original relative order after the priority
    # block, so the reorder can never drop a registration.
    ordered = {k: q[k] for k in _RECORD_FIRST if k in q}
    ordered.update({k: v for k, v in q.items() if k not in ordered})
    return ordered


# ---------------------------------------------------------------------------
# linking / preference-fusion / schema-match queries
# (closes the round-1 "pytest-only" rows of SURVEY.md §2.4/§2.5/§2.7 with
# oracle-gated queries)
# ---------------------------------------------------------------------------


def _link_mentions(s: SparkSession, d: str) -> DataFrame:
    """Mention fixture: every nation name (dictionary hits) + salted customer
    segments (guaranteed misses → minted URIs)."""
    nation = _read(s, d, "nation")
    cust = _read(s, d, "customer")
    hits = nation.select(
        F.concat(F.lit("doc://nation/"), F.col("n_nationkey").cast("string")).alias("doc_uri"),
        F.lit("entity").alias("kind"),
        F.col("n_name").alias("query_text"),
    )
    misses = cust.filter(F.col("c_custkey") % 50 == 0).select(
        F.concat(F.lit("doc://cust/"), F.col("c_custkey").cast("string")).alias("doc_uri"),
        F.lit("entity").alias("kind"),
        F.concat(F.col("c_mktsegment"), F.lit(" "), F.col("c_custkey").cast("string")).alias(
            "query_text"
        ),
    )
    return hits.unionByName(misses)


def _linking_queries() -> dict:
    from kgpipe_spark.operators.fusion import preference_fusion
    from kgpipe_spark.operators.linking import (
        label_dictionary,
        link_embedding_topk,
        link_exact,
        link_or_mint,
    )
    from kgpipe_spark.operators.matching import map_matched_relations, schema_column_matching

    q: dict = {}

    # preference fusion (preference.py:229-252): highest-scoring value from
    # the preferred source when present, else overall best
    def _pref(s, d):
        orders = _read(s, d, "orders")
        src = orders.select(
            F.concat(F.lit(CUST), F.col("o_custkey").cast("string")).alias("subject"),
            F.lit(P + "priority").alias("predicate"),
            F.col("o_orderpriority").alias("object_lex"),
            F.lit("literal").alias("object_kind"),
            F.lit(XSD_STRING).alias("object_datatype"),
            F.when(F.col("o_orderkey") % 3 == 0, F.lit("target_kg"))
            .otherwise(F.lit("wiki"))
            .alias("source"),
            (F.pmod(F.col("o_orderkey"), F.lit(100)) / F.lit(100.0)).alias("score"),
        )
        return preference_fusion(src)

    q["kg_preference_fusion"] = _pref

    # SimpleEntityLinker exact path + sha256 minting (extract_json.py:478-521)
    def _lom(s, d):
        linked = link_or_mint(link_exact(_link_mentions(s, d), label_dictionary(_base_triples(s, d))))
        # -1.0 sentinel: a nullable double column stringifies differently
        # across the two engines (None vs NaN) under the driver's compare
        return linked.select(
            "doc_uri",
            "query_text",
            "mapping",
            F.coalesce(F.col("score"), F.lit(-1.0)).alias("score"),
            "resolved_uri",
        )

    q["kg_link_or_mint"] = _lom

    # embedding top-1 against the broadcast label matrix (LabelIndex,
    # extract_json.py:73-96): real float32 argmax over the hashed-gram
    # embeddings; the fixture's accepted matches are exactly the exact-name
    # hits (country names are mutually dissimilar, cosine << 0.70)
    def _embed_top1(s, d):
        nation = _read(s, d, "nation")
        dictionary = nation.select(
            F.concat(F.lit(NAT), F.col("n_nationkey").cast("string")).alias("uri"),
            F.col("n_name").alias("label"),
        )
        linked = link_embedding_topk(_link_mentions(s, d), dictionary, s)
        return linked.select(
            "query_text",
            "mapping",
            F.coalesce(round6(F.col("score")), F.lit(-1.0)).alias("score_r"),
        ).distinct()

    q["kg_link_embed_top1"] = _embed_top1

    # relation-match rewrite (rdf_om.py:445-451)
    def _map_rel(s, d):
        matches = s.createDataFrame(
            [
                (P + "mktsegment", P + "segment", 0.9, "relation"),
                (P + "acctbal", P + "balance", 0.3, "relation"),
                (P + "nation", P + "locatedIn", 0.8, "entity"),
            ],
            "id_1 string, id_2 string, score double, id_type string",
        )
        return map_matched_relations(_base_triples(s, d), matches)

    q["kg_map_matched_relations"] = _map_rel

    # Valentine-style schema column matching on a bounded sample
    # (valentine_schema_matching.py:74): nation vs a renamed self-copy —
    # 25 rows < the 500-row sample, so the sample is the whole table and
    # the match set is deterministic
    def _valentine(s, d):
        nation = _read(s, d, "nation")
        renamed = nation.select(
            F.col("n_nationkey").alias("nation_key"),
            F.col("n_name").alias("nation_name"),
            F.col("n_regionkey").alias("region_key"),
        )
        return schema_column_matching(nation, renamed)

    q["kg_valentine_schema_match"] = _valentine

    # json_sampler greedy set cover (json_sampler.py:57-74): 10 schema
    # shapes (5 segments × {with,without} "extra"); the cover is 1 even doc
    # (4 paths, min path string across segments) + the other 4 segments'
    # odd docs (2 paths each) — analytically reproducible in SQL
    def _sampler(s, d):
        from kgpipe_spark.operators.sampler import greedy_set_cover_sample

        cust = _read(s, d, "customer")
        corpus = cust.select(
            F.lit("org/tpch").alias("repo"),
            F.concat(F.lit("cust/"), F.col("c_custkey").cast("string"), F.lit(".json")).alias(
                "path"
            ),
            F.lit("json").alias("lang"),
            F.concat(
                F.lit('{"name":"'),
                F.col("c_name"),
                F.lit('","seg_'),
                F.lower(F.col("c_mktsegment")),
                F.lit('":1'),
                F.when(F.col("c_custkey") % 2 == 0, F.lit(',"extra":{"a":1}')).otherwise(
                    F.lit("")
                ),
                F.lit("}"),
            ).alias("content"),
        )
        picked = greedy_set_cover_sample(corpus)
        return s.createDataFrame(
            [(p["repo"], p["path"], len(p["paths"])) for p in picked],
            "repo string, path string, n_paths int",
        )

    q["kg_json_sampler"] = _sampler

    # ontology extraction from RDF declaration triples (intent of the
    # reference's extract_ontology_from_rdf task, shipped as a stub there)
    def _extract_onto(s, d):
        from kgpipe_spark.operators.transform import extract_ontology_from_rdf

        region = _read(s, d, "region")
        RDFS = "http://www.w3.org/2000/01/rdf-schema#"
        OWL = "http://www.w3.org/2002/07/owl#"
        XSD = "http://www.w3.org/2001/XMLSchema#"
        uri = F.concat(F.lit(P + "p_"), F.col("r_regionkey").cast("string"))

        def t(pred, lex, kind, dt=None, flt=None):
            df = region if flt is None else region.filter(flt)
            return df.select(
                uri.alias("subject"),
                F.lit(pred).alias("predicate"),
                lex.alias("object_lex"),
                F.lit(kind).alias("object_kind"),
                F.lit(dt).cast("string").alias("object_datatype"),
            )

        even = F.col("r_regionkey") % 2 == 0
        decls = (
            t(RDFS + "domain", F.lit(O + "Customer"), "uri")
            .unionByName(
                t(
                    RDFS + "range",
                    F.when(even, F.lit(XSD + "string")).otherwise(F.lit(O + "Nation")),
                    "uri",
                )
            )
            .unionByName(t(RDFS_LABEL, F.lower(F.col("r_name")), "literal", XSD_STRING, even))
            .unionByName(
                t(SKOS_ALT_LABEL, F.col("r_name"), "literal", XSD_STRING, F.col("r_regionkey") % 3 == 0)
            )
            .unionByName(
                t(
                    SKOS_ALT_LABEL,
                    F.concat(F.col("r_name"), F.lit(" zone")),
                    "literal",
                    XSD_STRING,
                    F.col("r_regionkey") % 3 == 0,
                )
            )
            .unionByName(t(OWL + "maxCardinality", F.lit("1"), "literal", XSD_STRING, ~even))
        )
        onto = extract_ontology_from_rdf(decls)
        return onto.select(
            "uri",
            "label",
            F.coalesce(F.concat_ws("|", F.col("aliases")), F.lit("")).alias("aliases_str"),
            "domain",
            "range",
            "is_object_prop",
            F.coalesce(F.col("max_cardinality"), F.lit(-1)).alias("max_cardinality"),
        )

    q["kg_extract_ontology"] = _extract_onto

    # Structured-Streaming incremental ingest: the flagship corpus lands as
    # parquet files, micro-batches (2 files each) are extracted and appended
    # with set semantics (anti-join dedupe vs the materialized sink); the
    # final triples table must equal the one-shot batch extraction — which
    # the oracle re-derives in closed form
    def _streaming(s, d):
        import hashlib
        import shutil
        import tempfile

        from kgpipe_spark.streaming.ingest import stream_corpus_to_triples

        # scratch dir keyed by sf_dir AND applicationId (concurrent sessions
        # on the same dataset must not rmtree each other), wiped at the start
        # so reruns are idempotent; the output stays on disk for the lazy
        # read-back
        tag = hashlib.md5(d.encode()).hexdigest()[:10] + "_" + s.sparkContext.applicationId
        base = os.path.join(tempfile.gettempdir(), f"kg_stream_q_{tag}")
        shutil.rmtree(base, ignore_errors=True)
        in_dir = f"{base}/in"
        _flagship_corpus(s, d).repartition(4).write.mode("overwrite").parquet(in_dir)
        query = stream_corpus_to_triples(
            s, in_dir, f"{base}/out", f"{base}/ck", max_files_per_trigger=2
        )
        query.awaitTermination()
        return s.read.parquet(f"{base}/out").select(
            "subject", "predicate", "object_lex", "object_kind", "object_datatype"
        )

    q["kg_streaming_ingest"] = _streaming

    # fully oracle-backed: pass 2 (linking.minted_near_edges) runs the
    # engine's one md5-derived Carter-Wegman MinHash-LSH kernel
    # (linking.minhash_token_signatures / minhash_verified_pairs), so DuckDB
    # replays the whole two-pass linker bit-exactly (MLlib MinHashLSH's hash
    # family is not replayable)
    def _link_two_pass(s, d):
        from kgpipe_spark.operators.linking import label_dictionary, link_two_pass

        kg1 = _base_triples(s, d)
        d_nat = label_dictionary(
            kg1.filter(F.col("subject").startswith(NAT)), include_alt=False
        )
        m = _link_mentions(s, d)
        out = link_two_pass(m.select("query_text").distinct(), d_nat)
        return (
            out.select("query_text", "resolved_uri")
            .dropDuplicates(["query_text"])
            .orderBy("query_text")
        )

    q["kg_link_two_pass"] = _link_two_pass

    return q


# ---------------------------------------------------------------------------
# soft (embedding) evaluation queries (SURVEY.md §2.9, soft_metrics.py +
# integration_eval.py families) — engine-symmetric hashed-gram cosine
# ---------------------------------------------------------------------------

DUP = KG_NS + "dup/"


def _soft_actual(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_view(spark, sf_dir, "soft_actual", lambda: _soft_actual_build(spark, sf_dir))


def _soft_actual_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'actual KG' for soft metrics: k%4==0 customers kept
    as-is, k%4==1 re-minted under dup/ with a '(alt)' label (cleans back to
    the original → soft-mappable), k%4==2 re-minted with a reversed label
    (unmappable). Nations/regions unchanged."""
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    k = F.col("c_custkey")

    def cust_block(df, subj, label_expr):
        s = subj.alias("subject")
        lit = F.lit("literal").alias("object_kind")
        xs = F.lit(XSD_STRING).alias("object_datatype")
        t = df.select(s, F.lit(RDF_TYPE).alias("predicate"), F.lit(O + "Customer").alias("object_lex"),
                      F.lit("uri").alias("object_kind"), F.lit(None).cast("string").alias("object_datatype"))
        lab = df.select(s, F.lit(RDFS_LABEL).alias("predicate"), label_expr.alias("object_lex"), lit, xs)
        seg = df.select(s, F.lit(P + "mktsegment").alias("predicate"), F.col("c_mktsegment").alias("object_lex"), lit, xs)
        nat = df.select(s, F.lit(P + "nation").alias("predicate"),
                        F.concat(F.lit(NAT), F.col("c_nationkey").cast("string")).alias("object_lex"),
                        F.lit("uri").alias("object_kind"), F.lit(None).cast("string").alias("object_datatype"))
        return t.unionByName(lab).unionByName(seg).unionByName(nat)

    orig = F.concat(F.lit(CUST), k.cast("string"))
    dup = F.concat(F.lit(DUP), k.cast("string"))
    c0 = cust_block(cust.filter(k % 4 == 0), orig, F.col("c_name"))
    c1 = cust_block(cust.filter(k % 4 == 1), dup, F.concat(F.col("c_name"), F.lit(" (alt)")))
    c2 = cust_block(cust.filter(k % 4 == 2), dup, F.reverse(F.col("c_name")))

    lit = F.lit("literal").alias("object_kind")
    xs = F.lit(XSD_STRING).alias("object_datatype")
    nuri = F.concat(F.lit(NAT), F.col("n_nationkey").cast("string")).alias("subject")
    nat_t = (
        nation.select(nuri, F.lit(RDF_TYPE).alias("predicate"), F.lit(O + "Nation").alias("object_lex"),
                      F.lit("uri").alias("object_kind"), F.lit(None).cast("string").alias("object_datatype"))
        .unionByName(nation.select(nuri, F.lit(RDFS_LABEL).alias("predicate"), F.col("n_name").alias("object_lex"), lit, xs))
        .unionByName(nation.select(nuri, F.lit(P + "region").alias("predicate"),
                                   F.concat(F.lit(REG), F.col("n_regionkey").cast("string")).alias("object_lex"),
                                   F.lit("uri").alias("object_kind"), F.lit(None).cast("string").alias("object_datatype")))
    )
    ruri = F.concat(F.lit(REG), F.col("r_regionkey").cast("string")).alias("subject")
    reg_t = (
        region.select(ruri, F.lit(RDF_TYPE).alias("predicate"), F.lit(O + "Region").alias("object_lex"),
                      F.lit("uri").alias("object_kind"), F.lit(None).cast("string").alias("object_datatype"))
        .unionByName(region.select(ruri, F.lit(RDFS_LABEL).alias("predicate"), F.col("r_name").alias("object_lex"), lit, xs))
    )
    return c0.unionByName(c1).unionByName(c2).unionByName(nat_t).unionByName(reg_t)


def _entity_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified-source-entities dict (integration_eval.py load_entity_dict
    shape): even customers; every third has no label."""
    cust = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return cust.filter(k % 2 == 0).select(
        F.concat(F.lit(CUST), k.cast("string")).alias("entity_uri"),
        F.when(k % 3 != 0, F.col("c_name")).otherwise(F.lit(None).cast("string")).alias("entity_label"),
    )


def _soft_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    def _label_matches(s, d):
        from kgpipe_spark.eval.soft import soft_entity_mapping

        return soft_entity_mapping(_soft_actual(s, d), _base_triples(s, d))

    q["kg_soft_label_matches"] = _label_matches

    def _soft_e(s, d):
        from kgpipe_spark.eval.soft import fact_alignment_soft_entities

        return fact_alignment_soft_entities(_soft_actual(s, d), _base_triples(s, d))

    q["kg_soft_fact_alignment_entities"] = _soft_e

    def _soft_ev(s, d):
        from kgpipe_spark.eval.soft import fact_alignment_soft_values

        return fact_alignment_soft_values(_soft_actual(s, d), _base_triples(s, d))

    q["kg_soft_fact_alignment_values"] = _soft_ev

    def _cov_exact(s, d):
        from kgpipe_spark.eval.soft import source_entity_coverage

        return source_entity_coverage(_base_triples(s, d), _entity_dict(s, d))

    q["kg_source_coverage_exact"] = _cov_exact

    def _cov_fuzzy(s, d):
        from kgpipe_spark.eval.soft import source_entity_coverage_fuzzy

        return source_entity_coverage_fuzzy(_base_triples(s, d), _entity_dict(s, d))

    q["kg_source_coverage_fuzzy"] = _cov_fuzzy

    def _prec_fuzzy(s, d):
        from kgpipe_spark.eval.soft import source_entity_precision_fuzzy

        return source_entity_precision_fuzzy(_base_triples(s, d), _entity_dict(s, d))

    q["kg_source_precision_fuzzy"] = _prec_fuzzy

    return q


# Recorded-window priority (round 6 = the optimization round): the 24
# queries whose most recent driver verdict is still round 2 rotate in first
# (VERDICT r5 "next round" #1 — after this window no registration's latest
# verdict is older than round 4), then every query whose internals this
# round's optimizations touched (minhash gram-hash verification + in-bucket
# pair explode, hash-dedupe rewrites in extract/canonicalize/type paths,
# single-pass fact alignment, fuse source plan cut).
_RECORD_FIRST = [
    # ---- last driver verdict round 2 (oldest first claim on the window) ----
    "kg_allowed_predicates",
    "kg_cluster_file_pairs",
    "kg_datatype_format_violations",
    "kg_disjoint_class_violations",
    "kg_duplicate_entities",
    "kg_er_matching_eval",
    "kg_er_relation_eval",
    "kg_jsonpath_mapping",
    "kg_labelish_keys",
    "kg_load_drop_altlabel",
    "kg_ntriples_lines",
    "kg_ntriples_roundtrip",
    "kg_object_prop_violations",
    "kg_ontology_class_coverage",
    "kg_ontology_namespace_coverage",
    "kg_ontology_relation_coverage",
    "kg_pivot_wide",
    "kg_prefix_expansion",
    "kg_relation_direction",
    "kg_remove_empty_literals",
    "kg_sameas_provenance",
    "kg_te_filter_links",
    "kg_token_blocking_matches",
    "kg_type_namespace_filter",
    # ---- internals changed by round-6 optimizations ----
    "kg_link_two_pass",
    "kg_fact_alignment",
    "kg_eval_report",
    "kg_type_inference",
    "kg_fuse_first_value",
    "kg_canonicalize_triples",
    "kg_flagship_pipeline",
    "kg_flagship_stats",
    "kg_pipeline_json_a",
    "kg_pipeline_json_b",
    "kg_pipeline_text_a",
    "kg_pipeline_text_b",
    "kg_pipeline_rdf_a",
    "kg_pipeline_rdf_b",
    "kg_incremental_3stage",
    "kg_incremental_msp_perm2",
]


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["kg_extract_triples"] = f"WITH {SQL_TRIPLES} SELECT * FROM triples"

    sql["kg_load_drop_altlabel"] = (
        f"WITH {SQL_TRIPLES} SELECT * FROM triples WHERE predicate <> '{_SA}'"
    )

    sql["kg_allowed_predicates"] = f"""
        WITH {SQL_TRIPLES}
        SELECT * FROM triples
        WHERE predicate IN ('{_RT}', '{_RL}', 'http://kg.org/prop/nation')
    """

    sql["kg_type_namespace_filter"] = f"""
        WITH {SQL_TRIPLES},
        mutated AS (
          SELECT subject, predicate,
                 CASE WHEN predicate = '{_RT}' AND subject LIKE 'http://kg.org/region/%'
                      THEN 'http://other.org/' || object_lex ELSE object_lex END AS object_lex,
                 object_kind, object_datatype
          FROM triples
        )
        SELECT * FROM mutated
        WHERE NOT (predicate = '{_RT}' AND object_lex NOT LIKE 'http://kg.org/onto/%')
    """

    sql["kg_seed_subtract"] = f"""
        WITH {SQL_TRIPLES},
        seed AS (
          SELECT DISTINCT subject, predicate, object_lex, object_kind FROM triples
          WHERE subject LIKE 'http://kg.org/nation/%' OR subject LIKE 'http://kg.org/region/%'
        )
        SELECT t.* FROM triples t
        ANTI JOIN seed s USING (subject, predicate, object_lex, object_kind)
    """

    sql["kg_statistics"] = f"""
        WITH {SQL_TRIPLES}
        SELECT count(*) AS n_triples,
               (SELECT count(DISTINCT e) FROM (
                  SELECT subject AS e FROM triples
                  UNION SELECT object_lex FROM triples WHERE object_kind = 'uri')) AS n_entities,
               count(DISTINCT predicate) AS n_relations,
               count(DISTINCT subject) AS n_subjects,
               count(DISTINCT CASE WHEN predicate = '{_RT}' THEN object_lex END) AS n_classes
        FROM triples
    """

    sql["kg_predicate_histogram"] = f"""
        WITH {SQL_TRIPLES}
        SELECT predicate, count(*) AS n FROM triples GROUP BY predicate
    """

    sql["kg_class_histogram"] = f"""
        WITH {SQL_TRIPLES}
        SELECT object_lex AS class_uri, count(*) AS n FROM triples
        WHERE predicate = '{_RT}' GROUP BY object_lex
    """

    sql["kg_match_edges"] = f"""
        WITH {SQL_MATCHES}, {SQL_EDGES_ONLY}
        SELECT src, dst FROM edges
    """

    sql["kg_connected_components"] = f"""
        WITH RECURSIVE {SQL_MATCHES}, {SQL_EDGES}
        SELECT node, component FROM components
    """

    sql["kg_canonical_map"] = f"""
        WITH RECURSIVE {SQL_MATCHES}, {SQL_EDGES}
        SELECT node AS entity, component AS canonical FROM components WHERE node <> component
    """

    sql["kg_sameas_provenance"] = f"""
        WITH RECURSIVE {SQL_MATCHES}, {SQL_EDGES}
        SELECT node AS subject, 'http://www.w3.org/2002/07/owl#sameAs' AS predicate,
               component AS object_lex, 'uri' AS object_kind, CAST(NULL AS VARCHAR) AS object_datatype
        FROM components WHERE node <> component
    """

    sql["kg_canonicalize_triples"] = f"""
        WITH RECURSIVE {SQL_MATCHES}, {SQL_EDGES}, {SQL_TRIPLES},
        canon AS (SELECT node AS entity, component AS canonical FROM components WHERE node <> component),
        filtered AS (SELECT * FROM triples WHERE predicate <> '{_SA}'),
        rewritten AS MATERIALIZED (
          SELECT coalesce(cs.canonical, t.subject) AS subject,
                 t.predicate,
                 CASE WHEN t.object_kind = 'uri' THEN coalesce(co.canonical, t.object_lex)
                      ELSE t.object_lex END AS object_lex,
                 t.object_kind, t.object_datatype
          FROM filtered t
          LEFT JOIN canon cs ON cs.entity = t.subject
          LEFT JOIN canon co ON co.entity = t.object_lex AND t.object_kind = 'uri'
        )
        SELECT subject, predicate, object_lex, object_kind,
               min(object_datatype) AS object_datatype
        FROM rewritten GROUP BY subject, predicate, object_lex, object_kind
    """

    # two unrolled rounds of locally-dominant-edge matching (greedy 1:1)
    sql["kg_best_match_1to1"] = f"""
        WITH {SQL_MATCHES},
        ent AS (
          SELECT *, sha256(id_1 || chr(1) || id_2) AS pk FROM matches WHERE id_type = 'entity'
        ),
        {_round_sql('ent', 'r1')},
        used1 AS (SELECT id_1 AS node FROM r1 UNION SELECT id_2 FROM r1),
        rem AS (
          SELECT e.* FROM ent e
          ANTI JOIN used1 u1 ON e.id_1 = u1.node
          ANTI JOIN used1 u2 ON e.id_2 = u2.node
        ),
        {_round_sql('rem', 'r2')}
        SELECT id_1, id_2, score, id_type FROM r1
        UNION ALL
        SELECT id_1, id_2, score, id_type FROM r2
    """

    sql["kg_aggregate_matches"] = f"""
        WITH {SQL_MATCHES},
        u AS (
          SELECT id_1, id_2, score, id_type FROM matches WHERE id_type = 'entity'
          UNION ALL
          SELECT id_1, id_2, score, 'str' FROM matches WHERE id_type = 'relation'
        ),
        rewritten AS MATERIALIZED (
          SELECT id_1, id_2, score,
                 regexp_replace(id_type, '^str$', 'relation') AS id_type
          FROM u
        )
        SELECT id_1, id_2, min(score) AS score, id_type
        FROM rewritten GROUP BY id_1, id_2, id_type
    """

    sql["kg_fuse_first_value"] = f"""
        WITH {SQL_TRIPLES},
        labels AS (
          SELECT * FROM triples WHERE predicate = '{_RL}' AND subject LIKE 'http://kg.org/cust/%'
        ),
        seed AS (
          SELECT * FROM labels
          WHERE CAST(regexp_extract(subject, '(\\d+)$', 1) AS BIGINT) % 2 = 0
        ),
        source AS (
          SELECT subject, predicate, 'A:' || object_lex AS object_lex, object_kind, object_datatype FROM labels
          UNION ALL
          SELECT subject, predicate, 'B:' || object_lex, object_kind, object_datatype FROM labels
          UNION ALL
          SELECT * FROM triples WHERE predicate = 'http://kg.org/prop/mktsegment'
        ),
        src_fusable AS (SELECT * FROM source WHERE predicate = '{_RL}'),
        src_rest AS (SELECT * FROM source WHERE predicate <> '{_RL}'),
        seed_sp AS (SELECT DISTINCT subject, predicate FROM seed),
        new_fusable AS (
          SELECT f.* FROM src_fusable f ANTI JOIN seed_sp sp USING (subject, predicate)
        ),
        first_vals AS (
          SELECT subject, predicate, object_lex, object_kind, object_datatype FROM (
            SELECT *, row_number() OVER (
              PARTITION BY subject, predicate
              ORDER BY sha256(coalesce(object_lex, chr(1)) || coalesce(object_kind, chr(1)) || coalesce(object_datatype, chr(1)))
            ) AS rn FROM new_fusable
          ) WHERE rn = 1
        ),
        new_rest AS (
          SELECT r.* FROM src_rest r
          ANTI JOIN (SELECT DISTINCT subject, predicate, object_lex, object_kind FROM seed) s
            USING (subject, predicate, object_lex, object_kind)
        ),
        unioned AS (
          SELECT * FROM seed UNION ALL SELECT * FROM first_vals UNION ALL SELECT * FROM new_rest
        )
        SELECT subject, predicate, object_lex, object_kind, min(object_datatype) AS object_datatype
        FROM unioned GROUP BY subject, predicate, object_lex, object_kind
    """

    sql["kg_fuse_majority"] = """
        WITH src AS (
          SELECT 'http://kg.org/cust/' || o_custkey AS subject,
                 'http://kg.org/prop/priority' AS predicate,
                 o_orderpriority AS object_lex,
                 'literal' AS object_kind,
                 'http://www.w3.org/2001/XMLSchema#string' AS object_datatype
          FROM orders
        ),
        grouped AS (
          SELECT subject, predicate, object_lex, object_kind, object_datatype,
                 count(*) AS n, avg(1.0) AS avg_score
          FROM src GROUP BY ALL
        )
        SELECT subject, predicate, object_lex, object_kind, object_datatype FROM (
          SELECT *, row_number() OVER (
            PARTITION BY subject, predicate
            ORDER BY n DESC, avg_score DESC,
                     sha256(coalesce(object_lex, chr(1)) || coalesce(object_kind, chr(1)))
          ) AS rn FROM grouped
        ) WHERE rn = 1
    """

    sql["kg_type_inference"] = f"""
        WITH {SQL_TRIPLES},
        onto AS (
          SELECT 'http://kg.org/prop/nation' AS uri, 'http://kg.org/onto/Customer' AS dom, 'http://kg.org/onto/Nation' AS rng
          UNION ALL SELECT 'http://kg.org/prop/region', 'http://kg.org/onto/Nation', 'http://kg.org/onto/Region'
          UNION ALL SELECT 'http://kg.org/prop/acctbal', 'http://kg.org/onto/Customer', 'http://www.w3.org/2001/XMLSchema#decimal'
          UNION ALL SELECT 'http://kg.org/prop/mktsegment', 'http://kg.org/onto/Customer', 'http://www.w3.org/2001/XMLSchema#string'
        ),
        joined AS (SELECT t.*, o.dom, o.rng FROM triples t JOIN onto o ON t.predicate = o.uri),
        inferred AS (
          SELECT subject, '{_RT}' AS predicate, dom AS object_lex, 'uri' AS object_kind,
                 CAST(NULL AS VARCHAR) AS object_datatype
          FROM joined WHERE dom IS NOT NULL
          UNION ALL
          SELECT object_lex, '{_RT}', rng, 'uri', NULL
          FROM joined WHERE rng IS NOT NULL AND object_kind = 'uri'
        )
        SELECT subject, predicate, object_lex, object_kind, min(object_datatype) AS object_datatype
        FROM inferred GROUP BY subject, predicate, object_lex, object_kind
    """

    sql["kg_pivot_wide"] = f"""
        WITH {SQL_TRIPLES}
        SELECT subject,
          string_agg(object_lex, '; ' ORDER BY object_lex) FILTER (WHERE predicate = '{_RL}' AND object_kind='literal') AS label,
          string_agg(object_lex, '; ' ORDER BY object_lex) FILTER (WHERE predicate = 'http://kg.org/prop/mktsegment' AND object_kind='literal') AS mktsegment,
          string_agg(object_lex, '; ' ORDER BY object_lex) FILTER (WHERE predicate = 'http://kg.org/prop/acctbal' AND object_kind='literal') AS acctbal,
          string_agg(object_lex, '; ' ORDER BY object_lex) FILTER (WHERE predicate = 'http://kg.org/prop/nation' AND object_kind='uri') AS nation
        FROM triples
        WHERE subject LIKE 'http://kg.org/cust/%'
        GROUP BY subject
    """

    # same algebra as kg_pivot_wide; the CSV write/read roundtrip maps the
    # pivot's empty-group '' to CSV-null, which string_agg's NULL matches
    sql["kg_csv_roundtrip"] = f"""
        WITH {SQL_TRIPLES}
        SELECT subject,
          string_agg(object_lex, '; ' ORDER BY object_lex) FILTER (WHERE predicate = '{_RL}' AND object_kind='literal') AS label,
          string_agg(object_lex, '; ' ORDER BY object_lex) FILTER (WHERE predicate = 'http://kg.org/prop/mktsegment' AND object_kind='literal') AS mktsegment,
          string_agg(object_lex, '; ' ORDER BY object_lex) FILTER (WHERE predicate = 'http://kg.org/prop/acctbal' AND object_kind='literal') AS acctbal,
          string_agg(object_lex, '; ' ORDER BY object_lex) FILTER (WHERE predicate = 'http://kg.org/prop/nation' AND object_kind='uri') AS nation
        FROM triples
        WHERE subject LIKE 'http://kg.org/cust/%'
        GROUP BY subject
    """

    sql["kg_ntriples_lines"] = f"""
        WITH {SQL_TRIPLES}
        SELECT '<' || subject || '> <' || predicate || '> ' ||
          CASE WHEN object_kind = 'uri' THEN '<' || object_lex || '>'
               WHEN object_datatype IS NULL OR object_datatype = '{_XS}'
                 THEN '"' || object_lex || '"'
               ELSE '"' || object_lex || '"^^<' || object_datatype || '>'
          END || ' .' AS line
        FROM triples
        WHERE subject LIKE 'http://kg.org/nation/%'
    """

    sql["kg_fact_alignment"] = f"""
        WITH {SQL_TRIPLES},
        actual AS (SELECT DISTINCT subject, predicate, object_lex, object_kind FROM triples),
        expected AS (
          SELECT DISTINCT subject, predicate, object_lex, object_kind FROM (
            SELECT subject, predicate, object_lex, object_kind FROM triples WHERE predicate <> '{_SA}'
            UNION ALL
            SELECT 'http://kg.org/cust/' || c_custkey, 'http://kg.org/prop/phantom', 'missing', 'literal'
            FROM customer WHERE c_custkey % 7 = 0
          )
        ),
        counts AS (
          SELECT
            (SELECT count(*) FROM actual a SEMI JOIN expected e USING (subject, predicate, object_lex, object_kind)) AS tp,
            (SELECT count(*) FROM actual a ANTI JOIN expected e USING (subject, predicate, object_lex, object_kind)) AS fp,
            (SELECT count(*) FROM expected e ANTI JOIN actual a USING (subject, predicate, object_lex, object_kind)) AS fn
        )
        SELECT tp, fp, fn,
               round(tp / CAST(tp + fp AS DOUBLE), 6) AS precision,
               round(tp / CAST(tp + fn AS DOUBLE), 6) AS recall,
               round(2.0 * (tp / CAST(tp + fp AS DOUBLE)) * (tp / CAST(tp + fn AS DOUBLE))
                     / ((tp / CAST(tp + fp AS DOUBLE)) + (tp / CAST(tp + fn AS DOUBLE))), 6) AS f1
        FROM counts
    """

    sql["kg_cardinality_violations"] = """
        WITH src AS (
          SELECT 'http://kg.org/cust/' || o_custkey AS subject,
                 'http://kg.org/prop/order' AS predicate
          FROM orders
        )
        SELECT subject, predicate, count(*) AS n
        FROM src GROUP BY subject, predicate HAVING count(*) > 1
    """

    sql["kg_er_matching_eval"] = f"""
        WITH {SQL_MATCHES},
        g AS (
          SELECT CAST(c_custkey // 2 AS VARCHAR) AS cluster_id,
                 'http://kg.org/cust/' || c_custkey AS e
          FROM customer
        ),
        gold_pairs AS (
          SELECT DISTINCT a.e AS id_1, b.e AS id_2
          FROM g a JOIN g b ON a.cluster_id = b.cluster_id AND a.e < b.e
        ),
        pred_pairs AS (
          SELECT DISTINCT least(id_1, id_2) AS id_1, greatest(id_1, id_2) AS id_2
          FROM matches WHERE id_type = 'entity'
        ),
        counts AS (
          SELECT
            (SELECT count(*) FROM pred_pairs p SEMI JOIN gold_pairs gp USING (id_1, id_2)) AS tp,
            (SELECT count(*) FROM pred_pairs p ANTI JOIN gold_pairs gp USING (id_1, id_2)) AS fp,
            (SELECT count(*) FROM gold_pairs gp ANTI JOIN pred_pairs p USING (id_1, id_2)) AS fn
        )
        SELECT tp, fp, fn,
               round(tp / CAST(tp + fp AS DOUBLE), 6) AS precision,
               round(tp / CAST(tp + fn AS DOUBLE), 6) AS recall,
               CASE WHEN tp = 0 THEN 0.0 ELSE
                 round(2.0 * (tp / CAST(tp + fp AS DOUBLE)) * (tp / CAST(tp + fn AS DOUBLE))
                     / ((tp / CAST(tp + fp AS DOUBLE)) + (tp / CAST(tp + fn AS DOUBLE))), 6) END AS f1
        FROM counts
    """

    sql["kg_duplicate_entities"] = """
        SELECT 'http://kg.org/ref/' || (c_custkey % 700) AS reference_uri,
               count(DISTINCT 'http://kg.org/cust/' || c_custkey) AS n_dupes
        FROM customer
        GROUP BY (c_custkey % 700)
        HAVING count(DISTINCT c_custkey) > 1
    """

    sql["kg_domain_violations"] = f"""
        WITH {SQL_TRIPLES},
        mutated AS (
          SELECT subject, predicate,
                 CASE WHEN predicate = '{_RT}' AND subject LIKE 'http://kg.org/cust/%'
                           AND CAST(regexp_extract(subject, '(\\d+)$', 1) AS BIGINT) % 9 = 0
                      THEN 'http://kg.org/onto/Supplier' ELSE object_lex END AS object_lex,
                 object_kind, object_datatype
          FROM triples
        ),
        dom AS (
          SELECT 'http://kg.org/prop/nation' AS uri, 'http://kg.org/onto/Customer' AS dmn
          UNION ALL SELECT 'http://kg.org/prop/region', 'http://kg.org/onto/Nation'
          UNION ALL SELECT 'http://kg.org/prop/acctbal', 'http://kg.org/onto/Customer'
          UNION ALL SELECT 'http://kg.org/prop/mktsegment', 'http://kg.org/onto/Customer'
        ),
        typed AS (SELECT subject, object_lex AS cls FROM mutated WHERE predicate = '{_RT}')
        SELECT DISTINCT t.subject, t.predicate, ty.cls AS actual_type, d.dmn AS domain
        FROM mutated t JOIN dom d ON t.predicate = d.uri
        JOIN typed ty ON ty.subject = t.subject
        WHERE ty.cls <> d.dmn
    """

    sql["kg_remove_inconsistent"] = f"""
        WITH {SQL_TRIPLES},
        mutated AS (
          SELECT subject, predicate,
                 CASE WHEN predicate = '{_RT}' AND subject LIKE 'http://kg.org/cust/%'
                           AND CAST(regexp_extract(subject, '(\\d+)$', 1) AS BIGINT) % 9 = 0
                      THEN 'http://kg.org/onto/Supplier' ELSE object_lex END AS object_lex,
                 object_kind,
                 CASE WHEN predicate = 'http://kg.org/prop/acctbal'
                           AND CAST(regexp_extract(subject, '(\\d+)$', 1) AS BIGINT) % 11 = 0
                      THEN '{_XS}' ELSE object_datatype END AS object_datatype
          FROM triples
        ),
        onto(uri, dmn, rng, is_obj) AS (VALUES
          ('http://kg.org/prop/nation', 'http://kg.org/onto/Customer', 'http://kg.org/onto/Nation', 'true'),
          ('http://kg.org/prop/region', 'http://kg.org/onto/Nation', 'http://kg.org/onto/Region', 'true'),
          ('http://kg.org/prop/acctbal', 'http://kg.org/onto/Customer', '{_XD}', 'false'),
          ('http://kg.org/prop/mktsegment', 'http://kg.org/onto/Customer', '{_XS}', 'false')),
        typed AS (SELECT subject, object_lex AS cls FROM mutated WHERE predicate = '{_RT}'),
        bad_sp AS (
          SELECT DISTINCT t.subject, t.predicate
          FROM mutated t JOIN onto o ON t.predicate = o.uri
          JOIN typed ty ON ty.subject = t.subject
          WHERE o.dmn IS NOT NULL AND ty.cls <> o.dmn
        ),
        bad_spo AS (
          -- range: URI object typed against a non-xsd declared range
          SELECT DISTINCT t.subject, t.predicate, t.object_lex, 'uri' AS object_kind
          FROM mutated t JOIN onto o ON t.predicate = o.uri
          JOIN typed ty ON ty.subject = t.object_lex
          WHERE t.object_kind = 'uri' AND o.rng NOT LIKE 'http://www.w3.org/2001/XMLSchema#%'
            AND ty.cls <> o.rng
          UNION
          -- datatype: literal dt against an xsd declared range
          SELECT t.subject, t.predicate, t.object_lex, 'literal' AS object_kind
          FROM mutated t JOIN onto o ON t.predicate = o.uri
          WHERE t.object_kind = 'literal' AND o.rng LIKE 'http://www.w3.org/2001/XMLSchema#%'
            AND coalesce(t.object_datatype, '') <> o.rng
          UNION
          -- property kind: object prop with literal / datatype prop with URI
          SELECT t.subject, t.predicate, t.object_lex, t.object_kind
          FROM mutated t JOIN onto o ON t.predicate = o.uri
          WHERE (o.is_obj = 'true' AND t.object_kind = 'literal')
             OR (o.is_obj = 'false' AND t.object_kind = 'uri')
        )
        SELECT t.* FROM mutated t
        ANTI JOIN bad_sp USING (subject, predicate)
        ANTI JOIN bad_spo USING (subject, predicate, object_lex, object_kind)
    """

    sql["kg_jsonpath_mapping"] = f"""
        WITH src AS (
          SELECT c_name, c_mktsegment, CAST(c_acctbal AS VARCHAR) AS bal, n_name
          FROM customer JOIN nation ON c_nationkey = n_nationkey
        ),
        doc AS (
          -- subject = md5 of the RAW blob (field order as written, unlike
          -- the heuristic extractor's sorted-keys re-canonicalization)
          SELECT *,
            'http://kg.org/e/' || md5('{{"name":"' || c_name || '","nation":{{"name":"' || n_name
              || '"}},"segment":"' || c_mktsegment || '","balance":' || bal || '}}') AS duri,
            'http://kg.org/e/' || md5('{{"name":"' || n_name || '"}}') AS nuri
          FROM src
        )
        SELECT duri AS subject, 'http://kg.org/prop/name' AS predicate, c_name AS object_lex,
               'literal' AS object_kind, '{_XS}' AS object_datatype FROM doc
        UNION ALL SELECT duri, 'http://kg.org/prop/nation', nuri, 'uri', NULL FROM doc
        UNION ALL SELECT duri, 'http://kg.org/prop/segment', c_mktsegment, 'literal', '{_XS}' FROM doc
        UNION ALL SELECT duri, 'http://kg.org/prop/balance', bal, 'literal', '{_XD}' FROM doc
    """

    # relation-linker oracle: the TE predicate surfaces of this corpus are
    # exactly {{name, nation, segment, balance}}; replay the hashed-gram
    # cosine (exact int dot / sqrt — bit-identical doubles) over the same
    # share-any-bin pair set as te_construct._top1 and the
    # (cos desc, uri asc) argmax
    sql["kg_relation_link_top1"] = f"""
        WITH surfaces(id, text) AS (VALUES
          ('name', 'name'), ('nation', 'nation'),
          ('segment', 'segment'), ('balance', 'balance')),
        props(id, text) AS (VALUES
          ('http://kg.org/prop/nation', 'label: nation; altLabels: '),
          ('http://kg.org/prop/region', 'label: region; altLabels: '),
          ('http://kg.org/prop/acctbal', 'label: acctbal; altLabels: '),
          ('http://kg.org/prop/mktsegment', 'label: mktsegment; altLabels: ')),
        {_sql_embed('ms', 'surfaces')},
        {_sql_embed('ps', 'props')},
        {_sql_cosine_binpairs('ms', 'ps', 'rc')}
        SELECT lid AS span, rid AS mapping, round(cos, 6) AS score_r FROM (
          SELECT *, row_number() OVER (PARTITION BY lid ORDER BY cos DESC, rid ASC) AS rn
          FROM rc
        ) WHERE rn = 1
    """

    # every customer's nation link is in the KG (kept + rewritten, pos 0),
    # the stale link drops, the predicate link passes through (pos 1)
    sql["kg_te_filter_links"] = """
        SELECT 'http://kg.org/cust/' || c_custkey AS doc_id, CAST(0 AS INT) AS pos,
               c_name AS span, 'http://ref.org/nation/' || c_nationkey AS mapping,
               'entity' AS link_type, 1.0 AS score
        FROM customer
        UNION ALL
        SELECT 'http://kg.org/cust/' || c_custkey, CAST(1 AS INT), 'p',
               'http://kg.org/prop/mktsegment', 'predicate', 0.8
        FROM customer
    """

    sql["kg_datatype_violations"] = f"""
        WITH {SQL_TRIPLES},
        mutated AS (
          SELECT subject, predicate, object_lex, object_kind,
                 CASE WHEN predicate = 'http://kg.org/prop/acctbal'
                           AND CAST(regexp_extract(subject, '(\\d+)$', 1) AS BIGINT) % 11 = 0
                      THEN '{_XS}' ELSE object_datatype END AS object_datatype
          FROM triples
        ),
        rng AS (
          SELECT 'http://kg.org/prop/acctbal' AS uri, '{_XD}' AS expected_dt
          UNION ALL SELECT 'http://kg.org/prop/mktsegment', '{_XS}'
        )
        SELECT t.subject, t.predicate, t.object_lex, t.object_datatype, r.expected_dt
        FROM mutated t JOIN rng r ON t.predicate = r.uri
        WHERE t.object_kind = 'literal' AND coalesce(t.object_datatype, '') <> r.expected_dt
    """

    sql["kg_object_prop_violations"] = f"""
        WITH {SQL_TRIPLES},
        mutated AS (
          SELECT subject, predicate, object_lex,
                 CASE WHEN predicate = 'http://kg.org/prop/nation'
                           AND CAST(regexp_extract(subject, '(\\d+)$', 1) AS BIGINT) % 13 = 0
                      THEN 'literal' ELSE object_kind END AS object_kind,
                 object_datatype
          FROM triples
        ),
        kinds AS (
          SELECT 'http://kg.org/prop/nation' AS uri, 'true' AS is_object_prop
          UNION ALL SELECT 'http://kg.org/prop/region', 'true'
          UNION ALL SELECT 'http://kg.org/prop/acctbal', 'false'
          UNION ALL SELECT 'http://kg.org/prop/mktsegment', 'false'
        )
        SELECT t.subject, t.predicate, t.object_lex, t.object_kind, k.is_object_prop
        FROM mutated t JOIN kinds k ON t.predicate = k.uri
        WHERE (k.is_object_prop = 'true' AND t.object_kind = 'literal')
           OR (k.is_object_prop = 'false' AND t.object_kind = 'uri')
    """

    sql["kg_disjoint_class_violations"] = f"""
        WITH {SQL_TRIPLES},
        extra AS (
          SELECT 'http://kg.org/cust/' || c_custkey AS subject, '{_RT}' AS predicate,
                 'http://kg.org/onto/Supplier' AS object_lex, 'uri' AS object_kind,
                 CAST(NULL AS VARCHAR) AS object_datatype
          FROM customer WHERE c_custkey % 17 = 0
        ),
        allt AS (SELECT * FROM triples UNION ALL SELECT * FROM extra),
        typed AS (SELECT subject AS e, object_lex AS cls FROM allt WHERE predicate = '{_RT}')
        SELECT DISTINCT a.e AS subject, a.cls AS cls_a, b.cls AS cls_b
        FROM typed a JOIN typed b ON a.e = b.e
        WHERE a.cls = 'http://kg.org/onto/Customer' AND b.cls = 'http://kg.org/onto/Supplier'
    """

    sql["kg_te_expected_links"] = """
        WITH links AS (
          SELECT CAST(c_custkey AS VARCHAR) AS doc_id,
                 'http://kg.org/cust/' || c_custkey AS mapping,
                 CASE WHEN c_custkey % 3 = 0 THEN 0.4 ELSE 0.9 END AS score
          FROM customer
        ),
        exp AS (
          SELECT CAST(c_custkey AS VARCHAR) AS doc_id,
                 'http://kg.org/cust/' || c_custkey AS entity_id
          FROM customer WHERE c_custkey % 2 = 0
          UNION ALL
          SELECT CAST(c_custkey AS VARCHAR), 'http://kg.org/ghost/' || c_custkey
          FROM customer WHERE c_custkey % 5 = 0
        ),
        qlinks AS (SELECT doc_id, mapping FROM links WHERE score > 0.5),
        true_per_doc AS (
          SELECT l.doc_id, count(*) AS n_true
          FROM qlinks l JOIN exp e ON l.doc_id = e.doc_id AND l.mapping = e.entity_id
          GROUP BY l.doc_id
        ),
        exp_per_doc AS (
          SELECT e.doc_id, count(*) AS n_exp FROM exp e
          WHERE EXISTS (SELECT 1 FROM links t WHERE t.doc_id = e.doc_id)
          GROUP BY e.doc_id
        ),
        per_doc AS (
          SELECT coalesce(t.n_true, 0) AS n_true, x.n_exp - coalesce(t.n_true, 0) AS n_missing
          FROM exp_per_doc x LEFT JOIN true_per_doc t USING (doc_id)
        ),
        agg AS (SELECT sum(n_true) AS t, sum(n_missing) AS fm FROM per_doc)
        SELECT CAST(coalesce(t, 0) AS BIGINT) AS true_link_cnt,
               CAST(coalesce(fm, 0) AS BIGINT) AS false_missing_link_cnt,
               round(coalesce(t, 0) / greatest(coalesce(t, 0) + coalesce(fm, 0), 1), 6) AS score
        FROM agg
    """

    sql["kg_te_links_seed_uri"] = """
        WITH links AS (
          SELECT CAST(c_custkey AS VARCHAR) AS doc_id,
                 'http://kg.org/resource/' || sha256('http://kg.org/cust/' || c_custkey) AS mapping,
                 CASE WHEN c_custkey % 3 = 0 THEN 0.4 ELSE 0.9 END AS score
          FROM customer
        ),
        exp AS (
          SELECT CAST(c_custkey AS VARCHAR) AS doc_id,
                 'http://kg.org/cust/' || c_custkey AS entity_id
          FROM customer WHERE c_custkey % 2 = 0
          UNION ALL
          SELECT CAST(c_custkey AS VARCHAR), 'http://kg.org/ghost/' || c_custkey
          FROM customer WHERE c_custkey % 5 = 0
        ),
        exp_targets AS (
          SELECT DISTINCT doc_id, target FROM (
            SELECT doc_id, entity_id AS target FROM exp
            UNION ALL
            SELECT doc_id, 'http://kg.org/resource/' || sha256(entity_id) FROM exp
          )
        ),
        qlinks AS (SELECT doc_id, mapping FROM links WHERE score > 0.5),
        true_per_doc AS (
          SELECT l.doc_id, count(*) AS n_true
          FROM qlinks l JOIN exp_targets e ON l.doc_id = e.doc_id AND l.mapping = e.target
          GROUP BY l.doc_id
        ),
        exp_per_doc AS (
          SELECT e.doc_id, count(*) AS n_exp FROM exp e
          WHERE EXISTS (SELECT 1 FROM links t WHERE t.doc_id = e.doc_id)
          GROUP BY e.doc_id
        ),
        per_doc AS (
          SELECT coalesce(t.n_true, 0) AS n_true, x.n_exp - coalesce(t.n_true, 0) AS n_missing
          FROM exp_per_doc x LEFT JOIN true_per_doc t USING (doc_id)
        ),
        agg AS (SELECT sum(n_true) AS t, sum(n_missing) AS fm FROM per_doc)
        SELECT CAST(coalesce(t, 0) AS BIGINT) AS true_link_cnt,
               CAST(coalesce(fm, 0) AS BIGINT) AS false_missing_link_cnt,
               round(coalesce(t, 0) / greatest(coalesce(t, 0) + coalesce(fm, 0), 1), 6) AS score
        FROM agg
    """

    sql["kg_te_from_json"] = """
        WITH src AS (
          SELECT CAST(c_custkey AS VARCHAR) AS doc_id, c_name, c_mktsegment,
                 CAST(c_acctbal AS VARCHAR) AS bal, n_name,
                 'http://kg.org/json/' || c_custkey AS duri,
                 'http://example.org/' || sha256('{"name": "' || n_name || '"}') AS nuri
          FROM customer JOIN nation ON c_nationkey = n_nationkey
        ),
        t AS (
          SELECT doc_id, duri AS s_surface, 'name' AS p_surface, c_name AS o_surface, FALSE AS o_http FROM src
          UNION ALL
          SELECT doc_id, duri, 'nation', nuri, TRUE FROM src
          UNION ALL
          SELECT doc_id, nuri, 'name', n_name, FALSE FROM src
          UNION ALL
          SELECT doc_id, duri, 'segment', c_mktsegment, FALSE FROM src
          UNION ALL
          SELECT doc_id, duri, 'balance', bal, FALSE FROM src
        )
        SELECT doc_id, s_surface, s_surface AS s_mapping, p_surface, o_surface,
               CASE WHEN o_http THEN o_surface ELSE NULL END AS o_mapping
        FROM t
    """

    # the TE_JSON sink+scan roundtrip must reproduce the direct construct's
    # rows exactly (1-in-10 customer subset keeps the per-doc-file sink
    # exchange-sized at every sf)
    sql["kg_te_json_roundtrip"] = """
        WITH src AS (
          SELECT CAST(c_custkey AS VARCHAR) AS doc_id, c_name, c_mktsegment,
                 CAST(c_acctbal AS VARCHAR) AS bal, n_name,
                 'http://kg.org/json/' || c_custkey AS duri,
                 'http://example.org/' || sha256('{"name": "' || n_name || '"}') AS nuri
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          WHERE c_custkey % 10 = 0
        ),
        t AS (
          SELECT doc_id, duri AS s_surface, 'name' AS p_surface, c_name AS o_surface, FALSE AS o_http FROM src
          UNION ALL
          SELECT doc_id, duri, 'nation', nuri, TRUE FROM src
          UNION ALL
          SELECT doc_id, nuri, 'name', n_name, FALSE FROM src
          UNION ALL
          SELECT doc_id, duri, 'segment', c_mktsegment, FALSE FROM src
          UNION ALL
          SELECT doc_id, duri, 'balance', bal, FALSE FROM src
        )
        SELECT doc_id, s_surface, s_surface AS s_mapping, p_surface, o_surface,
               CASE WHEN o_http THEN o_surface ELSE NULL END AS o_mapping
        FROM t
    """

    # read_paris_dir: iteration 1 is the last non-empty one; dbr:/dbo:/rdfs:
    # expand, the unknown 'nation:' prefix passes through untouched
    sql["kg_paris_exchange"] = """
        SELECT 'http://dbpedia.org/resource/N' || n_nationkey AS id_1,
               'nation:' || n_nationkey AS id_2,
               CAST(0.9 AS DOUBLE) AS score, 'entity' AS id_type
        FROM nation
        UNION ALL
        SELECT 'http://dbpedia.org/ontology/nation',
               'http://www.w3.org/2000/01/rdf-schema#label',
               CAST(0.8 AS DOUBLE), 'relation'
    """

    _NORM = "trim(regexp_replace(lower(replace(replace({c}, '_', ' '), '-', ' ')), '\\s+', ' ', 'g'))"
    sql["kg_flagship_stats"] = f"""
        WITH {_SQL_FLAGSHIP_CHAIN.format(extract=_SQL_FLAGSHIP_EXTRACT)},
        completed AS MATERIALIZED (
          SELECT DISTINCT subject, predicate, object_lex, object_kind FROM unioned
        ),
        ents AS (
          SELECT subject AS e FROM completed
          UNION
          SELECT object_lex FROM completed WHERE object_kind = 'uri'
        )
        SELECT CAST((SELECT count(*) FROM completed) AS BIGINT) AS n_triples,
               CAST((SELECT count(*) FROM ents) AS BIGINT) AS n_entities,
               CAST((SELECT count(DISTINCT predicate) FROM completed) AS BIGINT) AS n_relations,
               CAST((SELECT count(DISTINCT subject) FROM completed) AS BIGINT) AS n_subjects,
               CAST((SELECT count(DISTINCT object_lex) FROM completed WHERE predicate = '{_RT}') AS BIGINT) AS n_classes
    """

    # FULL flagship oracle: the same closed-form replay, emitting the final
    # 5-col KG (min-datatype grouping = fuse_first_value's deterministic
    # datatype pin). This upgrades the flagship from a rows-only driver row
    # to a bit-exact hash comparison.
    sql["kg_flagship_pipeline"] = f"""
        WITH {_SQL_FLAGSHIP_CHAIN.format(extract=_SQL_FLAGSHIP_EXTRACT)}
        SELECT subject, predicate, object_lex, object_kind,
               min(object_datatype) AS object_datatype
        FROM unioned GROUP BY subject, predicate, object_lex, object_kind
    """

    sql["kg_ntriples_roundtrip"] = f"""
        WITH {SQL_TRIPLES}
        SELECT subject, predicate, object_lex, object_kind,
               CASE WHEN object_kind = 'uri' THEN NULL
                    ELSE coalesce(object_datatype, '{_XS}') END AS object_datatype
        FROM triples WHERE predicate <> '{_SA}'
    """

    sql["kg_prefix_expansion"] = """
        WITH ids AS (
          SELECT CASE
            WHEN c_custkey % 4 = 0 THEN 'dbr:Cust' || c_custkey
            WHEN c_custkey % 4 = 1 THEN 'dbo:prop' || c_custkey
            WHEN c_custkey % 4 = 2 THEN 'rdfs:label' || c_custkey
            ELSE 'http://already.org/' || c_custkey END AS raw
          FROM customer
        )
        SELECT raw,
               CASE
                 WHEN starts_with(raw, 'dbr:') THEN 'http://dbpedia.org/resource/' || substr(raw, 5)
                 WHEN starts_with(raw, 'dbo:') THEN 'http://dbpedia.org/ontology/' || substr(raw, 5)
                 WHEN starts_with(raw, 'rdfs:') THEN 'http://www.w3.org/2000/01/rdf-schema#' || substr(raw, 6)
                 WHEN starts_with(raw, 'rdf:') THEN 'http://www.w3.org/1999/02/22-rdf-syntax-ns#' || substr(raw, 5)
                 ELSE raw END AS expanded
        FROM ids
    """

    sql["kg_labelish_keys"] = """
        WITH keys AS (
          SELECT CASE
            WHEN c_custkey % 5 = 0 THEN 'name'
            WHEN c_custkey % 5 = 1 THEN 'displayName'
            WHEN c_custkey % 5 = 2 THEN 'film_' || c_custkey || '_title'
            WHEN c_custkey % 5 = 3 THEN 'prefLabel'
            ELSE 'budget' || c_custkey END AS key
          FROM customer
        )
        SELECT key,
               regexp_matches(key, '(?i)^(.*(name|label|title)|displayname|preflabel)$') AS is_labelish
        FROM keys
    """

    _SQL_TOKENS = f"""
        t1 AS MATERIALIZED (
          SELECT DISTINCT subject AS id_1, tok AS token FROM (
            SELECT subject, unnest(string_split({_NORM.format(c='object_lex')}, ' ')) AS tok
            FROM triples WHERE predicate = '{_RL}'
          ) WHERE length(tok) > 0
        ),
        t2 AS MATERIALIZED (
          SELECT DISTINCT subject AS id_2, tok AS token FROM (
            SELECT subject, unnest(string_split({_NORM.format(c='object_lex')}, ' ')) AS tok
            FROM soft_actual WHERE predicate = '{_RL}'
          ) WHERE length(tok) > 0
        ),
        sizes1 AS (SELECT id_1, count(*) AS n1 FROM t1 GROUP BY id_1),
        sizes2 AS (SELECT id_2, count(*) AS n2 FROM t2 GROUP BY id_2),
        block_ok AS MATERIALIZED (
          SELECT b1.token FROM (SELECT token, count(*) AS c1 FROM t1 GROUP BY token) b1
          JOIN (SELECT token, count(*) AS c2 FROM t2 GROUP BY token) b2 USING (token)
          WHERE b1.c1 * b2.c2 <= 1000000
        ),
        inter AS MATERIALIZED (
          SELECT a.id_1, b.id_2, count(*) AS common
          FROM (SELECT * FROM t1 SEMI JOIN block_ok USING (token)) a
          JOIN (SELECT * FROM t2 SEMI JOIN block_ok USING (token)) b USING (token)
          GROUP BY a.id_1, b.id_2
        ),
        scored AS MATERIALIZED (
          SELECT id_1, id_2, common / (n1 + n2 - common) AS score, 'entity' AS id_type
          FROM inter JOIN sizes1 USING (id_1) JOIN sizes2 USING (id_2)
        )"""

    sql["kg_token_blocking_matches"] = f"""
        WITH {SQL_TRIPLES}, {SQL_SOFT_ACTUAL}, {_SQL_TOKENS}
        SELECT * FROM scored WHERE score >= 0.3
    """

    sql["kg_paris_blocked_matching"] = f"""
        WITH {SQL_TRIPLES}, {SQL_SOFT_ACTUAL}, {_SQL_TOKENS},
        n1 AS (SELECT DISTINCT subject AS id_1, object_lex AS nbr FROM triples WHERE object_kind = 'uri'),
        n2 AS (SELECT DISTINCT subject AS id_2, object_lex AS nbr FROM soft_actual WHERE object_kind = 'uri'),
        shared AS (
          -- per-candidate neighbor intersection, never a global nbr join
          SELECT s.id_1, s.id_2, count(*) AS shared
          FROM scored s
          JOIN n1 ON n1.id_1 = s.id_1
          JOIN n2 ON n2.id_2 = s.id_2 AND n2.nbr = n1.nbr
          GROUP BY s.id_1, s.id_2
        ),
        boosted AS (
          SELECT s.id_1, s.id_2,
                 least(CAST(1.0 AS DOUBLE),
                       s.score + coalesce(sh.shared, 0) * CAST(0.1 AS DOUBLE)) AS score,
                 s.id_type
          FROM scored s LEFT JOIN shared sh ON s.id_1 = sh.id_1 AND s.id_2 = sh.id_2
          WHERE s.score >= 0.0
        )
        SELECT * FROM boosted WHERE score >= 0.5
    """

    # rdf_a composition: the paris CTE chain feeds exchange → canonicalize →
    # seed-priority first-value fusion → type inference, all in one query
    sql["kg_pipeline_rdf_a"] = f"""
        WITH {SQL_TRIPLES}, {SQL_SOFT_ACTUAL}, {_SQL_TOKENS},
        n1 AS (SELECT DISTINCT subject AS id_1, object_lex AS nbr FROM triples WHERE object_kind = 'uri'),
        n2 AS (SELECT DISTINCT subject AS id_2, object_lex AS nbr FROM soft_actual WHERE object_kind = 'uri'),
        shared AS (
          SELECT s.id_1, s.id_2, count(*) AS shared
          FROM scored s
          JOIN n1 ON n1.id_1 = s.id_1
          JOIN n2 ON n2.id_2 = s.id_2 AND n2.nbr = n1.nbr
          GROUP BY s.id_1, s.id_2
        ),
        boosted AS MATERIALIZED (
          SELECT s.id_1, s.id_2,
                 least(CAST(1.0 AS DOUBLE),
                       s.score + coalesce(sh.shared, 0) * CAST(0.1 AS DOUBLE)) AS score
          FROM scored s LEFT JOIN shared sh ON s.id_1 = sh.id_1 AND s.id_2 = sh.id_2
          WHERE s.score >= 0.0
        ),
        mmap AS MATERIALIZED (
          SELECT id_2 AS entity, id_1 AS canonical FROM (
            SELECT *, row_number() OVER (PARTITION BY id_2 ORDER BY score DESC, id_1 ASC) AS rn
            FROM boosted WHERE score >= 0.5
          ) WHERE rn = 1
        ),
        canon2 AS MATERIALIZED (
          SELECT coalesce(m1.canonical, t.subject) AS subject, t.predicate,
                 CASE WHEN t.object_kind = 'uri' THEN coalesce(m2.canonical, t.object_lex)
                      ELSE t.object_lex END AS object_lex,
                 t.object_kind, t.object_datatype
          FROM soft_actual t
          LEFT JOIN mmap m1 ON m1.entity = t.subject
          LEFT JOIN mmap m2 ON m2.entity = t.object_lex AND t.object_kind = 'uri'
        ),
        src_fusable AS (
          SELECT * FROM canon2 WHERE predicate IN ('{_RL}', 'http://kg.org/prop/mktsegment')
        ),
        src_rest AS (
          SELECT * FROM canon2 WHERE predicate NOT IN ('{_RL}', 'http://kg.org/prop/mktsegment')
        ),
        seed_sp AS (SELECT DISTINCT subject, predicate FROM triples),
        new_fusable AS (
          SELECT f.* FROM src_fusable f ANTI JOIN seed_sp sp USING (subject, predicate)
        ),
        first_vals AS (
          SELECT subject, predicate, object_lex, object_kind, object_datatype FROM (
            SELECT *, row_number() OVER (
              PARTITION BY subject, predicate
              ORDER BY sha256(coalesce(object_lex, chr(1)) || coalesce(object_kind, chr(1)) || coalesce(object_datatype, chr(1)))
            ) AS rn FROM new_fusable
          ) WHERE rn = 1
        ),
        new_rest AS (
          SELECT r.* FROM src_rest r
          ANTI JOIN (SELECT DISTINCT subject, predicate, object_lex, object_kind FROM triples) s
            USING (subject, predicate, object_lex, object_kind)
        ),
        fused AS MATERIALIZED (
          SELECT subject, predicate, object_lex, object_kind, min(object_datatype) AS object_datatype
          FROM (
            SELECT * FROM triples
            UNION ALL SELECT * FROM first_vals
            UNION ALL SELECT * FROM new_rest
          ) GROUP BY subject, predicate, object_lex, object_kind
        ),
        onto AS (
          SELECT 'http://kg.org/prop/nation' AS uri, 'http://kg.org/onto/Customer' AS dom, 'http://kg.org/onto/Nation' AS rng
          UNION ALL SELECT 'http://kg.org/prop/region', 'http://kg.org/onto/Nation', 'http://kg.org/onto/Region'
          UNION ALL SELECT 'http://kg.org/prop/acctbal', 'http://kg.org/onto/Customer', 'http://www.w3.org/2001/XMLSchema#decimal'
          UNION ALL SELECT 'http://kg.org/prop/mktsegment', 'http://kg.org/onto/Customer', 'http://www.w3.org/2001/XMLSchema#string'
        ),
        joined AS (SELECT t.*, o.dom, o.rng FROM fused t JOIN onto o ON t.predicate = o.uri),
        inferred AS (
          SELECT subject, '{_RT}' AS predicate, dom AS object_lex, 'uri' AS object_kind,
                 CAST(NULL AS VARCHAR) AS object_datatype
          FROM joined WHERE dom IS NOT NULL
          UNION ALL
          SELECT object_lex, '{_RT}', rng, 'uri', NULL
          FROM joined WHERE rng IS NOT NULL AND object_kind = 'uri'
        ),
        types AS (
          SELECT subject, predicate, object_lex, object_kind, min(object_datatype) AS object_datatype
          FROM (
            SELECT * FROM fused WHERE predicate = '{_RT}'
            UNION ALL SELECT * FROM inferred
          ) GROUP BY subject, predicate, object_lex, object_kind
        )
        SELECT * FROM fused WHERE predicate <> '{_RT}'
        UNION ALL SELECT * FROM types
    """

    # rdf_b composition: token blocking → 3-round unrolled greedy 1:1
    # (converges in 1 on this fixture; extra rounds are empty and harmless)
    # → aggregate matches → relation rewrite + canonicalize → fusion →
    # type inference
    sql["kg_pipeline_rdf_b"] = f"""
        WITH {SQL_TRIPLES}, {SQL_SOFT_ACTUAL}, {_SQL_TOKENS},
        ent AS (
          SELECT *, sha256(id_1 || chr(1) || id_2) AS pk FROM scored WHERE score >= 0.3
        ),
        {_round_sql('ent', 'b1')},
        used1 AS (SELECT id_1 AS node FROM b1 UNION SELECT id_2 FROM b1),
        rem1 AS (
          SELECT e.* FROM ent e
          ANTI JOIN used1 u1 ON e.id_1 = u1.node
          ANTI JOIN used1 u2 ON e.id_2 = u2.node
        ),
        {_round_sql('rem1', 'b2')},
        used2 AS (SELECT node FROM used1 UNION SELECT id_1 FROM b2 UNION SELECT id_2 FROM b2),
        rem2 AS (
          SELECT e.* FROM ent e
          ANTI JOIN used2 u1 ON e.id_1 = u1.node
          ANTI JOIN used2 u2 ON e.id_2 = u2.node
        ),
        {_round_sql('rem2', 'b3')},
        best AS (
          SELECT id_1, id_2, score, id_type FROM b1
          UNION ALL SELECT id_1, id_2, score, id_type FROM b2
          UNION ALL SELECT id_1, id_2, score, id_type FROM b3
        ),
        rel(id_1, id_2, score, id_type) AS (VALUES
          ('http://kg.org/prop/mktsegment', 'http://kg.org/prop/segment', 0.9, 'str'),
          ('http://kg.org/prop/acctbal', 'http://kg.org/prop/balance', 0.3, 'str')),
        allm AS MATERIALIZED (
          SELECT id_1, id_2, min(score) AS score, id_type FROM (
            SELECT id_1, id_2, score,
                   CASE WHEN id_type = 'str' THEN 'relation' ELSE id_type END AS id_type
            FROM (SELECT * FROM best UNION ALL SELECT * FROM rel)
          ) GROUP BY id_1, id_2, id_type
        ),
        mmap AS MATERIALIZED (
          SELECT id_2 AS entity, min(id_1) AS canonical FROM allm
          WHERE id_type = 'entity' GROUP BY id_2
        ),
        relmap AS (
          SELECT id_1 AS predicate, min(id_2) AS mapped FROM allm
          WHERE id_type = 'relation' AND score > 0.5 GROUP BY id_1
        ),
        canon2 AS MATERIALIZED (
          SELECT coalesce(m1.canonical, t.subject) AS subject,
                 coalesce(rm.mapped, t.predicate) AS predicate,
                 CASE WHEN t.object_kind = 'uri' THEN coalesce(m2.canonical, t.object_lex)
                      ELSE t.object_lex END AS object_lex,
                 t.object_kind, t.object_datatype
          FROM soft_actual t
          LEFT JOIN mmap m1 ON m1.entity = t.subject
          LEFT JOIN mmap m2 ON m2.entity = t.object_lex AND t.object_kind = 'uri'
          LEFT JOIN relmap rm ON rm.predicate = t.predicate
        ),
        src_fusable AS (
          SELECT * FROM canon2 WHERE predicate IN ('{_RL}', 'http://kg.org/prop/mktsegment')
        ),
        src_rest AS (
          SELECT * FROM canon2 WHERE predicate NOT IN ('{_RL}', 'http://kg.org/prop/mktsegment')
        ),
        seed_sp AS (SELECT DISTINCT subject, predicate FROM triples),
        new_fusable AS (
          SELECT f.* FROM src_fusable f ANTI JOIN seed_sp sp USING (subject, predicate)
        ),
        first_vals AS (
          SELECT subject, predicate, object_lex, object_kind, object_datatype FROM (
            SELECT *, row_number() OVER (
              PARTITION BY subject, predicate
              ORDER BY sha256(coalesce(object_lex, chr(1)) || coalesce(object_kind, chr(1)) || coalesce(object_datatype, chr(1)))
            ) AS rn FROM new_fusable
          ) WHERE rn = 1
        ),
        new_rest AS (
          SELECT r.* FROM src_rest r
          ANTI JOIN (SELECT DISTINCT subject, predicate, object_lex, object_kind FROM triples) s
            USING (subject, predicate, object_lex, object_kind)
        ),
        fused AS MATERIALIZED (
          SELECT subject, predicate, object_lex, object_kind, min(object_datatype) AS object_datatype
          FROM (
            SELECT * FROM triples
            UNION ALL SELECT * FROM first_vals
            UNION ALL SELECT * FROM new_rest
          ) GROUP BY subject, predicate, object_lex, object_kind
        ),
        onto AS (
          SELECT 'http://kg.org/prop/nation' AS uri, 'http://kg.org/onto/Customer' AS dom, 'http://kg.org/onto/Nation' AS rng
          UNION ALL SELECT 'http://kg.org/prop/region', 'http://kg.org/onto/Nation', 'http://kg.org/onto/Region'
          UNION ALL SELECT 'http://kg.org/prop/acctbal', 'http://kg.org/onto/Customer', 'http://www.w3.org/2001/XMLSchema#decimal'
          UNION ALL SELECT 'http://kg.org/prop/mktsegment', 'http://kg.org/onto/Customer', 'http://www.w3.org/2001/XMLSchema#string'
        ),
        joined AS (SELECT t.*, o.dom, o.rng FROM fused t JOIN onto o ON t.predicate = o.uri),
        inferred AS (
          SELECT subject, '{_RT}' AS predicate, dom AS object_lex, 'uri' AS object_kind,
                 CAST(NULL AS VARCHAR) AS object_datatype
          FROM joined WHERE dom IS NOT NULL
          UNION ALL
          SELECT object_lex, '{_RT}', rng, 'uri', NULL
          FROM joined WHERE rng IS NOT NULL AND object_kind = 'uri'
        ),
        types AS (
          SELECT subject, predicate, object_lex, object_kind, min(object_datatype) AS object_datatype
          FROM (
            SELECT * FROM fused WHERE predicate = '{_RT}'
            UNION ALL SELECT * FROM inferred
          ) GROUP BY subject, predicate, object_lex, object_kind
        )
        SELECT * FROM fused WHERE predicate <> '{_RT}'
        UNION ALL SELECT * FROM types
    """

    # Parameterized CTE generators for the §3.4 pipeline compositions and the
    # incremental MSP chain: token-blocked scoring, paris exchange →
    # canonicalize, and the first-value-fusion + type-inference stage tail.
    # Each takes the (accumulated) target-KG CTE name, the source-KG CTE
    # name, and a prefix so stages can be chained ({p}stage = the stage's
    # output KG).
    def _tokens_scored(kg1: str, kg2: str, p: str) -> str:
        return f"""
        {p}t1 AS MATERIALIZED (
          SELECT DISTINCT subject AS id_1, tok AS token FROM (
            SELECT subject, unnest(string_split({_NORM.format(c='object_lex')}, ' ')) AS tok
            FROM {kg1} WHERE predicate = '{_RL}'
          ) WHERE length(tok) > 0
        ),
        {p}t2 AS MATERIALIZED (
          SELECT DISTINCT subject AS id_2, tok AS token FROM (
            SELECT subject, unnest(string_split({_NORM.format(c='object_lex')}, ' ')) AS tok
            FROM {kg2} WHERE predicate = '{_RL}'
          ) WHERE length(tok) > 0
        ),
        {p}sizes1 AS (SELECT id_1, count(*) AS n1 FROM {p}t1 GROUP BY id_1),
        {p}sizes2 AS (SELECT id_2, count(*) AS n2 FROM {p}t2 GROUP BY id_2),
        {p}block_ok AS MATERIALIZED (
          SELECT b1.token FROM (SELECT token, count(*) AS c1 FROM {p}t1 GROUP BY token) b1
          JOIN (SELECT token, count(*) AS c2 FROM {p}t2 GROUP BY token) b2 USING (token)
          WHERE b1.c1 * b2.c2 <= 1000000
        ),
        {p}inter AS MATERIALIZED (
          SELECT a.id_1, b.id_2, count(*) AS common
          FROM (SELECT * FROM {p}t1 SEMI JOIN {p}block_ok USING (token)) a
          JOIN (SELECT * FROM {p}t2 SEMI JOIN {p}block_ok USING (token)) b USING (token)
          GROUP BY a.id_1, b.id_2
        ),
        {p}scored AS MATERIALIZED (
          SELECT id_1, id_2, common / (n1 + n2 - common) AS score
          FROM {p}inter JOIN {p}sizes1 USING (id_1) JOIN {p}sizes2 USING (id_2)
        )"""

    def _paris_canon(kg1: str, kg2: str, p: str) -> str:
        return f"""
        {p}n1 AS (SELECT DISTINCT subject AS id_1, object_lex AS nbr FROM {kg1} WHERE object_kind = 'uri'),
        {p}n2 AS (SELECT DISTINCT subject AS id_2, object_lex AS nbr FROM {kg2} WHERE object_kind = 'uri'),
        {p}shared AS (
          SELECT s.id_1, s.id_2, count(*) AS shared
          FROM {p}scored s
          JOIN {p}n1 n1 ON n1.id_1 = s.id_1
          JOIN {p}n2 n2 ON n2.id_2 = s.id_2 AND n2.nbr = n1.nbr
          GROUP BY s.id_1, s.id_2
        ),
        {p}boosted AS MATERIALIZED (
          SELECT s.id_1, s.id_2,
                 least(CAST(1.0 AS DOUBLE),
                       s.score + coalesce(sh.shared, 0) * CAST(0.1 AS DOUBLE)) AS score
          FROM {p}scored s LEFT JOIN {p}shared sh ON s.id_1 = sh.id_1 AND s.id_2 = sh.id_2
          WHERE s.score >= 0.0
        ),
        {p}mmap AS MATERIALIZED (
          SELECT id_2 AS entity, id_1 AS canonical FROM (
            SELECT *, row_number() OVER (PARTITION BY id_2 ORDER BY score DESC, id_1 ASC) AS rn
            FROM {p}boosted WHERE score >= 0.5
          ) WHERE rn = 1
        ),
        {p}canon2 AS MATERIALIZED (
          SELECT coalesce(m1.canonical, t.subject) AS subject, t.predicate,
                 CASE WHEN t.object_kind = 'uri' THEN coalesce(m2.canonical, t.object_lex)
                      ELSE t.object_lex END AS object_lex,
                 t.object_kind, t.object_datatype
          FROM {kg2} t
          LEFT JOIN {p}mmap m1 ON m1.entity = t.subject
          LEFT JOIN {p}mmap m2 ON m2.entity = t.object_lex AND t.object_kind = 'uri'
        )"""

    _ONTO_CUSTOMER_ROWS = """
          SELECT 'http://kg.org/prop/nation' AS uri, 'http://kg.org/onto/Customer' AS dom, 'http://kg.org/onto/Nation' AS rng
          UNION ALL SELECT 'http://kg.org/prop/region', 'http://kg.org/onto/Nation', 'http://kg.org/onto/Region'
          UNION ALL SELECT 'http://kg.org/prop/acctbal', 'http://kg.org/onto/Customer', 'http://www.w3.org/2001/XMLSchema#decimal'
          UNION ALL SELECT 'http://kg.org/prop/mktsegment', 'http://kg.org/onto/Customer', 'http://www.w3.org/2001/XMLSchema#string'
    """

    _ONTO_MOVIE_ROWS = """
          SELECT 'http://kg.org/prop/director' AS uri, 'http://kg.org/onto/Movie' AS dom, 'http://kg.org/onto/Person' AS rng
          UNION ALL SELECT 'http://kg.org/prop/writer', 'http://kg.org/onto/Movie', 'http://kg.org/onto/Person'
    """

    def _stage_tail(kg1: str, p: str, fusable: str, onto_rows: str | None = None) -> str:
        return f"""
        {p}src_fusable AS (SELECT * FROM {p}canon2 WHERE predicate IN ({fusable})),
        {p}src_rest AS (SELECT * FROM {p}canon2 WHERE predicate NOT IN ({fusable})),
        {p}seed_sp AS (SELECT DISTINCT subject, predicate FROM {kg1}),
        {p}new_fusable AS (
          SELECT f.* FROM {p}src_fusable f ANTI JOIN {p}seed_sp sp USING (subject, predicate)
        ),
        {p}first_vals AS (
          SELECT subject, predicate, object_lex, object_kind, object_datatype FROM (
            SELECT *, row_number() OVER (
              PARTITION BY subject, predicate
              ORDER BY sha256(coalesce(object_lex, chr(1)) || coalesce(object_kind, chr(1)) || coalesce(object_datatype, chr(1)))
            ) AS rn FROM {p}new_fusable
          ) WHERE rn = 1
        ),
        {p}new_rest AS (
          SELECT r.* FROM {p}src_rest r
          ANTI JOIN (SELECT DISTINCT subject, predicate, object_lex, object_kind FROM {kg1}) s
            USING (subject, predicate, object_lex, object_kind)
        ),
        {p}fused AS MATERIALIZED (
          SELECT subject, predicate, object_lex, object_kind, min(object_datatype) AS object_datatype
          FROM (
            SELECT * FROM {kg1}
            UNION ALL SELECT * FROM {p}first_vals
            UNION ALL SELECT * FROM {p}new_rest
          ) GROUP BY subject, predicate, object_lex, object_kind
        ),
        {p}onto AS (
          {onto_rows if onto_rows is not None else _ONTO_CUSTOMER_ROWS}
        ),
        {p}joined AS (SELECT t.*, o.dom, o.rng FROM {p}fused t JOIN {p}onto o ON t.predicate = o.uri),
        {p}inferred AS (
          SELECT subject, '{_RT}' AS predicate, dom AS object_lex, 'uri' AS object_kind,
                 CAST(NULL AS VARCHAR) AS object_datatype
          FROM {p}joined WHERE dom IS NOT NULL
          UNION ALL
          SELECT object_lex, '{_RT}', rng, 'uri', NULL
          FROM {p}joined WHERE rng IS NOT NULL AND object_kind = 'uri'
        ),
        {p}types AS (
          SELECT subject, predicate, object_lex, object_kind, min(object_datatype) AS object_datatype
          FROM (
            SELECT * FROM {p}fused WHERE predicate = '{_RT}'
            UNION ALL SELECT * FROM {p}inferred
          ) GROUP BY subject, predicate, object_lex, object_kind
        ),
        {p}stage AS MATERIALIZED (
          SELECT * FROM {p}fused WHERE predicate <> '{_RT}'
          UNION ALL SELECT * FROM {p}types
        )"""

    # JSON source chain (bit-exact md5-mint derivation, same as
    # kg_json_extract) → CTE `jsrc`
    _JSON_SRC = f"""
        src_j AS (
          SELECT c_custkey, c_name, c_mktsegment, CAST(c_acctbal AS VARCHAR) AS bal, n_name
          FROM customer JOIN nation ON c_nationkey = n_nationkey
        ),
        doc_j AS MATERIALIZED (
          SELECT *,
            'http://kg.org/e/' || md5('{{"balance":' || bal || ',"name":"' || c_name
              || '","nation":{{"name":"' || n_name || '"}},"segment":"' || c_mktsegment || '"}}') AS duri,
            'http://kg.org/e/' || md5('{{"name":"' || n_name || '"}}') AS nuri
          FROM src_j
        ),
        jsrc AS MATERIALIZED (
          SELECT DISTINCT subject, predicate, object_lex, object_kind, object_datatype FROM (
            SELECT duri AS subject, '{_RT}' AS predicate, 'http://kg.org/onto/EXCDocument' AS object_lex,
                   'uri' AS object_kind, CAST(NULL AS VARCHAR) AS object_datatype FROM doc_j
            UNION ALL SELECT duri, 'http://kg.org/prop/balance', bal, 'literal', '{_XD}' FROM doc_j
            UNION ALL SELECT duri, '{_RL}', c_name, 'literal', '{_XS}' FROM doc_j
            UNION ALL SELECT duri, 'http://kg.org/prop/name', c_name, 'literal', '{_XS}' FROM doc_j
            UNION ALL SELECT duri, 'http://kg.org/prop/nation', nuri, 'uri', NULL FROM doc_j
            UNION ALL SELECT duri, 'http://kg.org/prop/segment', c_mktsegment, 'literal', '{_XS}' FROM doc_j
            UNION ALL SELECT nuri, '{_RT}', 'http://kg.org/onto/EXCNation', 'uri', NULL FROM doc_j
            UNION ALL SELECT nuri, '{_RL}', n_name, 'literal', '{_XS}' FROM doc_j
            UNION ALL SELECT nuri, 'http://kg.org/prop/name', n_name, 'literal', '{_XS}' FROM doc_j
          )
        )"""

    def _text_staging(kgname: str, p: str) -> str:
        """Text-source chain: closed-form OpenIE surfaces → exact-cosine
        relation linking (argmax via the embed/cosine chains) → dictionary
        NER/NEL against {kgname}'s geography labels → mappings-only TE
        construct. Output CTE: {p}soft."""
        return f"""
        {p}txt AS (
          SELECT c_custkey AS k, c_name, n_name, r_name
          FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        ),
        {p}surf AS MATERIALIZED (
          SELECT CAST(k AS VARCHAR) AS doc_id, 'Film ' || k AS subj, 'directed by' AS pred, c_name AS obj FROM {p}txt
          UNION ALL SELECT CAST(k AS VARCHAR), 'Film ' || k, 'stars', n_name FROM {p}txt
          UNION ALL SELECT CAST(k AS VARCHAR), 'Film ' || k, 'stars', r_name FROM {p}txt
        ),
        {p}psurf(id, text) AS (VALUES ('directed by', 'directed by'), ('stars', 'stars')),
        {p}props(id, text) AS (VALUES
          ('http://kg.org/prop/director', 'label: directed by; altLabels: director'),
          ('http://kg.org/prop/stars', 'label: stars; altLabels: cast member'),
          ('http://kg.org/prop/writer', 'label: written by; altLabels: writer')),
        {_sql_embed(p + 'm', p + 'psurf')},
        {_sql_embed(p + 'p', p + 'props')},
        {_sql_cosine_binpairs(p + 'm', p + 'p', p + 'c')},
        {p}relmap AS MATERIALIZED (
          SELECT lid AS surface, rid AS prop FROM (
            SELECT *, row_number() OVER (PARTITION BY lid ORDER BY cos DESC, rid ASC) AS rn FROM {p}c
          ) WHERE rn = 1 AND cos >= 0.3
        ),
        {p}spot AS MATERIALIZED (
          SELECT norm, min(uri) AS mapping FROM (
            SELECT subject AS uri, {_NORM.format(c='object_lex')} AS norm FROM {kgname}
            WHERE predicate = '{_RL}'
              AND (subject LIKE 'http://kg.org/nation/%' OR subject LIKE 'http://kg.org/region/%')
          ) GROUP BY norm
        ),
        {p}elinks AS MATERIALIZED (
          SELECT DISTINCT u.doc_id, lower(u.surface) AS key, sp.mapping
          FROM (
            SELECT doc_id, subj AS surface FROM {p}surf
            UNION SELECT doc_id, obj FROM {p}surf
          ) u JOIN {p}spot sp ON {_NORM.format(c='u.surface')} = sp.norm
        ),
        {p}onto_t(uri, dom, rng) AS (VALUES
          ('http://kg.org/prop/director', 'http://kg.org/onto/Movie', 'http://kg.org/onto/Person'),
          ('http://kg.org/prop/stars', 'http://kg.org/onto/Movie', 'http://kg.org/onto/Person'),
          ('http://kg.org/prop/writer', 'http://kg.org/onto/Movie', 'http://kg.org/onto/Person')),
        {p}resolved AS MATERIALIZED (
          SELECT s.doc_id,
                 coalesce(els.mapping,
                          'http://kg.org/newE/' || sha256({_NORM.format(c='s.subj')})) AS subject,
                 els.mapping IS NOT NULL AS subj_linked,
                 r.prop AS predicate, o.dom, o.rng,
                 s.subj AS subj_surface, s.obj AS obj_surface,
                 coalesce(elo.mapping,
                          'http://kg.org/newE/' || sha256({_NORM.format(c='s.obj')})) AS obj_uri,
                 elo.mapping IS NOT NULL AS obj_linked
          FROM {p}surf s
          JOIN {p}relmap r ON r.surface = s.pred
          JOIN {p}onto_t o ON r.prop = o.uri
          LEFT JOIN {p}elinks els ON els.doc_id = s.doc_id AND els.key = lower(s.subj)
          LEFT JOIN {p}elinks elo ON elo.doc_id = s.doc_id AND elo.key = lower(s.obj)
        ),
        {p}soft AS MATERIALIZED (
          SELECT DISTINCT subject, predicate, object_lex, object_kind, object_datatype FROM (
            SELECT subject, predicate, obj_uri AS object_lex, 'uri' AS object_kind,
                   CAST(NULL AS VARCHAR) AS object_datatype FROM {p}resolved
            UNION ALL SELECT subject, '{_RT}', dom, 'uri', NULL FROM {p}resolved
            UNION ALL SELECT obj_uri, '{_RT}', rng, 'uri', NULL FROM {p}resolved
            UNION ALL SELECT subject, '{_RL}', subj_surface, 'literal', '{_XS}' FROM {p}resolved WHERE NOT subj_linked
            UNION ALL SELECT obj_uri, '{_RL}', obj_surface, 'literal', '{_XS}' FROM {p}resolved WHERE NOT obj_linked
          )
        )"""

    def _text_staging_full(kgname: str, p: str) -> str:
        """text_b staging: closed-form OpenIE surfaces → embedding EL
        (cosine argmax per surface vs {kgname}'s geography labels via the
        share-any-bin pair set of label_alias_embedding_el's
        ``te_construct._top1``) → embedding RL against
        director/writer ONLY (the 'stars' surface stays unlinked and mints
        prop/stars) → FULL te_documents_to_triples (construct.py without the
        mappings-only filter): minted predicates/subjects, label rows,
        domain/range types. Output CTE: {p}full."""
        mint_subj = "'http://kg.org/newE/' || sha256(" + _NORM.format(c="s.subj") + ")"
        mint_obj = "'http://kg.org/newE/' || sha256(" + _NORM.format(c="s.obj") + ")"
        mint_pred = (
            "'http://kg.org/prop/' || replace(" + _NORM.format(c="s.pred") + ", ' ', '_')"
        )
        return f"""
        {p}txt AS (
          SELECT c_custkey AS k, c_name, n_name, r_name
          FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        ),
        {p}surf AS MATERIALIZED (
          SELECT CAST(k AS VARCHAR) AS doc_id, 'Film ' || k AS subj, 'directed by' AS pred, c_name AS obj FROM {p}txt
          UNION ALL SELECT CAST(k AS VARCHAR), 'Film ' || k, 'stars', n_name FROM {p}txt
          UNION ALL SELECT CAST(k AS VARCHAR), 'Film ' || k, 'stars', r_name FROM {p}txt
        ),
        {p}psurf(id, text) AS (VALUES ('directed by', 'directed by'), ('stars', 'stars')),
        {p}props(id, text) AS (VALUES
          ('http://kg.org/prop/director', 'label: directed by; altLabels: director'),
          ('http://kg.org/prop/writer', 'label: written by; altLabels: writer')),
        {_sql_embed(p + 'm', p + 'psurf')},
        {_sql_embed(p + 'p', p + 'props')},
        {_sql_cosine_binpairs(p + 'm', p + 'p', p + 'c')},
        {p}relmap AS MATERIALIZED (
          SELECT lid AS surface, rid AS prop FROM (
            SELECT *, row_number() OVER (PARTITION BY lid ORDER BY cos DESC, rid ASC) AS rn FROM {p}c
          ) WHERE rn = 1 AND cos >= 0.3
        ),
        {p}esurfu AS MATERIALIZED (
          SELECT DISTINCT doc_id, surface FROM (
            SELECT doc_id, subj AS surface FROM {p}surf
            UNION SELECT doc_id, obj FROM {p}surf
          )
        ),
        {p}esurf AS MATERIALIZED (
          SELECT surface AS id, {_NORM.format(c='surface')} AS text
          FROM (SELECT DISTINCT surface FROM {p}esurfu)
        ),
        {p}etgt AS MATERIALIZED (
          SELECT min(subject) AS id, norm AS text FROM (
            SELECT subject, {_NORM.format(c='object_lex')} AS norm FROM {kgname}
            WHERE predicate = '{_RL}'
              AND (subject LIKE 'http://kg.org/nation/%' OR subject LIKE 'http://kg.org/region/%')
          ) GROUP BY norm
        ),
        {_sql_embed(p + 'e', p + 'esurf')},
        {_sql_embed(p + 't', p + 'etgt')},
        {_sql_cosine_binpairs(p + 'e', p + 't', p + 'ec')},
        {p}eltop AS MATERIALIZED (
          SELECT lid AS span, rid AS mapping, cos FROM (
            SELECT *, row_number() OVER (PARTITION BY lid ORDER BY cos DESC, rid ASC) AS rn FROM {p}ec
          ) WHERE rn = 1
        ),
        {p}elmap AS MATERIALIZED (
          SELECT DISTINCT u.doc_id, lower(u.surface) AS key, t.mapping
          FROM {p}esurfu u JOIN {p}eltop t ON t.span = u.surface
          WHERE t.cos >= 0.5
        ),
        {p}onto_t(uri, dom, rng, isobj) AS (VALUES
          ('http://kg.org/prop/director', 'http://kg.org/onto/Movie', 'http://kg.org/onto/Person', 'true'),
          ('http://kg.org/prop/writer', 'http://kg.org/onto/Movie', 'http://kg.org/onto/Person', 'true')),
        {p}resolved AS MATERIALIZED (
          SELECT s.doc_id,
                 coalesce(els.mapping, {mint_subj}) AS subject,
                 els.mapping IS NOT NULL AS subj_linked,
                 coalesce(r.prop, {mint_pred}) AS predicate,
                 o.dom, o.rng,
                 (coalesce(o.isobj, '') = 'true') OR (elo.mapping IS NOT NULL) AS is_obj,
                 s.subj AS subj_surface, s.obj AS obj_surface,
                 elo.mapping AS obj_mapping,
                 coalesce(elo.mapping, {mint_obj}) AS obj_uri
          FROM {p}surf s
          LEFT JOIN {p}relmap r ON r.surface = s.pred
          LEFT JOIN {p}onto_t o ON r.prop = o.uri
          LEFT JOIN {p}elmap els ON els.doc_id = s.doc_id AND els.key = lower(s.subj)
          LEFT JOIN {p}elmap elo ON elo.doc_id = s.doc_id AND elo.key = lower(s.obj)
        ),
        {p}full AS MATERIALIZED (
          SELECT DISTINCT subject, predicate, object_lex, object_kind, object_datatype FROM (
            SELECT subject, predicate,
                   CASE WHEN is_obj THEN obj_uri ELSE obj_surface END AS object_lex,
                   CASE WHEN is_obj THEN 'uri' ELSE 'literal' END AS object_kind,
                   CASE WHEN is_obj THEN CAST(NULL AS VARCHAR)
                        WHEN rng LIKE 'http://www.w3.org/2001/XMLSchema#%' THEN rng
                        ELSE '{_XS}' END AS object_datatype
            FROM {p}resolved WHERE obj_surface IS NOT NULL
            UNION ALL SELECT subject, '{_RT}', dom, 'uri', NULL FROM {p}resolved WHERE dom IS NOT NULL
            UNION ALL SELECT obj_uri, '{_RT}', rng, 'uri', NULL FROM {p}resolved
              WHERE rng IS NOT NULL AND rng NOT LIKE 'http://www.w3.org/2001/XMLSchema#%'
                AND obj_surface IS NOT NULL
            UNION ALL SELECT subject, '{_RL}', subj_surface, 'literal', '{_XS}' FROM {p}resolved
              WHERE NOT subj_linked
            UNION ALL SELECT obj_uri, '{_RL}', obj_surface, 'literal', '{_XS}' FROM {p}resolved
              WHERE is_obj AND obj_mapping IS NULL AND obj_surface IS NOT NULL
          )
        )"""

    # json_a composition (pipeline.conf:62-71): the bit-exact JSON
    # extraction chain feeds the paris chain as the source KG, then exchange
    # -> canonicalize -> first-value fusion -> type inference
    sql["kg_pipeline_json_a"] = f"""
        WITH {SQL_TRIPLES},
        {_JSON_SRC},
        {_tokens_scored('triples', 'jsrc', 'a')},
        {_paris_canon('triples', 'jsrc', 'a')},
        {_stage_tail('triples', 'a', f"'{_RL}', 'http://kg.org/prop/segment'")}
        SELECT * FROM astage
    """

    # text_a composition (pipeline.conf:96-110): closed-form OpenIE surfaces
    # -> TE docs -> exact-cosine relation linking -> dictionary NER/NEL ->
    # mappings-only TE construct -> paris -> fusion -> type inference
    sql["kg_pipeline_text_a"] = f"""
        WITH {SQL_TRIPLES},
        {_text_staging('triples', 'x')},
        {_tokens_scored('triples', 'xsoft', 'b')},
        {_paris_canon('triples', 'xsoft', 'b')},
        {_stage_tail('triples', 'b', f"'{_RL}'")}
        SELECT * FROM bstage
    """

    # 3-stage incremental MSP (helpers.py:50-90, test_inc_msp.py:17-33):
    # stage 1 aligns the rdf source into the seed, stage 2 the JSON source
    # into stage 1's result, stage 3 the text source into stage 2's result;
    # each stage is the full tokens->paris->exchange->fuse->infer chain over
    # the ACCUMULATED KG CTE of the previous stage
    sql["kg_incremental_3stage"] = f"""
        WITH {SQL_TRIPLES}, {SQL_SOFT_ACTUAL},
        {_tokens_scored('triples', 'soft_actual', 's1')},
        {_paris_canon('triples', 'soft_actual', 's1')},
        {_stage_tail('triples', 's1', f"'{_RL}', 'http://kg.org/prop/mktsegment'")},
        {_JSON_SRC},
        {_tokens_scored('s1stage', 'jsrc', 's2')},
        {_paris_canon('s1stage', 'jsrc', 's2')},
        {_stage_tail('s1stage', 's2', f"'{_RL}', 'http://kg.org/prop/segment'")},
        {_text_staging('s2stage', 'y')},
        {_tokens_scored('s2stage', 'ysoft', 's3')},
        {_paris_canon('s2stage', 'ysoft', 's3')},
        {_stage_tail('s2stage', 's3', f"'{_RL}'")}
        SELECT * FROM s3stage
    """

    # MSP order permutation (test_inc_msp.py:17-33 / config.py:60-64): the
    # SAME three sources in text → rdf → json order; the text stage's NER/NEL
    # dictionary is the seed itself here (first stage), and rdf/json fold
    # into the text stage's accumulated result
    sql["kg_incremental_msp_perm2"] = f"""
        WITH {SQL_TRIPLES}, {SQL_SOFT_ACTUAL},
        {_text_staging('triples', 'z')},
        {_tokens_scored('triples', 'zsoft', 'p1')},
        {_paris_canon('triples', 'zsoft', 'p1')},
        {_stage_tail('triples', 'p1', f"'{_RL}'")},
        {_tokens_scored('p1stage', 'soft_actual', 'p2')},
        {_paris_canon('p1stage', 'soft_actual', 'p2')},
        {_stage_tail('p1stage', 'p2', f"'{_RL}', 'http://kg.org/prop/mktsegment'")},
        {_JSON_SRC},
        {_tokens_scored('p2stage', 'jsrc', 'p3')},
        {_paris_canon('p2stage', 'jsrc', 'p3')},
        {_stage_tail('p2stage', 'p3', f"'{_RL}', 'http://kg.org/prop/segment'")}
        SELECT * FROM p3stage
    """

    _ALLOWED_CUSTOMER = (
        f"'{_RL}', '{_RT}', '{_SA}', 'http://kg.org/prop/nation', "
        "'http://kg.org/prop/region', 'http://kg.org/prop/acctbal', "
        "'http://kg.org/prop/mktsegment'"
    )
    _FUSABLE_CUSTOMER = (
        f"'{_RL}', '{_RT}', 'http://kg.org/prop/nation', "
        "'http://kg.org/prop/region', 'http://kg.org/prop/acctbal', "
        "'http://kg.org/prop/mktsegment'"
    )

    # json_b composition (pipeline.conf:73-81): construct_linkedrdf (the
    # JSON extraction chain + exact-label link_map rewrite against the seed
    # dictionary) → select_first_value (allowed-predicate + type-namespace
    # filters, then matchless seed-priority first-value fusion with fusable
    # = card-1 props ∪ {{label, type}}) → type inference
    sql["kg_pipeline_json_b"] = f"""
        WITH {SQL_TRIPLES},
        {_JSON_SRC},
        jbdict AS MATERIALIZED (
          SELECT {_NORM.format(c='object_lex')} AS norm_label, min(subject) AS mapping
          FROM triples WHERE predicate IN ('{_RL}', '{_SA}')
          GROUP BY 1
        ),
        jblinkmap AS MATERIALIZED (
          SELECT subject AS entity, min(mapping) AS canonical FROM (
            SELECT t.subject, d.mapping
            FROM jsrc t JOIN jbdict d ON {_NORM.format(c='t.object_lex')} = d.norm_label
            WHERE t.predicate = '{_RL}'
          ) WHERE mapping <> subject GROUP BY subject
        ),
        jbrewritten AS MATERIALIZED (
          SELECT coalesce(m1.canonical, t.subject) AS subject, t.predicate,
                 CASE WHEN t.object_kind = 'uri' THEN coalesce(m2.canonical, t.object_lex)
                      ELSE t.object_lex END AS object_lex,
                 t.object_kind, t.object_datatype
          FROM jsrc t
          LEFT JOIN jblinkmap m1 ON m1.entity = t.subject
          LEFT JOIN jblinkmap m2 ON m2.entity = t.object_lex AND t.object_kind = 'uri'
        ),
        jbcanon2 AS MATERIALIZED (
          SELECT * FROM jbrewritten
          WHERE predicate IN ({_ALLOWED_CUSTOMER})
            AND NOT (predicate = '{_RT}' AND object_lex NOT LIKE 'http://kg.org/onto/%')
        ),
        {_stage_tail('triples', 'jb', _FUSABLE_CUSTOMER)}
        SELECT * FROM jbstage
    """

    # text_b staging (pipeline.conf:112-124 through construct_rdf_from_te_json):
    # OpenIE surfaces → embedding EL (cosine argmax vs the seed's geography
    # labels, share-any-bin pair set of te_construct._top1) → embedding RL
    # (director/writer only — the
    # 'stars' surface mints prop/stars) → FULL TE construct with minted
    # subjects/predicates, labels and domain/range types
    sql["kg_te_construct_full"] = f"""
        WITH {SQL_TRIPLES},
        {_text_staging_full('triples', 'tf')}
        SELECT * FROM tffull
    """

    # text_b composition: the full staging above → select_first_value with
    # the movie ontology (allowed = director/writer + label/type/altLabel —
    # the minted prop/stars rows drop here) → type inference over the movie
    # ontology
    sql["kg_pipeline_text_b"] = f"""
        WITH {SQL_TRIPLES},
        {_text_staging_full('triples', 'tb')},
        tbcanon2 AS MATERIALIZED (
          SELECT * FROM tbfull
          WHERE predicate IN ('{_RL}', '{_RT}', '{_SA}',
                              'http://kg.org/prop/director', 'http://kg.org/prop/writer')
            AND NOT (predicate = '{_RT}' AND object_lex NOT LIKE 'http://kg.org/onto/%')
        ),
        {_stage_tail('triples', 'tb', f"'{_RL}', '{_RT}', 'http://kg.org/prop/director', 'http://kg.org/prop/writer'", _ONTO_MOVIE_ROWS)}
        SELECT * FROM tbstage
    """

    # evaluation report: statistical counts + semantic violation counts +
    # reference P/R/F1 as one long table over the mistyped base KG
    sql["kg_eval_report"] = f"""
        WITH {SQL_TRIPLES},
        mutated AS MATERIALIZED (
          SELECT subject, predicate,
                 CASE WHEN predicate = '{_RT}' AND subject LIKE 'http://kg.org/cust/%'
                           AND CAST(regexp_extract(subject, '(\\d+)$', 1) AS BIGINT) % 9 = 0
                      THEN 'http://kg.org/onto/Supplier' ELSE object_lex END AS object_lex,
                 object_kind, object_datatype
          FROM triples
        ),
        onto(uri, dmn, rng, is_obj, maxc) AS (VALUES
          ('http://kg.org/prop/nation', 'http://kg.org/onto/Customer', 'http://kg.org/onto/Nation', 'true', 1),
          ('http://kg.org/prop/region', 'http://kg.org/onto/Nation', 'http://kg.org/onto/Region', 'true', 1),
          ('http://kg.org/prop/acctbal', 'http://kg.org/onto/Customer', '{_XD}', 'false', 1),
          ('http://kg.org/prop/mktsegment', 'http://kg.org/onto/Customer', '{_XS}', 'false', 1)),
        typed AS (SELECT subject, object_lex AS cls FROM mutated WHERE predicate = '{_RT}'),
        actual AS (SELECT DISTINCT subject, predicate, object_lex, object_kind FROM mutated),
        expected AS (
          SELECT DISTINCT subject, predicate, object_lex, object_kind FROM (
            SELECT subject, predicate, object_lex, object_kind FROM triples WHERE predicate <> '{_SA}'
            UNION ALL
            SELECT 'http://kg.org/cust/' || c_custkey, 'http://kg.org/prop/phantom', 'missing', 'literal'
            FROM customer WHERE c_custkey % 7 = 0
          )
        ),
        cnt AS (
          SELECT
            CAST((SELECT count(*) FROM actual a SEMI JOIN expected e USING (subject, predicate, object_lex, object_kind)) AS DOUBLE) AS tp,
            CAST((SELECT count(*) FROM actual a ANTI JOIN expected e USING (subject, predicate, object_lex, object_kind)) AS DOUBLE) AS fp,
            CAST((SELECT count(*) FROM expected e ANTI JOIN actual a USING (subject, predicate, object_lex, object_kind)) AS DOUBLE) AS fn
        ),
        prf AS (
          SELECT tp, fp, fn,
                 CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 0.0 END AS p,
                 CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 0.0 END AS r
          FROM cnt
        )
        SELECT 'statistical' AS aspect, 'n_triples' AS metric, CAST(count(*) AS DOUBLE) AS value FROM mutated
        UNION ALL SELECT 'statistical', 'n_entities', CAST(count(*) AS DOUBLE) FROM (
          SELECT DISTINCT e FROM (
            SELECT subject AS e FROM mutated
            UNION ALL SELECT object_lex FROM mutated WHERE object_kind = 'uri'))
        UNION ALL SELECT 'statistical', 'n_relations', CAST(count(DISTINCT predicate) AS DOUBLE) FROM mutated
        UNION ALL SELECT 'statistical', 'n_subjects', CAST(count(DISTINCT subject) AS DOUBLE) FROM mutated
        UNION ALL SELECT 'statistical', 'n_classes', CAST(count(DISTINCT object_lex) AS DOUBLE)
          FROM mutated WHERE predicate = '{_RT}'
        UNION ALL SELECT 'semantic', 'cardinality_violations', CAST(count(*) AS DOUBLE) FROM (
          SELECT t.subject FROM mutated t JOIN onto o ON t.predicate = o.uri
          GROUP BY t.subject, t.predicate, o.maxc HAVING count(*) > o.maxc)
        UNION ALL SELECT 'semantic', 'domain_violations', CAST(count(*) AS DOUBLE) FROM (
          SELECT DISTINCT t.subject, t.predicate, ty.cls, o.dmn
          FROM mutated t JOIN onto o ON t.predicate = o.uri
          JOIN typed ty ON ty.subject = t.subject
          WHERE o.dmn IS NOT NULL AND ty.cls <> o.dmn)
        UNION ALL SELECT 'semantic', 'range_violations', CAST(count(*) AS DOUBLE) FROM (
          SELECT DISTINCT t.subject, t.predicate, t.object_lex, ty.cls, o.rng
          FROM mutated t JOIN onto o ON t.predicate = o.uri
          JOIN typed ty ON ty.subject = t.object_lex
          WHERE t.object_kind = 'uri' AND o.rng IS NOT NULL
            AND o.rng NOT LIKE 'http://www.w3.org/2001/XMLSchema#%' AND ty.cls <> o.rng)
        UNION ALL SELECT 'semantic', 'datatype_violations', CAST(count(*) AS DOUBLE) FROM (
          SELECT t.subject FROM mutated t JOIN onto o ON t.predicate = o.uri
          WHERE t.object_kind = 'literal' AND o.rng LIKE 'http://www.w3.org/2001/XMLSchema#%'
            AND coalesce(t.object_datatype, '') <> o.rng)
        UNION ALL SELECT 'semantic', 'object_prop_violations', CAST(count(*) AS DOUBLE) FROM (
          SELECT t.subject FROM mutated t JOIN onto o ON t.predicate = o.uri
          WHERE (o.is_obj = 'true' AND t.object_kind = 'literal')
             OR (o.is_obj = 'false' AND t.object_kind = 'uri'))
        UNION ALL SELECT 'reference', 'tp', tp FROM prf
        UNION ALL SELECT 'reference', 'fp', fp FROM prf
        UNION ALL SELECT 'reference', 'fn', fn FROM prf
        UNION ALL SELECT 'reference', 'precision', round(p, 6) FROM prf
        UNION ALL SELECT 'reference', 'recall', round(r, 6) FROM prf
        UNION ALL SELECT 'reference', 'f1',
          CASE WHEN p + r > 0 THEN round(2.0 * p * r / (p + r), 6) ELSE 0.0 END FROM prf
    """

    sql["kg_json_extract"] = f"""
        WITH src AS (
          SELECT c_custkey, c_name, c_mktsegment, CAST(c_acctbal AS VARCHAR) AS bal, n_name
          FROM customer JOIN nation ON c_nationkey = n_nationkey
        ),
        doc AS MATERIALIZED (
          SELECT *,
            'http://kg.org/e/' || md5('{{"balance":' || bal || ',"name":"' || c_name
              || '","nation":{{"name":"' || n_name || '"}},"segment":"' || c_mktsegment || '"}}') AS duri,
            'http://kg.org/e/' || md5('{{"name":"' || n_name || '"}}') AS nuri
          FROM src
        )
        SELECT DISTINCT subject, predicate, object_lex, object_kind, object_datatype FROM (
          SELECT duri AS subject, '{_RT}' AS predicate, 'http://kg.org/onto/EXCDocument' AS object_lex,
                 'uri' AS object_kind, CAST(NULL AS VARCHAR) AS object_datatype FROM doc
          UNION ALL SELECT duri, 'http://kg.org/prop/balance', bal, 'literal', '{_XD}' FROM doc
          UNION ALL SELECT duri, '{_RL}', c_name, 'literal', '{_XS}' FROM doc
          UNION ALL SELECT duri, 'http://kg.org/prop/name', c_name, 'literal', '{_XS}' FROM doc
          UNION ALL SELECT duri, 'http://kg.org/prop/nation', nuri, 'uri', NULL FROM doc
          UNION ALL SELECT duri, 'http://kg.org/prop/segment', c_mktsegment, 'literal', '{_XS}' FROM doc
          UNION ALL SELECT nuri, '{_RT}', 'http://kg.org/onto/EXCNation', 'uri', NULL FROM doc
          UNION ALL SELECT nuri, '{_RL}', n_name, 'literal', '{_XS}' FROM doc
          UNION ALL SELECT nuri, 'http://kg.org/prop/name', n_name, 'literal', '{_XS}' FROM doc
        )
    """

    # _guess_dt ladder replay: the canonical-JSON md5 mint (sorted keys, no
    # spaces) and every datatype branch, lexical forms preserved verbatim
    sql["kg_json_typed_literals"] = f"""
        WITH src AS (
          SELECT c_custkey AS k,
                 CASE WHEN c_custkey % 2 = 0 THEN 'true' ELSE 'false' END AS active,
                 '1990-07-' || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0') AS birthday,
                 lpad(CAST(c_custkey % 997 AS VARCHAR), 5, '0') AS code,
                 CAST(c_custkey AS VARCHAR) AS cnt,
                 '2021-03-04T05:06:' || lpad(CAST(c_custkey % 60 AS VARCHAR), 2, '0') AS joined,
                 'plain ' || c_custkey AS note,
                 CAST(c_custkey % 10 + 0.5 AS VARCHAR) AS score
          FROM customer
        ),
        doc AS MATERIALIZED (
          SELECT *,
            'http://kg.org/e/' || md5('{{"active":' || active || ',"birthday":"' || birthday
              || '","code":"' || code || '","count":' || cnt || ',"joined":"' || joined
              || '","note":"' || note || '","rate":"1.5e2","score":' || score || '}}') AS duri
          FROM src
        )
        SELECT DISTINCT subject, predicate, object_lex, object_kind, object_datatype FROM (
          SELECT duri AS subject, '{_RT}' AS predicate,
                 'http://kg.org/onto/EXCDocument' AS object_lex,
                 'uri' AS object_kind, CAST(NULL AS VARCHAR) AS object_datatype FROM doc
          UNION ALL SELECT duri, 'http://kg.org/prop/active', active, 'literal', '{XSD_BOOLEAN}' FROM doc
          UNION ALL SELECT duri, 'http://kg.org/prop/birthday', birthday, 'literal', '{XSD_DATE}' FROM doc
          UNION ALL SELECT duri, 'http://kg.org/prop/code', code, 'literal', '{XSD_INTEGER}' FROM doc
          UNION ALL SELECT duri, 'http://kg.org/prop/count', cnt, 'literal', '{XSD_INTEGER}' FROM doc
          UNION ALL SELECT duri, 'http://kg.org/prop/joined', joined, 'literal', '{XSD_DATETIME}' FROM doc
          UNION ALL SELECT duri, 'http://kg.org/prop/note', note, 'literal', '{_XS}' FROM doc
          UNION ALL SELECT duri, 'http://kg.org/prop/rate', '1.5e2', 'literal', '{_XD}' FROM doc
          UNION ALL SELECT duri, 'http://kg.org/prop/score', score, 'literal', '{_XD}' FROM doc
        )
    """

    sql["kg_fuse_union"] = f"""
        WITH {SQL_TRIPLES},
        seed AS (
          SELECT * FROM triples
          WHERE CAST(regexp_extract(subject, '(\\d+)$', 1) AS BIGINT) % 2 = 0
        ),
        extra AS (
          SELECT subject, predicate, 'U:' || object_lex AS object_lex, object_kind, object_datatype
          FROM triples WHERE predicate = '{_RL}'
        ),
        unioned AS (
          SELECT * FROM seed UNION ALL SELECT * FROM triples UNION ALL SELECT * FROM extra
        )
        SELECT subject, predicate, object_lex, object_kind, min(object_datatype) AS object_datatype
        FROM unioned GROUP BY subject, predicate, object_lex, object_kind
    """

    sql["kg_remove_empty_literals"] = f"""
        WITH {SQL_TRIPLES},
        dirty AS (
          SELECT 'http://kg.org/cust/' || c_custkey AS subject,
                 'http://kg.org/prop/note' AS predicate,
                 CASE WHEN c_custkey % 2 = 0 THEN '   ' ELSE '' END AS object_lex,
                 'literal' AS object_kind, '{_XS}' AS object_datatype
          FROM customer WHERE c_custkey % 3 = 0
        ),
        allt AS (SELECT * FROM triples UNION ALL SELECT * FROM dirty)
        SELECT * FROM allt
        WHERE NOT (object_kind = 'literal' AND length(trim(coalesce(object_lex, ''))) = 0)
    """

    sql["kg_er_relation_eval"] = """
        WITH preds AS (
          SELECT 'http://kg.org/a/attr' || c_custkey AS id_1,
                 'http://kg.org/b/attr' || c_custkey AS id_2, 0.9 AS score
          FROM customer WHERE c_custkey % 40 = 0
          UNION ALL
          SELECT 'http://kg.org/a/p' || c_custkey, 'http://kg.org/b/q' || c_custkey, 0.8
          FROM customer WHERE c_custkey % 60 = 0
          UNION ALL
          SELECT 'http://kg.org/a/x' || c_custkey, 'http://kg.org/b/y' || c_custkey, 0.7
          FROM customer WHERE c_custkey % 50 = 0
        ),
        rel AS (
          SELECT DISTINCT least(id_1, id_2) AS id_1, greatest(id_1, id_2) AS id_2
          FROM preds WHERE score > 0.5 AND NOT id_1 LIKE '%-' AND NOT id_2 LIKE '%-'
        ),
        gold AS (
          SELECT DISTINCT least(a, b) AS id_1, greatest(a, b) AS id_2 FROM (
            SELECT 'http://kg.org/a/p' || c_custkey AS a, 'http://kg.org/b/q' || c_custkey AS b
            FROM customer WHERE c_custkey % 30 = 0
          )
        ),
        judged AS (
          SELECT r.id_1, r.id_2,
                 (regexp_extract(r.id_1, '([^/#]*)$', 1) = regexp_extract(r.id_2, '([^/#]*)$', 1)
                  OR g.id_1 IS NOT NULL) AS ok
          FROM rel r LEFT JOIN gold g ON r.id_1 = g.id_1 AND r.id_2 = g.id_2
        ),
        counts AS (
          SELECT sum(CASE WHEN ok THEN 1 ELSE 0 END) AS tp,
                 sum(CASE WHEN ok THEN 0 ELSE 1 END) AS fp,
                 (SELECT count(*) FROM gold g
                  WHERE NOT EXISTS (SELECT 1 FROM rel r WHERE r.id_1 = g.id_1 AND r.id_2 = g.id_2)) AS fn
          FROM judged
        )
        SELECT CAST(coalesce(tp, 0) AS BIGINT) AS tp, CAST(coalesce(fp, 0) AS BIGINT) AS fp,
               CAST(fn AS BIGINT) AS fn,
               round(coalesce(tp, 0) / greatest(coalesce(tp, 0) + coalesce(fp, 0), 1), 6) AS precision,
               round(coalesce(tp, 0) / greatest(coalesce(tp, 0) + fn, 1), 6) AS recall,
               round(2 * coalesce(tp, 0) / greatest(2 * coalesce(tp, 0) + coalesce(fp, 0) + fn, 1), 6) AS f1
        FROM counts
    """

    sql["kg_cluster_file_pairs"] = """
        WITH clusters AS (
          SELECT ['http://kg.org/cust/' || c_custkey,
                  'http://kg.org/dupA/' || c_custkey,
                  'http://kg.org/dupB/' || c_custkey] AS uris
          FROM customer WHERE c_custkey % 25 = 0
        ),
        a AS (SELECT unnest(uris) AS id_1, uris FROM clusters),
        p AS (SELECT id_1, unnest(uris) AS id_2 FROM a)
        SELECT DISTINCT id_1, id_2 FROM p WHERE id_1 < id_2
    """

    sql["kg_relation_direction"] = f"""
        WITH {SQL_TRIPLES},
        swapped AS (
          SELECT 'http://kg.org/nation/' || c_nationkey AS subject,
                 'http://kg.org/prop/nation' AS predicate,
                 'http://kg.org/cust/' || c_custkey AS object_lex,
                 'uri' AS object_kind, CAST(NULL AS VARCHAR) AS object_datatype
          FROM customer WHERE c_custkey % 9 = 0
        ),
        allt AS (SELECT * FROM triples UNION ALL SELECT * FROM swapped),
        preds(predicate, dom, rng) AS (VALUES
          ('http://kg.org/prop/nation', 'http://kg.org/onto/Customer', 'http://kg.org/onto/Nation'),
          ('http://kg.org/prop/region', 'http://kg.org/onto/Nation', 'http://kg.org/onto/Region'),
          ('http://kg.org/prop/acctbal', 'http://kg.org/onto/Customer', '{_XD}'),
          ('http://kg.org/prop/mktsegment', 'http://kg.org/onto/Customer', '{_XS}')
        ),
        has AS (SELECT DISTINCT subject AS e, object_lex AS cls FROM allt WHERE predicate = '{_RT}'),
        t AS (
          SELECT DISTINCT a.subject, a.predicate, a.object_lex, p.dom, p.rng
          FROM (SELECT DISTINCT subject, predicate, object_lex FROM allt WHERE object_kind = 'uri') a
          JOIN preds p USING (predicate)
        ),
        flags AS (
          SELECT t.*,
                 sd.e IS NOT NULL AS f_sd, orr.e IS NOT NULL AS f_or,
                 od.e IS NOT NULL AS f_od, sr.e IS NOT NULL AS f_sr
          FROM t
          LEFT JOIN has sd ON sd.e = t.subject AND sd.cls = t.dom
          LEFT JOIN has orr ON orr.e = t.object_lex AND orr.cls = t.rng
          LEFT JOIN has od ON od.e = t.object_lex AND od.cls = t.dom
          LEFT JOIN has sr ON sr.e = t.subject AND sr.cls = t.rng
        ),
        c AS (
          SELECT sum(CASE WHEN f_od AND f_sr THEN 1 ELSE 0 END) AS incorrect,
                 sum(CASE WHEN f_sd AND f_or THEN 1 ELSE 0 END) AS correct
          FROM flags
        )
        SELECT CAST(coalesce(incorrect, 0) AS BIGINT) AS incorrect,
               CAST(coalesce(correct, 0) AS BIGINT) AS correct,
               round(CASE WHEN coalesce(incorrect, 0) + coalesce(correct, 0) > 0
                          THEN 1.0 - incorrect / (incorrect + correct) ELSE 0.0 END, 6) AS score
        FROM c
    """

    sql["kg_datatype_format_violations"] = f"""
        WITH {SQL_TRIPLES},
        regdate AS (
          SELECT 'http://kg.org/cust/' || c_custkey AS subject,
                 'http://kg.org/prop/regdate' AS predicate,
                 CASE WHEN c_custkey % 7 <> 0
                      THEN '2020-01-' || lpad(CAST(c_custkey % 28 + 1 AS VARCHAR), 2, '0')
                      ELSE 'bad-' || c_custkey END AS object_lex,
                 'literal' AS object_kind,
                 'http://www.w3.org/2001/XMLSchema#date' AS object_datatype
          FROM customer
        ),
        allt AS (SELECT * FROM triples UNION ALL SELECT * FROM regdate),
        rng(predicate, expected_dt) AS (VALUES
          ('http://kg.org/prop/acctbal', '{_XD}'),
          ('http://kg.org/prop/mktsegment', '{_XS}'),
          ('http://kg.org/prop/regdate', 'http://www.w3.org/2001/XMLSchema#date')
        ),
        lit AS (SELECT t.*, r.expected_dt FROM allt t JOIN rng r USING (predicate) WHERE t.object_kind = 'literal'),
        checked AS (
          SELECT subject, predicate, object_lex, expected_dt,
                 CASE expected_dt
                   WHEN 'http://www.w3.org/2001/XMLSchema#integer' THEN regexp_full_match(object_lex, '[0-9]+')
                   WHEN 'http://www.w3.org/2001/XMLSchema#double' THEN regexp_full_match(object_lex, '-?[0-9]*\\.?[0-9]+')
                   WHEN 'http://www.w3.org/2001/XMLSchema#date' THEN regexp_full_match(object_lex, '[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}')
                   WHEN 'http://www.w3.org/2001/XMLSchema#gYear' THEN regexp_full_match(object_lex, '[0-9]{{4}}')
                   WHEN 'http://www.w3.org/2001/XMLSchema#gMonth' THEN regexp_full_match(object_lex, '[0-9]{{2}}')
                   WHEN 'http://www.w3.org/2001/XMLSchema#gDay' THEN regexp_full_match(object_lex, '[0-9]{{2}}')
                   WHEN 'http://www.w3.org/2001/XMLSchema#gYearMonth' THEN regexp_full_match(object_lex, '[0-9]{{4}}-[0-9]{{2}}')
                   WHEN 'http://www.w3.org/2001/XMLSchema#gMonthDay' THEN regexp_full_match(object_lex, '[0-9]{{2}}-[0-9]{{2}}')
                   ELSE TRUE END AS ok
          FROM lit
        )
        SELECT subject, predicate, object_lex, expected_dt FROM checked WHERE NOT ok
    """

    sql["kg_ontology_class_coverage"] = f"""
        WITH {SQL_TRIPLES},
        ghost AS (
          SELECT 'http://kg.org/cust/' || c_custkey AS subject, '{_RT}' AS predicate,
                 'http://kg.org/onto/Ghost' AS object_lex, 'uri' AS object_kind,
                 CAST(NULL AS VARCHAR) AS object_datatype
          FROM customer WHERE c_custkey % 13 = 0
        ),
        allt AS (SELECT * FROM triples UNION ALL SELECT * FROM ghost),
        found AS (SELECT DISTINCT object_lex AS cls FROM allt WHERE predicate = '{_RT}'
                  AND NOT starts_with(object_lex, 'http://www.w3.org/2002/07/owl#')),
        expected(cls) AS (VALUES ('http://kg.org/onto/Customer'), ('http://kg.org/onto/Nation'),
                                 ('http://kg.org/onto/Region'), ('http://kg.org/onto/Supplier')),
        counts AS (
          SELECT sum(CASE WHEN a.cls IS NOT NULL AND e.cls IS NOT NULL THEN 1 ELSE 0 END) AS tp,
                 sum(CASE WHEN a.cls IS NOT NULL AND e.cls IS NULL THEN 1 ELSE 0 END) AS fp,
                 sum(CASE WHEN a.cls IS NULL AND e.cls IS NOT NULL THEN 1 ELSE 0 END) AS fn
          FROM found a FULL OUTER JOIN expected e ON a.cls = e.cls
        )
        {_SQL_PRF}
    """

    sql["kg_ontology_relation_coverage"] = f"""
        WITH {SQL_TRIPLES},
        found AS (
          SELECT DISTINCT predicate AS rel FROM triples
          WHERE NOT starts_with(predicate, 'http://www.w3.org/2002/07/owl#')
            AND NOT starts_with(predicate, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#')
            AND NOT starts_with(predicate, 'http://www.w3.org/2000/01/rdf-schema#')
        ),
        expected(rel) AS (VALUES ('http://kg.org/prop/nation'), ('http://kg.org/prop/region'),
                                 ('http://kg.org/prop/acctbal'), ('http://kg.org/prop/mktsegment'),
                                 ('http://kg.org/prop/founded')),
        counts AS (
          SELECT sum(CASE WHEN a.rel IS NOT NULL AND e.rel IS NOT NULL THEN 1 ELSE 0 END) AS tp,
                 sum(CASE WHEN a.rel IS NOT NULL AND e.rel IS NULL THEN 1 ELSE 0 END) AS fp,
                 sum(CASE WHEN a.rel IS NULL AND e.rel IS NOT NULL THEN 1 ELSE 0 END) AS fn
          FROM found a FULL OUTER JOIN expected e ON a.rel = e.rel
        )
        {_SQL_PRF}
    """

    sql["kg_ontology_namespace_coverage"] = f"""
        WITH {SQL_TRIPLES},
        found AS (
          SELECT DISTINCT ns FROM (
            SELECT regexp_extract(subject, '^(.*[/#])[^/#]*$', 1) AS ns FROM triples
            UNION ALL
            SELECT regexp_extract(object_lex, '^(.*[/#])[^/#]*$', 1) FROM triples WHERE object_kind = 'uri'
          ) WHERE ns <> ''
        ),
        expected(ns) AS (VALUES ('http://kg.org/cust/'), ('http://kg.org/nation/'),
                                ('http://kg.org/region/'), ('http://kg.org/person/')),
        counts AS (
          SELECT sum(CASE WHEN a.ns IS NOT NULL AND e.ns IS NOT NULL THEN 1 ELSE 0 END) AS tp,
                 sum(CASE WHEN a.ns IS NOT NULL AND e.ns IS NULL THEN 1 ELSE 0 END) AS fp,
                 sum(CASE WHEN a.ns IS NULL AND e.ns IS NOT NULL THEN 1 ELSE 0 END) AS fn
          FROM found a FULL OUTER JOIN expected e ON a.ns = e.ns
        )
        {_SQL_PRF}
    """

    sql.update(_soft_sql())
    sql.update(_linking_sql())
    return sql


# ---------------------------------------------------------------------------
# linking / preference-fusion / schema-match oracle SQL
# ---------------------------------------------------------------------------


def _linking_sql() -> dict:
    sql: dict = {}
    norm = "trim(regexp_replace(lower(replace(replace({c}, '_', ' '), '-', ' ')), '\\s+', ' ', 'g'))"

    # fixture CTE shared by the linking oracles — mirrors _link_mentions
    mentions = """
        mentions AS (
          SELECT 'doc://nation/' || n_nationkey AS doc_uri, 'entity' AS kind,
                 n_name AS query_text FROM nation
          UNION ALL
          SELECT 'doc://cust/' || c_custkey, 'entity',
                 c_mktsegment || ' ' || c_custkey FROM customer WHERE c_custkey % 50 = 0
        )"""

    sql["kg_preference_fusion"] = """
        WITH src AS (
          SELECT 'http://kg.org/cust/' || o_custkey AS subject,
                 'http://kg.org/prop/priority' AS predicate,
                 o_orderpriority AS object_lex,
                 'literal' AS object_kind,
                 'http://www.w3.org/2001/XMLSchema#string' AS object_datatype,
                 CASE WHEN o_orderkey % 3 = 0 THEN 'target_kg' ELSE 'wiki' END AS source,
                 (o_orderkey % 100) / 100.0 AS score
          FROM orders
        )
        SELECT subject, predicate, object_lex, object_kind, object_datatype, source, score
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY subject, predicate
            ORDER BY CASE WHEN source = 'target_kg' THEN 0 ELSE 1 END,
                     score DESC,
                     sha256(coalesce(object_lex, chr(1)) || coalesce(object_kind, chr(1))
                            || coalesce(object_datatype, chr(1)))
          ) AS rn FROM src
        ) WHERE rn = 1
    """

    nq = norm.format(c="m.query_text")
    sql["kg_link_or_mint"] = f"""
        WITH {SQL_TRIPLES},
        dict AS (
          SELECT {norm.format(c="object_lex")} AS norm_label, min(subject) AS mapping
          FROM triples
          WHERE predicate IN ('{_RL}', '{_SA}')
          GROUP BY 1
        ),
        {mentions}
        SELECT m.doc_uri, m.query_text, d.mapping,
               CASE WHEN d.mapping IS NOT NULL THEN 1.0 ELSE -1.0 END AS score,
               CASE WHEN d.mapping IS NOT NULL THEN d.mapping
                    ELSE 'http://kg.org/newE/' || sha256({nq}) END AS resolved_uri
        FROM mentions m LEFT JOIN dict d ON {nq} = d.norm_label
    """

    # exact-name hits score 1.0 (identical strings → identical L2-normalized
    # embeddings); everything else is far below the 0.70 accept threshold,
    # so the expected link set is exactly the equijoin on the raw name
    # two-pass dynamic-index replacement: pass-1 link-or-mint vs the
    # nation-label dictionary, pass-2 banded md5 Carter-Wegman MinHash over
    # char-3-grams of the minted norms (linking.minhash_token_signatures),
    # exact-Jaccard verify ≥ 0.5, recursive-CTE connected components, rewrite
    # to the min-URI component representative
    nqp = norm.format(c="m.query_text")
    sql["kg_link_two_pass"] = f"""
        WITH RECURSIVE {SQL_TRIPLES},
        dict AS (
          SELECT {norm.format(c="object_lex")} AS norm_label, min(subject) AS mapping
          FROM triples
          WHERE predicate = '{_RL}' AND subject LIKE 'http://kg.org/nation/%'
          GROUP BY 1
        ),
        {mentions},
        mdist AS (SELECT DISTINCT query_text FROM mentions),
        pass1 AS MATERIALIZED (
          SELECT m.query_text, d.mapping,
                 CASE WHEN d.mapping IS NOT NULL THEN d.mapping
                      ELSE 'http://kg.org/newE/' || sha256({nqp}) END AS resolved_uri,
                 {nqp} AS norm_q
          FROM mdist m LEFT JOIN dict d ON {nqp} = d.norm_label
        ),
        minted AS (
          SELECT DISTINCT resolved_uri AS uri, norm_q AS norm FROM pass1 WHERE mapping IS NULL
        ),
        gsets AS MATERIALIZED (
          SELECT uri,
                 list_distinct(list_transform(generate_series(1, length(norm) - 2),
                                              i -> substr(norm, i, 3))) AS grams
          FROM minted WHERE length(norm) >= 3
        ),
        ab AS (
          SELECT uri,
                 CAST(CAST('0x' || substr(m, 1, 8) AS UBIGINT) AS BIGINT) AS a,
                 CAST(CAST('0x' || substr(m, 9, 8) AS UBIGINT) AS BIGINT) AS b
          FROM (SELECT uri, md5(unnest(grams)) AS m FROM gsets)
        ),
        mh AS (
          SELECT uri, i, min((a + i * b) % 4294967296) AS h
          FROM ab CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
          GROUP BY uri, i
        ),
        sigs AS (SELECT uri, list(CAST(h AS VARCHAR) ORDER BY i) AS sig FROM mh GROUP BY uri),
        bands AS (
          SELECT uri, b, md5(array_to_string(sig[b*2+1 : b*2+2], '|')) AS bucket
          FROM sigs CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) gb
        ),
        cand AS (
          SELECT DISTINCT x.uri AS uri_a, y.uri AS uri_b
          FROM bands x JOIN bands y USING (b, bucket)
          WHERE x.uri < y.uri
        ),
        edges AS (
          SELECT c.uri_a AS src, c.uri_b AS dst
          FROM cand c
          JOIN gsets ga ON ga.uri = c.uri_a
          JOIN gsets gb2 ON gb2.uri = c.uri_b
          WHERE CAST(len(list_intersect(ga.grams, gb2.grams)) AS DOUBLE)
                / (len(ga.grams) + len(gb2.grams) - len(list_intersect(ga.grams, gb2.grams)))
                >= 0.5
        ),
        sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        reach(a2, b2) AS (
          SELECT src, dst FROM sym
          UNION
          SELECT r.a2, e.dst FROM reach r JOIN sym e ON e.src = r.b2
        ),
        components AS (SELECT a2 AS node, least(a2, min(b2)) AS component FROM reach GROUP BY a2),
        canon AS (SELECT node, component FROM components WHERE node <> component)
        SELECT p.query_text, coalesce(c.component, p.resolved_uri) AS resolved_uri
        FROM pass1 p LEFT JOIN canon c ON c.node = p.resolved_uri
    """

    sql["kg_link_embed_top1"] = f"""
        WITH {mentions}
        SELECT DISTINCT m.query_text, n.mapping,
               CASE WHEN n.mapping IS NOT NULL THEN 1.0 ELSE -1.0 END AS score_r
        FROM mentions m
        LEFT JOIN (
          SELECT 'http://kg.org/nation/' || n_nationkey AS mapping, n_name FROM nation
        ) n ON m.query_text = n.n_name
    """

    sql["kg_map_matched_relations"] = f"""
        WITH {SQL_TRIPLES}
        SELECT subject,
               CASE WHEN predicate = 'http://kg.org/prop/mktsegment'
                    THEN 'http://kg.org/prop/segment' ELSE predicate END AS predicate,
               object_lex, object_kind, object_datatype
        FROM triples
    """

    # Valentine oracle: value-overlap jaccard computed in SQL per column
    # pair; name-token jaccard constants are hand-derived from the column
    # names (tokens: n_nationkey→{{n,nationkey}}, nation_key→{{nation,key}}, …)
    def _vs(c1: str, c2: str) -> str:
        a = f"(SELECT DISTINCT lower(CAST({c1} AS VARCHAR)) AS v FROM nation)"
        b = f"(SELECT DISTINCT lower(CAST({c2} AS VARCHAR)) AS v FROM nation)"
        return (
            f"(CAST((SELECT count(*) FROM ({a} INTERSECT {b})) AS DOUBLE)"
            f" / (SELECT count(*) FROM ({a} UNION {b})))"
        )

    pairs = [
        # (id_1, id_2, source col of id_2, name-token jaccard)
        ("n_nationkey", "nation_key", "n_nationkey", "0.0"),
        ("n_nationkey", "nation_name", "n_name", "0.0"),
        ("n_nationkey", "region_key", "n_regionkey", "0.0"),
        ("n_name", "nation_key", "n_nationkey", "0.0"),
        ("n_name", "nation_name", "n_name", "1.0/3.0"),
        ("n_name", "region_key", "n_regionkey", "0.0"),
        ("n_regionkey", "nation_key", "n_nationkey", "0.0"),
        ("n_regionkey", "nation_name", "n_name", "0.0"),
        ("n_regionkey", "region_key", "n_regionkey", "0.0"),
    ]
    pair_rows = "\n          UNION ALL ".join(
        f"SELECT '{c1}' AS id_1, '{c2}' AS id_2, "
        f"0.5 * ({name_sim}) + 0.5 * {_vs(c1, src)} AS score, 'relation' AS id_type"
        for (c1, c2, src, name_sim) in pairs
    )
    sql["kg_valentine_schema_match"] = f"""
        SELECT * FROM (
          {pair_rows}
        ) WHERE score >= 0.5
    """

    # greedy set cover replayed in closed form: path-sets are
    # odd = {$.name, $.seg_<s>} and even = odd ∪ {$.extra, $.extra.a};
    # greedy picks one even group (max gain 4; tie → min representative
    # path string), then the remaining segments' odd groups (gain 1,
    # smaller total set beats the same segment's even group)
    sql["kg_json_sampler"] = """
        WITH docs AS (
          SELECT c_mktsegment AS seg, 'cust/' || c_custkey || '.json' AS path,
                 c_custkey % 2 = 0 AS even
          FROM customer
        ),
        groups AS (SELECT seg, even, min(path) AS rep_path FROM docs GROUP BY seg, even),
        pick1 AS (SELECT seg, rep_path FROM groups WHERE even ORDER BY rep_path LIMIT 1),
        odds AS (
          SELECT g.seg, g.rep_path FROM groups g
          WHERE NOT g.even AND g.seg NOT IN (SELECT seg FROM pick1)
        )
        SELECT 'org/tpch' AS repo, rep_path AS path, 4 AS n_paths FROM pick1
        UNION ALL
        SELECT 'org/tpch', rep_path, 2 FROM odds
    """

    # ontology extraction replayed in closed form over the same declaration
    # fixture (domain for every property, range split xsd/object by parity,
    # label only for even keys → URI-suffix fallback for odd)
    sql["kg_extract_ontology"] = """
        SELECT 'http://kg.org/prop/p_' || r_regionkey AS uri,
               CASE WHEN r_regionkey % 2 = 0 THEN lower(r_name)
                    ELSE 'p_' || r_regionkey END AS label,
               CASE WHEN r_regionkey % 3 = 0 THEN r_name || '|' || r_name || ' zone'
                    ELSE '' END AS aliases_str,
               'http://kg.org/onto/Customer' AS domain,
               CASE WHEN r_regionkey % 2 = 0 THEN 'http://www.w3.org/2001/XMLSchema#string'
                    ELSE 'http://kg.org/onto/Nation' END AS "range",
               CASE WHEN r_regionkey % 2 = 0 THEN 'false' ELSE 'true' END AS is_object_prop,
               CAST(CASE WHEN r_regionkey % 2 = 1 THEN 1 ELSE -1 END AS INT) AS max_cardinality
        FROM region
    """

    sql["kg_streaming_ingest"] = f"""
        WITH {_SQL_FLAGSHIP_EXTRACT}
        SELECT subject, predicate, object_lex, object_kind, object_datatype FROM extracted
    """

    return sql


# ---------------------------------------------------------------------------
# soft-eval oracle SQL: bit-exact DuckDB replica of kgpipe_spark.eval.soft
# (char-3-gram → md5 first-4-bytes-LE → signed 64-bin integer vectors;
# cosine = exact integer dot / sqrt products — see soft.py module docstring)
# ---------------------------------------------------------------------------

_CLEAN = (
    "trim(regexp_replace(regexp_replace({c}, '_', ' ', 'g'), '\\([^)]*\\)', '', 'g'))"
)


def _sql_embed(p: str, src: str) -> str:
    """CTE chain embedding {src}(id, text) → {p}_gd, {p}_bins, {p}_norm."""
    return f"""
{p}_pad AS (SELECT id, ' ' || lower(text) || ' ' AS s FROM {src} WHERE length(text) >= 1),
{p}_grams AS MATERIALIZED (
  SELECT id, substr(s, CAST(j AS INTEGER), 3) AS g
  FROM (SELECT id, s, unnest(generate_series(1, length(s) - 2)) AS j FROM {p}_pad)
),
{p}_gd AS MATERIALIZED (SELECT DISTINCT id, g FROM {p}_grams),
{p}_bins AS MATERIALIZED (
  SELECT id, h % 64 AS bin, sum(1 - 2 * ((h >> 31) & 1)) AS v FROM (
    SELECT id, CAST(CAST('0x' || substr(m, 7, 2) || substr(m, 5, 2) || substr(m, 3, 2) || substr(m, 1, 2) AS UBIGINT) AS BIGINT) AS h
    FROM (SELECT id, md5(g) AS m FROM {p}_grams)
  ) GROUP BY id, bin
),
{p}_norm AS MATERIALIZED (SELECT id, sum(v * v) AS ssq FROM {p}_bins GROUP BY id)"""


def _sql_cosine_binpairs(a: str, e: str, out: str) -> str:
    """CTE chain: {out}(lid, rid, cos) — the exact pair set and scores of
    ``te_construct._top1`` (``soft.cosine_all_pairs``): every (left, right)
    pair sharing at least one HASH BIN, scored by the same integer bin
    dot / sqrt. The Spark side joins the
    64-bin vectors directly (no gram-candidate restriction), so a pair that
    shares a bin through hash collision alone carries a nonzero score there;
    a gram-blocked oracle candidate set would EXCLUDE such pairs and can
    disagree on the argmax for mentions whose genuine candidates are weak.
    Replaying the identical bin join keeps the pair sets — and therefore
    every top-1 — bit-identical. The target sides replayed here are
    structurally dictionary-sized at every scale factor (ontology
    properties, nation/region geography labels), as ``_top1``'s broadcast
    of the target vectors requires."""
    return f"""
{out} AS MATERIALIZED (
  SELECT lb.id AS lid, rb.id AS rid,
         sum(lb.v * rb.v) / (sqrt(min(ln.ssq)) * sqrt(min(rn.ssq))) AS cos
  FROM {a}_bins lb
  JOIN {e}_bins rb ON rb.bin = lb.bin
  JOIN {a}_norm ln ON ln.id = lb.id
  JOIN {e}_norm rn ON rn.id = rb.id
  GROUP BY lb.id, rb.id
)"""


def _sql_cosine(a: str, e: str, out: str, max_block: int = 1000) -> str:
    """CTE chain: {out}(lid, rid, cos) — blocked candidate pairs between the
    {a}_* and {e}_* embed chains, exact cosine."""
    return f"""
{out}_freq AS MATERIALIZED (
  SELECT g, coalesce(la.c, 0) + coalesce(ra.c, 0) AS freq,
         coalesce(la.c, 0) AS nl, coalesce(ra.c, 0) AS nr
  FROM (SELECT g, count(*) AS c FROM {a}_gd GROUP BY g) la
  FULL OUTER JOIN (SELECT g, count(*) AS c FROM {e}_gd GROUP BY g) ra USING (g)
),
{out}_keep AS MATERIALIZED (
  SELECT g, freq FROM {out}_freq WHERE nl <= {max_block} AND nr <= {max_block}
),
{out}_pl AS MATERIALIZED (
  SELECT id, g FROM (
    SELECT t.id, t.g,
           row_number() OVER (PARTITION BY t.id ORDER BY k.freq ASC, t.g ASC) AS rn,
           count(*) OVER (PARTITION BY t.id) AS n
    FROM {a}_gd t JOIN {out}_keep k USING (g)
  ) WHERE rn <= floor(n / 10) + 2
),
{out}_pr AS MATERIALIZED (
  SELECT id, g FROM (
    SELECT t.id, t.g,
           row_number() OVER (PARTITION BY t.id ORDER BY k.freq ASC, t.g ASC) AS rn,
           count(*) OVER (PARTITION BY t.id) AS n
    FROM {e}_gd t JOIN {out}_keep k USING (g)
  ) WHERE rn <= floor(n / 10) + 2
),
{out}_cand AS MATERIALIZED (
  SELECT DISTINCT l.id AS lid, r.id AS rid
  FROM {out}_pl l JOIN {out}_pr r USING (g)
),
{out} AS MATERIALIZED (
  SELECT c.lid, c.rid,
         sum(lb.v * rb.v) / (sqrt(min(ln.ssq)) * sqrt(min(rn.ssq))) AS cos
  FROM {out}_cand c
  JOIN {a}_bins lb ON lb.id = c.lid
  JOIN {e}_bins rb ON rb.id = c.rid AND rb.bin = lb.bin
  JOIN {a}_norm ln ON ln.id = c.lid
  JOIN {e}_norm rn ON rn.id = c.rid
  GROUP BY c.lid, c.rid
)"""


SQL_SOFT_ACTUAL = f"""
soft_actual AS (
  SELECT 'http://kg.org/cust/' || c_custkey AS subject, '{_RT}' AS predicate,
         'http://kg.org/onto/Customer' AS object_lex, 'uri' AS object_kind,
         CAST(NULL AS VARCHAR) AS object_datatype FROM customer WHERE c_custkey % 4 = 0
  UNION ALL
  SELECT 'http://kg.org/cust/' || c_custkey, '{_RL}', c_name, 'literal', '{_XS}' FROM customer WHERE c_custkey % 4 = 0
  UNION ALL
  SELECT 'http://kg.org/cust/' || c_custkey, 'http://kg.org/prop/mktsegment', c_mktsegment, 'literal', '{_XS}' FROM customer WHERE c_custkey % 4 = 0
  UNION ALL
  SELECT 'http://kg.org/cust/' || c_custkey, 'http://kg.org/prop/nation', 'http://kg.org/nation/' || c_nationkey, 'uri', NULL FROM customer WHERE c_custkey % 4 = 0
  UNION ALL
  SELECT 'http://kg.org/dup/' || c_custkey, '{_RT}', 'http://kg.org/onto/Customer', 'uri', NULL FROM customer WHERE c_custkey % 4 = 1
  UNION ALL
  SELECT 'http://kg.org/dup/' || c_custkey, '{_RL}', c_name || ' (alt)', 'literal', '{_XS}' FROM customer WHERE c_custkey % 4 = 1
  UNION ALL
  SELECT 'http://kg.org/dup/' || c_custkey, 'http://kg.org/prop/mktsegment', c_mktsegment, 'literal', '{_XS}' FROM customer WHERE c_custkey % 4 = 1
  UNION ALL
  SELECT 'http://kg.org/dup/' || c_custkey, 'http://kg.org/prop/nation', 'http://kg.org/nation/' || c_nationkey, 'uri', NULL FROM customer WHERE c_custkey % 4 = 1
  UNION ALL
  SELECT 'http://kg.org/dup/' || c_custkey, '{_RT}', 'http://kg.org/onto/Customer', 'uri', NULL FROM customer WHERE c_custkey % 4 = 2
  UNION ALL
  SELECT 'http://kg.org/dup/' || c_custkey, '{_RL}', reverse(c_name), 'literal', '{_XS}' FROM customer WHERE c_custkey % 4 = 2
  UNION ALL
  SELECT 'http://kg.org/dup/' || c_custkey, 'http://kg.org/prop/mktsegment', c_mktsegment, 'literal', '{_XS}' FROM customer WHERE c_custkey % 4 = 2
  UNION ALL
  SELECT 'http://kg.org/dup/' || c_custkey, 'http://kg.org/prop/nation', 'http://kg.org/nation/' || c_nationkey, 'uri', NULL FROM customer WHERE c_custkey % 4 = 2
  UNION ALL
  SELECT 'http://kg.org/nation/' || n_nationkey, '{_RT}', 'http://kg.org/onto/Nation', 'uri', NULL FROM nation
  UNION ALL
  SELECT 'http://kg.org/nation/' || n_nationkey, '{_RL}', n_name, 'literal', '{_XS}' FROM nation
  UNION ALL
  SELECT 'http://kg.org/nation/' || n_nationkey, 'http://kg.org/prop/region', 'http://kg.org/region/' || n_regionkey, 'uri', NULL FROM nation
  UNION ALL
  SELECT 'http://kg.org/region/' || r_regionkey, '{_RT}', 'http://kg.org/onto/Region', 'uri', NULL FROM region
  UNION ALL
  SELECT 'http://kg.org/region/' || r_regionkey, '{_RL}', r_name, 'literal', '{_XS}' FROM region
)"""

SQL_ENTITY_DICT = """
entity_dict AS (
  SELECT 'http://kg.org/cust/' || c_custkey AS entity_uri,
         CASE WHEN c_custkey % 3 <> 0 THEN c_name ELSE NULL END AS entity_label
  FROM customer WHERE c_custkey % 2 = 0
)"""

# labels → soft mapping (actual→expected), shared by the SoftE/SoftEV oracles
_SQL_SOFT_MAP = (
    f"""
a_lab AS MATERIALIZED (SELECT subject AS id, min({_CLEAN.format(c='object_lex')}) AS text
          FROM soft_actual WHERE predicate = '{_RL}' GROUP BY subject),
e_lab AS MATERIALIZED (SELECT subject AS id, min({_CLEAN.format(c='object_lex')}) AS text
          FROM triples WHERE predicate = '{_RL}' GROUP BY subject),"""
    + _sql_embed("al", "a_lab")
    + ","
    + _sql_embed("el", "e_lab")
    + ","
    + _sql_cosine("al", "el", "lab_cos")
    + """,
soft_map AS MATERIALIZED (
  SELECT lid AS actual_uri, rid AS expected_uri, cos AS score FROM (
    SELECT lid, rid, cos,
           row_number() OVER (PARTITION BY lid ORDER BY cos DESC, rid ASC) AS rn
    FROM lab_cos
  ) WHERE rn = 1 AND cos > 0.95
)"""
)

_SQL_PRF = """
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
       round(tp / greatest(tp + fp, 1), 6) AS precision,
       round(tp / greatest(tp + fn, 1), 6) AS recall,
       round(2 * tp / greatest(2 * tp + fp + fn, 1), 6) AS f1
FROM counts"""


def _soft_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["kg_soft_label_matches"] = (
        f"WITH {SQL_TRIPLES}, {SQL_SOFT_ACTUAL}, {_SQL_SOFT_MAP} SELECT * FROM soft_map"
    )

    sql["kg_soft_fact_alignment_entities"] = f"""
        WITH {SQL_TRIPLES}, {SQL_SOFT_ACTUAL}, {_SQL_SOFT_MAP},
        rewritten AS MATERIALIZED (
          SELECT coalesce(ms.expected_uri, t.subject) AS subject, t.predicate,
                 CASE WHEN t.object_kind = 'uri' THEN coalesce(mo.expected_uri, t.object_lex)
                      ELSE t.object_lex END AS object_lex,
                 t.object_kind
          FROM soft_actual t
          LEFT JOIN soft_map ms ON t.subject = ms.actual_uri
          LEFT JOIN soft_map mo ON t.object_kind = 'uri' AND t.object_lex = mo.actual_uri
        ),
        a_d AS (SELECT DISTINCT subject, predicate, object_lex, object_kind, 1 AS am FROM rewritten),
        e_d AS (SELECT DISTINCT subject, predicate, object_lex, object_kind, 1 AS em FROM triples),
        j AS (
          SELECT am, em FROM a_d FULL OUTER JOIN e_d USING (subject, predicate, object_lex, object_kind)
        ),
        counts AS (
          SELECT sum(CASE WHEN am = 1 AND em = 1 THEN 1 ELSE 0 END) AS tp,
                 sum(CASE WHEN am = 1 AND em IS NULL THEN 1 ELSE 0 END) AS fp,
                 sum(CASE WHEN am IS NULL AND em = 1 THEN 1 ELSE 0 END) AS fn
          FROM j
        )
        {_SQL_PRF}
    """

    sql["kg_soft_fact_alignment_values"] = f"""
        WITH {SQL_TRIPLES}, {SQL_SOFT_ACTUAL}, {_SQL_SOFT_MAP},
        a_obj_lab AS (SELECT DISTINCT subject AS luri, {_CLEAN.format(c='object_lex')} AS lab
                      FROM soft_actual WHERE predicate = '{_RL}'),
        e_obj_lab AS (SELECT DISTINCT subject AS luri, {_CLEAN.format(c='object_lex')} AS lab
                      FROM triples WHERE predicate = '{_RL}'),
        a_exp AS MATERIALIZED (
          SELECT DISTINCT coalesce(ms.expected_uri, t.subject) AS subject, t.predicate,
                 CASE WHEN t.object_kind = 'uri' THEN coalesce(la.lab, t.object_lex)
                      ELSE t.object_lex END AS value
          FROM soft_actual t
          LEFT JOIN soft_map ms ON t.subject = ms.actual_uri
          LEFT JOIN a_obj_lab la ON t.object_kind = 'uri' AND t.object_lex = la.luri
        ),
        e_exp AS MATERIALIZED (
          SELECT DISTINCT t.subject, t.predicate,
                 CASE WHEN t.object_kind = 'uri' THEN coalesce(le.lab, t.object_lex)
                      ELSE t.object_lex END AS value
          FROM triples t
          LEFT JOIN e_obj_lab le ON t.object_kind = 'uri' AND t.object_lex = le.luri
        ),
        vals AS MATERIALIZED (
          SELECT DISTINCT value AS id, value AS text FROM (
            SELECT value FROM a_exp UNION SELECT value FROM e_exp
          )
        ),
        {_sql_embed("vv", "vals")},
        pairs AS MATERIALIZED (
          SELECT a.subject, a.predicate, a.value, e.value AS evalue
          FROM a_exp a JOIN e_exp e USING (subject, predicate)
        ),
        dots AS MATERIALIZED (
          SELECT p.subject, p.predicate, p.value, p.evalue, sum(b1.v * b2.v) AS dot
          FROM pairs p
          JOIN vv_bins b1 ON b1.id = p.value
          JOIN vv_bins b2 ON b2.id = p.evalue AND b2.bin = b1.bin
          GROUP BY p.subject, p.predicate, p.value, p.evalue
        ),
        scored AS MATERIALIZED (
          SELECT p.subject, p.predicate, p.value,
                 CASE WHEN d.dot IS NOT NULL AND na.ssq > 0 AND ne.ssq > 0
                      THEN d.dot / (sqrt(na.ssq) * sqrt(ne.ssq)) ELSE 0.0 END AS cos
          FROM pairs p
          LEFT JOIN dots d USING (subject, predicate, value, evalue)
          LEFT JOIN vv_norm na ON na.id = p.value
          LEFT JOIN vv_norm ne ON ne.id = p.evalue
        ),
        per_actual AS MATERIALIZED (
          SELECT subject, predicate, value, max(cos) AS best
          FROM scored GROUP BY subject, predicate, value
        ),
        tpfp AS (
          SELECT sum(CASE WHEN best > 0.95 THEN 1 ELSE 0 END) AS tp,
                 sum(CASE WHEN best > 0.95 THEN 0 ELSE 1 END) AS fp
          FROM per_actual
        ),
        fncnt AS (
          SELECT count(*) AS fn FROM e_exp e
          WHERE NOT EXISTS (
            SELECT 1 FROM a_exp a WHERE a.subject = e.subject AND a.predicate = e.predicate
          )
        ),
        counts AS (
          SELECT coalesce(tp, 0) AS tp, coalesce(fp, 0) AS fp, fn FROM tpfp CROSS JOIN fncnt
        )
        {_SQL_PRF}
    """

    sql["kg_source_coverage_exact"] = f"""
        WITH {SQL_TRIPLES}, {SQL_ENTITY_DICT},
        labeled AS (SELECT subject, object_lex AS label FROM triples WHERE predicate = '{_RL}'),
        overlap AS (
          SELECT subject FROM labeled WHERE subject IN (SELECT entity_uri FROM entity_dict)
          UNION
          SELECT subject FROM labeled
          WHERE label IN (SELECT entity_label FROM entity_dict WHERE entity_label IS NOT NULL)
        ),
        c AS (
          SELECT (SELECT count(DISTINCT entity_uri) FROM entity_dict) AS expected_n,
                 (SELECT count(DISTINCT subject) FROM labeled) AS found_n,
                 (SELECT count(*) FROM overlap) AS overlap_n
        )
        SELECT CAST(expected_n AS BIGINT) AS expected_entities,
               CAST(found_n AS BIGINT) AS found_entities,
               CAST(overlap_n AS BIGINT) AS overlapping_entities,
               floor(least(overlap_n / expected_n, 1.0) * 1000000) / 1000000.0 AS coverage
        FROM c
    """

    sql["kg_source_coverage_fuzzy"] = f"""
        WITH {SQL_TRIPLES}, {SQL_ENTITY_DICT},
        found AS (SELECT object_lex AS label FROM triples WHERE predicate = '{_RL}'),
        fl AS (SELECT DISTINCT label AS id, label AS text FROM found),
        dl AS (SELECT DISTINCT entity_label AS id, entity_label AS text
               FROM entity_dict WHERE entity_label IS NOT NULL),
        {_sql_embed("fz", "fl")},
        {_sql_embed("dz", "dl")},
        {_sql_cosine("fz", "dz", "fuzzy_cos")},
        matched AS (SELECT DISTINCT lid FROM fuzzy_cos WHERE cos >= 0.95)
        SELECT CAST((SELECT count(DISTINCT entity_uri) FROM entity_dict) AS BIGINT) AS expected_entities,
               CAST((SELECT count(*) FROM found) AS BIGINT) AS found_labels,
               CAST((SELECT count(*) FROM matched) AS BIGINT) AS overlapping_labels
    """

    sql["kg_source_precision_fuzzy"] = f"""
        WITH {SQL_TRIPLES}, {SQL_ENTITY_DICT},
        found AS (SELECT object_lex AS label FROM triples WHERE predicate = '{_RL}'),
        occ AS (SELECT label, count(*) AS n_occ FROM found GROUP BY label),
        fl AS (SELECT label AS id, label AS text FROM occ),
        dl AS (SELECT DISTINCT entity_label AS id, entity_label AS text
               FROM entity_dict WHERE entity_label IS NOT NULL),
        {_sql_embed("fz", "fl")},
        {_sql_embed("dz", "dl")},
        {_sql_cosine("fz", "dz", "fuzzy_cos")},
        best AS (
          SELECT lid AS label, rid AS ref, cos FROM (
            SELECT lid, rid, cos,
                   row_number() OVER (PARTITION BY lid ORDER BY cos DESC, rid ASC) AS rn
            FROM fuzzy_cos WHERE cos >= 0.95
          ) WHERE rn = 1
        ),
        claimed AS (
          SELECT b.label, b.ref, b.cos, o.n_occ,
                 row_number() OVER (PARTITION BY b.ref ORDER BY b.cos DESC, b.label ASC) AS claim_rn
          FROM best b JOIN occ o USING (label)
        ),
        agg AS (
          SELECT count(DISTINCT label) AS overlapping,
                 sum(CASE WHEN claim_rn = 1 THEN 1 ELSE 0 END) AS strict,
                 sum(n_occ) AS matched_occ
          FROM claimed
        )
        SELECT CAST((SELECT count(DISTINCT entity_uri) FROM entity_dict) AS BIGINT) AS expected_entities,
               CAST((SELECT count(*) FROM found) AS BIGINT) AS found_labels,
               CAST(coalesce(overlapping, 0) AS BIGINT) AS overlapping_labels,
               CAST(coalesce(strict, 0) AS BIGINT) AS strict_overlapping,
               CAST(coalesce(matched_occ, 0) - coalesce(strict, 0) AS BIGINT) AS possible_duplicates
        FROM agg
    """

    return sql


def _round_sql(src: str, out: str) -> str:
    """One round of locally-dominant-edge 1:1 matching over ``src``."""
    return f"""
        {out}_incid AS (
          SELECT id_1 AS node, pk, score FROM {src}
          UNION ALL
          SELECT id_2 AS node, pk, score FROM {src}
        ),
        {out}_best AS (
          SELECT pk FROM (
            SELECT pk, row_number() OVER (PARTITION BY node ORDER BY score DESC, pk ASC) AS rn
            FROM {out}_incid
          ) WHERE rn = 1
          GROUP BY pk HAVING count(*) = 2
        ),
        {out} AS (
          SELECT e.id_1, e.id_2, e.score, e.id_type FROM {src} e SEMI JOIN {out}_best b USING (pk)
        )"""
