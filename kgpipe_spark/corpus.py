"""Deterministic synthetic source-code corpus (FIXTURES.md §1).

Pure function of (seed, n_rows), built entirely with JVM-side column
expressions over ``spark.range`` — no Python in the generation hot path, so
the same generator scales to billions of rows on a real cluster.

Shape follows BASELINE.json input_hint:
    (repo STRING, path STRING, commit STRING, lang STRING, content STRING)

Skew: ~30% of rows live in 3 "mega-repos" (FIXTURES.md: a few mega-repos own
~30% of rows) — this is the skew the north rule requires us to handle with
salted repartitioning + AQE.

JSON-lang rows carry nested movie-style documents mirroring the reference
fixture `dbp-movie_depth=1.json`
(`/root/reference/src/kgpipe_tasks/test/test_data/json/dbp_json/`):
a nested ``director`` dict, a ``starring`` string list, scalar literals.
Python-lang rows carry import/def/class code for the code extractors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_MEGA_REPOS = 3
N_SMALL_REPOS = 997
# shared-entity pools: directors/actors repeat across documents so that
# linking/matching/clustering have real work to do
N_DIRECTORS = 50
N_ACTORS = 200


def synth_corpus(spark: SparkSession, n_rows: int, seed: int = 42) -> DataFrame:
    """Deterministic corpus; every column a pure expression of the row id."""
    df = spark.range(n_rows).withColumn("rid", F.col("id") + F.lit(seed * 1_000_003))

    # --- repo: 30% of rows in 3 mega repos, rest uniform over 997 repos
    mega = F.pmod(F.col("rid"), F.lit(10)) < 3
    repo = F.when(
        mega, F.concat(F.lit("org/mega-"), F.pmod(F.col("rid"), F.lit(N_MEGA_REPOS)))
    ).otherwise(F.concat(F.lit("org/project-"), F.pmod(F.col("rid") * 7919, F.lit(N_SMALL_REPOS))))

    # --- lang mix: 50% json, 30% python, 20% text
    lang_bucket = F.pmod(F.col("rid"), F.lit(10))
    lang = (
        F.when(lang_bucket < 5, F.lit("json"))
        .when(lang_bucket < 8, F.lit("python"))
        .otherwise(F.lit("text"))
    )

    # --- shared entity ids
    director_id = F.pmod(F.col("rid") * 31, F.lit(N_DIRECTORS))
    actor_a = F.pmod(F.col("rid") * 17, F.lit(N_ACTORS))
    actor_b = F.pmod(F.col("rid") * 17 + 1, F.lit(N_ACTORS))
    film_id = F.col("id")

    director_name = F.concat(F.lit("Director "), director_id)
    # realistic blob sizes (KB-scale, like real repo files): a cast array of
    # 16 nested dicts, a reviews array, a crew dict — extraction work per
    # blob dominates over per-row framework overhead, as it does at 100 TB
    cast = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda i: F.struct(
            F.concat(F.lit("Actor "), F.pmod(F.col("rid") * 17 + i, F.lit(N_ACTORS))).alias("name"),
            F.concat(F.lit("Role "), F.pmod(F.col("rid") + i * 7, F.lit(500))).alias("role"),
            (F.lit(18) + F.pmod(F.col("rid") * 3 + i, F.lit(60))).alias("age"),
        ),
    )
    reviews = F.transform(
        F.sequence(F.lit(0), F.lit(7)),
        lambda i: F.struct(
            F.concat(F.lit("critic-"), F.pmod(F.col("rid") + i * 13, F.lit(300))).alias("reviewerName"),
            (F.pmod(F.col("rid") * 7 + i, F.lit(10)) + 1).alias("rating"),
            F.concat(
                F.lit("A thorough review number "),
                i,
                F.lit(" praising the direction of "),
                director_name,
                F.lit(" and the ensemble cast in equal measure."),
            ).alias("body"),
        ),
    )
    json_doc = F.to_json(
        F.struct(
            F.concat(F.lit("Film "), film_id).alias("film_title"),
            F.struct(
                director_name.alias("name"),
                (F.lit(1940) + F.pmod(director_id * 13, F.lit(60))).alias("birthYear"),
            ).alias("director"),
            F.array(
                F.concat(F.lit("Actor "), actor_a), F.concat(F.lit("Actor "), actor_b)
            ).alias("starring"),
            cast.alias("cast"),
            reviews.alias("reviews"),
            (F.lit(80) + F.pmod(F.col("rid"), F.lit(100))).alias("runtime"),
            F.concat(
                F.lit("19"), F.lpad(F.pmod(F.col("rid"), F.lit(99)), 2, "0"), F.lit("-01-15")
            ).alias("releaseDate"),
        )
    )

    py_funcs = F.concat_ws(
        "\n",
        F.transform(
            F.sequence(F.lit(0), F.lit(24)),
            lambda i: F.concat(
                F.lit("    def handler_"),
                i,
                F.lit("(self, ctx):\n        value = ctx.lookup("),
                F.pmod(F.col("rid") + i, F.lit(9973)),
                F.lit(")\n        return value * "),
                (i + 1),
            ),
        ),
    )
    py_doc = F.concat(
        F.lit("import json\nimport films.registry_"),
        F.pmod(F.col("rid"), F.lit(20)),
        F.lit("\nimport films.codec_"),
        F.pmod(F.col("rid") * 3, F.lit(12)),
        F.lit("\n\nclass Film"),
        film_id,
        F.lit(":\n    def get_director(self):\n        return '"),
        director_name,
        F.lit("'\n\n    def get_runtime(self):\n        return "),
        (F.lit(80) + F.pmod(F.col("rid"), F.lit(100))),
        F.lit("\n\n"),
        py_funcs,
        F.lit("\n"),
    )

    filler = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(11)),
            lambda i: F.concat(
                F.lit("Scene "),
                i,
                F.lit(" features an extended sequence praised by critic-"),
                F.pmod(F.col("rid") + i * 13, F.lit(300)),
                F.lit(" for its pacing and photography."),
            ),
        ),
    )
    text_doc = F.concat(
        F.lit("Film "),
        film_id,
        F.lit(" was directed by "),
        director_name,
        F.lit(". It stars Actor "),
        actor_a,
        F.lit(" and Actor "),
        actor_b,
        F.lit(". "),
        filler,
    )

    content = (
        F.when(lang == "json", json_doc).when(lang == "python", py_doc).otherwise(text_doc)
    )
    ext = F.when(lang == "json", F.lit("json")).when(lang == "python", F.lit("py")).otherwise(
        F.lit("txt")
    )
    path = F.concat(
        F.lit("src/d"), F.pmod(F.col("rid") * 13, F.lit(40)), F.lit("/f"), F.col("id"), F.lit("."), ext
    )

    return df.select(
        repo.alias("repo"),
        path.alias("path"),
        F.sha2(F.concat(F.lit("commit-"), F.col("rid")), 256).substr(1, 40).alias("commit"),
        lang.alias("lang"),
        content.alias("content"),
    )


def seed_kg(spark: SparkSession) -> DataFrame:
    """Small deterministic seed KG: the director/actor dictionary.

    Mirrors the role of the reference's seed ``result.nt`` from the previous
    incremental stage
    (`/root/reference/experiments/moviekg/src/moviekg/pipelines/helpers.py:62-69`).
    Entities carry exactly one rdfs:label; a subset has skos:altLabel and
    rdf:type (FIXTURES.md §2).
    """
    from kgpipe_spark.schemas import KG_NS, RDF_TYPE, RDFS_LABEL, SKOS_ALT_LABEL, XSD_STRING

    directors = spark.range(N_DIRECTORS).select(
        F.concat(F.lit(KG_NS + "person/d"), F.col("id")).alias("subject"),
        F.col("id").alias("n"),
        F.concat(F.lit("Director "), F.col("id")).alias("label"),
        F.lit(KG_NS + "onto/Person").alias("cls"),
    )
    actors = spark.range(N_ACTORS).select(
        F.concat(F.lit(KG_NS + "person/a"), F.col("id")).alias("subject"),
        F.col("id").alias("n"),
        F.concat(F.lit("Actor "), F.col("id")).alias("label"),
        F.lit(KG_NS + "onto/Person").alias("cls"),
    )
    ents = directors.unionByName(actors)

    labels = ents.select(
        "subject",
        F.lit(RDFS_LABEL).alias("predicate"),
        F.col("label").alias("object_lex"),
        F.lit("literal").alias("object_kind"),
        F.lit(XSD_STRING).alias("object_datatype"),
    )
    types = ents.select(
        "subject",
        F.lit(RDF_TYPE).alias("predicate"),
        F.col("cls").alias("object_lex"),
        F.lit("uri").alias("object_kind"),
        F.lit(None).cast("string").alias("object_datatype"),
    )
    alts = ents.filter(F.pmod(F.col("n"), F.lit(5)) == 0).select(
        "subject",
        F.lit(SKOS_ALT_LABEL).alias("predicate"),
        F.upper(F.col("label")).alias("object_lex"),
        F.lit("literal").alias("object_kind"),
        F.lit(XSD_STRING).alias("object_datatype"),
    )
    return labels.unionByName(types).unionByName(alts)
