"""Cross-engine determinism contracts: the Spark column helpers and the
DuckDB SQL idioms the oracles use MUST agree byte-for-byte on hostile
inputs, or every hash-exact oracle in __spark_entry__.py silently rests on
luck. Exercises the exact SQL templates the oracles embed."""

import duckdb
import pytest
from pyspark.sql import functions as F

NASTY = [
    "",
    " ",
    "  double  spaces  ",
    "under_score-and-dash",
    "__--__",
    "MiXeD CaSe",
    "tab\tand\nnewline",
    "unicode: émile zolà ß 中文 🎬",
    "quote'and\"doublequote",
    "trailing-",
    "-leading",
    "a",
    "\x01",  # the shared null sentinel itself as data
    "percent % and || pipe",
    "very " + "long " * 50 + "label",
]

_SQL_NORM = (
    "trim(regexp_replace(lower(replace(replace(v, '_', ' '), '-', ' ')), '\\s+', ' ', 'g'))"
)


@pytest.fixture(scope="module")
def pairs(spark):
    """[(input, spark_norm, spark_key, spark_mint)] for the battery."""
    from kgpipe_spark.functions.hashing import mint_uri_sha256, stable_order_key
    from kgpipe_spark.functions.strings import normalize_label

    df = spark.createDataFrame([(v,) for v in NASTY], "v string")
    rows = df.select(
        "v",
        normalize_label(F.col("v")).alias("norm"),
        stable_order_key(F.col("v"), F.lit(None).cast("string"), F.col("v")).alias("key"),
        mint_uri_sha256(F.col("v")).alias("mint"),
    ).collect()
    return rows


def test_normalize_label_matches_duckdb(pairs):
    con = duckdb.connect()
    sql = "SELECT " + _SQL_NORM.replace("replace(v,", "replace(?,")
    for r in pairs:
        got = con.execute(sql, [r["v"]]).fetchone()[0]
        assert got == r["norm"], f"normalize mismatch for {r['v']!r}: {got!r} != {r['norm']!r}"


def test_stable_order_key_matches_duckdb(pairs):
    con = duckdb.connect()
    for r in pairs:
        got = con.execute(
            "SELECT sha256(coalesce(?, chr(1)) || coalesce(CAST(NULL AS VARCHAR), chr(1)) || coalesce(?, chr(1)))",
            [r["v"], r["v"]],
        ).fetchone()[0]
        assert got == r["key"], f"stable_order_key mismatch for {r['v']!r}"


def test_mint_uri_matches_duckdb(pairs):
    con = duckdb.connect()
    for r in pairs:
        got = con.execute("SELECT 'http://kg.org/newE/' || sha256(?)", [r["v"]]).fetchone()[0]
        assert got == r["mint"], f"mint mismatch for {r['v']!r}"


def test_prf_precision_ties_round_like_duckdb(spark):
    """1 hit in 128 predictions is precision 1/128 = 0.0078125, a 6-digit
    rounding tie. Every P/R/F1 evaluator must round it as the DuckDB oracle
    expressions do (0.007813), not as Python's round-half-even (0.007812)."""
    from kgpipe_spark.eval.alignment import fact_alignment
    from kgpipe_spark.eval.er_eval import evaluate_matching, evaluate_relation_matching
    from kgpipe_spark.eval.report import eval_report

    want = duckdb.connect().execute("SELECT round(1 / CAST(128 AS DOUBLE), 6)").fetchone()[0]
    assert want == 0.007813

    n = 128
    kg = spark.createDataFrame(
        [(f"s{i}", "p", f"o{i}", "literal", None) for i in range(n)],
        "subject string, predicate string, object_lex string, object_kind string,"
        " object_datatype string",
    )
    gold = kg.limit(1)
    onto = spark.createDataFrame(
        [],
        "uri string, label string, aliases array<string>, domain string, range string,"
        " is_object_prop string, max_cardinality int",
    )
    pairs = spark.createDataFrame(
        [(f"a{i}", f"b{i}", 0.9, "relation") for i in range(n)],
        "id_1 string, id_2 string, score double, id_type string",
    )
    clusters = spark.createDataFrame([("c0", "a0"), ("c0", "b0")], "cluster_id string, entity_uri string")
    rel_gold = spark.createDataFrame([(["a0", "b0"],)], "uris array<string>")

    report = eval_report(kg, gold, onto).filter(F.col("aspect") == "reference")
    got = {
        "fact_alignment": fact_alignment(kg, gold).collect()[0]["precision"],
        "evaluate_matching": evaluate_matching(pairs, clusters).collect()[0]["precision"],
        "evaluate_relation_matching": evaluate_relation_matching(pairs, rel_gold).collect()[0][
            "precision"
        ],
        "eval_report": {r["metric"]: r["value"] for r in report.collect()}["precision"],
    }
    assert got == dict.fromkeys(got, want)


def test_prf_projections_round_41_of_640_like_duckdb(spark):
    """41/640 = 0.0640625 is a tie that Spark's round(x, 6) takes up
    (0.064063) from the shortest decimal string, while DuckDB's round(x, 6)
    computes round(x·10⁶)/10⁶ = 0.064062. Both projections must give the
    oracle expressions' values for precision, recall and f1 alike."""
    from __spark_entry__ import _SQL_PRF
    from kgpipe_spark.eval.alignment import prf_from_counts, prf_from_rates

    con = duckdb.connect()
    con.execute("CREATE TABLE counts AS SELECT 41 AS tp, 599 AS fp, 599 AS fn")
    by_counts = con.execute(_SQL_PRF).fetchone()
    # kg_fact_alignment's projection
    by_rates = con.execute(
        """SELECT tp, fp, fn,
                  round(tp / CAST(tp + fp AS DOUBLE), 6),
                  round(tp / CAST(tp + fn AS DOUBLE), 6),
                  round(2.0 * (tp / CAST(tp + fp AS DOUBLE)) * (tp / CAST(tp + fn AS DOUBLE))
                        / ((tp / CAST(tp + fp AS DOUBLE)) + (tp / CAST(tp + fn AS DOUBLE))), 6)
           FROM counts"""
    ).fetchone()
    assert by_counts[3:] == (0.064062, 0.064062, 0.064062)

    counts = spark.createDataFrame([(41, 599, 599)], "tp bigint, fp bigint, fn bigint")
    assert tuple(prf_from_counts(counts).collect()[0]) == by_counts
    assert tuple(prf_from_rates(counts).collect()[0]) == by_rates


def test_quality_features_round_41_of_640_like_duckdb(spark):
    """A 640-character text holding 41 punctuation characters has
    punct_ratio 41/640, the tie above: ``quality_features`` must report
    DuckDB's 0.064062, and every column must equal its oracle's."""
    from __spark_entry__ import oracle_sql
    from kgpipe_spark.operators.text import quality_features

    text = " ".join(["the" + "w" * 5 + "!"] * 41)
    text += " " + "z" * (640 - len(text) - 1)
    assert len(text) == 640 and sum(not (c.isalnum() or c.isspace()) for c in text) == 41

    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT CAST(1 AS BIGINT) AS doc_id, ? AS text", [text])
    expected = con.execute(oracle_sql()["doc_quality_features"]).fetchone()
    assert expected[2] == 0.064062

    docs = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    assert tuple(quality_features(docs).collect()[0]) == expected


def test_gram_bin_zero_norm_cosine_is_null_like_duckdb(spark):
    """"ig" and "rd" share hash bin 3 with net count 0: a zero vector each.
    The gram-bin kernel scores their pair NULL, exactly the (lid, rid, cos)
    rows of the oracle's ``_sql_embed`` + ``_sql_cosine_binpairs`` chain."""
    from __spark_entry__ import _sql_cosine_binpairs, _sql_embed
    from kgpipe_spark.eval.soft import cosine_all_pairs

    left, right = [("a", "ig")], [("b", "rd")]
    got = [
        tuple(r)
        for r in cosine_all_pairs(
            spark.createDataFrame(left, "id string, text string"),
            spark.createDataFrame(right, "id string, text string"),
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE lt AS SELECT * FROM (VALUES ('a', 'ig')) t(id, text)")
    con.execute("CREATE TABLE rt AS SELECT * FROM (VALUES ('b', 'rd')) t(id, text)")
    sql = (
        f"WITH {_sql_embed('l', 'lt')}, {_sql_embed('r', 'rt')}, "
        f"{_sql_cosine_binpairs('l', 'r', 'cp')} SELECT lid, rid, cos FROM cp"
    )
    assert got == con.execute(sql).fetchall() == [("a", "b", None)]


def test_dense_zero_vector_topk_like_duckdb(spark):
    """``cosine_topk_bruteforce`` over a table holding one all-zero
    embedding gives the (q_id, vec_id, cosine, rank) rows of the
    ``emb_cosine_topk`` oracle SQL: NULL cosines, ranked last."""
    from __spark_entry__ import _emb_sql
    from kgpipe_spark.operators.similarity import cosine_topk_bruteforce

    rows = [(0, [1.0, 2.0, 3.0]), (1, [0.0, 0.0, 0.0]), (2, [3.0, 2.0, 1.0]),
            (3, [1.0, 0.0, 1.0]), (4, [2.0, 4.0, 6.0]), (5, [-1.0, 1.0, 0.0]), (6, [0.0, 5.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = sorted(tuple(r) for r in cosine_topk_bruteforce(emb, queries, k=10).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    want = sorted(con.execute(_emb_sql()["emb_cosine_topk"]).fetchall())
    assert got == want
    assert (0, 1, None, 7) in got
