"""kgpipe_spark — a from-scratch PySpark-native KG-construction engine.

Reproduces the semantics of ScaDS/KGpipe (reference at /root/reference,
survey in SURVEY.md) as an idiomatic Spark DataFrame engine:

    corpus (repo, path, commit, lang, content)
      → extract   (vectorized per-blob triple/mention extraction)
      → link      (broadcast dictionary + MinHash-LSH + embedding rerank)
      → match     (blocked similarity join between KGs)
      → cluster   (connected components == union-find canonicalization)
      → fuse      (first-value / majority / union fusion)
      → complete  (ontology type inference)
      → materialize (triples table / N-Triples lines)

plus the reference's evaluation math (exact fact alignment P/R/F1,
statistics, ER eval, semantic validators).

Everything is pyspark.sql DataFrame ops + pandas/Arrow UDFs — no per-row
Python UDFs anywhere (BASELINE.json input_hint mandate).
"""

__version__ = "0.1.0"
