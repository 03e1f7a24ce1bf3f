#!/usr/bin/env python
"""spark-submit entry point for the flagship KG-construction pipeline.

Usage (local or cluster):
    spark-submit --py-files kgpipe_spark.zip jobs/run_pipeline.py \
        --rows 150000 --output /tmp/kg_out --checkpoint-dir /tmp/kg_ckpt

    python jobs/run_pipeline.py --master local[8] --rows 150000

Runs: synthetic corpus (or --corpus parquet path with the input_hint schema)
→ extract → link → canonicalize → fuse → type-complete → parquet sink,
and prints one JSON line with row counts, duration and triples/sec.

Packaging note: `make pyfiles` (or `cd /root/repo && zip -r kgpipe_spark.zip
kgpipe_spark`) produces the --py-files artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default=None, help="override master (default: from spark-submit)")
    ap.add_argument("--rows", type=int, default=150_000, help="synthetic corpus rows")
    ap.add_argument("--corpus", default=None, help="parquet path with (repo,path,commit,lang,content)")
    ap.add_argument("--output", default=None, help="parquet sink for the fused triples")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument(
        "--eval-report",
        action="store_true",
        help="after the run, print the long-table evaluation report "
        "(aspect | metric | value) for the produced KG against the seed — "
        "the reference CLI's report surface",
    )
    args = ap.parse_args()

    from kgpipe_spark.corpus import seed_kg, synth_corpus
    from kgpipe_spark.pipelines import run_flagship
    from kgpipe_spark.session import get_spark

    spark = get_spark(
        app_name="kgpipe-flagship",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )

    if args.corpus:
        corpus_path = args.corpus
    else:
        # materialize the synthetic corpus OUTSIDE the timed region — in
        # production the corpus is an Iceberg table scan, not an expression
        # tree; reading parquet keeps every downstream plan small and makes
        # the timing measure the pipeline, not the generator
        corpus_path = os.path.join(
            os.environ.get("TMPDIR", "/tmp"), f"kgpipe_corpus_{args.rows}"
        )
        if not os.path.exists(os.path.join(corpus_path, "_SUCCESS")):
            synth_corpus(spark, args.rows).write.mode("overwrite").parquet(corpus_path)
    corpus = spark.read.parquet(corpus_path)
    seed = seed_kg(spark)

    # warmup (JVM/codegen), excluded from the timed run
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    t0 = time.time()
    if args.checkpoint_dir:
        # durable per-stage snapshots + manifest.json lineage/metrics; a
        # rerun with the same corpus CONTENT resumes mid-pipeline (the
        # fingerprint covers the file listing + sizes + mtimes, not just the
        # path, so changed data at the same path re-runs)
        from kgpipe_spark.pipelines import run_flagship_checkpointed
        from kgpipe_spark.plans.pipeline import fingerprint_parquet_dir

        triples, report = run_flagship_checkpointed(
            spark, corpus, seed, args.checkpoint_dir,
            input_fingerprint=fingerprint_parquet_dir(corpus_path),
        )
        for row in report:
            print(json.dumps({"stage_report": row}), file=sys.stderr)
    else:
        triples = run_flagship(spark, corpus, seed)
    if args.output:
        triples.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    else:
        n = triples.count()
    dt = time.time() - t0

    if args.eval_report:
        # the reference CLI's evaluation report (cli report command /
        # evaluator long table): one row per metric, rendered as a fixed
        # three-column table on stderr so the JSON line below stays the
        # machine-readable output
        from kgpipe_spark.eval.report import eval_report
        from kgpipe_spark.pipelines import default_flagship_ontology

        # cut the flagship lineage first: the report references the KG once
        # per metric row, so an un-materialized pipeline plan would be
        # re-evaluated ~16x (and Catalyst would choke on the unioned DAG)
        rep = eval_report(
            triples.localCheckpoint(), seed, default_flagship_ontology(spark, seed)
        ).collect()
        print(f"{'aspect':<14}{'metric':<28}value", file=sys.stderr)
        for r in rep:
            v = r["value"]
            vs = f"{v:.6f}".rstrip("0").rstrip(".") if v is not None else ""
            print(f"{r['aspect']:<14}{r['metric']:<28}{vs}", file=sys.stderr)

    print(
        json.dumps(
            {
                "job": "kgpipe-flagship",
                "master": spark.sparkContext.master,
                "corpus_rows": args.rows if not args.corpus else None,
                "triples": n,
                "duration_sec": round(dt, 2),
                "triples_per_sec": round(n / dt, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
