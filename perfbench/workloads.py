"""The benchmark's workloads: seeded inputs, the timed program calls, the
output checks and the traced layer-by-layer replay.

Inputs are written as tables during set-up, so a timed run only reads
generated tables. Sizes are given at ``scale=1.0``; the self-tests use
smaller scales.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgpipe_spark.corpus import seed_kg, synth_corpus
from kgpipe_spark.operators.cluster import canonical_map, connected_components
from kgpipe_spark.operators.extract import (
    extract_code_triples,
    extract_json_triples,
    extract_text_surface_triples,
    mentions_from_triples,
)
from kgpipe_spark.operators.fusion import canonicalize_triples, fuse_first_value
from kgpipe_spark.operators.linking import label_dictionary, link_exact
from kgpipe_spark.operators.transform import remove_empty_literals
from kgpipe_spark.functions.strings import normalize_label
from kgpipe_spark.pipelines import (
    _complete_with_types,
    _fusable,
    _stage_extract,
    compose_maps,
    default_flagship_ontology,
    link_entities,
    link_map,
    run_flagship,
    text_surface_to_triples,
)
from kgpipe_spark.schemas import KG_NS, RDFS_LABEL, TRIPLE_COLS
from kgpipe_spark.sources.iceberg import read_table, write_table
from kgpipe_spark.streaming.ingest import stream_corpus_to_triples

from perfbench import checks
from perfbench.counters import LayerTracer

KEY = checks.KEY


@dataclass
class Inputs:
    seed_table: str
    corpus: str  # corpus table, or the directory of commit files
    content: list  # content digest of the generated corpus
    input_mb: float
    commits: list = field(default_factory=list)


@dataclass
class RunResult:
    batch_s: list = field(default_factory=list)  # per micro-batch seconds (streaming only)
    run_id: str | None = None  # streaming query run id


def _mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def _uniform(seed: int, *salt) -> F.Column:
    """Uniform in [0, 1), a pure function of (seed, row id, salt)."""
    h = F.xxhash64(F.lit(seed), F.col("id"), *salt)
    return F.pmod(h, F.lit(1 << 20)) / float(1 << 20)


# ---------------------------------------------------------------------------
# alias_dense corpus
# ---------------------------------------------------------------------------

N_LIBS = 20_000


def alias_corpus(spark: SparkSession, n_rows: int, n_deps: int, seed: int) -> DataFrame:
    """Package manifests in the five-column corpus schema.

    Each JSON blob nests a maintainer (a person from the seed KG, so linking
    has hits) and ``n_deps`` dependency dicts. Dependency names follow a
    long tail over ``N_LIBS`` libraries that the seed KG does not know; three
    in four also carry the library's second name. The version varies per
    blob, so each dependency dict mints its own URI and one label maps to
    many URIs — the connected-components input.
    """

    def dep(i):
        lib = F.floor(F.pow(_uniform(seed, i, F.lit(1)), 3) * N_LIBS).cast("long")
        version = F.concat_ws(
            ".",
            F.pmod(F.xxhash64(F.lit(seed), F.col("id"), i, F.lit(2)), F.lit(10)),
            F.pmod(F.xxhash64(F.lit(seed), F.col("id"), i, F.lit(3)), F.lit(100)),
            F.pmod(F.xxhash64(F.lit(seed), F.col("id"), i, F.lit(4)), F.lit(1000)),
        )
        return F.struct(
            F.concat(F.lit("libkg-"), lib).alias("name"),
            F.when(_uniform(seed, i, F.lit(5)) < 0.75, F.concat(F.lit("LibKG "), lib, F.lit(" core"))).alias(
                "packageName"
            ),
            version.alias("version"),
        )

    person = F.pmod(F.xxhash64(F.lit(seed), F.col("id"), F.lit(6)), F.lit(250))
    maintainer = F.struct(
        F.when(person < 50, F.concat(F.lit("Director "), person))
        .otherwise(F.concat(F.lit("Actor "), person - 50))
        .alias("name"),
        F.concat(F.lit("dev"), F.col("id"), F.lit("@example.org")).alias("email"),
    )
    doc = F.to_json(
        F.struct(
            F.concat(F.lit("app-"), F.lit(seed), F.lit("-"), F.col("id")).alias("name"),
            maintainer.alias("maintainer"),
            F.transform(F.sequence(F.lit(0), F.lit(n_deps - 1)), dep).alias("dependencies"),
        )
    )
    mega = _uniform(seed, F.lit(7)) < 0.3
    repo = F.when(mega, F.concat(F.lit("org/mega-"), F.pmod(F.col("id"), F.lit(3)))).otherwise(
        F.concat(F.lit("org/app-"), F.pmod(F.col("id") * 7919, F.lit(997)))
    )
    return spark.range(n_rows).select(
        repo.alias("repo"),
        F.concat(F.lit("deps/"), F.col("id"), F.lit("/package.json")).alias("path"),
        F.sha2(F.concat(F.lit("manifest-"), F.lit(seed), F.col("id")), 256).substr(1, 40).alias("commit"),
        F.lit("json").alias("lang"),
        doc.alias("content"),
    )


# ---------------------------------------------------------------------------
# batch workloads: read_table → run_flagship → write_table
# ---------------------------------------------------------------------------

class BatchWorkload:
    # the traced run replays the program layer by layer and nothing else
    trace_runs_program = False

    def __init__(self, name: str, make_corpus):
        self.name = name
        self.make_corpus = make_corpus  # (spark, seed, scale) -> DataFrame

    def write_inputs(self, spark: SparkSession, work: str, seed: int, scale: float) -> Inputs:
        seed_table = os.path.join(work, "seed_kg")
        write_table(seed_kg(spark), seed_table, mode="overwrite")
        corpus = self.make_corpus(spark, seed, scale)
        path = os.path.join(work, "corpus")
        write_table(corpus, path, mode="overwrite")
        written = read_table(spark, path)
        return Inputs(seed_table, path, *checks.content_digest(written))

    def run(self, spark: SparkSession, inputs: Inputs, out: str) -> RunResult:
        corpus = read_table(spark, inputs.corpus)
        seed = read_table(spark, inputs.seed_table)
        write_table(run_flagship(spark, corpus, seed), out, mode="overwrite")
        return RunResult()

    def check(self, spark: SparkSession, inputs: Inputs, out: str) -> list:
        kg = read_table(spark, out)
        seed = read_table(spark, inputs.seed_table)
        problems = []
        if checks.seed_missing(kg, seed):
            problems.append("seed KG not contained in the output")
        fusable = _fusable(spark, default_flagship_ontology(spark, seed))
        if checks.fusable_conflicts(kg, seed, fusable):
            problems.append("fusable (s,p) with several objects")
        if checks.content_digest(read_table(spark, inputs.corpus))[0] != inputs.content:
            problems.append("corpus content sha256 changed")
        return problems

    def traced(self, spark: SparkSession, inputs: Inputs, out: str, tr: LayerTracer) -> dict:
        """``run_flagship`` replayed layer by layer, materialising every
        layer's output before the next starts.

        Each layer calls the flagship's own stage functions where one exists
        (``_stage_extract``, ``link_map``, ``_fusable``,
        ``_complete_with_types``). The same-label edge build has no callable
        seam, so the ``cluster`` layer copies it from
        ``pipelines._stage_link_canonicalize`` and must track it."""
        with tr.layer("sources"):
            corpus = read_table(spark, inputs.corpus).localCheckpoint()
            seed = read_table(spark, inputs.seed_table).localCheckpoint()

        with tr.layer("extract"):
            extracted = _stage_extract(spark, corpus, seed).localCheckpoint()

        with tr.layer("linking"):
            dictionary = label_dictionary(seed)
            lmap = link_map(extracted, dictionary).localCheckpoint()

        with tr.layer("cluster"):
            # copy of the edge build in pipelines._stage_link_canonicalize
            label_pairs = (
                canonicalize_triples(extracted.filter(F.col("predicate") == RDFS_LABEL), lmap)
                .select("subject", normalize_label(F.col("object_lex")).alias("norm"))
                .filter(F.col("norm").isNotNull())
                .repartition("norm")
                .distinct()
            )
            edges = (
                label_pairs.withColumn("src", F.min("subject").over(Window.partitionBy("norm")))
                .filter(F.col("subject") != F.col("src"))
                .select("src", F.col("subject").alias("dst"))
                .localCheckpoint()
            )
            canon = canonical_map(
                connected_components(edges), prefer_namespace=KG_NS + "person/"
            ).localCheckpoint()

        with tr.layer("fusion"):
            canonical = canonicalize_triples(extracted, compose_maps(lmap, canon))
            ontology = default_flagship_ontology(spark, seed)
            fused = fuse_first_value(
                seed.select(*TRIPLE_COLS), canonical.select(*TRIPLE_COLS), fusable=_fusable(spark, ontology)
            ).localCheckpoint()

        with tr.layer("transform"):
            kg = _complete_with_types(fused, ontology).localCheckpoint()

        with tr.layer("sources"):
            write_table(kg, out, mode="overwrite")

        # counts and ratios, outside every layer's span; the extractors'
        # output before the dedupe is rebuilt from the public extractors
        raw = extract_json_triples(corpus).unionByName(extract_code_triples(corpus)).unionByName(
            text_surface_to_triples(extract_text_surface_triples(corpus), dictionary)
        )
        n_raw = remove_empty_literals(raw).count()
        n_extracted, n_seed, n_fused = extracted.count(), seed.count(), fused.count()
        mentions = link_exact(mentions_from_triples(extracted), dictionary)
        n_mentions = mentions.count()
        tr.rows.update(
            sources=corpus.count() + n_seed,
            extract=n_extracted,
            linking=lmap.count(),
            cluster=canon.count(),
            fusion=n_fused,
            transform=kg.count(),
        )
        return {
            "extract.input_mb": (inputs.input_mb, "MB"),
            "extract.dedupe_ratio": (n_extracted / max(n_raw, 1), "ratio"),
            "linking.hit_ratio": (
                mentions.filter(F.col("mapping").isNotNull()).count() / max(n_mentions, 1),
                "ratio",
            ),
            "cluster.edges": (edges.count(), "count"),
            "fusion.kept_ratio": (n_fused / max(n_seed + n_extracted, 1), "ratio"),
            "sources.write_mb": (_mb(out), "MB"),
        }


def repo_corpus(spark, seed, scale):
    return synth_corpus(spark, max(20, int(1000 * scale)), seed)


def alias_dense_corpus(spark, seed, scale):
    return alias_corpus(spark, max(20, int(20000 * scale)), 8, seed)


# ---------------------------------------------------------------------------
# commit_stream: one micro-batch per commit file into an empty sink
# ---------------------------------------------------------------------------


class StreamWorkload:
    name = "commit_stream"
    # the traced run starts with a real, untraced drain of the program
    trace_runs_program = True
    # every micro-batch after the first anti-joins against a non-empty sink;
    # an odd count makes the median micro-batch one real batch
    n_commits = 9
    rows_per_commit = 100

    def write_inputs(self, spark: SparkSession, work: str, seed: int, scale: float) -> Inputs:
        seed_table = os.path.join(work, "seed_kg")
        write_table(seed_kg(spark), seed_table, mode="overwrite")
        rows = max(10, int(self.rows_per_commit * scale))
        staging = os.path.join(work, "staging")
        # one task, hence one parquet file, per commit; the round-robin
        # split is deterministic
        synth_corpus(spark, rows * self.n_commits, seed).repartition(self.n_commits).write.parquet(staging)
        parts = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
        if len(parts) != self.n_commits:
            raise RuntimeError(f"{len(parts)} commit files for {self.n_commits} commits")
        commits_dir = os.path.join(work, "commits")
        os.makedirs(commits_dir)
        paths = []
        for k, part in enumerate(parts):
            paths.append(os.path.join(commits_dir, f"commit-{k:03d}.parquet"))
            os.rename(os.path.join(staging, part), paths[-1])
        shutil.rmtree(staging)
        written = spark.read.parquet(*paths)
        return Inputs(seed_table, commits_dir, *checks.content_digest(written), paths)

    def run(self, spark: SparkSession, inputs: Inputs, out: str) -> RunResult:
        ckpt = out + ".ckpt"
        dictionary = label_dictionary(read_table(spark, inputs.seed_table))
        query = stream_corpus_to_triples(
            spark, inputs.corpus, out, ckpt, dictionary=dictionary, max_files_per_trigger=1
        )
        query.awaitTermination()
        batches = [p for p in query.recentProgress if p.numInputRows > 0]
        if len(batches) != len(inputs.commits):
            raise RuntimeError(f"{len(batches)} micro-batches for {len(inputs.commits)} commits")
        return RunResult(
            batch_s=[p.durationMs["triggerExecution"] / 1e3 for p in batches], run_id=str(query.runId)
        )

    def check(self, spark: SparkSession, inputs: Inputs, out: str) -> list:
        problems = []
        if checks.content_digest(spark.read.parquet(*inputs.commits))[0] != inputs.content:
            problems.append("corpus content sha256 changed")
        return problems

    def traced(self, spark: SparkSession, inputs: Inputs, out: str, tr: LayerTracer) -> dict:
        """The real drain (the ``streaming`` layer), then the same micro-batches
        replayed commit by commit through each layer's public functions.

        The micro-batch body is a closure inside
        ``streaming.ingest.stream_corpus_to_triples`` with no callable seam,
        so the replay below copies it and must track it."""
        drain_out = out + ".drain"
        with tr.layer("streaming"):
            drained = self.run(spark, inputs, drain_out)
        # the streaming query tags its jobs with its run id
        tr.alias_group(drained.run_id, "streaming")

        with tr.layer("sources"):
            seed = read_table(spark, inputs.seed_table).localCheckpoint()
        with tr.layer("linking"):
            dictionary = label_dictionary(seed).localCheckpoint()
        steps = []
        for path in inputs.commits:
            with tr.layer("sources"):
                batch = read_table(spark, path).localCheckpoint()
            with tr.layer("extract"):
                triples = (
                    extract_json_triples(batch).unionByName(extract_code_triples(batch)).select(*TRIPLE_COLS)
                ).localCheckpoint()
            with tr.layer("linking"):
                linked = link_entities(
                    triples.withColumn("prov_repo", F.lit(None).cast("string")), dictionary
                ).select(*TRIPLE_COLS)
                unique = linked.dropDuplicates(KEY).localCheckpoint()
            with tr.layer("fusion"):
                # set union with what the sink already holds
                new = unique
                if os.path.isdir(out):
                    new = new.join(read_table(spark, out).select(*KEY), KEY, "left_anti")
                new = new.localCheckpoint()
            with tr.layer("sources"):
                write_table(new, out, mode="append")
            steps.append((triples, unique, new))

        # counts and ratios, outside every layer's span
        n_in = sum(t.count() for t, _, _ in steps)
        n_unique = sum(u.count() for _, u, _ in steps)
        n_new = sum(n.count() for _, _, n in steps)
        mentions = [link_exact(mentions_from_triples(t), dictionary) for t, _, _ in steps]
        n_mentions = sum(m.count() for m in mentions)
        n_hits = sum(m.filter(F.col("mapping").isNotNull()).count() for m in mentions)
        tr.rows.update(
            sources=n_new, extract=n_in, linking=n_unique, fusion=n_new,
            streaming=read_table(spark, drain_out).count(),
        )
        return {
            "extract.input_mb": (inputs.input_mb, "MB"),
            "extract.dedupe_ratio": (n_unique / max(n_in, 1), "ratio"),
            "linking.hit_ratio": (n_hits / max(n_mentions, 1), "ratio"),
            "cluster.edges": (0, "count"),
            "fusion.kept_ratio": (n_new / max(n_unique, 1), "ratio"),
            "sources.write_mb": (_mb(out), "MB"),
        }


WORKLOADS = {
    "repo_batch": BatchWorkload("repo_batch", repo_corpus),
    "alias_dense": BatchWorkload("alias_dense", alias_dense_corpus),
    "commit_stream": StreamWorkload(),
}
