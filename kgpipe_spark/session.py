"""SparkSession factory tuned for the KG-construction workload.

Scale notes (100 TB / 1000-executor design intent, tested on local[N]):
 - AQE on: runtime coalescing + skew-join splitting handles mega-repo skew
   (SURVEY.md §4.2.3) without hand-tuned partition counts.
 - Arrow enabled for all pandas UDF exchange; batch size bounded the way the
   reference bounds embedding batches to 64
   (`/root/reference/src/kgpipe/evaluation/aspects/func/soft_metrics.py:18-24`)
   — we use far larger Arrow batches (10k) since our UDFs are vectorized.
 - shuffle partitions default to cores on local mode; on a real cluster this
   is overridden by AQE coalescing from a higher initial number.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kgpipe-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus.isdigit() else "32"
        shuffle_partitions = max(int(n), 8)

    # shuffle/spill files on tmpfs: the sandbox disk writes ~150 MB/s, which
    # caps every shuffle-heavy stage regardless of cores; on a real cluster
    # this maps to NVMe-backed spark.local.dir
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)

    # Cap JVM GC threads to the executor core count on small local[N]
    # masters: G1 defaults ParallelGCThreads to ~23 on this 32-vCPU host, so
    # a local[2] "executor" would borrow ~23 host cores during every GC pause
    # — a real 2-core executor has 2. Without the cap, N-vs-4N scaling runs
    # understate speedup (GC wall time is near-constant across levels, acting
    # as serial time that a real cluster would parallelize per-executor).
    # Only applied below the host core count; JVM-start-only, so a reused
    # session (getOrCreate) is unaffected.
    gc_opts = ""
    m = re.fullmatch(r"local\[(\d+)\]", master)
    if m and int(m.group(1)) < (os.cpu_count() or 1):
        n = int(m.group(1))
        gc_opts = f"-XX:ParallelGCThreads={n} -XX:ConcGCThreads={max(1, n // 4)}"
    # Throughput-oriented GC by default: this workload is pure batch — each
    # query allocates and drops whole checkpoint/cache block sets, and with
    # G1 (the JDK default) that garbage is collected lazily DURING the next
    # queries' timed windows (the "GC debt" pattern documented in
    # OPTIMIZATION_r06.md). ParallelGC's compacting throughput collections
    # clear it at allocation time: alternating whole-bench A/B at
    # sf1.0-shaped data reads 23.6/26.7 s (parallel) vs 32.9/33.6 s (G1),
    # and no worse at sf0.1. Env-overridable (SPARK_GC_OPTS="" restores the
    # JVM default) — deployments with >32 GB executor heaps or latency
    # SLOs should prefer G1/ZGC there.
    extra_jvm = os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC")
    gc_opts = f"{gc_opts} {extra_jvm}".strip()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.local.dir", local_dir or "/tmp")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # prefer shuffled-hash over sort-merge when the per-partition build
        # side fits (guide §3.1): join results are identical, but SHJ skips
        # both sort passes. AQE's SMJ→SHJ rewrite threshold is sized to the
        # advisory partition size so a post-coalesce partition always fits;
        # get_spark(extra_conf=...) overrides both for cluster tuning.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # 24g default on this 128 GiB sandbox: local-mode executor memory IS
        # the driver JVM; 32 concurrent tasks over cached KG views spill
        # under 8g, and event-log forensics show GC storms (167 task-seconds
        # GC in one 17 s extraction stage) when hypervisor steal starves GC
        # threads — headroom blunts them (interleaved A/B: flagship min 13.1
        # vs 11.9 s under load 18-21). On a cluster the driver does no data
        # work and deployments override this (SPARK_DRIVER_MEMORY).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if gc_opts:
        builder = builder.config("spark.driver.extraJavaOptions", gc_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
