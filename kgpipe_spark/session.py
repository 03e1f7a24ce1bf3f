"""SparkSession factory tuned for the KG-construction workload.

Scale notes (100 TB / 1000-executor design intent, tested on local[N]):
 - AQE on: runtime coalescing + skew-join splitting handles mega-repo skew
   (SURVEY.md §4.2.3) without hand-tuned partition counts.
 - Arrow enabled for all pandas UDF exchange; batch size bounded the way the
   reference bounds embedding batches to 64
   (`/root/reference/src/kgpipe/evaluation/aspects/func/soft_metrics.py:18-24`)
   — we use far larger Arrow batches (10k) since our UDFs are vectorized.
 - shuffle partitions default to cores on local mode (``SPARK_GRAFT_CPUS``,
   else the cores this process may run on); on a real cluster this is
   overridden by AQE coalescing from a higher initial number.
 - Python workers start from ``kgpipe_spark.pyworker``
   (``spark.python.daemon.module``), which imports the installed,
   byte-compiled pyspark instead of ``$SPARK_HOME/python/lib/pyspark.zip``
   when both are the same version. From the zip, each worker compiled
   pyspark from source and re-read the zip and the spark-core jar before
   every task: a trivial 8-partition Python job took 3.3-3.4 s on its
   first call and 0.9-1.3 s warm, against 1.3-1.4 s and 0.29-0.36 s
   (4-vCPU host, ``local[2]``). Workers must be able to import
   ``kgpipe_spark``, as the package's pandas UDFs already require.
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
    default_master, default_partitions = _local_defaults()
    master = master or default_master
    if shuffle_partitions is None:
        shuffle_partitions = default_partitions

    # shuffle/spill files on tmpfs: the sandbox disk writes ~150 MB/s, which
    # caps every shuffle-heavy stage regardless of cores; on a real cluster
    # this maps to NVMe-backed spark.local.dir
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)

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
        # local-mode executor memory IS the driver JVM. Default min(24g,
        # RAM/4): 24g on a 128 GiB host, where 32 concurrent tasks over
        # cached KG views spill under 8g, and event-log forensics show GC
        # storms (167 task-seconds GC in one 17 s extraction stage) when
        # hypervisor steal starves GC threads — headroom blunts them
        # (interleaved A/B: flagship min 13.1 vs 11.9 s under load 18-21).
        # On a 16 GB host a 24g heap let the JVM grow until the kernel's OOM
        # killer ended it. On a cluster the driver does no data work and
        # deployments override this (SPARK_DRIVER_MEMORY).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", f"{_default_driver_memory_mb()}m"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.daemon.module", "kgpipe_spark.pyworker")
    )
    for k, v in {**_gc_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _local_defaults() -> tuple[str, int]:
    """The default master and shuffle-partition count: ``SPARK_GRAFT_CPUS``
    cores, else the cores this process may run on; at least 8 partitions."""
    host = str(len(os.sched_getaffinity(0)))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", host)
    return f"local[{cpus}]", max(int(cpus if cpus.isdigit() else host), 8)


def _gc_conf(master: str) -> dict[str, str]:
    """The ``extraJavaOptions`` that pick the JVM collector for ``master``:
    the driver's, and outside local mode, where tasks run in executor JVMs
    of their own, the executors' too. ``SPARK_GC_OPTS`` overrides the
    collector choice.

    Throughput-oriented GC by default: this workload is pure batch — each
    query allocates and drops whole checkpoint/cache block sets, and with
    G1 (the JDK default) that garbage is collected lazily DURING the next
    queries' timed windows (the "GC debt" pattern documented in
    OPTIMIZATION_r06.md). ParallelGC's compacting throughput collections
    clear it at allocation time: alternating whole-bench A/B at
    sf1.0-shaped data reads 23.6/26.7 s (parallel) vs 32.9/33.6 s (G1),
    and no worse at sf0.1. ``SPARK_GC_OPTS=""`` restores the JVM default;
    deployments with >32 GB executor heaps or latency SLOs should prefer
    G1/ZGC there.

    GC threads are capped to the core count of a small ``local[N]`` master:
    G1 defaults ParallelGCThreads to ~23 on a 32-vCPU host, so a local[2]
    "executor" would borrow ~23 host cores during every GC pause — a real
    2-core executor has 2. Without the cap, N-vs-4N scaling runs understate
    speedup (GC wall time is near-constant across levels, acting as serial
    time that a real cluster would parallelize per-executor). The cap
    applies only below the host core count. ``ConcGCThreads`` is set only
    for a concurrent collector: ParallelGC ignores it. JVM-start-only, so a
    reused session (getOrCreate) is unaffected.
    """
    collector = os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC")
    threads = ""
    m = re.fullmatch(r"local\[(\d+)\]", master)
    if m and int(m.group(1)) < (os.cpu_count() or 1):
        n = int(m.group(1))
        threads = f"-XX:ParallelGCThreads={n}"
        if "UseParallelGC" not in collector:
            threads += f" -XX:ConcGCThreads={max(1, n // 4)}"
    opts = f"{threads} {collector}".strip()
    if not opts:
        return {}
    if re.fullmatch(r"local(\[[^\]]*\])?", master):
        return {"spark.driver.extraJavaOptions": opts}
    return {"spark.driver.extraJavaOptions": opts, "spark.executor.extraJavaOptions": opts}


def _default_driver_memory_mb() -> int:
    """min(24g, a quarter of physical memory), in MiB."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    return min(24 * 1024, ram_mb // 4)
