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
 - The driver JVM starts from a dynamic class-data-sharing archive (JDK 17
   ``-XX:SharedArchiveFile``): classes come mapped from the archive instead
   of being loaded, verified and linked from ``$SPARK_HOME/jars``, which cut
   perfbench's session start from 4.1-5.6 s to 1.9-2.7 s (4-vCPU host,
   ``local[2]``). The archive lives in ``$XDG_CACHE_HOME/kgpipe_spark/``
   (else ``~/.cache/kgpipe_spark/``), one file per fingerprint of the JDK
   and of ``$SPARK_HOME/jars`` (names and sizes), so an upgrade gets a new
   archive. The first session per machine and fingerprint writes it as its
   JVM exits (``-XX:ArchiveClassesAtExit``: about 10 s and 180 MB after a
   flagship run), and starts about 1.5 s slower than without an archive:
   its JVM spends 2-3 s more kernel time recording where each class came
   from. The gain holds from the second session on. The archive is never
   rewritten while complete, so that first session decides which classes
   it holds: one that only ran a small job archives fewer of them, and
   later sessions load the rest from the jars. A session maps the file
   only once the dump's last write, the header magic, is on disk. Delete
   the ``*.jsa`` file to reset it; archives of an older JDK or Spark stay
   until deleted. JDK 17 shares no class while a non-empty directory is on
   the classpath, so the launch points ``SPARK_CONF_DIR`` at an empty
   directory there; when ``SPARK_CONF_DIR``, ``HADOOP_CONF_DIR`` or
   ``YARN_CONF_DIR`` is set, or ``$SPARK_HOME/conf`` holds a file that is
   not a ``*.template``, the JVM starts without an archive. Janino's
   classes come from a signed jar, which CDS does not archive.
 - The codegen cache holds 4000 compiled classes
   (``spark.sql.codegen.cache.maxEntries``, Spark's default 100): one
   flagship run compiles about 206, so at 100 every warm run in a session
   compiled its classes again.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil

from pyspark import SparkContext
from pyspark.sql import SparkSession

DRIVER_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
# a dynamic archive's header magic 0xf00baba8, little-endian; the JDK writes
# every region under a zeroed header and this header last
CDS_MAGIC = bytes.fromhex("a8ab0bf0")


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
        .config("spark.sql.codegen.cache.maxEntries", "4000")
    )
    conf = {**_gc_conf(master), **(extra_conf or {})}
    # a reused session, or a JVM that spark-submit started, has started already
    launch = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        launch = _cds_launch(os.environ)
    if launch:
        conf[DRIVER_JAVA_OPTIONS] = f"{conf.get(DRIVER_JAVA_OPTIONS, '')} {launch[0]}".strip()
        os.environ["SPARK_CONF_DIR"] = launch[1]
    for k, v in conf.items():
        builder = builder.config(k, v)
    try:
        return builder.getOrCreate()
    finally:
        if launch:
            del os.environ["SPARK_CONF_DIR"]


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


def _cds_launch(environ) -> tuple[str, str] | None:
    """The driver JVM's class-data-sharing options and the empty directory
    to launch it with as ``SPARK_CONF_DIR``: ``-XX:SharedArchiveFile`` when
    a complete archive exists, else ``-XX:ArchiveClassesAtExit`` to the same
    path. ``None`` when a conf directory is set or ``$SPARK_HOME/conf``
    holds a real file: the JVM then starts exactly as it would without an
    archive."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = environ.get("SPARK_HOME") or _find_spark_home()
    java = os.path.join(environ["JAVA_HOME"], "bin", "java") if environ.get("JAVA_HOME") else shutil.which("java")
    cache = os.path.join(environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "kgpipe_spark")
    empty = os.path.join(cache, "conf")
    if (
        any(v in environ for v in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR"))
        or any(not n.endswith(".template") for n in _names(os.path.join(spark_home, "conf")))
        or not java
        or re.search(r"[\s'\"]", cache)  # the launcher splits the options on blanks and quotes
    ):
        return None
    try:
        os.makedirs(empty, exist_ok=True)
        archive = os.path.join(cache, _archive_name(java, os.path.join(spark_home, "jars")))
    except OSError:
        return None
    if _names(empty):
        return None
    if _dumped(archive):
        return f"-XX:SharedArchiveFile={archive}", empty
    # the dump replaces the file with a new one (a JVM that maps the old one
    # keeps it) and writes the magic last, so a dump still running or killed
    # leaves a header that _dumped rejects. It warns once per class it skips
    # (Janino's signed jar, old bytecode); a rejected archive at start still
    # warns, under cds+dynamic
    return f"-XX:ArchiveClassesAtExit={archive} -Xlog:cds=error", empty


def _archive_name(java: str, jars: str) -> str:
    """``spark-<fingerprint>.jsa``, the fingerprint taken over the real
    path of ``java``, the files of its JDK's ``lib/server`` (the JVM and its
    base archive) and ``jars``: names and sizes."""
    jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    parts = [jdk]
    for d in (os.path.join(jdk, "lib", "server"), jars):
        parts += [f"{n} {os.path.getsize(os.path.join(d, n))}" for n in sorted(_names(d))]
    digest = hashlib.sha256("\n".join(parts).encode()).hexdigest()
    return f"spark-{digest[:16]}.jsa"


def _names(directory: str) -> list[str]:
    try:
        return os.listdir(directory)
    except OSError:
        return []


def _dumped(path: str) -> bool:
    """Whether ``path`` is an archive whose dump finished: its magic is written."""
    try:
        with open(path, "rb") as f:
            return f.read(4) == CDS_MAGIC
    except OSError:
        return False
