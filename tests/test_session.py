import os

from kgpipe_spark.session import _gc_conf

DRIVER = "spark.driver.extraJavaOptions"
EXECUTOR = "spark.executor.extraJavaOptions"


def test_gc_conf_local_parallel_gc_sets_no_conc_threads(monkeypatch):
    monkeypatch.delenv("SPARK_GC_OPTS", raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 4)
    assert _gc_conf("local[2]") == {DRIVER: "-XX:ParallelGCThreads=2 -XX:+UseParallelGC"}
    # at or above the host core count the thread count is the JVM's own
    assert _gc_conf("local[4]") == {DRIVER: "-XX:+UseParallelGC"}


def test_gc_conf_concurrent_collector_keeps_conc_threads(monkeypatch):
    monkeypatch.setenv("SPARK_GC_OPTS", "-XX:+UseG1GC")
    monkeypatch.setattr(os, "cpu_count", lambda: 32)
    assert _gc_conf("local[8]") == {
        DRIVER: "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2 -XX:+UseG1GC"
    }
    monkeypatch.setenv("SPARK_GC_OPTS", "")
    assert _gc_conf("local[*]") == {}


def test_gc_conf_cluster_master_sets_executor_flags(monkeypatch):
    monkeypatch.delenv("SPARK_GC_OPTS", raising=False)
    opts = {DRIVER: "-XX:+UseParallelGC", EXECUTOR: "-XX:+UseParallelGC"}
    assert _gc_conf("spark://host:7077") == opts
    assert _gc_conf("local-cluster[2,1,1024]") == opts
    assert _gc_conf("local") == {DRIVER: "-XX:+UseParallelGC"}
