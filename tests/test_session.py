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


def test_local_defaults_take_host_cores_when_unset(monkeypatch):
    from kgpipe_spark.session import _local_defaults

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(12)))
    assert _local_defaults() == ("local[12]", 12)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert _local_defaults() == ("local[3]", 8)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "16")
    assert _local_defaults() == ("local[16]", 16)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert _local_defaults() == ("local[*]", 8)


def _spark_home(tmp_path, pyspark_version, py4j_version):
    """A fake $SPARK_HOME reached through a symlink, as it often is,
    with its two zips and a jar; returns (home, the archive path entries)."""
    import zipfile

    real = tmp_path / "spark-real"
    (real / "python" / "lib").mkdir(parents=True)
    (real / "jars").mkdir()
    with zipfile.ZipFile(real / "python" / "lib" / "pyspark.zip", "w") as z:
        z.writestr("pyspark/version.py", f"__version__: str = '{pyspark_version}'\n")
    with zipfile.ZipFile(real / "python" / "lib" / f"py4j-{py4j_version}-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    with zipfile.ZipFile(real / "jars" / "spark-core.jar", "w") as z:
        z.writestr("org/x.class", "")
    home = tmp_path / "spark"
    home.symlink_to(real)
    lib = home / "python" / "lib"
    return str(home), [
        str(lib / "pyspark.zip"),
        str(lib / f"py4j-{py4j_version}-src.zip"),
        str(real / "jars" / "spark-core.jar"),  # the JVM names the jar by its real path
    ]


def _path_and_cache(tmp_path, archives):
    other = [str(tmp_path / "user.zip"), str(tmp_path / "site-packages")]
    path = [str(tmp_path / "cwd"), *archives, *other]
    cache = {p: object() for p in path}
    cache.update({a + "/pyspark": object() for a in archives})
    return path, cache, other


def test_pyworker_drops_spark_home_archives_when_versions_match(tmp_path):
    from kgpipe_spark.pyworker import drop_spark_home_archives

    home, archives = _spark_home(tmp_path, "4.1.2", "0.10.9.9")
    path, cache, other = _path_and_cache(tmp_path, archives)
    installed = {"pyspark": "4.1.2", "py4j": "0.10.9.9"}.get
    drop_spark_home_archives(path, cache, home, installed)
    assert path == [str(tmp_path / "cwd"), *other]
    assert set(cache) == set(path)


def test_pyworker_keeps_archives_on_mismatch_or_no_installed_pyspark(tmp_path):
    from kgpipe_spark.pyworker import drop_spark_home_archives

    home, archives = _spark_home(tmp_path, "4.1.2", "0.10.9.9")
    for installed in (
        {"pyspark": "4.1.1", "py4j": "0.10.9.9"}.get,  # pyspark differs
        {"pyspark": "4.1.2", "py4j": "0.10.9.8"}.get,  # py4j differs
        {"py4j": "0.10.9.9"}.get,  # no installed pyspark
    ):
        path, cache, _ = _path_and_cache(tmp_path, archives)
        before_path, before_cache = list(path), dict(cache)
        drop_spark_home_archives(path, cache, home, installed)
        assert path == before_path and cache == before_cache


def test_python_workers_import_the_installed_pyspark(spark):
    """Inside a worker, pyspark is the installed package and no importer
    reads an archive under $SPARK_HOME."""
    import pytest

    from kgpipe_spark.pyworker import installed_version, zip_pyspark_version

    home = os.environ.get("SPARK_HOME")
    if not home or zip_pyspark_version(
        os.path.join(home, "python", "lib", "pyspark.zip")
    ) != installed_version("pyspark"):
        pytest.skip("$SPARK_HOME's pyspark is not the installed version")

    def probe(_):
        import importlib.metadata
        import sys

        import pyspark

        dist = importlib.metadata.distribution("pyspark")
        zips = [k for k, v in sys.path_importer_cache.items() if type(v).__name__ == "zipimporter"]
        yield pyspark.__file__, str(dist.locate_file("pyspark/__init__.py")), zips

    rdd = spark.sparkContext.parallelize([0], 1)
    [(module, installed, zips)] = rdd.mapPartitions(probe).collect()
    assert os.path.realpath(module) == os.path.realpath(installed)
    root = os.path.join(os.path.realpath(home), "")
    assert not [k for k in zips if os.path.realpath(k).startswith(root)]
