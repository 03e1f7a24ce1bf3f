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


def _launch_env(tmp_path, monkeypatch):
    """A fake $SPARK_HOME (conf templates, one jar) and JDK, and a cache
    under ``tmp_path``, set in the environment; returns (jdk, jars, cache)."""
    home, jdk = tmp_path / "spark", tmp_path / "jdk"
    for d in (home / "conf", home / "jars", jdk / "bin", jdk / "lib" / "server"):
        d.mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("# spark.master\n")
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (jdk / "bin" / "java").write_bytes(b"java")
    (jdk / "lib" / "server" / "libjvm.so").write_bytes(b"jvm")
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setenv("SPARK_GC_OPTS", "-XX:+UseParallelGC")
    return jdk, home / "jars", tmp_path / "cache" / "kgpipe_spark"


def _dump(path, magic: bool):
    """An archive as the JDK writes it: regions under a zeroed header, the
    magic last."""
    from kgpipe_spark.session import CDS_MAGIC

    with open(path, "wb") as f:
        f.write((CDS_MAGIC if magic else bytes(4)) + bytes(4092))


def test_cds_launch_maps_only_an_archive_whose_dump_finished(tmp_path, monkeypatch):
    from kgpipe_spark.session import _cds_launch

    _, _, cache = _launch_env(tmp_path, monkeypatch)
    opts, conf_dir = _cds_launch(os.environ)
    [dump] = [p for p in opts.split() if p.startswith("-XX:ArchiveClassesAtExit=")]
    archive = dump.split("=", 1)[1]
    assert archive.endswith(".jsa") and os.path.dirname(archive) == str(cache)
    assert conf_dir == str(cache / "conf") and os.listdir(conf_dir) == []
    assert not os.path.exists(archive)

    # a dump still running (or killed) has a zero header: dump again, map nothing
    _dump(archive, magic=False)
    assert _cds_launch(os.environ) == (opts, conf_dir)
    # a finished dump is mapped
    _dump(archive, magic=True)
    assert _cds_launch(os.environ) == (f"-XX:SharedArchiveFile={archive}", conf_dir)
    assert sorted(os.listdir(cache)) == sorted(["conf", os.path.basename(archive)])


def test_archive_name_tracks_the_jdk_and_the_jars(tmp_path, monkeypatch):
    from kgpipe_spark.session import _archive_name

    jdk, jars, _ = _launch_env(tmp_path, monkeypatch)
    java = str(jdk / "bin" / "java")
    name = _archive_name(java, str(jars))
    assert name == _archive_name(java, str(jars))
    (jars / "spark-core.jar").write_bytes(b"jar2")  # an upgraded jar
    assert _archive_name(java, str(jars)) != name
    name = _archive_name(java, str(jars))
    (jdk / "lib" / "server" / "libjvm.so").write_bytes(b"jvm2")  # an upgraded JDK
    assert _archive_name(java, str(jars)) != name
    other = tmp_path / "jdk-other"
    (other / "bin").mkdir(parents=True)
    (other / "bin" / "java").symlink_to(jdk / "bin" / "java")  # its real path counts
    assert _archive_name(str(other / "bin" / "java"), str(jars)) == _archive_name(java, str(jars))
    os.rename(jdk, tmp_path / "jdk-moved")
    assert _archive_name(str(tmp_path / "jdk-moved" / "bin" / "java"), str(jars)) != name


def _launched(monkeypatch, master="local[2]"):
    """get_spark with the JVM launch replaced: the options and the
    environment that the launch would have seen, and the environment after."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from kgpipe_spark.session import get_spark

    seen = {}

    def launch(builder):
        seen.update(options=dict(builder._options), environ=dict(os.environ))

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", launch)
    get_spark(master=master)
    return seen["options"][DRIVER], seen["environ"], dict(os.environ)


def test_get_spark_launches_with_the_archive_and_restores_the_environment(tmp_path, monkeypatch):
    from kgpipe_spark.session import _gc_conf

    _, _, cache = _launch_env(tmp_path, monkeypatch)
    before = dict(os.environ)
    opts, at_launch, after = _launched(monkeypatch)
    assert opts.startswith(_gc_conf("local[2]")[DRIVER] + " -XX:ArchiveClassesAtExit=")
    assert at_launch == {**before, "SPARK_CONF_DIR": str(cache / "conf")}
    assert after == before


def test_get_spark_skips_the_archive_when_a_conf_dir_is_set_or_used(tmp_path, monkeypatch):
    from pyspark import SparkContext

    from kgpipe_spark.session import _gc_conf

    _, _, cache = _launch_env(tmp_path, monkeypatch)
    today = _gc_conf("local[2]")[DRIVER]
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.setenv(var, str(tmp_path / "site-conf"))
        before = dict(os.environ)
        assert _launched(monkeypatch) == (today, before, before)
        monkeypatch.delenv(var)
    # a real file among the templates, e.g. a spark-defaults.conf
    (tmp_path / "spark" / "conf" / "spark-defaults.conf").write_text("spark.master local\n")
    before = dict(os.environ)
    assert _launched(monkeypatch) == (today, before, before)
    assert not cache.exists()
    # a reused session's JVM is up: no archive work either
    os.remove(tmp_path / "spark" / "conf" / "spark-defaults.conf")
    monkeypatch.setattr(SparkContext, "_gateway", object())
    from pyspark.sql import SparkSession

    from kgpipe_spark.session import get_spark

    seen = {}
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: seen.update(b._options))
    get_spark(master="local[2]")
    assert seen[DRIVER] == today and not cache.exists()


_SESSION = """
import sys
from kgpipe_spark.session import get_spark
spark = get_spark(master="local[1]")
print(spark.range(1000).count())
gateway = spark.sparkContext._gateway
spark.stop()
gateway.shutdown()
gateway.proc.stdin.close()  # the JVM exits, and writes any archive, when its stdin closes
gateway.proc.wait(timeout=120)
"""


def test_second_session_maps_the_archive_the_first_one_wrote(tmp_path):
    """A session writes the archive as its JVM exits; the next one loads
    its classes from it; a zero-filled archive still lets a session start,
    and that session writes the archive anew."""
    import subprocess
    import sys

    import pytest

    from kgpipe_spark.session import _cds_launch, _dumped

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path), "SPARK_DRIVER_MEMORY": "1g"}
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    env.pop("PYSPARK_GATEWAY_PORT", None)
    if _cds_launch(env) is None:
        pytest.skip("a conf directory is set or used: sessions start without an archive")

    def session(**extra):
        done = subprocess.run(
            [sys.executable, "-c", _SESSION], env={**env, **extra}, cwd=root, capture_output=True, text=True
        )
        assert done.returncode == 0, done.stderr[-3000:]
        assert done.stdout.split()[0] == "1000"

    session()
    [archive] = (tmp_path / "kgpipe_spark").glob("*.jsa")
    assert _dumped(str(archive))
    logs = tmp_path / "logs"
    logs.mkdir()
    session(JAVA_TOOL_OPTIONS=f"-Xlog:class+load=info:file={logs}/cl-%p.log")
    shared = [
        sum("source: shared objects file (top)" in line for line in open(log))
        for log in logs.iterdir()  # the launcher's JVM logs too
    ]
    assert max(shared) > 1000, shared

    size = archive.stat().st_size
    archive.unlink()  # the JDK writes it read-only
    with open(archive, "wb") as f:
        f.truncate(size)  # all zeros, as a killed dump leaves it
    session()
    assert _dumped(str(archive))  # that session dumped over it
