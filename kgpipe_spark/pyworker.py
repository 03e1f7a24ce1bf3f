"""Python worker daemon that runs the installed pyspark, not ``$SPARK_HOME``'s zip.

The JVM starts each Python worker with ``$SPARK_HOME/python/lib/pyspark.zip``,
the py4j zip and the spark-core jar ahead of site-packages on ``sys.path``
(``PythonUtils.sparkPythonPath``). That costs twice: the zip holds no
bytecode, so the daemon and every forked worker compile pyspark from source,
and the ``importlib.invalidate_caches()`` before each task makes every cached
``zipimporter`` re-read its whole archive directory.

When this interpreter has the same pyspark and py4j installed, the daemon
drops those archives from ``sys.path`` and ``sys.path_importer_cache`` and
then runs ``pyspark.daemon.manager()``; forked workers inherit the cleaned
path. On any mismatch it changes nothing. ``session.get_spark`` selects it
with ``spark.python.daemon.module``. Nothing from pyspark is imported before
the path is cleaned.
"""

from __future__ import annotations

import importlib.metadata
import os
import re
import sys
import zipfile


def installed_version(dist: str) -> str | None:
    try:
        return importlib.metadata.version(dist)
    except importlib.metadata.PackageNotFoundError:
        return None


def zip_pyspark_version(pyspark_zip: str) -> str | None:
    """``__version__`` from the zip's ``pyspark/version.py``, read as text."""
    try:
        with zipfile.ZipFile(pyspark_zip) as z:
            text = z.read("pyspark/version.py").decode()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    m = re.search(r"__version__[^=]*=\s*['\"]([^'\"]+)['\"]", text)
    return m.group(1) if m else None


def drop_spark_home_archives(path, importer_cache, spark_home, installed=installed_version):
    """Remove every ``.zip``/``.jar`` under realpath(``spark_home``) from
    ``path`` and their keys from ``importer_cache``, if the archives'
    pyspark and py4j are the ``installed`` versions; else change nothing."""
    root = os.path.join(os.path.realpath(spark_home), "")
    archives = [
        p for p in path if p.endswith((".zip", ".jar")) and os.path.realpath(p).startswith(root)
    ]
    names = {os.path.basename(p): p for p in archives}
    pyspark, py4j = installed("pyspark"), installed("py4j")
    if (
        pyspark is None
        or "pyspark.zip" not in names
        or zip_pyspark_version(names["pyspark.zip"]) != pyspark
        or f"py4j-{py4j}-src.zip" not in names
    ):
        return
    path[:] = [p for p in path if p not in archives]
    for key in list(importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del importer_cache[key]


if __name__ == "__main__":
    if os.environ.get("SPARK_HOME"):
        drop_spark_home_archives(sys.path, sys.path_importer_cache, os.environ["SPARK_HOME"])
    from pyspark import daemon

    daemon.manager()
