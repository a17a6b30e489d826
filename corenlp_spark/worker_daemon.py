"""Python worker daemon that imports the installed pyspark, not SPARK_HOME's zip.

The JVM starts the worker daemon with SPARK_HOME's ``python/lib/pyspark.zip``,
its py4j zip and the spark-core jar ahead of PYTHONPATH, so forked workers
import pyspark from zip archives. PySpark calls ``importlib.invalidate_caches()``
at the start of every task (``pyspark/worker_util.py``). On Python 3.11 that
call makes every cached ``zipimporter`` re-read its archive's central directory,
and pyspark.zip has 1,328 entries: 130-390 ms of CPU per task, paid by every
``mapInPandas`` kernel.

When the installed pyspark and py4j have the archives' versions, this module
drops the archives from ``sys.path`` and clears ``sys.path_importer_cache``
before it imports ``pyspark.daemon``. Workers then import the same pyspark
and py4j as the driver, and the per-task call costs well under a millisecond.
Otherwise ``sys.path`` stays as the JVM set it.

``session.get_spark`` names this module as ``spark.python.daemon.module``; the
JVM runs it as ``python -m corenlp_spark.worker_daemon pyspark.worker``.
Importing ``corenlp_spark`` must therefore not import pyspark.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"""__version__[^=]*=\s*['"]([^'"]+)['"]""")
_PY4J_ZIP = re.compile(r"py4j-(.+)-src\.zip")


def _version_of(source: str) -> str | None:
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _zip_pyspark_version(archive: str) -> str | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return _version_of(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(package: str, path: list[str]) -> str | None:
    """``__version__`` of ``package``'s ``version.py`` as found on ``path``."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    version_py = os.path.join(spec.submodule_search_locations[0], "version.py")
    try:
        with open(version_py, encoding="utf-8") as f:
            return _version_of(f.read())
    except OSError:
        return None


def worker_path(path: list[str], spark_home: str | None) -> list[str]:
    """``path`` without the ``.zip``/``.jar`` entries under ``spark_home``.

    Returns ``path`` unchanged unless pyspark and py4j resolve from the
    remaining entries with the same versions as SPARK_HOME's pyspark.zip
    (its ``pyspark/version.py``) and py4j zip (the version in its name).
    Entries are compared by realpath, so a symlinked SPARK_HOME matches the
    resolved jar entry too.
    """
    if not spark_home:
        return path
    home = os.path.realpath(spark_home) + os.sep
    archives = {p for p in path
                if p.endswith((".zip", ".jar")) and os.path.realpath(p).startswith(home)}
    pyspark_version = py4j_version = None
    for p in archives:
        name = os.path.basename(p)
        if name == "pyspark.zip":
            pyspark_version = _zip_pyspark_version(p)
        elif m := _PY4J_ZIP.fullmatch(name):
            py4j_version = m.group(1)
    rest = [p for p in path if p not in archives]
    if (pyspark_version is None or py4j_version is None
            or _installed_version("pyspark", rest) != pyspark_version
            or _installed_version("py4j", rest) != py4j_version):
        return path
    return rest


if __name__ == "__main__":
    sys.path[:] = worker_path(sys.path, os.environ.get("SPARK_HOME"))
    # `python -m` already created zipimporters for the archives while it
    # looked this module up; they would still be re-read on every task.
    sys.path_importer_cache.clear()
    from pyspark.daemon import manager

    manager()
