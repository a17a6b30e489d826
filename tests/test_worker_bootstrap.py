"""Python workers of a local session import the installed pyspark, not
SPARK_HOME's pyspark.zip (corenlp_spark/worker_daemon.py)."""

import glob
import os
import subprocess
import sys
import zipfile

import pytest

from corenlp_spark.worker_daemon import worker_path


def test_local_workers_import_installed_pyspark(spark):
    home = os.environ.get("SPARK_HOME")
    archives = sorted(glob.glob(os.path.join(home, "python", "lib", "*.zip"))) if home else []
    jvm_path = archives + sys.path
    if worker_path(jvm_path, home) == jvm_path:
        pytest.skip("SPARK_HOME unset or no installed pyspark/py4j matching its zips")

    def probe(batches):
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        zips = sorted(k for k, v in sys.path_importer_cache.items()
                      if isinstance(v, zipimport.zipimporter))
        yield pd.DataFrame({"file": [pyspark.__file__], "zips": [zips]})

    row = spark.range(1).mapInPandas(probe, "file string, zips array<string>").first()
    assert not os.path.realpath(row.file).startswith(os.path.realpath(home) + os.sep), row.file
    assert row.zips == []


def _fake_install(root, pyspark_version, py4j_version):
    for pkg, version in (("pyspark", pyspark_version), ("py4j", py4j_version)):
        os.makedirs(os.path.join(root, pkg))
        open(os.path.join(root, pkg, "__init__.py"), "w").close()
        with open(os.path.join(root, pkg, "version.py"), "w") as f:
            f.write(f"__version__: str = '{version}'\n")


def test_worker_path_rule(tmp_path):
    real_home = tmp_path / "spark-4.1.2"
    lib = real_home / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/version.py", '__version__: str = "4.1.2"\n')
    (lib / "py4j-0.10.9.9-src.zip").write_bytes(b"")
    (real_home / "jars").mkdir()
    jar = str(real_home / "jars" / "spark-core_2.13-4.1.2.jar")
    home = tmp_path / "spark"
    home.symlink_to(real_home)
    # the JVM's order: zips under the symlinked home, the jar already resolved
    archives = [str(home / "python/lib/pyspark.zip"),
                str(home / "python/lib/py4j-0.10.9.9-src.zip"), jar]

    site = str(tmp_path / "site")
    _fake_install(site, "4.1.2", "0.10.9.9")
    other_zip = str(tmp_path / "other.zip")
    path = ["", *archives, other_zip, site]
    assert worker_path(path, str(home)) == ["", other_zip, site]

    mismatched = str(tmp_path / "mismatched")
    _fake_install(mismatched, "4.0.0", "0.10.9.9")
    old_py4j = str(tmp_path / "old_py4j")
    _fake_install(old_py4j, "4.1.2", "0.10.9.7")
    missing = str(tmp_path / "missing")
    for p in ([*archives, mismatched], [*archives, old_py4j], [*archives, missing]):
        assert worker_path(p, str(home)) == p
    for unset in (None, ""):
        assert worker_path(path, unset) == path


def test_package_import_does_not_import_pyspark():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c",
         "import sys, corenlp_spark; print('pyspark' in sys.modules)"],
        cwd=repo, capture_output=True, text=True, timeout=60)
    assert r.returncode == 0, r.stderr
    assert r.stdout.strip() == "False"
