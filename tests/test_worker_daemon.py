"""``worker_daemon``: Python workers import the installed pyspark, not
Spark's source archives, and only when the versions agree."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from ipes_data_pipeline_spark.worker_daemon import without_spark_archives


def test_worker_imports_installed_pyspark(spark):
    """A task's pyspark comes from a directory, and no zip importer is
    left for ``importlib.invalidate_caches()`` to re-read per task."""

    def _worker_imports(rows):
        import pyspark

        cache = sys.path_importer_cache.items()
        yield pyspark.__file__, [k for k, v in cache if type(v).__name__ == "zipimporter"]

    rdd = spark.sparkContext.parallelize([0], 1)
    [(pyspark_file, zips)] = rdd.mapPartitions(_worker_imports).collect()
    assert ".zip" not in pyspark_file and ".jar" not in pyspark_file
    assert zips == []


@pytest.mark.parametrize(
    "installed,dropped",
    [
        ({"pyspark": "4.1.2", "py4j": "0.10.9.9"}, True),
        ({"pyspark": "4.1.1", "py4j": "0.10.9.9"}, False),
        ({"pyspark": "4.1.2", "py4j": "0.10.9.7"}, False),
        ({}, False),
    ],
)
def test_archives_dropped_only_when_versions_match(tmp_path, installed, dropped):
    """On a fake ``sys.path`` laid out as Spark builds it (archives first,
    then site-packages), the archives go only when site-packages holds the
    pyspark and py4j versions the archives ship."""
    lib, site = tmp_path / "lib", tmp_path / "site"
    lib.mkdir()
    archives = [lib / "pyspark.zip", lib / "py4j-0.10.9.9-src.zip", lib / "spark-core_2.13.jar"]
    with zipfile.ZipFile(archives[0], "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__: str = '4.1.2'\n")
    with zipfile.ZipFile(archives[1], "w") as z:
        z.writestr("py4j/version.py", "__version__ = '0.10.9.9'\n")
    zipfile.ZipFile(archives[2], "w").close()
    for package, version in installed.items():
        (site / package).mkdir(parents=True)
        (site / package / "__init__.py").write_text("")
        (site / package / "version.py").write_text(f"__version__ = '{version}'\n")
    path = [str(tmp_path / "work")] + [str(a) for a in archives] + [str(site)]
    kept = [str(tmp_path / "work"), str(site)] if dropped else path
    assert without_spark_archives(path) == kept


def test_daemon_module_imports_without_pyspark(spark, tmp_path):
    """Spark starts the daemon as ``python -m``, which imports the package
    first, so neither may load pyspark. With only the PYTHONPATH the
    session hands its workers, the import works from any cwd."""
    code = "import sys, ipes_data_pipeline_spark.worker_daemon; print('pyspark' in sys.modules)"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path, capture_output=True, text=True, check=True,
        env={**os.environ, "PYTHONPATH": spark.sparkContext.environment["PYTHONPATH"]},
    )
    assert out.stdout.strip() == "False"
