"""Spark's Python worker daemon, importing the installed pyspark.

Spark starts every Python worker daemon with ``pyspark.zip``, the py4j
source zip and the spark-core jar ahead of site-packages on
``sys.path``. On CPython 3.11 and 3.12 that costs twice: the daemon
compiles PySpark from the zip's ``.py`` files (it ships no ``.pyc``),
and every task's ``importlib.invalidate_caches()`` re-reads the central
directory of each cached zip importer. :func:`session.get_session` runs
this module as ``spark.python.daemon.module``. Before it imports
:mod:`pyspark.daemon` it drops those archives from ``sys.path`` and
their importers from ``sys.path_importer_cache``, but only when the
interpreter has the same pyspark (``__version__`` of the zip's
``pyspark/version.py``) and the same py4j (the version in the zip's
file name) installed. Otherwise it changes nothing, so a worker never
runs Python code that differs from what the JVM ships.

Measured and rejected: keeping the zip imports and only skipping the
re-read of unchanged archives moved ``llm_curation`` ``wall_s`` by just
-2.4 % (7/10 pairs, seeds 701-710); the per-daemon compile stayed.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile
from importlib.machinery import PathFinder

_VERSION = re.compile(r"__version__[^=]*=\s*['\"]([^'\"]+)['\"]")
_PY4J_ZIP = re.compile(r"py4j-(.+)-src\.zip")


def _version(text: str) -> str | None:
    found = _VERSION.search(text)
    return found and found.group(1)


def _shipped_version(archive: str) -> str | None:
    """``__version__`` in ``pyspark/version.py`` inside ``archive``."""
    try:
        with zipfile.ZipFile(archive) as z:
            return _version(z.read("pyspark/version.py").decode())
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(package: str, path: list[str]) -> str | None:
    """``__version__`` of ``package`` as ``path`` would import it."""
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.submodule_search_locations:
        return None
    version_py = os.path.join(spec.submodule_search_locations[0], "version.py")
    try:
        with open(version_py, encoding="utf-8") as f:
            return _version(f.read())
    except OSError:
        return None


def without_spark_archives(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when the interpreter installs the
    pyspark and py4j versions they ship, else ``path`` unchanged."""
    archives = [e for e in path if os.path.isfile(e) and (
        e.endswith((os.sep + "pyspark.zip", ".jar")) or _PY4J_ZIP.fullmatch(os.path.basename(e)))]
    rest = [e for e in path if e not in archives]
    for archive in archives:
        if archive.endswith("pyspark.zip"):
            package, shipped = "pyspark", _shipped_version(archive)
        elif py4j := _PY4J_ZIP.fullmatch(os.path.basename(archive)):
            package, shipped = "py4j", py4j.group(1)
        else:
            continue
        if shipped is None or _installed_version(package, rest) != shipped:
            return path
    return rest


if __name__ == "__main__":
    kept = without_spark_archives(sys.path)
    dropped = tuple(set(sys.path) - set(kept))
    for key in [k for k in sys.path_importer_cache if k.startswith(dropped)]:
        del sys.path_importer_cache[key]
    sys.path[:] = kept

    from pyspark import daemon

    daemon.manager()
