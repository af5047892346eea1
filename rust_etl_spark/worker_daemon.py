"""Daemon of the engine's Python workers: imports pyspark from the installed package.

The JVM starts the Python daemon (``python -m <spark.python.daemon.module>``)
with ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and the
spark-core jar first on ``PYTHONPATH``. Each task then calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and CPython 3.11 re-parses the whole directory of every archive that has a
``zipimporter`` in ``sys.path_importer_cache``: about 0.15 s per task
before the kernel starts.

``get_spark`` names this module as the daemon. When the installed
``pyspark`` is the same release as the one in ``pyspark.zip`` (equal
``version.py``) and ``py4j`` is importable without its zip, the daemon
drops those archives from ``sys.path`` and their importers from the
cache, then runs ``pyspark.daemon``; its forked workers inherit the
path. Otherwise it changes nothing, and the workers import from the
archives as a stock daemon's do. Other entries, such as a user's own
zip, are always kept.
"""

from __future__ import annotations

import fnmatch
import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return name == "pyspark.zip" or fnmatch.fnmatch(name, "py4j-*-src.zip") or name.endswith(".jar")


def _archived_version(archive: str) -> bytes | None:
    try:
        with zipfile.ZipFile(archive) as z:
            return z.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _installed_version(path: list[str]) -> bytes | None:
    """``version.py`` of the package directory that ``import pyspark``
    finds on ``path``, or None when there is none (or it is in a zip)."""
    spec = PathFinder.find_spec("pyspark", path)
    if spec is None or spec.origin is None:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            return f.read()
    except OSError:
        return None


def installed_path(path: list[str], importer_cache: dict) -> tuple[list[str], list[str]]:
    """(new ``sys.path``, ``sys.path_importer_cache`` keys to delete).

    Without the Spark archives when the installed ``pyspark`` matches the
    archived one and ``py4j`` imports without its zip; else ``path``
    unchanged and no keys."""
    archives = [p for p in path if _spark_archive(p)]
    zips = [p for p in archives if os.path.basename(p) == "pyspark.zip"]
    bundled = _archived_version(zips[0]) if zips else None
    rest = [p for p in path if p not in archives]
    if (bundled is None or _installed_version(rest) != bundled
            or PathFinder.find_spec("py4j", rest) is None):
        return list(path), []
    under = tuple(a + os.sep for a in archives)
    stale = [k for k in importer_cache if k in archives or k.startswith(under)]
    return rest, stale


def main() -> None:
    sys.path[:], stale = installed_path(sys.path, sys.path_importer_cache)
    for key in stale:
        del sys.path_importer_cache[key]
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
