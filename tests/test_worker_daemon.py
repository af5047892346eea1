"""Which path the engine's Python-worker daemon keeps.

Offline, no Spark: ``worker_daemon.installed_path`` is a pure function of
``sys.path`` and the importer cache, tried here on fake archives and a
fake install under ``tmp_path``. The daemon drops ``pyspark.zip``, the
py4j source zip and jars (and their cached importers) only when the
installed ``pyspark`` has the same ``version.py`` and ``py4j`` imports
without its zip; any other case leaves both as they are.
"""

from __future__ import annotations

import zipfile

import pytest

from rust_etl_spark.worker_daemon import installed_path

VERSION = b'__version__: str = "4.1.2"\n'


def _zip(path, files: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _package(root, name: str, files: dict[str, bytes]) -> None:
    pkg = root / name
    pkg.mkdir(parents=True)
    for fname, data in {"__init__.py": b"", **files}.items():
        (pkg / fname).write_bytes(data)


@pytest.fixture
def host(tmp_path):
    """(path, importer cache) as a stock daemon sees them, with an
    installed ``pyspark`` of the archived version and ``py4j``."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    pyspark_zip = _zip(lib / "pyspark.zip",
                       {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION})
    py4j_zip = _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": b""})
    jar = _zip(tmp_path / "spark-core_2.13-4.1.2.jar", {"org/__init__.py": b""})
    deps = _zip(tmp_path / "deps.zip", {"mydeps/__init__.py": b""})
    site = tmp_path / "site-packages"
    _package(site, "pyspark", {"version.py": VERSION})
    _package(site, "py4j", {})
    path = [str(tmp_path), pyspark_zip, py4j_zip, jar, deps, str(site)]
    cache = {pyspark_zip: object(), f"{pyspark_zip}/pyspark": object(),
             f"{pyspark_zip}/pyspark/sql": object(), py4j_zip: object(),
             f"{py4j_zip}/py4j": object(), jar: object(), f"{jar}/org": object(),
             deps: object(), str(site): object()}
    return tmp_path, path, cache


def test_matching_install_strips_the_archives_and_their_importers(host):
    tmp_path, path, cache = host
    before = (list(path), dict(cache))
    new_path, stale = installed_path(path, cache)
    assert new_path == [str(tmp_path), str(tmp_path / "deps.zip"), str(tmp_path / "site-packages")]
    assert sorted(stale) == sorted(set(cache) - {str(tmp_path / "deps.zip"),
                                                 str(tmp_path / "site-packages")})
    assert (path, cache) == before


def _unchanged(path, cache):
    new_path, stale = installed_path(path, cache)
    assert new_path == path and stale == []


def test_version_mismatch_keeps_the_archives(host):
    tmp_path, path, cache = host
    (tmp_path / "site-packages" / "pyspark" / "version.py").write_bytes(b'__version__ = "4.0.0"\n')
    _unchanged(path, cache)


def test_no_installed_pyspark_keeps_the_archives(host):
    tmp_path, path, cache = host
    for f in ("__init__.py", "version.py"):
        (tmp_path / "site-packages" / "pyspark" / f).unlink()
    (tmp_path / "site-packages" / "pyspark").rmdir()
    _unchanged(path, cache)


def test_pyspark_only_in_a_user_zip_keeps_the_archives(host):
    tmp_path, path, cache = host
    _zip(tmp_path / "deps.zip", {"pyspark/__init__.py": b"", "pyspark/version.py": VERSION})
    _unchanged(path, cache)


def test_py4j_only_in_its_zip_keeps_the_archives(host):
    tmp_path, path, cache = host
    (tmp_path / "site-packages" / "py4j" / "__init__.py").unlink()
    (tmp_path / "site-packages" / "py4j").rmdir()
    _unchanged(path, cache)


def test_no_pyspark_zip_changes_nothing(host):
    tmp_path, path, cache = host
    del path[1]
    _unchanged(path, cache)
