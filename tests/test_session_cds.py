"""The driver JVM's class-data-sharing (CDS) archive: built once, mapped
after, and never in the way of a working start.

Each case starts a session in a subprocess with ``XDG_CACHE_HOME``
pointing at a temporary cache, so the host's own archive is untouched.
The module builds one archive (one recording start plus its dump at
exit, ~1 min) and each case restores that cache in place: the archive
records the path of the engine's conf directory, which lives in the
cache, so a copy elsewhere would not map.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

from rust_etl_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from rust_etl_spark.session import cds_active, get_spark

spark = get_spark("cds-test")
total = spark.range(1000).selectExpr("sum(id) AS s").collect()[0].s
jvm = spark._jvm
print(json.dumps({
    "sum": total,
    "cds": cds_active(spark),
    "vm_info": jvm.System.getProperty("java.vm.info"),
    "args": str(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "jvm_pid": SparkContext._gateway.proc.pid,
}))
"""


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/status") as f:
            return not any(line.startswith("State:") and "Z" in line for line in f)
    except OSError:
        return False


def _pids_naming(path: str) -> list[int]:
    """Live processes whose command line names ``path``: a JVM launched
    with a CDS option under it, or a dump child."""
    pids = []
    for d in glob.glob("/proc/[0-9]*"):
        try:
            with open(os.path.join(d, "cmdline"), "rb") as f:
                named = path.encode() in f.read()
        except OSError:
            continue
        if named and _alive(int(os.path.basename(d))):
            pids.append(int(os.path.basename(d)))
    return pids


def _start(cache: str, **env: str) -> dict:
    """Start a session in a subprocess with ``cache`` as XDG_CACHE_HOME;
    return its report, which must be the last line of its stdout, after
    checking that neither its JVM nor a dump outlived it."""
    child_env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    child_env.update(XDG_CACHE_HOME=cache, SPARK_GRAFT_DRIVER_MEM="1g", **env)
    done = subprocess.run([sys.executable, "-c", CHILD, ROOT], env=child_env, cwd=ROOT,
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)
    assert done.returncode == 0
    report = json.loads(done.stdout.strip().splitlines()[-1])
    assert report["sum"] == 499500
    assert not _alive(report["jvm_pid"])
    assert _pids_naming(cache) == []
    return report


def _cds_files(cache: str) -> dict[str, list[str]]:
    d = os.path.join(cache, "spark-graft", "cds")
    return {ext: sorted(glob.glob(os.path.join(d, f"*.{ext}"))) for ext in ("jsa", "classlist", "tmp")}


@pytest.fixture(scope="module")
def built(tmp_path_factory) -> tuple[str, dict, str]:
    """A cache holding one archive, the report of the start that
    recorded it, and a pristine copy of that cache."""
    cache = str(tmp_path_factory.mktemp("cds-built"))
    first = _start(cache)
    pristine = str(tmp_path_factory.mktemp("cds-pristine") / "cache")
    shutil.copytree(cache, pristine)
    return cache, first, pristine


def _restored(built) -> str:
    cache, _, pristine = built
    shutil.rmtree(cache)
    shutil.copytree(pristine, cache)
    return cache


def test_first_start_records_and_leaves_one_archive(built):
    cache, first, pristine = built
    assert "-XX:DumpLoadedClassList=" in first["args"]
    assert not first["cds"]
    files = _cds_files(pristine)
    assert len(files["jsa"]) == 1 and os.path.getsize(files["jsa"][0]) > 0
    assert files["classlist"] == [] and files["tmp"] == []


def test_next_start_maps_the_archive(built):
    cache = _restored(built)
    report = _start(cache)
    assert "-XX:SharedArchiveFile=" in report["args"]
    assert "sharing" in report["vm_info"]
    assert report["cds"]
    assert len(_cds_files(cache)["jsa"]) == 1


def test_truncated_archive_starts_and_is_deleted(built):
    cache = _restored(built)
    (archive,) = _cds_files(cache)["jsa"]
    os.chmod(archive, 0o644)
    with open(archive, "r+b") as f:
        f.truncate(4096)
    report = _start(cache)
    assert "-XX:SharedArchiveFile=" in report["args"]
    assert "sharing" not in report["vm_info"]
    assert not report["cds"]
    assert _cds_files(cache) == {"jsa": [], "classlist": [], "tmp": []}


def test_unwritable_cache_starts_without_cds(tmp_path):
    cache = tmp_path / "cache"
    cache.write_text("a regular file where the cache directory would be")
    report = _start(str(cache))
    assert "-XX:SharedArchiveFile=" not in report["args"]
    assert "-XX:DumpLoadedClassList=" not in report["args"]
    assert not report["cds"]


def test_live_conf_file_turns_cds_off(built, tmp_path):
    cache = _restored(built)
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.cds.probe true\n")
    report = _start(cache, SPARK_CONF_DIR=str(conf))
    assert "-XX:SharedArchiveFile=" not in report["args"]
    assert "-XX:DumpLoadedClassList=" not in report["args"]
    assert not report["cds"]


def test_non_empty_classpath_directory_dumps_nothing(tmp_path):
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "app.properties").write_text("")
    cache = str(tmp_path / "cache")
    report = _start(cache, SPARK_DIST_CLASSPATH=str(extra))
    assert "-XX:DumpLoadedClassList=" in report["args"]
    assert _cds_files(cache) == {"jsa": [], "classlist": [], "tmp": []}


def test_stock_conf_with_only_templates_is_replaced(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    stock = tmp_path / "spark" / "conf"
    stock.mkdir(parents=True)
    (stock / "spark-defaults.conf.template").write_text("")
    cds_dir = str(tmp_path / "cds")
    own = session._empty_conf_dir(str(tmp_path / "spark"), cds_dir)
    assert own == os.path.join(cds_dir, "conf") and os.listdir(own) == []
    (stock / "log4j2.properties").write_text("")
    assert session._empty_conf_dir(str(tmp_path / "spark"), cds_dir) is None
