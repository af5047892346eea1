"""Python workers import the engine when a script runs outside the checkout.

``embedding_pca_project`` and ``kmeans_lloyd`` run Python-worker jobs
while their DataFrame is built. The child below runs from a temporary
directory with no ``PYTHONPATH``, so its workers can import
``rust_etl_spark`` only through what ``get_spark`` exports before it
launches the JVM. One ``mapInPandas`` task of the same child reports
where its worker imported ``pyspark`` from and which ``zipimporter``
objects it holds: with the engine's worker daemon, none (see
``rust_etl_spark/worker_daemon.py``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from rust_etl_spark.plans import catalog
from rust_etl_spark.session import get_spark

spark = get_spark("worker-import-test", extra_conf={"spark.sql.shuffle.partitions": "2"})
report = {n: catalog.get(n).fn(spark, sys.argv[2]).count()
          for n in ("embedding_pca_project", "kmeans_lloyd")}


def imports(batches):
    import zipimport
    import pandas as pd
    import pyspark
    for _ in batches:
        pass
    zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
    yield pd.DataFrame({"report": [json.dumps({"pyspark": pyspark.__file__, "zipimporters": zips})]})


row = spark.range(1, numPartitions=1).mapInPandas(imports, "report string").first()
report["worker"] = json.loads(row.report)
print(json.dumps(report))
"""


@pytest.fixture(scope="module")
def report(tmp_path_factory):
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_CONF_DIR")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    done = subprocess.run([sys.executable, "-c", CHILD, ROOT, SF_SMOKE], env=env,
                          cwd=tmp_path_factory.mktemp("outside"),
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    assert done.returncode == 0, done.stderr[-3000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


def test_engine_udfs_run_from_outside_the_checkout(report):
    assert report["embedding_pca_project"] > 0 and report["kmeans_lloyd"] > 0


def test_workers_import_pyspark_from_the_installed_package(report):
    worker = report["worker"]
    assert not any(part.endswith((".zip", ".jar")) for part in worker["pyspark"].split(os.sep))
    assert worker["zipimporters"] == []
