"""Python workers import the engine when a script runs outside the checkout.

``embedding_pca_project`` and ``kmeans_lloyd`` run Python-worker jobs
while their DataFrame is built. The child below runs from a temporary
directory with no ``PYTHONPATH``, so its workers can import
``rust_etl_spark`` only through what ``get_spark`` exports before it
launches the JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
from rust_etl_spark.plans import catalog
from rust_etl_spark.session import get_spark

spark = get_spark("worker-import-test", shuffle_partitions=2)
print(json.dumps({n: catalog.get(n).fn(spark, sys.argv[2]).count()
                  for n in ("embedding_pca_project", "kmeans_lloyd")}))
"""


def test_engine_udfs_run_from_outside_the_checkout(tmp_path):
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_CONF_DIR")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    done = subprocess.run([sys.executable, "-c", CHILD, ROOT, SF_SMOKE], env=env, cwd=tmp_path,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    assert done.returncode == 0, done.stderr[-3000:]
    counts = json.loads(done.stdout.strip().splitlines()[-1])
    assert counts["embedding_pca_project"] > 0 and counts["kmeans_lloyd"] > 0
