"""Every catalog query's optimized plan matches the committed lock.

``plan_lock.json`` maps each query to the ``catalog.fingerprint`` of
its optimized logical plan over the sf0.001 tier. The hashes do not
depend on the session or on ``SPARK_GRAFT_CPUS``, so a moved hash is a
moved plan: a dropped hint, a filter that no longer reaches the scan, a
changed join.

One wrinkle: Catalyst numbers the groups of a multi-distinct aggregate
in the hash order of their expression ids, so a query such as
``profile_table`` has two optimized forms, and which one a build gets
depends on how far the session's id counter has advanced. The lock
holds every form seen over ``REPS`` builds at different id offsets, and
the test rebuilds a query whose hash is not in the lock up to
``RETRIES`` times, each at a new offset, before naming it.

A change that moves plans on purpose regenerates the lock from the
repo root and names the moved queries in ``CHANGES.md``:

    python -m tests.test_plan_lock
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from rust_etl_spark.plans import catalog
from tests.conftest import SF_SMOKE as SF

LOCK = Path(__file__).with_name("plan_lock.json")
REPS = 4
RETRIES = 8


def _shift_ids(spark, width: int) -> None:
    """Advance the session's expression-id counter by ``width``."""
    spark.range(1).select(*[F.lit(0).alias(f"c{i}") for i in range(width)])._jdf.queryExecution().analyzed()


def _unmatched(spark, name: str, allowed: list[str]) -> str | None:
    """None if a build of ``name`` hashes into ``allowed``, else the
    last hash seen."""
    for _ in range(RETRIES + 1):
        got = catalog.fingerprint(catalog.get(name).fn(spark, SF))
        if got in allowed:
            return None
        _shift_ids(spark, 1009)
    return got


def test_optimized_plans_match_the_lock(spark):
    lock = json.loads(LOCK.read_text())
    if lock["spark_version"] != spark.version:
        pytest.skip(f"lock is of Spark {lock['spark_version']}, session runs {spark.version}")
    # A DataFrame an earlier test cached would stand in for its query's plan.
    spark.catalog.clearCache()
    want = lock["plans"]
    moved = [f"  {n}: no longer in the catalog" for n in sorted(want.keys() - set(catalog.queries()))]
    for name in catalog.queries():
        got = _unmatched(spark, name, want.get(name, []))
        if got is not None:
            moved.append(f"  {name}: {got} not in {want.get(name, [])}")
    assert not moved, (
        f"{len(moved)} optimized plans moved from {LOCK.name} "
        "(regenerate with `python -m tests.test_plan_lock` if intended):\n" + "\n".join(moved)
    )


if __name__ == "__main__":
    from rust_etl_spark.session import get_spark

    spark = get_spark("plan-lock", extra_conf={"spark.sql.shuffle.partitions": "8"})
    seen: dict[str, set[str]] = {}
    for rep in range(REPS):
        _shift_ids(spark, 1009 * rep)
        for name, fn in catalog.queries().items():
            seen.setdefault(name, set()).add(catalog.fingerprint(fn(spark, SF)))
    plans = {name: sorted(hashes) for name, hashes in seen.items()}
    lock = {"spark_version": spark.version, "tier": os.path.basename(SF), "plans": plans}
    LOCK.write_text(json.dumps(lock, indent=1) + "\n")
    print(f"wrote {len(plans)} queries to {LOCK}; more than one form: "
          f"{sorted(n for n, h in plans.items() if len(h) > 1)}")
