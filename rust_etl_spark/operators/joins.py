"""Join strategy helpers: salted join for skewed keys.

AQE's skew-join split handles most skew at runtime, but a *planned*
salted join is still the tool when one key dominates so heavily that
even split shuffle blocks overload a task (classic at 100 TB: a null
or default key holding >1% of a fact table).

Shape: the build (small/dimension) side is replicated ``n_salts``
times with an explicit salt column; the probe (fact) side gets a
deterministic salt from a uniform hash of a high-cardinality column,
spreading each hot key across ``n_salts`` reducers. Result set is
identical to the plain equi-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: str,
    *,
    n_salts: int = 8,
    probe_salt_source: str | Column,
) -> DataFrame:
    """Inner equi-join ``probe.on == build.on`` with the hot-key shuffle
    spread over ``n_salts`` sub-keys (inner only: the build side is
    replicated per salt, so an unmatched build row would repeat).

    ``probe_salt_source`` must be a high-cardinality probe column (row
    id, line number) — the salt is ``pmod(xxhash64(col), n_salts)``,
    deterministic so retries/speculative tasks agree.
    """
    src = F.col(probe_salt_source) if isinstance(probe_salt_source, str) else probe_salt_source
    salted_probe = probe.withColumn("__salt", F.pmod(F.xxhash64(src), F.lit(n_salts)).cast("int"))
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("__salt")
    salted_build = build.select("*", salts)
    out = salted_probe.join(salted_build, [on, "__salt"])
    return out.drop("__salt")
