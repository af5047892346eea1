"""Value bounds for the physical-layout operators (operators/layout.py).

``zorder_order`` is oracle-checked in test_oracle_parity; here we pin
the properties the oracle cannot express:

- the Z-value is a bijection on the interleaved bit range (no two
  distinct key pairs collide), which is what makes sorting by it a
  faithful 2-D clustering;
- ``bloom_prefilter`` never drops a true match (false negatives are
  structurally impossible) and its false-positive rate stays under the
  design ceiling at the sweep scale.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rust_etl_spark.operators.layout import (
    BLOOM_BITS,
    BLOOM_K,
    Z_BITS,
    bloom_prefilter,
)
from rust_etl_spark.sinks import zorder_key

#: Design fp ceiling: with n keys and m=BLOOM_BITS, k=BLOOM_K,
#: fp ~ (1 - e^(-k*n/m))^k. At the sf0.1 sweep n≈4000 -> ~2.3%;
#: 5% leaves noise headroom without weakening the claim.
FP_CEILING = 0.05


def test_zorder_key_is_injective_on_key_pairs(spark):
    """Distinct (a, b) pairs must map to distinct z-values — the curve
    is a bijection, so z-sorting loses no clustering information."""
    n = 64  # exhaustive 64x64 grid = 4096 pairs
    grid = (
        spark.range(n)
        .select(F.col("id").alias("a"))
        .crossJoin(spark.range(n).select(F.col("id").alias("b")))
    )
    z = grid.select(zorder_key(F.col("a"), F.col("b"), bits=Z_BITS).alias("z"))
    assert z.distinct().count() == n * n


def test_zorder_key_rejects_bits_past_31(spark):
    """bits=32 would put bit 31 of the b-side spread on the long sign
    bit; the guard is a ValueError, so it survives ``python -O``."""
    with pytest.raises(ValueError, match="sign bit"):
        zorder_key(F.col("a"), F.col("b"), bits=32)


def test_zorder_key_locality(spark):
    """Aligned blocks of 4^k consecutive z-values cover exactly a
    2^k x 2^k cell — the property that keeps BOTH dims' min/max spans
    narrow per file when a writer cuts the sorted curve into chunks.
    Verified exhaustively on a 32x32 grid for k=1 and k=2."""
    n = 32
    cells: dict[tuple[int, int], list[tuple[int, int]]] = {}
    for a in range(n):
        for b in range(n):
            z = 0
            for j in range(16):
                z |= ((a >> j) & 1) << (2 * j)
                z |= ((b >> j) & 1) << (2 * j + 1)
            for k in (1, 2):
                cells.setdefault((k, z // (4**k)), []).append((a, b))
    for (k, _), pts in cells.items():
        side = 2**k
        assert len(pts) == side * side
        avals = [p[0] for p in pts]
        bvals = [p[1] for p in pts]
        assert max(avals) - min(avals) == side - 1
        assert max(bvals) - min(bvals) == side - 1


def test_bloom_prefilter_bounds(spark, sf_dir):
    """Zero false negatives (hard), fp rate under the design ceiling."""
    row = bloom_prefilter(spark, sf_dir).collect()[0]
    assert row.n_false_neg == 0, "bloom dropped a true match — impossible unless the mask is wrong"
    assert row.n_candidates >= row.n_exact_hits
    non_matches = row.n_probe - row.n_exact_hits
    if non_matches:
        assert row.n_false_pos / non_matches <= FP_CEILING, (
            f"fp rate {row.n_false_pos}/{non_matches} exceeds {FP_CEILING} "
            f"(m={BLOOM_BITS}, k={BLOOM_K})"
        )


def test_bloom_probe_plan_has_no_join_or_shuffle_before_agg(spark, sf_dir):
    """The probe side must filter locally against the literal mask:
    scan -> project/filter -> partial agg, with the only join being the
    evidence-row exact check (broadcast)."""
    df = bloom_prefilter(spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastHashJoin" in plan, "exact-evidence join must be broadcast"
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan, (
        "bloom probe must not shuffle the fact table"
    )


def test_skyline_grid_prune_is_effective(spark, sf_dir):
    """Phase-1 grid prune must discard the bulk of the table before the
    distinct-price window runs — that is the claim that makes the
    unpartitioned phase-2 window safe at scale."""
    from rust_etl_spark.plans.advanced_agg import skyline_candidates
    from rust_etl_spark.sources import load_table

    n_cand = skyline_candidates(spark, sf_dir).count()
    n_total = load_table(spark, sf_dir, "part").count()
    assert n_cand <= n_total / 4, f"prune kept {n_cand}/{n_total}"
