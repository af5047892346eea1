"""Hierarchical-IVF sizing derivations: the Python functions
(``ivf_n_cells`` / ``ivf_super_factor`` / ``ivf_nprobe``) and the
generated SQL scalar subqueries must agree for every corpus size — a
desync would silently hand Spark and the DuckDB oracle different
hierarchies or probe sets (the fuzzy_block_len / lsh_dedup_planes
lesson). The SQL is generated from the same constants; this test pins
the derivations equal across the power-of-two boundaries, the
decade-jump MOD boundaries, and the actual fixture/gen-tier sizes.

Also pins the two semantics invariants the round-9 re-plan relies on:
(a) every graded/sweep tier up to 30x stays BELOW the hierarchy gate
(f = 1 -> exact argmin, bit-identical to history), and (b) the
fold-based flat assignment equals the historical min(struct) aggregate
value-for-value (checked at sf0.001 here; sf0.01/sf0.1 were checked
before landing).
"""

from __future__ import annotations

import duckdb
import pytest

from rust_etl_spark.operators.similarity import (
    _IVF_MAX_SUPER_FACTOR,
    _IVF_N_CELLS_SQL,
    _IVF_NPROBE_SQL,
    _IVF_SUPER_FACTOR_SQL,
    IVF_HIER_MIN_CELLS,
    IVF_NPROBE,
    ivf_mod,
    ivf_n_cells,
    ivf_nprobe,
    ivf_super_factor,
)


def _sql_scalar(expr: str, n_vectors: int) -> int:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM range({n_vectors})")
    return con.execute(f"SELECT {expr}").fetchone()[0]


#: corpus sizes around every boundary that can flip MOD, the super
#: factor, or nprobe, plus the fixture/gen-tier sizes in use.
BOUNDARIES = sorted(
    {1, 2, 99, 100, 101, 500, 2_000, 9_999, 10_000, 10_001, 20_000, 60_000}
    | {200_000, 10**6, 10**6 + 1, 10**8, 10**10}
    # n around the hierarchy gate: gate is on CELLS, cells step with n
    | {m * IVF_HIER_MIN_CELLS + d for m in (100, 1000) for d in (-101, -100, -1, 0, 1, 100)}
    # power-of-two super-factor boundaries expressed in cells * mod
    | {f * f * 1000 + d for f in (8, 16, 32, 64) for d in (-1, 0, 1)}
)


@pytest.mark.parametrize("n", BOUNDARIES)
def test_python_and_sql_derivations_agree(n: int) -> None:
    mod = ivf_mod(n)
    cells = ivf_n_cells(n, mod)
    assert cells == _sql_scalar(_IVF_N_CELLS_SQL, n)
    assert ivf_super_factor(cells) == _sql_scalar(_IVF_SUPER_FACTOR_SQL, n)
    assert ivf_nprobe(cells) == _sql_scalar(_IVF_NPROBE_SQL, n)


def test_tier_values_pinned() -> None:
    """The tiers actually exercised: graded + sweep tiers stay exact
    (f = 1, nprobe unchanged at 4 -> bit-identical to rounds 1-8);
    only the 100x gen tier goes hierarchical."""
    for n, want_cells, want_f, want_np in [
        (500, 5, 1, 4),        # sf0.001 / sf0.01 (graded)
        (2_000, 20, 1, 4),     # sf0.1 (bench + sweep)
        (20_000, 20, 1, 4),    # gen_sf1 (10x)
        (60_000, 60, 1, 12),   # gen_sf3 (30x) — nprobe scales, f still 1
        (200_000, 200, 16, 40),  # gen_sf10 (100x) — hierarchical
    ]:
        cells = ivf_n_cells(n, ivf_mod(n))
        assert cells == want_cells, (n, cells)
        assert ivf_super_factor(cells) == want_f, (n, cells)
        assert ivf_nprobe(cells) == want_np, (n, cells)


def test_derivation_shape() -> None:
    # super factor: 1 below the gate, then monotone ~sqrt(cells),
    # capped; nprobe holds probed fraction >= 1/5 with the old floor.
    assert ivf_super_factor(IVF_HIER_MIN_CELLS - 1) == 1
    assert ivf_super_factor(IVF_HIER_MIN_CELLS) == 8
    fs = [ivf_super_factor(c) for c in range(1, 5000, 7)]
    assert fs == sorted(fs)
    for cells in (64, 100, 1000, 10**6, 10**9):
        f = ivf_super_factor(cells)
        assert f <= _IVF_MAX_SUPER_FACTOR
        if f < _IVF_MAX_SUPER_FACTOR:
            assert f * f >= cells  # children-per-super stays <= f
        assert ivf_nprobe(cells) >= max(IVF_NPROBE, cells // 5)


def test_flat_fold_equals_historical_min_struct(spark) -> None:
    """The numpy exact assignment (f = 1 path) must reproduce the
    historical broadcast-join + min(struct(dist, cid)) aggregate
    value-for-value — same (dist, cid) tie-break. The expected side
    uses l2sq (portable floor rounding), which the round-12 numpy
    kernel mirrors bit-for-bit by construction; the legacy F.round
    form agreed with it on every fixture value (verified at sf0.01 /
    sf0.1 / gen tiers before the migration)."""
    from pyspark.sql import functions as F

    from rust_etl_spark.functions.vectors import l2sq, to_double_array
    from rust_etl_spark.operators.similarity import ivf_assignments
    from rust_etl_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    mod = ivf_mod(emb.count())
    cent = emb.filter(F.col("vec_id") % mod == 0).select(
        F.col("vec_id").alias("cid"), to_double_array("embedding").alias("cvec")
    )
    hist = (
        emb.select("vec_id", to_double_array("embedding").alias("v"))
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", l2sq(F.col("v"), F.col("cvec")).alias("dist"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"), F.col("m.dist").alias("dist"))
    )
    want = {r["vec_id"]: (r["cid"], r["dist"]) for r in hist.collect()}
    got = {
        r["vec_id"]: (r["cid"], r["dist"])
        for r in ivf_assignments(spark, emb, mod).collect()
    }
    assert got == want
