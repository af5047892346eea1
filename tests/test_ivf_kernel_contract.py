"""Executable pins for the IVF assignment numpy kernel (round 12).

`assign_to_cells` swapped its Catalyst struct-least folds for the
Arrow/numpy kernel `_ivf_l2sq_np` / `_ivf_assign_batches`
(operators/similarity.py) under the same three conventions the PQ
kernels pinned in tests/test_pq_kernel_contract.py: (1) explicit
left-associated per-dimension accumulation (never np.sum's pairwise
reduction); (2) argmin first-min over id-sorted axes == the oracle's
``ORDER BY dist, id`` tie-break; (3) floor-based round_half_up
rounding, bit-identical to the l2sq / l2sq_sql pair. Plus the
IVF-specific structural edges the fold form carried: the (cid=-1,
dist=inf) no-candidate pair and the empty-Arrow-batch skip.

One wrinkle vs the PQ contract: the IVF distances round to 6 digits
BEFORE the argmin, and a quarter-ulp reassociation around 1.0 is
invisible at that scale — so the np.sum discrimination fixture calls
the kernel at ndigits=16, where floor(x * 1e16 + 0.5) / 1e16
preserves one ulp at 1.0 (the 6-digit production path shares the
identical accumulation loop; only the final scale differs). All
planted values are dyadic so every IEEE step is exact: a coordinate
diff of 2^-27 squares to 2^-54 exactly, 1.0 + 2^-54 absorbs to 1.0,
and 1.0 + 2^-52 is exact at one ulp.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from rust_etl_spark.operators.similarity import (
    _ivf_assign_batches,
    _ivf_l2sq_np,
)

DIMS = 64


def _vec(**coords) -> np.ndarray:
    v = np.zeros(DIMS, dtype=np.float64)
    for k, val in coords.items():
        v[int(k[1:])] = val
    return v


def test_exact_ties_go_to_the_lowest_index():
    """Two centroids at bit-identical distance: argmin must take the
    lower index (= the lower cid on the sorted centroid axis)."""
    X = np.zeros((1, DIMS), dtype=np.float64)
    C = np.stack([_vec(d0=0.5), _vec(d0=-0.5), _vec(d0=2.0)])
    D = _ivf_l2sq_np(X, C)
    assert D[0, 0] == D[0, 1] == 0.25
    assert D[0].argmin() == 0


def test_left_associated_accumulation_not_np_sum():
    """Anchor A's squared terms are [1.0, 2^-54 x 63]: left-associated
    every tail add absorbs, total exactly 1.0. Anchor B (LOWER index)
    totals exactly 1 + 2^-52 under any order. At ndigits=16 the floor
    round preserves the ulp, so left-association picks A while a
    pairwise (np.sum-style) reduction inflates A into a tie with B and
    first-min flips to B."""
    tiny = 2.0 ** -27      # squares to 2^-54 exactly
    one_ulp = 2.0 ** -26   # squares to 2^-52 exactly
    B = _vec(d0=1.0, d1=one_ulp)           # index 0
    A = np.full(DIMS, tiny, dtype=np.float64)  # index 1
    A[0] = 1.0
    X = np.zeros((1, DIMS), dtype=np.float64)

    # The fixture must actually discriminate: prove np.sum reassociates
    # A's terms. If a numpy release changes its reduction order and this
    # fires, rebuild the fixture, don't delete it.
    terms_a = np.array([1.0] + [2.0 ** -54] * (DIMS - 1))
    left = 0.0
    for t in terms_a:
        left = left + t
    assert left == 1.0
    assert np.sum(terms_a) > 1.0, "np.sum no longer reassociates this input"

    D = _ivf_l2sq_np(X, np.stack([B, A]), ndigits=16)
    assert D[0, 1] == 1.0, (
        "anchor A's absorbed tail inflated — the accumulation is no "
        "longer the left-associated loop"
    )
    assert D[0].argmin() == 1, "argmin flipped to B (np.sum-style reassociation)"


def test_rounding_matches_l2sq_rhu_through_a_real_plan(spark):
    """The kernel's 6-digit floor round must equal the Spark-side
    l2sq column (the oracle's l2sq_sql mirror) bit for bit on
    the same vectors — including values that land on .5e-6 boundaries."""
    from pyspark.sql import functions as F

    from rust_etl_spark.functions.vectors import l2sq

    rng = np.random.default_rng(7)
    X = rng.normal(size=(64, 8)).round(3)
    # plant exact boundary distances: diff with square k.5e-6-adjacent
    X[0] = 0.0
    c = np.zeros(8)
    c[0] = np.sqrt(2.5e-6)  # irrational square root: squares near 2.5e-6
    rows = [(i, x.tolist(), c.tolist()) for i, x in enumerate(X)]
    df = spark.createDataFrame(rows, "i long, a array<double>, b array<double>")
    got_spark = {
        r["i"]: r["d"]
        for r in df.select("i", l2sq(F.col("a"), F.col("b")).alias("d")).collect()
    }
    D = _ivf_l2sq_np(X, c[None, :])
    for i in range(len(X)):
        assert np.float64(got_spark[i]).view(np.uint64) == D[i, 0].view(np.uint64), i


def _batch(n: int) -> pd.DataFrame:
    rng = np.random.default_rng(3)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "v": [rng.normal(size=DIMS) for _ in range(n)],
        }
    )


def test_empty_arrow_batches_are_skipped_and_keep_vec_passes_through():
    C_ids = np.array([0, 10], dtype=np.int64)
    C = np.stack([_vec(d0=0.5), _vec(d0=-0.5)])
    fn = _ivf_assign_batches(C_ids, C, None, None, None, keep_vec=True)
    out = list(fn(iter([_batch(0), _batch(3), _batch(0)])))
    assert len(out) == 1 and len(out[0]) == 3
    assert list(out[0].columns) == ["vec_id", "v", "cid", "dist"]
    assert np.array_equal(
        np.vstack(out[0]["v"].to_numpy()), np.vstack(_batch(3)["v"].to_numpy())
    )


def test_two_level_no_candidate_edge_yields_minus_one_inf():
    """If BOTH probed supers have no children, the fold's init pair
    (cid=-1, dist=inf) must come back — never a bogus argmin over an
    all-inf row. (Real corpora never hit this — the childless-super
    fixture in test_ivf_hier_parity pins that the second super's
    children always cover — but the kernel edge must stay total.)"""
    C_ids = np.array([0, 5], dtype=np.int64)
    C = np.stack([_vec(d0=1.0), _vec(d0=-1.0)])
    S_ids = C_ids.copy()
    S = C.copy()
    # adversarial child map: every centroid claims a sid that is NOT
    # a probed super id, so the allowed mask is all-False.
    child_sid = np.array([99, 99], dtype=np.int64)
    fn = _ivf_assign_batches(C_ids, C, S_ids, S, child_sid, keep_vec=False)
    out = list(fn(iter([_batch(2)])))[0]
    assert (out["cid"] == -1).all()
    assert np.isinf(out["dist"]).all()


def test_two_level_single_super_reselects_itself():
    """With one super, the masked second argmin re-selects it; the
    child union is unchanged and every vector still assigns exactly
    like the flat path restricted to that super's children."""
    C_ids = np.array([0, 7], dtype=np.int64)
    C = np.stack([_vec(d0=0.25), _vec(d0=-0.25)])
    S_ids = np.array([0], dtype=np.int64)
    S = C[:1]
    child_sid = np.array([0, 0], dtype=np.int64)  # both children of super 0
    fn = _ivf_assign_batches(C_ids, C, S_ids, S, child_sid, keep_vec=False)
    out = list(fn(iter([_batch(4)])))[0]
    flat = _ivf_l2sq_np(np.vstack(_batch(4)["v"].to_numpy()).astype(np.float64), C)
    assert np.array_equal(out["cid"].to_numpy(), C_ids[flat.argmin(axis=1)])
