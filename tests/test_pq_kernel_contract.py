"""Executable pins for the PQ numpy kernel's bit-parity contract.

The round-11 Catalyst-fold -> numpy swap (similarity.py
`_pq_subspace_scan`) is oracle-bit-identical only because of three
conventions that, until this file, lived in a docstring: (1) the
per-dimension accumulation is an explicit left-associated loop of
numpy adds, never ``np.sum`` (whose 8-accumulator pairwise reduction
reassociates and can flip ulp-tied argmins); (2) ``argmin`` returns
the FIRST minimum, matching the oracle's ``min(k)`` over
equal-minimum codes; (3) derived floats round via the floor-based
``round_half_up`` mirror ``np.floor(x * 1e6 + 0.5) / 1e6``. A
well-meaning refactor or a numpy behavior change could break any of
them in a way only a big-tier ulp-tied input reveals — these tests
make each convention fail at pytest cost instead.

Every planted value below is chosen so each IEEE step is EXACT or has
a single known rounding, so the expected outputs are derivable by
hand (powers of two throughout: squaring 2^-27 gives 2^-54 exactly;
1.0 + 2^-54 rounds to 1.0; 1.0 + 2^-52 is exact at one ulp).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from rust_etl_spark.operators.similarity import (
    PQ_K,
    PQ_M,
    PQ_SUBDIM,
    _pq_adc_batches,
    _pq_anchors,
    _pq_batch_matrix,
    _pq_encode_batches,
    _pq_subspace_scan,
)

DIMS = PQ_M * PQ_SUBDIM


def _codebook(far: float = 2.0) -> np.ndarray:
    """A (K, DIMS) float64 codebook where every anchor sits `far` away
    from the origin in every coordinate — distance PQ_SUBDIM * far^2
    per subspace, exact in IEEE for power-of-two `far`."""
    return np.full((PQ_K, DIMS), far, dtype=np.float64)


def test_ties_go_to_the_lowest_code():
    """Two anchors at EXACTLY equal distance: the kernel must emit the
    lower code (numpy first-min == the oracle's min(k) tie-break)."""
    for m in (0, PQ_M - 1):
        C = _codebook()
        lo, hi = 3, 7
        # x = 0; anchors at +/- 0.5 in one in-subspace coordinate:
        # identical squared distance, bit for bit.
        C[lo] = 0.0
        C[hi] = 0.0
        C[lo, m * PQ_SUBDIM] = 0.5
        C[hi, m * PQ_SUBDIM] = -0.5
        X = np.zeros((1, DIMS), dtype=np.float64)
        codes, mins = _pq_subspace_scan(X, C, m)
        assert codes[0] == lo, (m, codes)
        assert mins[0] == 0.25


def test_left_associated_accumulation_not_np_sum():
    """An input where np.sum's pairwise reduction yields a DIFFERENT
    total than the left-associated loop — and where that difference
    flips the argmin. Anchor A's 8 squared terms are
    [1.0, 2^-54 x 7]: left-associated, every tail add is a quarter-ulp
    absorption, total exactly 1.0. Anchor B's terms are
    [1.0, 2^-52, 0 x 6]: total exactly 1 + 2^-52 under ANY order.
    With B at a LOWER index than A, left-association picks A (strictly
    smaller); a pairwise reduction inflates A to >= B and first-min
    flips to B."""
    m = 0
    A, B = 4, 1
    tiny = 2.0 ** -27  # squares to 2^-54 exactly
    one_ulp = 2.0 ** -26  # squares to 2^-52 exactly
    C = _codebook()
    C[A] = 0.0
    C[B] = 0.0
    C[A, 0] = 1.0
    C[A, 1:PQ_SUBDIM] = tiny
    C[B, 0] = 1.0
    C[B, 1] = one_ulp
    X = np.zeros((1, DIMS), dtype=np.float64)

    # The fixture must actually discriminate: prove np.sum reassociates
    # on A's terms. If a numpy release changes its reduction order and
    # this assert fires, the fixture lost its power — rebuild it, don't
    # delete it.
    terms_a = np.array([1.0] + [2.0 ** -54] * (PQ_SUBDIM - 1))
    left = 0.0
    for t in terms_a:
        left = left + t if left else t
    assert left == 1.0
    assert np.sum(terms_a) > 1.0, "np.sum no longer reassociates this input"

    codes, mins = _pq_subspace_scan(X, C, m)
    assert codes[0] == A, (
        f"argmin flipped to {codes[0]} — the accumulation is no longer "
        "the left-associated loop (np.sum-style reassociation inflates "
        "anchor A's absorbed tail terms and hands the tie to B)"
    )
    assert mins[0] == 1.0


def test_rounding_mirror_matches_round_half_up(spark):
    """The kernels' ``np.floor(x * 1e6 + 0.5) / 1e6`` must equal
    ``functions.rounding.round_half_up`` (the oracle-side contract)
    bit for bit on boundary values — including inputs where plain
    round() diverges across engines."""
    from pyspark.sql import functions as F

    from rust_etl_spark.functions.rounding import round_half_up

    vals = [(2 * k + 1) / 2e6 for k in range(0, 2000, 37)]  # exact .5 boundaries
    vals += [0.49824999999999997, 0.4982500000000001, 1.0000004999999999]
    vals += [k * (2.0 ** -20) for k in range(1, 400, 17)]  # dyadic non-boundaries
    arr = np.array(vals, dtype=np.float64)
    ours = np.floor(arr * 1e6 + 0.5) / 1e6

    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    theirs = np.array(
        [r["y"] for r in df.select(round_half_up(F.col("x"), 6).alias("y")).collect()],
        dtype=np.float64,
    )
    assert np.array_equal(ours.view(np.uint64), theirs.view(np.uint64))


def _fake_batch(n: int) -> pd.DataFrame:
    rng = [np.arange(DIMS, dtype=np.float32) + i for i in range(n)]
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": rng})


def test_batch_matrix_is_bit_identical_to_per_row_loop():
    pdf = _fake_batch(7)
    old = np.asarray(
        [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]], dtype=np.float64
    )
    new = _pq_batch_matrix(pdf)
    assert np.array_equal(old.view(np.uint64), new.view(np.uint64))


@pytest.mark.parametrize("factory", ["encode", "adc"])
def test_empty_arrow_batches_are_skipped(factory):
    """An upstream filter/repartition can hand mapInPandas an empty
    batch; np.vstack / the (0,) subspace slice must never see it."""
    C = _codebook()
    if factory == "encode":
        fn = _pq_encode_batches(C)
    else:
        grid = np.ones((PQ_M, PQ_K), dtype=np.float64)
        fn = _pq_adc_batches(C, grid)
    empty = _fake_batch(0)
    out = list(fn(iter([empty, _fake_batch(3), empty])))
    assert len(out) == 1 and len(out[0]) == 3


def test_incomplete_anchor_codebook_raises(spark):
    """Fewer than PQ_K anchor rows (vec_id < PQ_K) must fail loudly — a
    short codebook would silently shift every code — with a ValueError,
    so the guard survives ``python -O``."""
    emb = spark.createDataFrame(
        [(i, [0.0] * DIMS) for i in range(PQ_K - 1)], "vec_id bigint, embedding array<float>"
    )
    with pytest.raises(ValueError, match="anchor codebook incomplete"):
        _pq_anchors(emb)
