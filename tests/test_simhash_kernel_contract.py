"""Executable pins for the dedup_simhash numpy kernel contract.

The round-15 optimization moved the 32-bit SimHash fold from a
Catalyst ``aggregate``+``zip_with``+``bit_get`` expression (32 lambda
evaluations and a fresh 32-element array allocation per TOKEN) into a
mapInPandas numpy kernel (`dedup.py::_simhash_batches`) — 2.94 -> 1.57 s
min-of-3 at the 100x tier, outputs verified exceptAll-equal both ways
over all 500k rows before shipping. The swap is oracle-bit-identical
because everything is int64: per bit j the signed SimHash counter is
``2*ones_j - T`` (ones_j = count of tokens with bit j set), so the
Catalyst condition ``counter > 0`` is exactly ``2*ones_j > T``. These
tests make that identity — and the segment bookkeeping around
np.add.reduceat — fail at pytest cost instead of at a big-tier hash
mismatch.

The reference implementation is a deliberately scalar Python fold:
semantically the old Catalyst expression, token by token, bit by bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from rust_etl_spark.operators.dedup import SIMHASH_BITS, _simhash_batches


def _scalar_simhash(token_hashes) -> int:
    """Token-by-token mirror of the retired Catalyst fold."""
    counts = [0] * SIMHASH_BITS
    for h in token_hashes:
        for j in range(SIMHASH_BITS):
            counts[j] += ((int(h) >> j) & 1) * 2 - 1
    sig = 0
    for j in range(SIMHASH_BITS):
        if counts[j] > 0:
            sig |= 1 << j
    return sig


def _run_kernel(rows):
    """rows: list of (doc_id, [token_hash, ...]) — one pandas batch."""
    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "th": [np.asarray(r[1], dtype=np.int64) for r in rows],
        }
    )
    out = list(_simhash_batches()([pdf]))
    assert len(out) <= 1
    return dict(zip(out[0]["doc_id"], out[0]["simhash"])) if out else {}


def test_matches_scalar_reference_on_random_docs():
    rng = np.random.default_rng(7)
    rows = []
    for doc_id in range(50):
        n = int(rng.integers(1, 40))
        # 60-bit non-negative hashes, the md5_long60 range
        th = rng.integers(0, 1 << 60, size=n, dtype=np.int64)
        rows.append((doc_id, th))
    got = _run_kernel(rows)
    assert len(got) == 50
    for doc_id, th in rows:
        assert got[doc_id] == _scalar_simhash(th), f"doc {doc_id}"


def test_tie_bits_are_zero():
    # Two tokens with complementary bit j values give counter == 0:
    # the Catalyst form's `when(c > 0, ...)` leaves the bit UNSET.
    # 2*ones == T must not set the bit (strict >, not >=).
    th = [0b01, 0b10]  # bit0: one of two -> tie; bit1: one of two -> tie
    got = _run_kernel([(1, th)])
    assert got[1] == 0


def test_single_token_doc_is_its_own_masked_hash():
    h = (1 << 60) - 12345
    got = _run_kernel([(9, [h])])
    assert got[9] == h & ((1 << SIMHASH_BITS) - 1)


def test_majority_sets_bit():
    # three tokens, bit 5 set in two of them -> counter +1 -> set
    th = [1 << 5, 1 << 5, 0]
    got = _run_kernel([(3, th)])
    assert got[3] == 1 << 5


def test_empty_batch_skipped_and_multi_batch_independent():
    empty = pd.DataFrame({"doc_id": [], "th": []})
    b1 = pd.DataFrame({"doc_id": [1], "th": [np.asarray([3], dtype=np.int64)]})
    b2 = pd.DataFrame({"doc_id": [2], "th": [np.asarray([5], dtype=np.int64)]})
    out = list(_simhash_batches()([empty, b1, b2]))
    assert len(out) == 2
    got = {}
    for o in out:
        got.update(zip(o["doc_id"], o["simhash"]))
    assert got == {1: 3, 2: 5}


def test_segment_bookkeeping_multiple_docs_one_batch():
    # reduceat segment boundaries: doc lengths 1, 3, 2 in one batch
    rows = [
        (10, [7]),
        (11, [1, 1, 2]),
        (12, [4, 4]),
    ]
    got = _run_kernel(rows)
    assert got[10] == _scalar_simhash([7])
    assert got[11] == _scalar_simhash([1, 1, 2])
    assert got[12] == _scalar_simhash([4, 4])


def test_empty_th_segment_asserts_instead_of_corrupting():
    # ADVICE r15: np.add.reduceat on a zero-length segment silently
    # returns flat[start] — the NEXT doc's first hash — i.e. a wrong
    # signature, not an error. The kernel must hard-fail so a caller
    # that drops the size(t) > 0 filter can't ship corrupt output.
    import pytest

    rows = [
        (1, np.asarray([7], dtype=np.int64)),
        (2, np.asarray([], dtype=np.int64)),
        (3, np.asarray([5], dtype=np.int64)),
    ]
    pdf = pd.DataFrame({"doc_id": [r[0] for r in rows], "th": [r[1] for r in rows]})
    with pytest.raises(ValueError, match="empty th segment"):
        list(_simhash_batches()([pdf]))


def test_output_dtypes_are_int64():
    out = list(_simhash_batches()([pd.DataFrame({"doc_id": [1], "th": [np.asarray([2], np.int64)]})]))[0]
    assert out["doc_id"].dtype == np.int64
    assert out["simhash"].dtype == np.int64
