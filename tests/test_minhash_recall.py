"""MinHash-LSH recall characterization: the shipped (K, band_rows)
operating point must keep candidate recall near the 1-(1-s^r)^b theory
value at the tau=0.8 operating point. Measured on the deterministic
planted-pair corpus (the driver fixture's ~30-word vocabulary makes
tau=0.8 ground truth degenerate there — see MINHASH_RECALL_TABLE notes
in operators/dedup.py)."""

from __future__ import annotations

from rust_etl_spark.operators.dedup import (
    MINHASH_BAND_ROWS,
    MINHASH_K,
    MINHASH_RECALL_TABLE,
    exact_jaccard_pairs_df,
    minhash_recall,
    recall_corpus,
)

RECALL_FLOOR = 0.95  # shipped setting: theory 0.9832, measured 0.9867


def test_recall_corpus_is_exactly_the_planted_truth(spark):
    """Ground truth on the planted corpus is exactly the 150 planted
    pairs — no accidental near-dups between unrelated draws (expected
    unrelated-pair Jaccard ~0.02, far below tau)."""
    docs = recall_corpus(spark)
    truth = exact_jaccard_pairs_df(docs, 0.8)
    got = sorted((r["doc_a"], r["doc_b"]) for r in truth.collect())
    assert got == [(2 * i, 2 * i + 1) for i in range(150)]


def test_shipped_setting_meets_recall_floor(spark):
    docs = recall_corpus(spark).cache()
    measured = minhash_recall(docs)
    assert measured >= RECALL_FLOOR

    # ...and the documented table row for the shipped setting is honest.
    row = next(
        r for r in MINHASH_RECALL_TABLE if r[:2] == (MINHASH_K, MINHASH_BAND_ROWS)
    )
    assert abs(row[3] - measured) < 0.02


def test_recall_table_theory_column_is_the_formula():
    """The 'theory' column must be 1-(1-s^r)^b at s=0.8, b=k/r."""
    for k, r, theory, _measured in MINHASH_RECALL_TABLE:
        assert abs(theory - (1 - (1 - 0.8**r) ** (k // r))) < 5e-5
