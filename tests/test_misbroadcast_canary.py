"""Gate-resident misbroadcast canary.

Round 11's `scripts/misbroadcast_audit.py` caught two real scale bugs
(dedup_minhash_verified broadcasting raw document token arrays;
decontaminate broadcasting one row per training doc), but it only ran
by hand at the gen_sf10 tier — a net that fires once per round, after
the code already shipped. This test runs the SAME classifier
(imported, not forked) over every graded + bench plan at fixture
scale on every `verify_round.sh`, so a new raw fact broadcast — or a
dropped shuffle_hash hint re-exposing an old one — fails pytest the
day it is written, not at the next manual 100x sweep.

Static plans, not executed ones: the pathology class is Catalyst's
STATIC size estimate of a pruned fact projection sitting under the
broadcast threshold, which is visible (and at fixture scale MOST
visible, since everything is small) without running the query. The
executed-plan deep audit at gen_sf10 remains the round-close check
for AQE-runtime conversions.

Allowlists, not zero-tolerance: at sf0.001 some fact tables are
GENUINELY tiny, so Catalyst's size-based broadcast of them is the
correct plan at that scale — those queries are enumerated below with
the reason each is safe at 100 TB (each verified non-raw in the
committed gen_sf10 MISBROADCAST_AUDIT.json, raw=0). A NEW entry of
either class fails with an "adjudicate me" message; adjudication
means writing the family reason in the allowlist entry here, never
just appending the name.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from misbroadcast_audit import graded_and_bench_names, sweep  # noqa: E402

SF = "/root/testdata/sf0.001"

#: Queries whose fixture-scale plan broadcasts a RAW fact projection
#: because the fact is genuinely tiny at sf0.001 — the documented
#: broadcast-threshold crossover family: Catalyst flips these to
#: shuffle joins as the estimate
#: grows, verified raw=0 in the committed gen_sf10 audit, and the
#: bucketed orderkey layout is the measured 100 TB answer.
RAW_OK_AT_FIXTURE_SCALE = {
    "join_star": "orders side under threshold at sf0.001; SMJ at gen_sf10 (crossover family)",
    "q3_shipping_priority": "same orders crossover family",
    # q9_product_profit RETIRED round 15: the narrow-projection re-plan
    # hints shuffle_hash on the lineitem side, so the orders join can
    # never broadcast even at fixture scale.
    "q10_returned_items": "same orders crossover family",
    "q18_large_volume": "same orders crossover family",
    # q21_sole_late_supplier RETIRED round 16: the two-aggregate
    # re-plan hints shuffle_hash on the orders side, so the flagged-
    # pipeline join can never broadcast even at fixture scale.
    # dedup_embedding_lsh RETIRED round 15: the grouped numpy-kernel
    # re-plan has no joins at all (one bucket exchange + mapInPandas),
    # so nothing can broadcast.
}

#: Queries with a REDUCED fact broadcast (filtered/aggregated before
#: the exchange) — legitimate whenever the reduction is sublinear in
#: corpus size; each entry's value names its family and why it is
#: bounded. Fixture-only members beyond the gen_sf10 record's
#: 17 are the crossover family again (their dim-filtered fact side
#: also fits under the threshold at sf0.001).
REDUCED_OK = {
    # single-query-vector selections — bounded at 1 row by construction
    "similarity_topk": "query vector (1 row)",
    "similarity_ann_lsh": "query vector (1 row)",
    "similarity_ann_ivf": "query vector + sqrt(N) centroids",
    # bounded-domain aggregates (day/type/value-bucket grids)
    "events_zscore": "per-day-of-week grid (7 rows/type)",
    "events_anomaly_mad": "per-type day grid (bounded by date span)",
    "events_seasonal_decompose": "day-of-week seasonal grid",
    # events_rolling_distinct RETIRED round 16: the sweep-line re-plan
    # has no join at all (one user_id collect_set exchange + day-grain
    # prefix sum), so nothing can broadcast.
    "window_range_frame": "value-bucket dimension (bounded bucket domain)",
    # sublinear codebooks / vocabularies (kmeans_iterate retired in
    # round 12: the numpy assignment kernel ships the codebook in the
    # mapInPandas closure — no broadcast exchange remains in its plan)
    "text_tfidf": "token-type vocabulary (Heaps-law sublinear)",
    "lm_quality_score": "LM vocabulary fold (Heaps-law)",
    "lm_bigram_score": "bigram LM fold (Heaps-law)",
    # documented corpus-index / benchmark-side cases (decontaminate
    # retired in round 13: the eval-shingle broadcast was the measured
    # 100x wall — 5.6M strings, corpus-scaling in this synthetic — and
    # is now a per-task shuffle_hash build; no broadcast remains)
    "dedup_against_corpus": "stored band index; docstring names the pre-bucketed scale path",
    # dedup_segments RETIRED round 15: the window-on-fp re-plan has no
    # join (one fp exchange, lag+sum windows), so nothing can broadcast.
    # per-user aggregates — flips to shuffle as estimates grow; the
    # measured scale answer is the bucketed user_id layout
    "events_funnel": "per-user aggregate (bucketed layout: 9 -> 0 exchanges)",
    # crossover family members whose fixture plan shows the broadcast
    # as reduced (dim-filtered) rather than raw
    "q5_local_supplier": "orders crossover family (date-filtered)",
    "q13_customer_distribution": "orders crossover family (comment-filtered)",
}

_ALL_OK = set(RAW_OK_AT_FIXTURE_SCALE) | set(REDUCED_OK)


def test_no_unadjudicated_fact_broadcasts(spark):
    rows = sweep(spark, SF, graded_and_bench_names(), execute=False, verbose=False)
    errors = [r for r in rows if "error" in r]
    assert not errors, errors

    raw = {r["query"] for r in rows if r.get("raw_fact_broadcasts")}
    reduced = {
        r["query"]
        for r in rows
        if r.get("fact_broadcasts") and not r.get("raw_fact_broadcasts")
    }

    new_raw = raw - set(RAW_OK_AT_FIXTURE_SCALE)
    new_reduced = reduced - _ALL_OK
    assert not new_raw, (
        f"NEW raw fact broadcast(s) {sorted(new_raw)}: a BroadcastExchange "
        "builds the raw rows of a corpus-scaling table — the round-11 "
        "events_range_join pathology. Re-plan with a shuffle_hash hint on "
        "the bounded side (see CLAUDE.md), or, if the fact side is "
        "genuinely bounded, adjudicate it in RAW_OK_AT_FIXTURE_SCALE with "
        "the reason and a gen_sf10 audit run."
    )
    assert not new_reduced, (
        f"NEW reduced fact broadcast(s) {sorted(new_reduced)}: filtered or "
        "aggregated before the exchange, but a filter is only safe if its "
        "selectivity tracks corpus growth sublinearly (round 11's "
        "decontaminate had a 75%-pass filter classified 'reduced'). "
        "Adjudicate the family in REDUCED_OK with the reason its side "
        "stays bounded, or re-plan."
    )

    # Drift guard in the other direction: entries that no longer flag
    # should be retired so the allowlist stays an inventory, not a pile.
    stale = _ALL_OK - raw - reduced
    assert not stale, f"allowlist entries no longer flagged — retire them: {sorted(stale)}"
