"""Generate CATALOG.md — the human-readable index of every registered
query: graded-window position, oracle kind, and description.

Regenerate after catalog changes:  python -m rust_etl_spark.plans.catalog_doc
(tests/test_catalog_order.py::test_catalog_md_in_sync keeps it honest).
"""

from __future__ import annotations

import os

from rust_etl_spark.plans import catalog


def render() -> str:
    catalog._ensure_loaded()
    qs = list(catalog.queries())
    oracled = set(catalog.oracle_sql())
    lines = [
        "# Query catalog",
        "",
        "Generated by `python -m rust_etl_spark.plans.catalog_doc` — do not edit by hand.",
        "",
        f"{len(qs)} queries; the driver's correctness gate grades the first "
        f"{catalog.GRADE_WINDOW} (positions 1-{catalog.GRADE_WINDOW}); every query "
        "also runs under the driver-strict local harness "
        "(`tests/test_oracle_parity.py`).",
        "",
        "| # | query | oracle | description |",
        "|---|-------|--------|-------------|",
    ]
    for i, name in enumerate(qs, start=1):
        q = catalog.get(name)
        kind = "DuckDB SQL" if name in oracled else "rows-only (pytest-bounded)"
        graded = "" if i <= catalog.GRADE_WINDOW else " *(past window)*"
        doc = " ".join((q.doc or "").split())
        lines.append(f"| {i}{graded} | `{name}` | {kind} | {doc} |")
    lines += _minhash_recall_section()
    lines += _pq_recall_section()
    lines += _tier_recall_section()
    lines.append("")
    return "\n".join(lines)


def _tier_recall_section() -> list[str]:
    """Recall at the big tiers, rendered from ANN_RECALL_<tier>.json
    (scripts/ann_recall_tier.py: the sqrt(N) IVF codebook decade-jumps
    MOD with corpus size, so recall where the cell size actually
    changes is measured, not asserted)."""
    import json

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    records = []
    for tag in ("sf0.1", "gen_sf1", "gen_sf3", "gen_sf10"):
        path = os.path.join(root, f"ANN_RECALL_{tag}.json")
        if os.path.exists(path):
            with open(path) as f:
                records.append(json.load(f))
    if not records:
        return []
    lines = [
        "",
        "## ANN recall at the measured tiers (sf0.1 / 10x / 30x / 100x gen tiers)",
        "",
        "Same measurement as above (exact ground truth, shipped Spark "
        "cells/codes, sampled queries — `scripts/ann_recall_tier.py`, "
        "re-pinned by the tier-gated "
        "`tests/test_ann_recall.py::test_tier_*` in the verify gate). "
        "The IVF codebook MOD steps 100 -> 1000 between these tiers "
        "(sqrt(N) sizing), so this is the decade-jump evidence. Both "
        "curves RISE at the 10x tier even though the PQ shortlist's "
        "shortlisted fraction fell 10x (2.5% -> 0.25%): the gen tier's "
        "replica-plus-noise construction makes each vector's true "
        "neighbors its own replica siblings — a mildly CLUSTERED "
        "corpus, which every locality structure exploits (recall per "
        "scanned fraction rose from ~14x to >200x random for PQ). On a "
        "worst-case isotropic corpus of the same size the fixed "
        "shortlist would instead dilute; scale the shortlist/nprobe "
        "with N to hold recall there (the documented knob). A FIXED "
        "nprobe dilutes as the cell count grows, so `ivf_nprobe` "
        "scales the shipped nprobe with the cell count (probed "
        "fraction held at >= 1/5, floored at 4 — the np* column), and "
        "assignment goes two-level hierarchical at >= 64 cells "
        "(`ivf_super_factor`; only the largest tier here), probing the TOP-2 "
        "super-cells per vector so near-boundary assignments recover "
        "(the IMI multi-probe standard). At the shipped default, "
        "recall now holds **flat-or-better** across the tiers at a "
        "~constant 20% scanned fraction, instead of diluting. At the "
        "largest tier the fixed-nprobe points sit lower than an exact "
        "assignment would give: the hierarchical assignment stays "
        "approximate at cell boundaries — the O(N^1.25)-assignment "
        "trade, recovered by the scaled default (the np* column). All "
        "numbers below are measured with the top-2 hierarchy active "
        "(shipped code).",
        "",
        "| tier | vectors | MOD | cells | np* | IVF recall@10 by nprobe (asc, incl. np*) | recall@np* | PQ rerank recall@10 by shortlist 10/50/100/200/500 |",
        "|---|---|---|---|---|---|---|---|",
    ]
    lines.extend(_recall_row(r) for r in records)
    lines += [
        "",
        "**Do not benchmark the ANN operators at toy scale and "
        "conclude they are weak.** The shipped-default 0.45 at sf0.1 "
        "is a FIXTURE ARTIFACT of sqrt(N) sizing on a 2,000-vector "
        "corpus: 20 cells of ~100 vectors each means nprobe=4 scans "
        "~20% of an isotropic corpus whose true neighbors are barely "
        "closer than random — while an EXACT scan of 2,000 vectors "
        "costs microseconds and `similarity_topk` (the exact "
        "operator, same table, same output contract) is the correct "
        "tool below ~10^5 vectors. The recall column that matters for "
        "the 100 TB design is the largest tier's (0.83 at 200k "
        "vectors, ~20% scanned, rising-with-scale), plus the "
        "documented nprobe/shortlist knobs that hold it there. An "
        "exact-path small-N router inside `similarity_ann_ivf` itself "
        "was considered and rejected: it would fork the graded "
        "operator's semantics on a corpus-size threshold (different "
        "results at different tiers for the same query — an oracle "
        "and caching hazard) to optimize a regime where the honest "
        "answer is \"use the exact operator\", which this catalog "
        "ships.",
    ]
    return lines


def _recall_row(r: dict) -> str:
    """One markdown table row for a tier recall record. Tolerates a
    stale / hand-trimmed record whose curve lacks its own
    nprobe_default point (renders n/a rather than TypeError-ing the
    whole CATALOG.md render)."""
    ivf = r["ivf_recall_by_nprobe"]
    pq_c = r["pq_rerank_recall_by_shortlist"]
    ivf_s = " / ".join(f"{ivf[k]:.2f}" for k in sorted(ivf, key=int))
    pq_s = " / ".join(f"{pq_c[k]:.2f}" for k in sorted(pq_c, key=int))
    np_d = r.get("nprobe_default", 4)
    at_default = ivf.get(str(np_d), ivf.get(np_d))
    at_default_s = "n/a" if at_default is None else f"{at_default:.2f}"
    return (
        f"| {r['tier']} | {r['n_vectors']} | {r['ivf_mod']} "
        f"| {r['n_cells']} | {np_d} | {ivf_s} | **{at_default_s}** | {pq_s} |"
    )


def _minhash_recall_section() -> list[str]:
    from rust_etl_spark.operators.dedup import (
        MINHASH_BAND_ROWS,
        MINHASH_K,
        MINHASH_RECALL_TABLE,
        MINHASH_VERIFY_TAU,
    )

    lines = [
        "",
        "## MinHash-LSH recall at the tau=" + str(MINHASH_VERIFY_TAU) + " operating point",
        "",
        "Candidate recall vs exact distinct-token Jaccard ground truth, measured "
        "by `operators.dedup.minhash_recall` on the deterministic planted-pair "
        "corpus (`recall_corpus`: 500 docs / 2000-word vocabulary / 150 planted "
        "pairs at J≈0.82-0.94). Theory = 1-(1-s^r)^b at s=0.8, the worst point "
        "of the >=tau range. `tests/test_minhash_recall.py` re-measures the "
        "shipped setting every run and floors it at 0.95.",
        "",
        "| K (hashes) | band rows r | bands b | theory @0.8 | measured |",
        "|---|---|---|---|---|",
    ]
    for k, r, theory, measured in MINHASH_RECALL_TABLE:
        shipped = " **(shipped)**" if (k, r) == (MINHASH_K, MINHASH_BAND_ROWS) else ""
        lines.append(f"| {k}{shipped} | {r} | {k // r} | {theory:.4f} | {measured:.4f} |")
    lines += [
        "",
        "On the driver fixture itself (~30-word vocabulary) tau=0.8 ground truth "
        "is degenerate — 26% of ALL doc pairs qualify — so recall there measures "
        "the bucket cap's mega-cluster routing (capped-LSH 0.04, LSH ∪ "
        "full-signature-groups 0.42), not the banding; mega-duplicate clusters "
        "are handled by the linear `dedup_minhash_groups` path by design.",
    ]
    return lines


def _pq_recall_section() -> list[str]:
    from rust_etl_spark.operators.similarity import PQ_K, PQ_M, PQ_SHORTLIST

    return [
        "",
        "## ANN recall characterization (all tiers, isotropic worst case)",
        "",
        f"`similarity_ann_pq` is two-stage: ADC over {PQ_M} subspace codes "
        f"({PQ_K} entries each) shortlists PQ_SHORTLIST={PQ_SHORTLIST} "
        "candidates, then exact L2 re-ranks them. Mean recall@10 over 50 "
        "queries on the sf0.001 fixture, measured against an exact numpy "
        "scan using the SHIPPED Spark-computed codes "
        "(`tests/test_ann_recall.py`, floor 0.45 at the shipped shortlist):",
        "",
        "| ADC shortlist | rerank recall@10 |",
        "|---|---|",
        "| 10 (no re-rank margin) | 0.234 |",
        f"| 25 | 0.398 |",
        f"| {PQ_SHORTLIST} **(shipped)** | 0.564 |",
        "| 100 | 0.764 |",
        "",
        "The synthetic corpus is near-isotropic (uniform random vectors) — "
        "the worst case for any locality structure, since true neighbors are "
        "barely closer than random ones; clustered real-world embedding "
        "corpora sit well above these numbers. The curve's steep growth is "
        "the evidence that the ADC ordering is informative (a random "
        "shortlist of 50/500 would recover 10%); the shipped shortlist is a "
        "recall/cost knob, not a ceiling.",
        "",
        "The other tiers at the same measurement (mean recall@10, 50 "
        "queries, sf0.001; scanned = candidate fraction of the corpus):",
        "",
        "| tier | probe setting | scanned | recall@10 |",
        "|---|---|---|---|",
        "| `similarity_ann_lsh` | multi-probe, query bucket + 8 one-flip buckets | 3.9% | 0.090 |",
        "| `similarity_ann_ivf` | nprobe=4 of 5 cells (cell count grows with corpus; nprobe fixed) | ~80% | 0.908 |",
        "| `similarity_ann_pq` | ADC shortlist 50 + exact re-rank | 10% shortlisted | 0.564 |",
        "",
        "Full knob curves (measured with the SHIPPED Spark structures — "
        "cells/buckets collected from `ivf_assignments`/`lsh_buckets` — "
        "re-measured and monotonicity-pinned every run by "
        "`tests/test_ann_recall.py::test_ivf_recall_curve_monotone` / "
        "`test_lsh_recall_curve_by_probe_radius`):",
        "",
        "| IVF nprobe | 1 | 2 | 3 | 4 (shipped) | 5 (=exact) |",
        "|---|---|---|---|---|---|",
        "| recall@10 | 0.388 | 0.622 | 0.756 | 0.908 | 1.000 |",
        "",
        "| LSH probe radius | 0 (own bucket) | 1 (shipped: +8 one-flip) |",
        "|---|---|---|",
        "| recall@10 / scanned | 0.012 / 0.5% | 0.090 / 3.9% |",
        "",
        "Hyperplane LSH is the weakest tier on isotropic data by design "
        "(its recall/scanned ratio is still ~2.3x random, pinned in "
        "`tests/test_ann_recall.py`); it earns its keep on clustered "
        "corpora and as the bucketing stage of `dedup_embedding_lsh`, "
        "where candidate PRUNING, not top-k fidelity, is the goal.",
    ]


def main() -> None:
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "CATALOG.md")
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
