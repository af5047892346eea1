"""Measured scaling curve: sf0.1 vs the generated 10x tier.

Reads the bench records (BENCH_sf0.1.json / BENCH_gen_sf1.json — full
per-query records as written by bench.py's BENCH_LOCAL.json, renamed)
and the scale-audit JSONs (SCALE_AUDIT.json / SCALE_AUDIT_gen_sf1.json)
and writes SCALING.md: per-query wall-time and shuffle-byte ratios at
10x the rows. Near-linear means wall ratio <= ~12x and shuffle ratio
<= ~12x; anything above is flagged as the re-plan work queue. The
other sections render the committed tier, audit, bucketed-layout,
curation and streaming records. ``render()`` reads only files in the
repo, so tests/test_scaling_report_guards.py checks that SCALING.md
is exactly its output.

This report describes one set of records; it does not compare runs.
Before/after timing goes through perfbench (``perfbench/run.py``
interleaved on one host, then ``perfbench/compare.py``, which refuses
records from different hosts).

Run after:
    python scripts/gen_scale_tier.py
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench.py
        && cp BENCH_LOCAL.json BENCH_sf0.1.json
    SPARK_GRAFT_SF_DIR=/root/repo/gen_sf1 python bench.py
        && cp BENCH_LOCAL.json BENCH_gen_sf1.json
    python scripts/scale_audit.py
    SPARK_GRAFT_SF_DIR=/root/repo/gen_sf1 python scripts/scale_audit.py
    python scripts/scaling_report.py
"""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WALL_FLAG = 12.0  #: wall ratio above this at 10x rows = super-linear
SHUFFLE_FLAG = 12.0
#: a shuffle-ratio flag needs materiality: kilobyte-scale top-k merges
#: and rollups can grow 20x (fixed per-partition overhead, candidate
#: sets) while staying irrelevant; only flag when the 10x tier moves
#: real bytes.
SHUFFLE_FLOOR_MB = 5.0

#: Investigated flags that are measurement artifacts, not defects: the
#: note must cite evidence (plan-shape comparison, absolute asymptote).
#: A flagged query WITHOUT a note is the open re-plan queue.
FLAG_NOTES = {
    "q18_large_volume": (
        "identical plan at both tiers (2 BHJ, 3 Exchange; verified via "
        "executedPlan); the shuffle is the l_orderkey partial-aggregate "
        "output, and at sf0.1 a handful of mappers see the key-clustered "
        "lineitem once each so map-side combine collapses to near the "
        "key count — an under-counting baseline. The 10x tier's 28 MB "
        "is 0.24x its input: the linear asymptote."
    ),
    "q10_returned_items": (
        "round-13 re-plan aggregates BEFORE joining (order grain ahead "
        "of the orderkey join, customer grain ahead of the customer "
        "join — 6.63 -> 4.05 s at 100x); the remaining shuffles are "
        "the per-order partial-aggregate output and the orderkey join, "
        "both linear in rows, and the custkey exchange is one skinny "
        "row per customer. Same partial-agg-efficacy baseline artifact "
        "as q18 at the small tier."
    ),
    "events_rolling_distinct": (
        "identical plan at both tiers (5 Exchange); 8.9 MB at 10x is "
        "~0.55x the events input — the sliding-window distinct state, "
        "linear; the 14x ratio comes from a sub-linear sf0.1 baseline."
    ),
    "q3_shipping_priority": (
        "the round-15 dims-first re-plan (semi-prune orders by the "
        "BUILDING segment before the fact exchange, pre-aggregate "
        "lineitem per orderkey) cut the 100x shuffle 601 -> 197 MB "
        "(3.1x); the flagged ratio is the q18 small-tier baseline "
        "artifact — at sf0.1 map-side combine on the key-clustered "
        "lineitem collapses the per-order partial-agg output to near "
        "the key count (1.6 MB), while across the gen tiers growth is "
        "linear in rows (11.7 -> 29.9 -> 62.8 -> 196.6 MB for "
        "3/10/30/100x). Zero spill at every tier; the 100 TB answer "
        "for the remaining orderkey exchange is the bucketed layout "
        "(BUCKETED_BENCH.json)."
    ),
    "join_star": (
        "same round-15 re-plan family and same small-tier baseline "
        "artifact as q3: the ASIA restriction now flows dims-first so "
        "orders is pruned ~5x before any fact exchange, and lineitem "
        "partially aggregates per orderkey ahead of its only exchange "
        "— 100x shuffle 1009 -> 376 MB (2.7x), wall 8.18 -> 5.06 s in "
        "the audit context. Gen-tier growth 20.4 -> 47.9 -> 90.6 -> "
        "375.7 MB for 3/10/30/100x tracks rows (the last step adds "
        "the orders<->customer broadcast-threshold crossover, the "
        "adjudicated self-correcting family); sf0.1's 2.1 MB baseline "
        "under-counts for the same map-side-combine reason. Zero "
        "spill; forced-broadcast exposure removed (the per-order side "
        "is hinted shuffle_hash, plan-locked)."
    ),
}

#: Investigation notes for each extra tier's "worst single query" line
#: (VERDICT r9 #2: the 10x flag notes had this discipline; the other
#: tiers' worst queries were named but never investigated). Keyed by
#: (tier label, query); rendered under the tier line.
MID_TIER_WORST_NOTES = {
    ("3x", "q13_customer_distribution"): (
        "2.7x wall for 3x rows — sub-linear; worst at this tier only "
        "because everything else is flatter. Plan previously "
        "adjudicated in the q3 crossover family note (dim joins step "
        "across the broadcast threshold; wall <= 2.5-2.7x for 3.3x "
        "rows, zero spill). Closed."
    ),
    ("100x", "fuzzy_blocked_match"): (
        "9.8x wall for 100x rows — sub-linear, same query and same "
        "mechanism as the 30x note below: the scale-aware "
        "fuzzy_block_len key (L=4 at this tier) holds block occupancy "
        "while the corpus grows 100x. Closed."
    ),
    ("3x", "fuzzy_blocked_match"): (
        "1.8x wall for 3x rows — sub-linear; worst at this tier only "
        "because everything else is flatter (fixed-overhead-dominated "
        "sub-second baselines). Same query carries the 30x note below "
        "(the L=3 -> 4 block-key step). Closed."
    ),
    ("100x", "events_ewma"): (
        "18.6x wall for 100x rows on the chain record — the cold-page-"
        "cache artifact, diagnosed to mechanism: idle 11.2 s reproduces "
        "at a healthy CPU anchor, one sequential warm scan of "
        "events.parquet drops it to 3.19 s = 2.9x for 100x rows, "
        "sub-linear. The plan is untouched integer-weight window "
        "folds; the record stays as measured because the chain cannot "
        "control what the host evicts. Closed (mechanism identified, "
        "warm-cache value sub-linear)."
    ),
    ("100x", "decontaminate"): (
        "round-13 worst-query profiling attributed the 9-10 s wall to "
        "the eval-shingle BROADCAST (5.6M distinct strings — the "
        "synthetic's doc_id%4 eval split scales with the corpus — "
        "collected, hash-built once, probed 18.7M times), NOT the "
        "tokenize passes (ev 2.2 s + n_total 1.5 s + bare explode "
        "1.6 s of the total); the eval join is now shuffle_hash with "
        "ev as per-task build: committed chain record 6.06 s "
        "(min-of-3, spread 1.3) vs 9.16 in r12 — 1.5x. The "
        "distributed build trades the old plan's CPU-bound steadiness "
        "for a ~1 GB shuffle write, which EXPOSES the query to this "
        "VM's intermittent host-I/O windows: 9 idle runs measured "
        "[5.5-6.6] steady with spikes to 10-21 s, and one chain slot "
        "recorded a sustained window (21.2 s min-of-3, spread 10.5) "
        "that the >50%-regression protocol re-ran to the clean value. "
        "On a cluster the shuffle crosses dedicated disks/network and "
        "the broadcast alternative is a driver OOM, so the shuffle "
        "plan is still the right 100 TB posture. exceptAll = 0, no "
        "BroadcastHashJoin left in the plan (lock tightened). "
        "Rejected by measurement: single-pass left-join form (13.9 s), "
        "xxhash64/md5 pre-hash keys. Documented lever for a "
        "genuinely-bounded eval side: runtime bloom filter (5.19 s, "
        "77% of train shingle rows miss) — a session conf. The "
        "round-10 window->in-row-size() trade remains as shipped "
        "(495 MB shuffle eliminated). Closed (re-planned, measured)."
    ),
    ("3x", "pii_pseudonymize"): (
        "2.2x wall for 3x rows — SUB-linear; worst only because every "
        "other query at this tier is flatter (fixed-overhead-dominated "
        "sub-second baselines). At 30x the same query is 1.1x. Closed."
    ),
    ("30x", "fuzzy_blocked_match"): (
        "6.6-6.9x wall across rounds for 30x rows — sub-linear, and this tier is where "
        "`fuzzy_block_len` steps L=3 -> 4 so block occupancy resets; "
        "the scale-aware key is doing its job. Closed."
    ),
    ("100x", "events_range_join"): (
        "20.2x wall for 100x rows — sub-linear endpoint-to-endpoint, "
        "and the endpoint ratio overstates it: the sf0.1 baseline is "
        "sub-second fixed-overhead. Round 10 flipped the two-bucket "
        "candidate expansion from the FOLLOW side (2N generated rows — "
        "the 100 TB side) onto the filtered SIGNUP side (exact integer "
        "semantics, value parity verified; 15.4 -> 4.9 s at 100x). "
        "Round 11 then MEASURED the join-regime story the round-10 "
        "note only asserted, and found the assertion's premise wrong: "
        "the unhinted BroadcastHashJoin was building the FOLLOW-side "
        "projection (BuildRight in the executedPlan — the side that "
        "grows with the corpus; the note claimed the signup side "
        "broadcast), a single-threaded ~20M-row hash build costing "
        "5.34 s min-of-3 at 100x. The shipped form now hints "
        "shuffle_hash on the signup side — 1.70 s, with the spill-safe "
        "SortMergeJoin fallback measured at par (1.74 s, identical "
        "212 MB shuffle) — all regimes in RANGE_JOIN_REGIMES.json. "
        "Closed (re-planned twice, both measured)."
    ),
}


def _load(name: str) -> dict | None:
    path = os.path.join(ROOT, name)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


#: extra curve points beyond the flagged sf0.1->10x pair: (label,
#: multiplier, bench json, audit json) — sections render only for the
#: files that exist.
EXTRA_TIERS = [
    ("3x", 3, "BENCH_gen_sf0.3.json", "SCALE_AUDIT_gen_sf0.3.json"),
    ("30x", 30, "BENCH_gen_sf3.json", "SCALE_AUDIT_gen_sf3.json"),
    # 100x is a FULL run (headline + extended) — regen_scale_evidence.sh
    # runs the whole set there, and it's the extended coverage at this
    # tier that caught the round-8 LSH quadratic. Headline-only remains
    # an env-flag option (SPARK_GRAFT_BENCH_HEADLINE_ONLY) for quick
    # re-measures; the renderers below skip extended_total=0 records.
    ("100x", 100, "BENCH_gen_sf10.json", "SCALE_AUDIT_gen_sf10.json"),
]


def _mid_tier_section(b0: dict, b1: dict) -> list[str]:
    """Extra curve points (3x below, 30x above the flagged 10x pair):
    evidence the curve is smooth and keeps its slope past the graded
    span, not a two-endpoint artifact."""
    q0 = {**b0["queries"], **b0.get("queries_extended", {})}
    rows = []
    for label, mult, bench_name, audit_name in EXTRA_TIERS:
        bm = _load(bench_name)
        if not bm:
            continue
        qm = {**bm["queries"], **bm.get("queries_extended", {})}
        worst_r, worst_q = max(
            (qm[k] / max(q0[k], 1e-3), k) for k in q0 if k in qm
        )
        am = _load(audit_name)
        spill = (
            sum(1 for r in am["rows"] if r.get("spill_mb", 0) > 0)
            if am
            else None
        )
        rows.append((label, mult, bm, worst_q, worst_r, spill))
    if not rows:
        return []
    lines = ["## Extra curve points", ""]
    pts = sorted(
        [(1, b0), (10, b1)] + [(m, bm) for _, m, bm, *_ in rows]
    )
    ext_pts = [bm for _, bm in pts if bm.get("extended_total")]
    lines.append(
        "headline wall: "
        + " -> ".join(f"**{bm['value']} s** ({m}x rows)" for m, bm in pts)
        + "; extended: "
        + " -> ".join(f"{bm['extended_total']} s" for bm in ext_pts)
        + " (headline-only tiers omitted)."
    )
    lines.append("")
    for label, mult, bm, worst_q, worst_r, spill in rows:
        line = (
            f"- **{label} tier**: headline "
            f"{bm['value'] / b0['value']:.1f}x wall for {mult}x rows; "
            f"worst single query `{worst_q}` at {worst_r:.1f}x"
        )
        if spill is not None:
            line += f"; spilled queries: {spill}"
        lines.append(line + ".")
        note = MID_TIER_WORST_NOTES.get((label, worst_q))
        if note:
            lines.append(f"  - `{worst_q}` investigated: {note}")
    lines += [
        "",
        "The density-artifact operators found at the gen tiers are all",
        "fixed in shipped code and these benches measure the fixed",
        "versions: `kmeans_iterate`'s centroid codebook is sqrt(N)-sized",
        "(round 6 — smallest power of 10 whose square covers the corpus;",
        "16.9 s -> 3.2 s at 30x when fixed); `fuzzy_blocked_match`'s",
        "block-key suffix length is scale-aware (round 7 —",
        "`fuzzy_block_len` picks the smallest L with 10^L * 100 >= N,",
        "mirrored as a scalar subquery in the oracle; L=3 at graded",
        "tiers, L=4 at 10x/30x); and `dedup_embedding_lsh`'s plane count",
        "is scale-aware (round 8, caught by the first FULL extended run",
        "at 100x: the fixed 8-plane / 256-bucket key made in-bucket pair",
        "expansion N^2/256, hidden below 100x only because the",
        "pair->vector joins broadcast — at 200k vectors it shuffled",
        "15.8 GB and spilled 121 GB over 332 s; `lsh_dedup_planes` holds",
        "expected occupancy at 32 via the smallest P with 2^P * 32 >= N,",
        "mirrored in the oracle — P=8 at all graded tiers, P=10/11/13 at",
        "10x/30x/100x, 332 s -> ~9 s). All derivations are integer-only",
        "and computed identically by both engines, so results stay",
        "bit-identical at every tier.",
        "",
        "Two further 100x extended-run findings, both addressed in the",
        "session config or documented as design cost:",
        "",
        "- `q21_sole_late_supplier` (linear shuffle, 1.9 GB at 100x)",
        "  spilled 9.3 GB through AQE's 64 MB default advisory partition",
        "  target: a 64 MB post-shuffle partition expands ~5x as unsafe",
        "  rows + sort buffers against ~300 MB of local per-task",
        "  execution memory. The session default is now 16 MB (zero",
        "  spill, wall 16.2 -> 12.8 s; sf0.1 headline unchanged at",
        "  14.1 s). Cluster translation: advisory size ~= executor",
        "  memory * fraction / cores / ~5, not a constant.",
        "- the IVF assignment family (`similarity_ann_ivf`,",
        "  `kmeans_iterate`): through round 8 the exact flat argmin was",
        "  N x C distance folds with C = N/MOD growing linearly within",
        "  a MOD decade — O(N^1.5), and the 100x tier's wall-worst",
        "  queries (~19 s / 25-50 s). Round 9 SHIPPED the hierarchical",
        "  swap that note used to defer to \"real deployments\": above",
        "  64 cells assignment goes two-level (supers = every",
        "  `ivf_super_factor`-th centroid, ~sqrt(C) of them), each",
        "  vector folds over the supers then over its TOP-2 supers'",
        "  children (IMI-style multi-probe) — O(N^1.25) total, still",
        "  zero vector-side shuffle, mirrored integer-for-integer in",
        "  the DuckDB oracle (f=1 at every graded tier <= 30x, so",
        "  graded results stay bit-identical; hierarchy-active parity",
        "  is pinned by tests/test_ivf_hier_parity.py). Measured at",
        "  100x after round 9: similarity_ann_ivf ~19 -> 10.6 s,",
        "  kmeans_iterate 25-50 -> 6.9 s, both zero spill. Round 12",
        "  re-kernelled the assignment itself (the round-11 PQ",
        "  precedent): the struct-least Catalyst folds over broadcast",
        "  codebook arrays became an Arrow/numpy mapInPandas with the",
        "  ~sqrt(N)-bounded codebook shipped in the closure — a pure",
        "  map, zero broadcast exchange left in the plan, same",
        "  left-associated arithmetic and first-min tie-breaks, with",
        "  the family's l2sq rounding migrated F.round ->",
        "  round_half_up on both engines (bit-identical by",
        "  construction); old-vs-new exceptAll = 0 at every tier,",
        "  kmeans_iterate 4.61 -> 2.33 s at 100x. The residual trade —",
        "  hierarchical assignment is approximate at cell boundaries —",
        "  is quantified in CATALOG.md's recall appendix and recovered",
        "  by the scaled `ivf_nprobe` default.",
        "",
    ]
    return lines


def _curation_section() -> list[str]:
    """End-to-end curation curve, rendered from CURATION_BENCH.json
    (scripts/curation_bench.py — one subprocess per tier so JVM startup
    is billed identically at every point)."""
    cb = _load("CURATION_BENCH.json")
    if not cb:
        return []
    tiers = cb["tiers"]
    base = tiers[0]
    curve = " -> ".join(
        f"**{t['wall_sec']} s** ({t['mult']}x docs)" for t in tiers
    )
    worst = max(tiers[1:], key=lambda t: t["wall_sec"] / base["wall_sec"])
    lines = [
        "## End-to-end curation curve",
        "",
        "The composed six-stage pipeline (`python examples/curate_corpus.py"
        " <tier> <out>`: clean -> LSH dedup -> decontaminate -> mix ->"
        " split -> pack, id-only joins between stages, partitioned text"
        " write at the end), one subprocess per tier (JVM startup billed"
        " identically):",
        "",
        f"wall: {curve}; worst point "
        f"{worst['wall_sec'] / base['wall_sec']:.1f}x wall at "
        f"{worst['mult']}x documents.",
        "",
    ]
    return lines


def _bucketed_section() -> list[str]:
    """Bucketed co-partitioned layout vs plain parquet, rendered from
    BUCKETED_BENCH.json (scripts/bucketed_layout_bench.py — VERDICT r8
    #1: measure the layout move the crossover flag note promises)."""
    bb = _load("BUCKETED_BENCH.json")
    if not bb:
        return []
    lines = [
        "## Bucketed co-partitioned layout (the crossover answer, measured)",
        "",
        "The flag note above ends with \"at that scale you co-partition/"
        "bucket orders+lineitem instead\" — this section measures that "
        "move instead of asserting it. orders+lineitem are written once "
        "as bucketed, bucket-sorted catalog tables on the orderkey "
        "(`sinks.write_bucketed_fact_layout`, one file per bucket), the "
        "fixture tables are repointed at them "
        "(`sources.set_layout_override` — a metastore repoint; query "
        "code unchanged), and the SAME shipped queries re-run. "
        "`tests/test_bucketed_layout.py` locks the plan shapes: the "
        "bucketed fact-fact join and bucket-key aggregate plan ZERO "
        "shuffle exchanges while the parquet baseline provably plans "
        "them.",
        "",
        "| family | tier | query | wall parquet s | wall bucketed s | shufW parquet MB | shufW bucketed MB | exchanges parquet | exchanges bucketed |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    families = bb.get("families") or [
        {"family": "orderkey", "tiers": bb.get("tiers", [])}
    ]
    for fam in families:
        for t in fam["tiers"]:
            for q in t["queries"]:
                p, b = q["parquet"], q["bucketed"]
                lines.append(
                    f"| {fam['family']} | {t['tier']} | {q['query']} "
                    f"| {p['wall_sec']} | {b['wall_sec']} "
                    f"| {p['shuffle_write_mb']} | {b['shuffle_write_mb']} "
                    f"| {p['shuffle_exchanges']} | {b['shuffle_exchanges']} |"
                )
    writes = "; ".join(
        f"{fam['family']}/{t['tier']}: {t['bucketed_write']['wall_sec']} s / "
        f"{t['bucketed_write']['shuffle_write_mb']} MB"
        for fam in families
        for t in fam["tiers"]
    )
    # Break-even arithmetic (VERDICT r10 #2): the write is paid once;
    # how many query executions repay it? Two bases per family, both
    # computed from the LARGEST measured tier of the committed record:
    # local wall (write wall / per-query wall saved) and shuffle bytes
    # (write shuffle / per-query shuffle eliminated) — the byte basis
    # is the cluster-relevant one, where eliminated shuffle crosses the
    # network instead of a local SSD and the write's own shuffle is the
    # same one-time network cost.
    breakeven_lines = []
    for fam in families:
        t = fam["tiers"][-1]
        w = t["bucketed_write"]
        wall_saves = [
            q["parquet"]["wall_sec"] - q["bucketed"]["wall_sec"]
            for q in t["queries"]
        ]
        shuf_saves = [
            q["parquet"]["shuffle_write_mb"] - q["bucketed"]["shuffle_write_mb"]
            for q in t["queries"]
        ]
        # floor the denominators at 5% of the write cost: a query that
        # saves 7 MB against a 393 MB write (events_funnel — its win is
        # the 9 eliminated exchanges, not bytes) would otherwise quote
        # a meaningless 54-execution "break-even" for a layout nobody
        # builds for that query.
        shuf_floor = max(1.0, 0.05 * w["shuffle_write_mb"])
        wall_n = sorted(
            w["wall_sec"] / s for s in wall_saves if s > 0.05
        )
        shuf_n = sorted(
            w["shuffle_write_mb"] / s for s in shuf_saves if s > shuf_floor
        )
        # A tier where no query clears the 0.05 s / 5% floors leaves
        # these lists empty (and the min() generators below would
        # raise): render the honest "no measured saving" line instead
        # of crashing the whole SCALING.md regeneration (ADVICE r11).
        if not wall_n or not shuf_n:
            breakeven_lines.append(
                f"- **{fam['family']}** (at {t['tier']}): write "
                f"{w['wall_sec']} s / {w['shuffle_write_mb']:.0f} MB; no "
                f"per-query saving above the floors (0.05 s wall / "
                f"{shuf_floor:.0f} MB shuffle) at this tier — break-even "
                "n/a; the layout is not justified by these queries at "
                "this scale."
            )
            continue
        breakeven_lines.append(
            f"- **{fam['family']}** (at {t['tier']}): write "
            f"{w['wall_sec']} s / {w['shuffle_write_mb']:.0f} MB; "
            f"per-query savings {min(s for s in wall_saves if s > 0.05):.2f}"
            f"-{max(wall_saves):.2f} s wall, "
            f"{min(s for s in shuf_saves if s > shuf_floor):.0f}"
            f"-{max(shuf_saves):.0f} MB shuffle -> local wall break-even "
            f"**~{wall_n[0]:.0f}-{wall_n[-1]:.0f} executions** of the "
            f"measured queries; shuffle-byte break-even "
            f"**~{shuf_n[0]:.0f}-{shuf_n[-1]:.0f} executions**."
        )
    lines += [
        "",
        f"One-off bucketed writes (paid at ingest): {writes}.",
        "",
        "Reading (orderkey family): at the 100x tier the per-query "
        "shuffle collapses ~2,500-40,000x (q3 601 MB -> 17 KB, "
        "join_star 1009 MB -> 26 KB, q18 493 MB -> 0.2 MB), the "
        "orderkey join/agg exchanges disappear from the plans "
        "entirely, and local wall improves 2.2-6.0x on every query "
        "(join_star keeps its 2 downstream exchanges — customer join "
        "+ final agg — by design). Bucket "
        "count matters: bucket-grain scans can't split files, so "
        "n_buckets IS the layout's scan parallelism — the first run at "
        "32 buckets (1x cores) made q18's full-table pre-aggregate "
        "1.8x SLOWER than parquet (one non-overlapping task wave); 64 "
        "buckets (2x cores) turned that into 1.7-2.0x faster (measured "
        "5.1 s @32 -> 1.6 s @64 -> 2.0 s @128). On a cluster the "
        "eliminated bytes also cross the network: the layout is the "
        "difference between a per-query half-terabyte shuffle (at "
        "100 TB scale) and none — break-even arithmetic below.",
        "",
        "Reading (events_user family — round 10, proving the mechanism "
        "generalizes beyond the orderkey pair): events bucketed on "
        "user_id with a COMPOUND write-time sort (user_id, ts_ns, "
        "event_id) — the exact required ordering of the per-user "
        "windows — makes the sessionize/funnel shuffle surface vanish "
        "at every tier through 100x: events_sessionize plans 2 -> 0 "
        "exchanges and its shuffle collapses 222 MB -> 0 B at 100x "
        "(wall 1.20 -> 0.50 s; the "
        "window consumes bucketing for distribution AND the write-time "
        "order for sort, and the downstream session aggregate is "
        "user_id-prefixed so it stays exchange-free too); events_funnel "
        "plans 9 -> 0 exchanges (every stage is user_id-keyed); "
        "events_retention keeps only its 2 small cohort-rollup "
        "exchanges (not on the bucket key by design), shuffle 119 -> "
        "0.4 MB at 100x, wall 2.0x. One-off write: ~1.7-3.1 s / "
        "40-393 MB — break-even arithmetic below. Plan shapes locked at "
        "the fixture tier in tests/test_bucketed_layout.py "
        "(exchange-free user-window with a provably exchange-full "
        "parquet baseline, compound-sort elimination, shipped-query "
        "row parity).",
        "",
        "**Break-even arithmetic** (write-once cost vs per-query "
        "savings, computed from this file's committed records at the "
        "largest measured tier; wall basis is the honest LOCAL number "
        "— the shuffle-byte basis is the cluster-relevant one, since "
        "the eliminated bytes cross the network there while the "
        "write's own shuffle is the same one-time network cost):",
        "",
        *breakeven_lines,
        "",
        "Local arithmetic says the layout is NOT a one-heavy-join win "
        "on one machine — it pays back over a query mix that hits the "
        "bucket key tens of times (exactly how a warehouse fact table "
        "is used). On a network-bound cluster the byte basis applies "
        "and the write amortizes in a handful of executions.",
        "",
    ]
    return lines


def _misbroadcast_section() -> list[str]:
    """Round-11 systematic sweep for the pathology class the range-join
    regime measurement exposed: Catalyst broadcasting a side that grows
    with the corpus. Rendered from MISBROADCAST_AUDIT.json
    (scripts/misbroadcast_audit.py)."""
    mb = _load("MISBROADCAST_AUDIT.json")
    if not mb:
        return []
    raw = mb.get("raw_fact_broadcasts", [])
    reduced = mb.get("reduced_fact_broadcasts", [])
    return [
        f"## Misbroadcast audit at {mb['tier']} (the range-join pathology, swept catalog-wide)",
        "",
        "The round-11 range-join finding was a CLASS, not a one-off: a "
        "pruned fact-table projection can sit under Catalyst's "
        "broadcast threshold at mid tiers, so the optimizer broadcasts "
        "the side that grows with the corpus. "
        f"`scripts/misbroadcast_audit.py` sweeps all "
        f"{mb['queries_audited']} graded+bench queries' EXECUTED plans "
        "at the 100x tier for BroadcastExchanges whose subtree scans a "
        "fact table, classifying each as raw (no selective filter, no "
        "aggregation — the pathology) or reduced (filtered/aggregated "
        "first — legitimate when the reduction is sublinear in corpus "
        "size).",
        "",
        f"- **raw fact broadcasts: {len(raw)}**"
        + (" — " + ", ".join(raw) if raw else
           " (two found and fixed this round: "
           "`dedup_minhash_verified` broadcast the raw token-array "
           "projection of documents on its second verify join — now "
           "shuffle_hash building the bounded pairs side, measured par "
           "at 100x, plan-locked in tests/test_plans.py; "
           "`decontaminate`'s n_total join-back broadcast one skinny "
           "row per TRAINING doc — a 75%-pass modulo filter fooled the "
           "classifier into 'reduced' but is not selective in scale "
           "terms; now shuffle_hash building the contaminated-docs "
           "side, measured par at 100x)"),
        f"- reduced fact broadcasts: {len(reduced)} — adjudicated by "
        "family: single-query-vector selections (similarity family — "
        "bounded at 1 row by construction); bounded-domain aggregates "
        "(day/type grids: events_zscore/anomaly_mad/seasonal_decompose"
        "/rolling_distinct; value-bucket dimension: window_range_frame"
        "); sublinear codebooks (dedup_embedding_lsh — sqrt(N)-sized "
        "by derivation; kmeans_iterate left this list in round 12: its "
        "numpy assignment kernel ships the codebook in the mapInPandas "
        "closure, no broadcast remains); vocabulary/LM folds "
        "(text_tfidf, lm_quality_score, lm_bigram_score — token-type "
        "domains grow ~Heaps-law sublinearly; decontaminate left this "
        "list in round 13: its eval-shingle join is shuffle_hash now, "
        "no broadcast remains); the stored band "
        "index (dedup_against_corpus — grows with the corpus, and its "
        "docstring already names the scale path: a pre-bucketed index "
        "table the probe equi-joins, with Catalyst flipping to a "
        "shuffle join as the estimate grows); per-user aggregates "
        "(events_funnel — corpus-linear in users, flips to shuffle "
        "joins automatically as estimates grow, and the MEASURED scale "
        "answer is the bucketed user_id layout: 9 -> 0 exchanges at "
        "every tier, section above).",
        "",
    ]


def _expansion_audit_section() -> list[str]:
    """Round-11 verified inventory of every candidate/row expansion in
    the catalog (VERDICT r10 #5): the CLAUDE.md rule — expansion
    belongs on the side with fewer rows at that point in the plan —
    audited site by site instead of proven by one example. Each line
    states which side expands, its bound, and why that side is the
    smaller (or only) one."""
    return [
        "## Candidate-expansion side audit (round 11 — every site verified)",
        "",
        "Rule (CLAUDE.md): any candidate-pair expansion — buckets, "
        "bands, shingles, salts — belongs on the side with fewer rows "
        "at that point in the plan. Verified inventory:",
        "",
        "- `events_range_join` (plans/events_queries.py): "
        "two-bucket explode on the FILTERED SIGNUP side (~20% of "
        "events), never the follow side — the round-10 flip that "
        "motivated the rule (15.4 -> 4.9 s at 100x); join regimes "
        "measured in RANGE_JOIN_REGIMES.json.",
        "- `minhash_bands` (operators/dedup.py:148): banded-signature "
        "explode emits exactly K/band_rows rows per doc — symmetric "
        "self-candidate generation, no side choice exists; downstream "
        "pair fan-out bounded by MINHASH_MAX_BUCKET (mega-buckets "
        "routed to the linear exact-group path).",
        "- `dedup_against_corpus` (operators/dedup.py:693): the band "
        "explode and fresh signatures run ONLY on the incoming batch "
        "(the small side by construction); the corpus side is the "
        "stored DISTINCT (band, sig) index, never re-expanded.",
        "- `dedup_ngram_jaccard` / `dedup_containment` "
        "(operators/dedup.py:520/1059): the shingle explode is per-doc "
        "content — single-table, corpus-linear by necessity; the PAIR "
        "expansion is in-row from df-capped posting lists "
        "(JACCARD_DF_CAP bounds per-shingle fan-out), never a "
        "join-side replication.",
        "- `dedup_segments` (operators/dedup.py:976): segment explode "
        "on documents (only side), bounded at ceil(len/SEGMENT_WIDTH) "
        "rows per doc; cross-doc pair fan-out df-capped.",
        "- `dedup_simhash_near` (operators/dedup.py:1240): constant "
        "SIMHASH_BANDS block keys per doc (pigeonhole), bucket-capped, "
        "pairs expand in-row from sorted member lists.",
        "- `doc_winnow` (operators/text.py:480): fingerprint explode "
        "per doc, bounded by distinct window minima — zero shuffle, "
        "map-side only (plan-locked).",
        "- `events_hop_window` (plans/events_queries.py:96): Spark's "
        "native window-slide expansion, constant width/slide = 2 rows "
        "per event on the single input table; partial aggregation "
        "combines before the one shuffle.",
        "- `events_rolling_distinct` (plans/events_queries.py:1028): "
        "the x7 target-day fan-out runs AFTER day-grain dedup shrinks "
        "input to distinct (day, user) — expansion on the reduced set.",
        "- `salted_join` (operators/joins.py:39): the salt explode "
        "replicates the BUILD (dimension) side n_salts times; the big "
        "probe side gets a computed salt column, no row growth.",
        "- `pack_sequences` chunking (plans/curation_queries.py:344): "
        "per-doc stride sequence, bounded by len/CHUNK_STRIDE on the "
        "only side.",
        "- dense-grid densifiers (plans/advanced_agg.py:90, "
        "plans/events_queries.py:316): sequence explodes over per-key "
        "(lo, hi) BOUNDS rows — the already-aggregated small side, "
        "never the fact rows.",
        "- dimension posexplodes (operators/pca.py:81, "
        "operators/similarity.py:731/780): constant x-dims expansion "
        "feeding a map-side partial aggregate keyed by dimension — "
        "combines before any shuffle; vectors themselves never "
        "replicate.",
        "",
    ]


def _streaming_section() -> list[str]:
    """Structured Streaming timing/state evidence, rendered from
    STREAM_BENCH.json (scripts/stream_bench.py)."""
    sb = _load("STREAM_BENCH.json")
    if not sb:
        return []
    lines = [
        "## Streaming surface (Structured Streaming, file source ->"
        " memory/foreachBatch sink)",
        "",
        "| profile | tier | input rows | wall s | rows/s | batches |"
        " state rows | state MB |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in sb["rows"]:
        lines.append(
            f"| {r['profile']} | {r['tier']} | {r['rows']} "
            f"| {r['wall_sec']} | {r['rows_per_sec']:,.0f} "
            f"| {r.get('batches', '')} | {r.get('state_rows', '')} "
            f"| {r.get('state_mb', '')} |"
        )
    lines += ["", sb.get("note", ""), ""]
    return lines


def render() -> str:
    """SCALING.md's full text, built from the committed records only."""
    b0 = _load("BENCH_sf0.1.json")
    b1 = _load("BENCH_gen_sf1.json")
    a0 = _load("SCALE_AUDIT.json")
    a1 = _load("SCALE_AUDIT_gen_sf1.json")
    assert b0 and b1, "run bench at both tiers first (see module docstring)"

    q0 = {**b0["queries"], **b0.get("queries_extended", {})}
    q1 = {**b1["queries"], **b1.get("queries_extended", {})}
    s0 = {r["query"]: r for r in (a0 or {}).get("rows", [])}
    s1 = {r["query"]: r for r in (a1 or {}).get("rows", [])}

    rows = []
    for name in q0:
        if name not in q1:
            continue
        w0, w1 = q0[name], q1[name]
        wall_ratio = round(w1 / max(w0, 1e-3), 1)
        sh0 = s0.get(name, {}).get("shuffle_write_mb")
        sh1 = s1.get(name, {}).get("shuffle_write_mb")
        sh_ratio = (
            round(sh1 / max(sh0, 1e-3), 1)
            if sh0 is not None and sh1 is not None and sh0 > 0.001
            else None
        )
        sp1 = s1.get(name, {}).get("spill_mb", 0)
        rows.append(
            {
                "query": name,
                "wall_sf01": w0,
                "wall_sf1": w1,
                "wall_ratio": wall_ratio,
                "shuffle_sf01_mb": sh0,
                "shuffle_sf1_mb": sh1,
                "shuffle_ratio": sh_ratio,
                "spill_sf1_mb": sp1,
            }
        )
    rows.sort(key=lambda r: -r["wall_ratio"])

    flagged = [
        r
        for r in rows
        if r["wall_ratio"] > WALL_FLAG
        or (
            r["shuffle_ratio"] is not None
            and r["shuffle_ratio"] > SHUFFLE_FLAG
            and (r["shuffle_sf1_mb"] or 0) > SHUFFLE_FLOOR_MB
        )
        or r["spill_sf1_mb"] > 0
    ]
    h0, h1 = b0["value"], b1["value"]
    e0, e1 = b0.get("extended_total"), b1.get("extended_total")

    out = [
        "# Measured scaling curve — sf0.1 -> 10x generated tier",
        "",
        "`gen_sf1/` is a seeded 10x replication of the sf0.1 fixtures with",
        "consistent key remapping (per-key join fan-outs preserved, document",
        "dup-rate flat, fresh noisy embeddings — scripts/gen_scale_tier.py).",
        "Both tiers ran the identical bench (min-of-3, noop sink, local[32])",
        "and scale audit. At 10x rows, near-linear means wall and shuffle",
        f"ratios <= ~{WALL_FLAG:.0f}x; queries above that (shuffle only when",
        f"the 10x tier moves > {SHUFFLE_FLOOR_MB:.0f} MB — kilobyte-scale",
        "top-k merges can grow 20x while staying irrelevant) or spilling",
        "at the 10x tier are flagged as the re-plan queue.",
        "",
        f"- headline total: **{h0} s -> {h1} s** "
        f"(**{h1 / h0:.1f}x** wall for 10x rows)",
    ]
    c0, c1 = b0.get("calibration_sec"), b1.get("calibration_sec")
    if c0 and c1:
        out.append(
            f"- calibration anchor (fixed-work sha256): {c0} s / {c1} s — "
            f"calibrated headline ratio "
            f"**{(h1 / c1) / (h0 / c0):.1f}x** (environment drift "
            "divided out; see BASELINE.md)"
        )
    if e0 and e1:
        out.append(
            f"- extended total: **{e0} s -> {e1} s** (**{e1 / e0:.1f}x**)"
        )
    if a0 and a1:
        t0 = round(sum(r["shuffle_write_mb"] for r in s0.values()), 1)
        t1 = round(sum(r["shuffle_write_mb"] for r in s1.values()), 1)
        sp = [n for n, r in s1.items() if r.get("spill_mb", 0) > 0]
        out.append(
            f"- total shuffle write: **{t0} MB -> {t1} MB** "
            f"(**{t1 / max(t0, 0.1):.1f}x**)"
        )
        out.append(
            f"- spilled at 10x: **{len(sp)}**"
            + ("" if not sp else " — " + ", ".join(sp))
        )
    open_flags = [r for r in flagged if r["query"] not in FLAG_NOTES]
    out += [
        f"- flagged super-linear: **{len(flagged)}**"
        + ("" if not flagged else " — " + ", ".join(r["query"] for r in flagged)),
        f"- open after investigation: **{len(open_flags)}**"
        + ("" if not open_flags else " — " + ", ".join(r["query"] for r in open_flags)),
        "",
    ]
    noted = [r for r in flagged if r["query"] in FLAG_NOTES]
    if noted:
        out += ["## Flag notes (investigated — measurement artifacts, evidence cited)", ""]
        for r in noted:
            out.append(f"- `{r['query']}`: {FLAG_NOTES[r['query']]}")
        out.append("")
    out += _mid_tier_section(b0, b1)
    out += [
        "## Correctness at 10x",
        "",
        "The full DuckDB oracle parity sweep also ran at the 10x tier"
        " — first in round 6, re-run in round 8 on shipped code after"
        " the scale-aware fuzzy-block/lateness re-plans: **183/184"
        " queries hash-checked green, 0 failed** (`dedup_embedding_cosine`"
        " was excluded until round 15, when its all-pairs oracle was"
        " replaced by the block-bounded form — linear candidate set,"
        " parity green at sf0.01/sf0.1/gen_sf1/gen_sf10, so sweeps now"
        " cover the whole catalog — re-proven by the round-15 full"
        " gen_sf1 sweep of all 185). The round-6 sweep caught two real"
        " divergences invisible at graded scales — q15's raw-double"
        " max electing different ulp-tied winners per engine, and q9's"
        " round(sum(double)) half-cent boundary — both migrated to the"
        " exact scaled-integer money pattern and re-verified at"
        " sf0.001 / sf0.1 / 10x.",
        "",
    ]
    out += _misbroadcast_section()
    out += _expansion_audit_section()
    out += _bucketed_section()
    out += _curation_section()
    out += _streaming_section()
    out += [
        "| query | wall sf0.1 s | wall 10x s | wall ratio | shufW sf0.1 MB | shufW 10x MB | shuf ratio | spill 10x MB |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append(
            f"| {r['query']} | {r['wall_sf01']} | {r['wall_sf1']} "
            f"| {r['wall_ratio']} | {r['shuffle_sf01_mb']} | {r['shuffle_sf1_mb']} "
            f"| {r['shuffle_ratio']} | {r['spill_sf1_mb']} |"
        )
    return "\n".join(out) + "\n"


def main() -> None:
    with open(os.path.join(ROOT, "SCALING.md"), "w") as f:
        f.write(render())
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
