"""Plan-shape regression tests: the physical plans the engine is
designed around must not silently degrade (lost pushdown, broadcast
falling back to shuffle join, global sort instead of top-k)."""

from __future__ import annotations

import pytest

from rust_etl_spark.plans import catalog

SF = "/root/testdata/sf0.001"


def _formatted_plan(spark, name: str) -> str:
    df = catalog.get(name).fn(spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _executed_plan(spark, name: str) -> str:
    return catalog.get(name).fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


#: The REAL single-partition-window shape in executedPlan().toString():
#: a Window whose child (optionally through a Sort, either codegen'd)
#: is Exchange SinglePartition. NOTE the direction — the round-6 lock
#: matched "Exchange SinglePartition\n+- Window" (an Exchange whose
#: CHILD is a Window), which can never occur for this defect, so that
#: lock was vacuous; round 8 verified the corrected pattern fires on a
#: deliberately global row_number() plan.
_SP_WINDOW_RE = (
    r"Window[^\n]*\n\s*[+:]- (?:\*\(\d+\) )?"
    r"(?:Sort[^\n]*\n\s*[+:]- (?:\*\(\d+\) )?)?"
    r"Exchange SinglePartition"
)


def _single_partition_windows(plan: str) -> list[str]:
    import re

    return [m.group(0).splitlines()[0] for m in re.finditer(_SP_WINDOW_RE, plan)]


def test_projection_prunes_columns(spark):
    plan = _formatted_plan(spark, "scan_project")
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint" in plan
    assert "l_shipdate" not in plan  # untouched column never read


def test_filters_push_to_scan(spark):
    plan = _formatted_plan(spark, "filter_predicate")
    assert "PushedFilters:" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan


def test_flagship_agg_is_two_phase_with_pushdown(spark):
    plan = _formatted_plan(spark, "groupby_agg")
    assert "LessThanOrEqual(l_shipdate" in plan  # filter reached the scan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_dec38_variant_keeps_the_q1_plan_shape(spark):
    """The DECIMAL(38,0) escape-hatch accumulator must not change the
    dataflow: same pushdown, same two-phase (map-side partial) hash
    aggregate as groupby_agg — the premium is the accumulator type
    only (DEC38_BENCH.json), never a lost partial aggregation."""
    plan = _formatted_plan(spark, "groupby_agg_dec38")
    assert "LessThanOrEqual(l_shipdate" in plan
    assert plan.count("HashAggregate") >= 2
    assert "Exchange SinglePartition" not in plan


def test_star_join_broadcasts_all_dims(spark):
    plan = _formatted_plan(spark, "join_star")
    # each node appears twice in formatted output (tree + detail).
    # Round-15 dims-first shape: region->nation and nation->customer
    # are EXPLICIT broadcasts of bounded dims — locked unconditionally
    # (>= 2 joins = 4 mentions). orders<->customer is a Catalyst
    # size-based pick (BHJ at this fixture tier, shuffle at the
    # crossover — tolerated, the q5 adjudication pattern). The final
    # lineitem-agg <-> pruned-orders join is HINTED shuffle_hash (the
    # per-order side is corpus-scaling; a broadcast there is the
    # round-11 misbroadcast pathology) — locked as ShuffledHashJoin
    # with the spill-safe SMJ fallback tolerated, never a broadcast.
    bhj = plan.count("BroadcastHashJoin")
    shuffle_joins = plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin")
    assert bhj >= 4, plan
    assert bhj + shuffle_joins == 8, plan  # exactly 4 join operators
    assert plan.count("ShuffledHashJoin") + plan.count("SortMergeJoin") >= 2, plan
    assert "EqualTo(r_name,ASIA)" in plan  # dim filter pushed below the join
    # the lineitem side partially aggregates per orderkey BEFORE its
    # exchange (map-side combine): partial+final pairs for the
    # per-order agg plus the final nation agg = >= 4 HashAggregates.
    assert plan.count("HashAggregate") >= 8, plan


def test_topk_avoids_global_sort(spark):
    plan = _formatted_plan(spark, "sort_topk")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_minhash_signatures_have_no_shuffle(spark):
    """The wide MinHash signature is one map-side projection — a Sort
    or Exchange before the bucket groupBy means a regression."""
    from rust_etl_spark.operators.dedup import minhash_wide
    from rust_etl_spark.sources import load_table

    df = minhash_wide(load_table(spark, SF, "documents"))
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in plan


def test_lsh_bucket_assign_has_no_shuffle(spark):
    """Hyperplane LSH bucketing is a per-row fold against literal plane
    weights (round-2 re-plan): any Exchange is a regression to the
    posexplode + join + double-groupBy shape."""
    plan = _formatted_plan(spark, "lsh_bucket_assign")
    assert "Exchange" not in plan


def test_embedding_lsh_dedup_single_exchange_no_joins(spark):
    """Round-15 re-plan: each vector crosses the wire exactly once —
    the bucket groupBy is the ONLY exchange, and there are no join
    operators at all (the old shape pair-joined the vectors twice,
    1705 MB of shuffle at the 100x tier). The pairwise cosine runs in
    the mapInPandas numpy kernel (contract-pinned in
    tests/test_lsh_pair_kernel_contract.py)."""
    plan = _formatted_plan(spark, "dedup_embedding_lsh")
    # one Exchange node = tree + detail mentions; tolerate AQE's
    # re-listing but never a second distinct exchange id.
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, plan
    assert "MapInPandas" in plan, plan


@pytest.mark.parametrize("name", ["dedup_ngram_jaccard", "dedup_containment"])
def test_ngram_jaccard_scans_documents_once(spark, name):
    """Both scores over the shared shingle-overlap stage
    (dedup._shingle_overlaps) are one linear dataflow: a second
    documents scan means a consumer re-evaluates the scan+shingle
    subplan (Spark has no subplan reuse above exchanges)."""
    plan = _formatted_plan(spark, name)
    # formatted output lists each node once in the tree and once in the
    # detail section
    assert plan.count("documents.parquet") <= 2


def test_segment_dedup_scans_documents_once_no_join(spark):
    """Round-15 re-plan: the segment df is two windows over ONE fp
    exchange (lag-marks-first + sum), not a groupBy+join-back — the
    join-back shape re-evaluated the whole chunk+md5 subplan (partial
    aggregation defeats ReuseExchange, the ngram adjudication's
    measured pathology; 13.5 -> 4.25 s at gen_sf10). A second
    documents scan or any join operator is a regression."""
    plan = _formatted_plan(spark, "dedup_segments")
    assert plan.count("documents.parquet") <= 2, plan
    for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        assert join not in plan, plan


def test_range_join_keys_include_time_bucket(spark):
    """The events range join must carry (user_id, bkt) as equi-join
    keys — losing the bucket reverts to one-join-group-per-user-
    lifetime."""
    import re

    plan = _formatted_plan(spark, "events_range_join")
    key_lines = [l for l in plan.splitlines() if re.search(r"(Left|Right) keys", l)]
    assert key_lines and all("user_id" in l and "bkt" in l for l in key_lines), key_lines


def test_range_join_builds_hash_from_signup_side(spark):
    """Round-11 re-plan lock: the join must be a ShuffledHashJoin that
    hash-builds the SIGNUP side (BuildLeft — signups are the left
    input). Catalyst's own pick at the 100x tier was a BROADCAST of
    the pruned follow-side projection (the side that grows with the
    corpus; 5.34 s vs 1.70 s hinted, RANGE_JOIN_REGIMES.json), so any
    reappearance of BroadcastHashJoin here is the misbroadcast
    regressing. The hint is advisory: Spark's legitimate fallback is
    SortMergeJoin on the same bounded key (measured at par, 1.74 s),
    so that shape is tolerated — a broadcast is not."""
    plan = _executed_plan(spark, "events_range_join")
    assert "BroadcastHashJoin" not in plan, plan
    shj = [l for l in plan.splitlines() if "ShuffledHashJoin" in l]
    smj = [l for l in plan.splitlines() if "SortMergeJoin" in l]
    assert shj or smj, plan
    if shj:
        assert "BuildLeft" in shj[0], shj


def test_range_join_explodes_the_small_side(spark):
    """The two-bucket candidate expansion must sit on the SIGNUP side
    (the filtered, small side), never on the full events side: the
    pre-round-10 form generated 2N rows from the 100 TB side of the
    join (15.4 -> 4.9 s at the 100x tier when flipped). Locked: the
    plan has exactly ONE Generate, and the scan feeding it carries the
    pushed signup equality filter."""
    import re

    plan = _executed_plan(spark, "events_range_join")
    lines = plan.splitlines()
    gen_idx = [i for i, l in enumerate(lines) if "Generate explode" in l]
    assert len(gen_idx) == 1, plan
    # The scan feeding the Generate must carry the signup EQUALITY
    # filter pushed to parquet — asserting the pushed filter itself,
    # not merely the substring "signup" (which the Generate's own
    # signup_id output alias would satisfy even if the filter
    # regressed).
    subtree = "\n".join(lines[gen_idx[0]: gen_idx[0] + 8])
    assert re.search(
        r"PushedFilters: \[[^\]]*EqualTo\(event_type,signup\)", subtree
    ) or re.search(r"Filter .*event_type[^\n]*= signup", subtree), subtree


def test_minhash_verified_never_broadcasts_tokens(spark):
    """Round-11 misbroadcast-audit lock: the exact-Jaccard verify joins
    must never broadcast the document token-array projection (Catalyst
    picked that at the 100x tier — a raw fact broadcast whose build
    grows with the corpus). Both joins are hinted shuffle_hash with
    the bounded pairs side as build; the legitimate fallback is SMJ on
    doc_id, so that shape is tolerated — a BroadcastHashJoin is not."""
    plan = _executed_plan(spark, "dedup_minhash_verified")
    assert "BroadcastHashJoin" not in plan, plan
    shj = [l for l in plan.splitlines() if "ShuffledHashJoin" in l]
    smj = [l for l in plan.splitlines() if "SortMergeJoin" in l]
    assert len(shj) + len(smj) >= 2, plan
    assert all("BuildLeft" in l for l in shj), shj


def test_decontaminate_never_broadcasts_the_training_side(spark):
    """Round-11 misbroadcast-audit lock (the audit's second catch),
    tightened in round 13 and re-shaped in round 16: round 13 removed
    the query's one remaining broadcast (the eval-shingle hash
    relation is corpus-scaling — 5.6M strings at the 100x tier — and
    now shuffle_hash-builds per task), so the lock is total: NO
    BroadcastHashJoin anywhere. Round 16 retired the n_total join-back
    entirely — n_total rides the train explode via the explode_outer
    barrier (see decontaminate's docstring), so the plan must have
    exactly ONE join (eval, on sh) and NO doc_id join at all; if a
    doc_id join reappears, the re-plan regressed. The explode must
    stay OUTER: a plain explode of the named array column triggers
    InferFiltersFromGenerate's pushed size() filter, which re-runs
    the shingle pipeline per row (round 10's 9 -> 130 s)."""
    plan = _executed_plan(spark, "decontaminate")
    assert "BroadcastHashJoin" not in plan, plan
    doc_joins = [
        l for l in plan.splitlines()
        if "Join" in l and "doc_id" in l and "Join doc_id" not in l
    ]
    assert not doc_joins, doc_joins  # join-back retired in round 16
    # the eval join: shuffle_hash (or SMJ fallback) on the shingle key,
    # eval distinct set as the build (right) side
    sh_joins = [
        l for l in plan.splitlines()
        if ("ShuffledHashJoin" in l or "SortMergeJoin" in l) and "sh#" in l
    ]
    assert len(sh_joins) == 1, plan
    assert all("BuildRight" in l for l in sh_joins if "ShuffledHashJoin" in l), sh_joins
    # the train arm's generate is the outer-explode barrier: exactly one
    # Generate explode_outer, and the shingle pipeline (array_distinct)
    # appears once per arm — twice in the whole plan, never three times
    # (the third occurrence is the pushed-filter re-evaluation).
    outer_gen = [
        l for l in plan.splitlines()
        if "Generate explode(arr" in l and ", true, [" in l  # outer flag
    ]
    assert outer_gen, plan
    assert plan.count("array_distinct") == 2, plan.count("array_distinct")


def test_q16_has_no_pair_distinct_exchange(spark):
    """Round-12 re-plan lock: the oracle's (part, supplier)
    pre-distinct is REDUNDANT for count(DISTINCT l_suppkey) per
    (brand, type, size) — the round-6 form shuffled every lineitem row
    through a two-column distinct() (the plan's dominant exchange at
    the 100x tier, 6.6 -> 2.1 s when removed). Locked: no Exchange
    partitions on l_partkey (the old distinct's shuffle key), and the
    only hash exchanges are the two-phase distinct aggregate's own
    (group keys + suppkey, then group keys)."""
    plan = _executed_plan(spark, "q16_part_supplier_variety")
    hash_ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(hash_ex) == 2, hash_ex
    assert not any("l_partkey" in l for l in hash_ex), hash_ex
    # the part filter join must run BELOW the distinct-aggregate
    # exchange (i.e. before any shuffle), pruning the fact scan first.
    # part scales with the corpus, so a size-based flip to a shuffle
    # join at a larger fixture would be the CORRECT plan — tolerate it
    # (q5 adjudication pattern) instead of letting .index raise a
    # context-free ValueError.
    lines = plan.splitlines()
    part_bhj = [i for i, l in enumerate(lines) if "BroadcastHashJoin [l_partkey" in l]
    part_fallback = [
        l for l in lines
        if ("ShuffledHashJoin" in l or "SortMergeJoin" in l) and "l_partkey" in l
    ]
    assert part_bhj or part_fallback, f"no part join in plan:\n{plan}"
    if part_bhj:
        first_ex = next(i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l)
        assert min(part_bhj) > first_ex, "part join no longer below the aggregate exchange"


def test_q5_prunes_both_fact_exchanges_and_never_broadcasts_the_order_side(spark):
    """Round-12 re-plan lock: the ASIA restriction must prune
    lineitem (supplier broadcast probe) BELOW the l_orderkey exchange
    and the per-order side must never be broadcast-built — it is
    filtered but corpus-scaling (the round-11 misbroadcast pathology;
    hinted shuffle_hash, SMJ on the same keys is the spill-safe
    fallback)."""
    plan = _executed_plan(spark, "q5_local_supplier")
    lines = plan.splitlines()
    # no broadcast build of anything carrying the per-order join key
    assert not any(
        "BroadcastHashJoin" in l and "o_orderkey" in l for l in lines
    ), plan
    big_join = [
        l for l in lines if ("ShuffledHashJoin" in l or "SortMergeJoin" in l)
        and "l_orderkey" in l
    ]
    assert big_join, plan
    # the supplier probe join sits below the lineitem-side exchange
    # (tree prints parent before child). Match any hashpartitioning
    # exchange CONTAINING s_nationkey rather than assuming Catalyst
    # puts it first in the key list (ADVICE r12: predicate-ordering
    # drift would otherwise raise ValueError from .index with no
    # context).
    ex_lines = [
        i for i, l in enumerate(lines)
        if "hashpartitioning(" in l and "s_nationkey" in l
    ]
    # FIXTURE-SCALE-ONLY assumption (ADVICE r13): q5 leaves the
    # supplier-side join strategy to Catalyst's size estimate, so the
    # broadcast shape holds only while the filtered supplier dim sits
    # under the 64 MB threshold. The supplier dim is genuinely bounded
    # (it does NOT scale with the fact/corpus — not the round-11
    # misbroadcast class), so at a tier where AQE flips it to a
    # shuffle join on l_suppkey that is the CORRECT plan, and this
    # test tolerates it rather than pinning the crossover tier.
    supp_lines = [i for i, l in enumerate(lines) if "BroadcastHashJoin [l_suppkey" in l]
    supp_fallback = [
        l for l in lines
        if ("ShuffledHashJoin" in l or "SortMergeJoin" in l) and "l_suppkey" in l
    ]
    assert ex_lines, f"no s_nationkey-keyed exchange in plan:\n{plan}"
    assert supp_lines or supp_fallback, f"no supplier probe join in plan:\n{plan}"
    if supp_lines:
        assert min(supp_lines) > min(ex_lines), (
            "supplier probe no longer below the orderkey exchange"
        )


def test_dataset_mix_is_map_side_only(spark):
    """Weighted mixing is a pure filter: any Exchange means the
    hash-threshold filter regressed into something shuffled."""
    plan = _formatted_plan(spark, "dataset_mix")
    assert "Exchange" not in plan


def test_doc_winnow_has_no_shuffle(spark):
    """Winnowing is per-row array folds; fingerprint explosion stays
    map-side. Any Exchange is a regression."""
    plan = _formatted_plan(spark, "doc_winnow")
    assert "Exchange" not in plan


def test_shuffle_deterministic_is_single_bucket_shuffle(spark):
    """The deterministic permutation must shuffle once on the hash
    bucket — a global (empty-partition) window would single-thread it."""
    import re

    plan = _formatted_plan(spark, "shuffle_deterministic")
    assert "Exchange SinglePartition" not in plan
    key_lines = [l for l in plan.splitlines() if "Arguments: hashpartitioning" in l]
    assert key_lines and all("bucket" in l for l in key_lines), key_lines


def test_window_range_frame_has_no_global_window(spark):
    """The RANGE-frame window is a two-level prefix sum partitioned by
    value bucket (round-2 re-plan): a window with an empty partition
    spec would move the whole table into one task."""
    plan = _executed_plan(spark, "window_range_frame")
    offenders = _single_partition_windows(plan)
    assert not offenders, f"single-partition window in plan: {offenders}"


def test_q4_exists_is_semi_join(spark):
    """Q4's EXISTS must compile to a left-semi join (no row duplication
    before the priority count)."""
    plan = _formatted_plan(spark, "q4_order_priority")
    assert "LeftSemi" in plan


def test_q22_subqueries_decorrelate(spark):
    """Q22: the scalar AVG must broadcast (no per-row re-execution) and
    NOT EXISTS must be an anti join with the date filter pushed to the
    orders scan."""
    plan = _formatted_plan(spark, "q22_global_sales_opportunity")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_q9_part_filter_broadcasts(spark):
    """Q9's %red% part filter must reach the fact scan through a join,
    never a shuffle of the UNFILTERED part dim. At this pinned fixture
    tier that join is a broadcast (crossover family — the filtered
    part side still scales with the corpus, so a size-based flip to a
    shuffle join at larger fixtures is the correct plan and is
    tolerated; q5 adjudication pattern)."""
    plan = _formatted_plan(spark, "q9_product_profit")
    assert (
        "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
    ), plan


def test_q13_distribution_conserves_customers_and_orders(spark):
    """Q13 semantics: the distribution must account for EVERY customer
    (outer join — nobody drops even with zero qualifying orders) and
    its weighted sum must equal exactly the qualifying-order count
    (the priority filter lives in the join condition, so it removes
    orders, never customers)."""
    from rust_etl_spark.sources import load_table

    df = catalog.get("q13_customer_distribution").fn(spark, SF)
    rows = {r["c_count"]: r["custdist"] for r in df.collect()}
    n_cust = load_table(spark, SF, "customer").count()
    n_qual = (
        load_table(spark, SF, "orders")
        .filter("o_orderpriority <> '4-NOT SPECIFIED'")
        .count()
    )
    assert sum(rows.values()) == n_cust
    assert sum(k * v for k, v in rows.items()) == n_qual
    plan = _formatted_plan(spark, "q13_customer_distribution")
    assert "LeftOuter" in plan


def test_events_ohlc_single_exchange_for_windows_and_agg(spark):
    """OHLC is one min_by/max_by aggregate on (event_type, bucket):
    map-side partials combine, so exactly one fact exchange."""
    plan = _formatted_plan(spark, "events_ohlc")
    assert plan.count("Exchange hashpartitioning") <= 1


def test_basket_pairs_never_self_joins_the_fact(spark):
    """The oracle is a lineitem self-join; the Spark plan must instead
    expand pairs in-row — no join operator anywhere in the plan."""
    plan = _formatted_plan(spark, "basket_pairs")
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k without global sort


def test_tokenize_ids_broadcasts_vocab(spark):
    """The id mapping must be a broadcast join (the vocab is VOCAB_SIZE
    rows); the only corpus-sized shuffle is the per-doc aggregate."""
    plan = _formatted_plan(spark, "tokenize_ids")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-V vocab selection


def test_integrity_audit_referential_rules_are_anti_joins(spark):
    plan = _formatted_plan(spark, "integrity_audit")
    assert plan.count("LeftAnti") >= 2


def test_doc_chunk_is_map_side_only(spark):
    """Chunking is an in-row sequence explode + substring projection:
    any Exchange means the map-side-only contract broke."""
    plan = _formatted_plan(spark, "doc_chunk")
    assert "Exchange" not in plan


def test_dataset_split_is_map_side_only(spark):
    """Split assignment is a pure hash projection — zero shuffles."""
    plan = _formatted_plan(spark, "dataset_split")
    assert "Exchange" not in plan


def test_events_ewma_single_shuffle_no_join(spark):
    """EWMA is one user_id window pass + in-row fold. A Join (the
    naive self-join formulation, which re-shuffles events twice and
    fans out xK) or a second Exchange is a plan regression."""
    plan = _formatted_plan(spark, "events_ewma")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_events_rolling_distinct_sweep_line_shape(spark):
    """Round-16 sweep-line re-plan: ONE fact-sized exchange (the
    user_id collect_set), deltas collapsed to calendar-bounded day
    grain, then a bounded single-partition prefix-sum window — no
    join (the old form's days semi join) and no x{K} fan-out
    countDistinct (which shuffled every fanned row: 229.1 -> 7.1 MB
    at gen_sf10). Exactly one window (the prefix sum; its
    single-partition input is day-grain, adjudicated in
    BOUNDED_GRAIN_SP_WINDOW_OK) and at most two hash exchanges
    (user_id + day grain)."""
    plan = _formatted_plan(spark, "events_rolling_distinct")
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    import re as _re
    assert len(_re.findall(r"\(\d+\) Window", plan)) == 1, plan


def test_corpus_clean_pipeline_is_one_map_side_pass(spark):
    """The composed cleaning cascade must stay a single map-side scan:
    any Exchange means a signal regressed to a shuffle."""
    plan = _formatted_plan(spark, "corpus_clean_pipeline")
    assert "Exchange" not in plan


def test_pq_encode_has_no_shuffle(spark):
    """PQ encoding is a pure map against the literal codebook: no
    Exchange anywhere — at scale every task encodes its partition
    without data movement."""
    plan = _formatted_plan(spark, "embedding_pq_encode")
    assert "Exchange" not in plan


def test_pq_ann_only_exchange_is_topk_merge(spark):
    """ADC scoring must stay in-row: the only movement in the plan is
    the TakeOrderedAndProject k-row merge (plus its driver collect),
    never a hash or range exchange of the candidates."""
    plan = _formatted_plan(spark, "similarity_ann_pq")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_zorder_topk_avoids_global_sort(spark):
    plan = _formatted_plan(spark, "zorder_order")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_skyline_broadcasts_both_bound_tables(spark):
    """Phase-1 and phase-2 bound tables are tiny (bucket- and
    candidate-price-grain) and must broadcast; the part table itself
    must never hash-shuffle."""
    plan = _formatted_plan(spark, "skyline_pareto")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_seasonal_decompose_windows_are_partitioned(spark):
    """The trend window must be partitioned by event_type (daily
    grain) — no unpartitioned window may appear."""
    plan = _formatted_plan(spark, "events_seasonal_decompose")
    assert "Window" in plan
    # an unpartitioned window would plan as 'Exchange SinglePartition'
    assert "Exchange SinglePartition" not in plan


def test_customer_ltv_deciles_has_no_global_window(spark):
    """r6 re-plan: the decile derives from band-partitioned ranks plus
    integer ntile arithmetic (house pattern, same as gini/abc) — no
    global ntile, and no single-partition window may touch the
    customer grain."""
    plan = _formatted_plan(spark, "customer_ltv_deciles")
    assert "ntile" not in plan
    offenders = _single_partition_windows(_executed_plan(spark, "customer_ltv_deciles"))
    assert not offenders, f"single-partition window in plan: {offenders}"


#: Queries whose plans contain a single-partition window over a
#: SUB-LINEAR, ONE-TASK-FEASIBLE GRAIN — a pre-aggregated table whose
#: row count is corpus-size-independent (price buckets), time-domain
#: (days), or ~sqrt(N) (scale-aware blocks) — like a scalar
#: aggregate's SinglePartition. Each entry records the grain bound;
#: anything NOT listed here that plans a single-partition window fails
#: the catalog-wide lock. A corpus-LINEAR unpartitioned window must
#: instead use the house two-level prefix-sum / broadcast-triangular
#: patterns (window_range_frame).
BOUNDED_GRAIN_SP_WINDOW_OK = {
    "skyline_pareto": "two windows on pre-aggregated grains: ~20 price "
    "buckets (phase 1) and distinct prices of the phase-1 skyline "
    "survivors (prune ratio pinned in test_layout.py) — both "
    "corpus-size-independent",
    "events_spike_detect": "rolling baseline over DAILY totals (time-"
    "domain grain: grows with the calendar horizon, not the event rate)",
    "events_cumulative_users": "running sum over distinct days (same "
    "time-domain grain)",
    "events_rolling_distinct": "prefix sum of per-user interval deltas "
    "collapsed to day grain first (round-16 sweep-line re-plan) — the "
    "window input is calendar-bounded like the other time-domain "
    "entries, never corpus-sized",
    "events_lateness_profile": "exclusive prefix max over event-id "
    "blocks at the SCALE-AWARE sqrt(N) block width (late_block — round "
    "8 fix: the fixed 1000-wide block grew this window N/1000 = "
    "corpus-linear); ~10^6 tiny rows in one task at a trillion events",
}


def test_no_single_partition_window_anywhere_in_catalog(spark):
    """Catalog-WIDE lock: no query may plan a Window fed (optionally
    through a Sort) by Exchange SinglePartition over an UNBOUNDED
    grain. Round 8 fixed the round-6 detector (its regex matched the
    child relationship inverted, so it could never fire) and split the
    survivors into an explicit bounded-grain allowlist, each entry
    recording WHY its window input is corpus-size-independent."""
    offenders = {}
    for name, q in catalog.queries().items():
        df = q(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        hits = _single_partition_windows(plan)
        if hits:
            offenders[name] = hits
    unlisted = {n: h for n, h in offenders.items() if n not in BOUNDED_GRAIN_SP_WINDOW_OK}
    assert not unlisted, f"UNBOUNDED single-partition windows: {unlisted}"
    # keep the allowlist honest: every listed query must still plan the
    # shape it is excused for (stale entries get cleaned up)...
    stale = [n for n in BOUNDED_GRAIN_SP_WINDOW_OK if n in catalog.queries() and n not in offenders]
    assert not stale, f"allowlist entries no longer needed: {stale}"
    # ...and must still EXIST — an entry whose query left the catalog
    # would otherwise linger dead forever (ADVICE round 8).
    missing = set(BOUNDED_GRAIN_SP_WINDOW_OK) - set(catalog.queries())
    assert not missing, f"allowlist entries for removed queries: {missing}"


def test_late_block_scale_aware():
    """late_block (events_lateness_profile's block width) must grow as
    ~sqrt(N): both window stages of the two-level prefix max stay
    one-task-feasible at any corpus size (round-8 fix for the
    corpus-linear fixed-width block domain)."""
    from rust_etl_spark.plans.events_queries import LATE_BLOCK, late_block

    assert late_block(1) == LATE_BLOCK
    assert late_block(100_000) == 1_000       # sf0.1 — unchanged width
    assert late_block(1_000_000) == 1_000     # gen_sf1 boundary (10^6 = W^2)
    assert late_block(1_000_001) == 10_000
    assert late_block(3_000_000) == 10_000    # gen_sf3
    assert late_block(10**12) == 1_000_000    # both stages ~10^6 rows
    ws = [late_block(10**e) for e in range(0, 16)]
    assert ws == sorted(ws)


def test_session_scale_configs_pinned(spark):
    """The scale-critical session knobs are load-bearing measured fixes
    (rounds 6-8) — a refactor that drops one silently reintroduces a
    verified failure mode, so pin them on the live engine session:

    - AQE + coalesce + data-scaled initialPartitionNum (8x cores):
      without it the 100x tier's >1 GB sorts squeezed through the
      static core-count partitioning and spilled 5.2/2.6 GB
      (join_star / window_range_frame);
    - 32 MB split target + 256 KB open-cost floor: byte-small
      compute-heavy single-file tables (embeddings) otherwise plan
      1-2 tasks and serialize the kernel work (kmeans 46x at 10x);
    - nanosAsLong: events.parquet is TIMESTAMP(NANOS).
    """
    from rust_etl_spark.session import default_parallelism

    conf = spark.conf
    assert conf.get("spark.sql.adaptive.enabled") == "true"
    assert conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    ) == str(8 * default_parallelism())
    # 16 MB advisory target: a 64 MB post-shuffle partition expands ~5x
    # in memory against ~300 MB/task local execution memory (q21 at the
    # 100x tier spilled 9.3 GB through the 64 MB default).
    assert conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "16m"
    assert conf.get("spark.sql.files.maxPartitionBytes") == str(32 * 1024 * 1024)
    assert conf.get("spark.sql.files.openCostInBytes") == str(256 * 1024)
    assert conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
