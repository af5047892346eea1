"""Bucketed co-partitioned layout: plan-shape locks (VERDICT r8 #1).

The 100x scaling story's last move — "at that scale you co-partition/
bucket orders+lineitem instead of re-shuffling per query" — must be
plan-verified, not asserted. These tests materialize the bucketed
layout at the smoke tier via the SHIPPED writer
(sinks.write_bucketed_fact_layout), repoint the tables with
sources.set_layout_override, and assert from the AQE-final executed
plan that:

* the fact-fact join on the bucket key plans ZERO shuffle exchanges
  (and the same join over plain parquet DOES plan them — the detector
  is proven non-vacuous, the round-6 vacuous-lock lesson);
* a groupBy on the bucket key aggregates with ZERO exchanges;
* the shipped q18 query strictly REDUCES its exchange count when the
  layout is repointed, with identical results.
"""

from __future__ import annotations

import re
import uuid

import pytest
from pyspark.sql import functions as F

from rust_etl_spark.plans import catalog
from rust_etl_spark.sinks import write_bucketed_fact_layout
from rust_etl_spark.sources import (
    clear_layout_overrides,
    load_table,
    set_layout_override,
)

SF = "/root/testdata/sf0.001"
FACTS = {"orders": "o_orderkey", "lineitem": "l_orderkey"}


def _final_plan(df) -> str:
    df.collect()  # AQE finalizes the plan on execution
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(plan: str) -> int:
    return len(re.findall(r"\bExchange (?:hash|range)partitioning", plan))


@pytest.fixture()
def bucketed(spark):
    """Bucketed orders+lineitem at the smoke tier, unique table names;
    overrides NOT set (each test decides); dropped afterwards."""
    suffix = f"_t{uuid.uuid4().hex[:8]}"
    names = write_bucketed_fact_layout(spark, SF, FACTS, n_buckets=4, suffix=suffix)
    try:
        yield names
    finally:
        clear_layout_overrides()
        for tname in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {tname}")


@pytest.fixture()
def no_broadcast(spark):
    """Force shuffle joins so the smoke tier exhibits the large-tier
    SMJ shape (everything broadcasts at sf0.001 otherwise)."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_layout_override_routes_load_table(spark, bucketed):
    base = load_table(spark, SF, "orders")
    set_layout_override(SF, "orders", bucketed["orders"])
    try:
        routed = load_table(spark, SF, "orders")
        plan = routed._jdf.queryExecution().executedPlan().toString()
        # the scan must come from the catalog table, not the parquet dir
        # (a BARE scan reports "Bucketed: false (disabled by query
        # planner)" — Spark only reads bucket-grained when an operator
        # wants the distribution; the exchange-free tests below pin that)
        assert bucketed["orders"] in plan, plan
        assert routed.count() == base.count()
        assert sorted(routed.columns) == sorted(base.columns)
    finally:
        clear_layout_overrides()


def test_bucketed_fact_join_is_exchange_free(spark, bucketed, no_broadcast):
    def join_core(o, li):
        return (
            li.select("l_orderkey", "l_quantity")
            .join(o.select("o_orderkey", "o_totalprice"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("q"), F.max("o_totalprice").alias("p"))
        )

    # baseline: plain parquet MUST shuffle (non-vacuous detector)
    base_plan = _final_plan(
        join_core(load_table(spark, SF, "orders"), load_table(spark, SF, "lineitem"))
    )
    assert _exchanges(base_plan) >= 2, base_plan

    o_bkt = spark.table(bucketed["orders"])
    li_bkt = spark.table(bucketed["lineitem"])
    bkt_plan = _final_plan(join_core(o_bkt, li_bkt))
    # the write-time shuffle replaces every runtime exchange: the join
    # AND the groupBy on the bucket key are satisfied by the bucketing
    assert _exchanges(bkt_plan) == 0, bkt_plan


def test_bucketed_join_sort_elimination(spark, bucketed, no_broadcast):
    """With spark.sql.legacy.bucketedTableScan.outputOrdering=true the
    sort-merge join consumes the WRITE-TIME sort directly: zero
    exchanges AND zero sorts — a fully pipelined merge join from disk.
    The conf is off by default because respecting ordering pins read
    parallelism to one-file-per-bucket; write_bucketed_fact_layout
    guarantees exactly that (repartition-to-n_buckets before the
    write), so the layout can opt in safely."""
    key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    spark.conf.set(key, "true")
    try:
        o = spark.table(bucketed["orders"]).select("o_orderkey", "o_totalprice")
        li = spark.table(bucketed["lineitem"]).select("l_orderkey", "l_quantity")
        plan = _final_plan(li.join(o, F.col("l_orderkey") == F.col("o_orderkey")))
        assert _exchanges(plan) == 0, plan
        assert len(re.findall(r"\bSort \[", plan)) == 0, plan
    finally:
        spark.conf.unset(key)


def test_bucketed_groupby_on_key_is_exchange_free(spark, bucketed):
    li_bkt = spark.table(bucketed["lineitem"])
    plan = _final_plan(
        li_bkt.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    )
    assert _exchanges(plan) == 0, plan
    base = _final_plan(
        load_table(spark, SF, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    assert _exchanges(base) >= 1, base


def test_shipped_q18_exchange_count_drops_with_layout(spark, bucketed, no_broadcast):
    """The SHIPPED query, repointed: fewer exchanges, identical rows."""
    q = catalog.get("q18_large_volume")
    base_df = q.fn(spark, SF)
    base_rows = [tuple(r) for r in base_df.collect()]
    base_plan = base_df._jdf.queryExecution().executedPlan().toString()

    for tbl, tname in bucketed.items():
        set_layout_override(SF, tbl, tname)
    try:
        bkt_df = q.fn(spark, SF)
        bkt_rows = [tuple(r) for r in bkt_df.collect()]
        bkt_plan = bkt_df._jdf.queryExecution().executedPlan().toString()
    finally:
        clear_layout_overrides()

    assert bkt_rows == base_rows
    assert _exchanges(bkt_plan) < _exchanges(base_plan), (
        _exchanges(bkt_plan), _exchanges(base_plan), bkt_plan,
    )


def test_shipped_q21_exchange_count_drops_with_layout(spark, bucketed, no_broadcast):
    """q21's round-12 window re-plan removed the self-join; its docstring
    names the residual 100x wall as 'the two fact-side join shuffles
    both forms pay'. Those exchanges are on the bucket key: with the
    layout repointed, the lineitem⋈orders SMJ, the (l_orderkey,
    l_suppkey) partial aggregate, AND the l_orderkey window all ride
    the bucket clustering (HashPartitioning(orderkey) satisfies every
    one of those distributions), so the exchange count strictly drops
    — identical rows either way."""
    q = catalog.get("q21_sole_late_supplier")
    base_df = q.fn(spark, SF)
    base_rows = [tuple(r) for r in base_df.collect()]
    base_plan = base_df._jdf.queryExecution().executedPlan().toString()

    for tbl, tname in bucketed.items():
        set_layout_override(SF, tbl, tname)
    try:
        bkt_df = q.fn(spark, SF)
        bkt_rows = [tuple(r) for r in bkt_df.collect()]
        bkt_plan = bkt_df._jdf.queryExecution().executedPlan().toString()
    finally:
        clear_layout_overrides()

    assert bkt_rows == base_rows
    assert _exchanges(bkt_plan) < _exchanges(base_plan), (
        _exchanges(bkt_plan), _exchanges(base_plan), bkt_plan,
    )
    # the fact-side orderkey exchanges specifically must be gone
    assert "hashpartitioning(l_orderkey" not in bkt_plan, bkt_plan
    assert "hashpartitioning(o_orderkey" not in bkt_plan, bkt_plan


def test_shipped_q10_exchange_count_drops_with_layout(spark, bucketed, no_broadcast):
    """q10's round-13 order-grain re-plan names its residual wall as
    'the one orderkey fact exchange — the bucketed-layout family's
    answer'. This is that answer, locked: with the layout repointed,
    the R-lineitem per-order partial aggregate AND the
    per_order⋈orders join both ride the bucket clustering
    (HashPartitioning(orderkey) satisfies both distributions), so no
    orderkey exchange survives — identical rows either way. The
    remaining exchanges (o_custkey grain, top-20 sort) are not on the
    bucket key by design."""
    q = catalog.get("q10_returned_items")
    base_df = q.fn(spark, SF)
    base_rows = [tuple(r) for r in base_df.collect()]
    base_plan = base_df._jdf.queryExecution().executedPlan().toString()

    for tbl, tname in bucketed.items():
        set_layout_override(SF, tbl, tname)
    try:
        bkt_df = q.fn(spark, SF)
        bkt_rows = [tuple(r) for r in bkt_df.collect()]
        bkt_plan = bkt_df._jdf.queryExecution().executedPlan().toString()
    finally:
        clear_layout_overrides()

    assert bkt_rows == base_rows
    assert _exchanges(bkt_plan) < _exchanges(base_plan), (
        _exchanges(bkt_plan), _exchanges(base_plan), bkt_plan,
    )
    # the orderkey fact exchanges specifically must be gone
    assert "hashpartitioning(l_orderkey" not in bkt_plan, bkt_plan
    assert "hashpartitioning(o_orderkey" not in bkt_plan, bkt_plan


# ---------------------------------------------------------------------
# Second key family (VERDICT r9 #5): user-bucketed EVENTS. The events
# surface shuffles user/day keys in every sessionize/asof/range query;
# these locks prove the same writer+override mechanism generalizes
# beyond the orderkey pair — a user_id-bucketed, (user_id, ts_ns,
# event_id)-sorted events layout makes per-user windows AND the
# user-keyed aggregates that follow them exchange-free, and with
# write-time-order consumption the window's Sort disappears too.
# ---------------------------------------------------------------------

#: orders co-bucketed on the same key/count since round 16: under AQE a
#: ONE-sided bucketed join never consumes the bucketing (measured —
#: EnsureRequirements re-shuffles both sides at every n_buckets x
#: shuffle.partitions combination so AQE can coalesce, then
#: DisableUnnecessaryBucketedScan turns the bucketed read off; AQE off
#: + matching counts does eliminate the exchange). Both-sides-bucketed
#: is the AQE-safe shape (the orderkey-family precedent), and it makes
#: events_asof_join exchange-free end to end.
EVENTS_SPEC = {
    "events": ("user_id", ["user_id", "ts_ns", "event_id"]),
    "orders": ("o_custkey", ["o_custkey", "o_orderdate"]),
}


@pytest.fixture()
def bucketed_events(spark):
    suffix = f"_t{uuid.uuid4().hex[:8]}"
    names = write_bucketed_fact_layout(spark, SF, EVENTS_SPEC, n_buckets=4, suffix=suffix)
    try:
        yield names
    finally:
        clear_layout_overrides()
        for tname in names.values():
            spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_user_bucketed_window_is_exchange_free(spark, bucketed_events):
    from pyspark.sql.window import Window

    def sessionish(ev):
        w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
        return (
            ev.select("user_id", "event_id", "ts_ns")
            .withColumn("prev_ns", F.lag("ts_ns").over(w))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    # parquet baseline MUST shuffle (non-vacuous detector)
    base_plan = _final_plan(sessionish(load_table(spark, SF, "events")))
    assert _exchanges(base_plan) >= 1, base_plan

    ev_bkt = load_table_via_override(spark, bucketed_events)
    plan = _final_plan(sessionish(ev_bkt))
    # bucketing satisfies the window's ClusteredDistribution(user_id)
    # AND the downstream groupBy(user_id): zero exchanges end-to-end
    assert _exchanges(plan) == 0, plan


def load_table_via_override(spark, names):
    set_layout_override(SF, "events", names["events"])
    try:
        return load_table(spark, SF, "events")
    finally:
        clear_layout_overrides()


def test_user_bucketed_window_sort_elimination(spark, bucketed_events):
    """The compound write-time sort (user_id, ts_ns, event_id) is the
    window's exact required ordering, so with write-time-order
    consumption the per-user window plans zero Exchange AND zero Sort."""
    from pyspark.sql.window import Window

    key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    spark.conf.set(key, "true")
    try:
        ev = load_table_via_override(spark, bucketed_events)
        w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
        df = ev.select("user_id", "event_id", "ts_ns").withColumn(
            "prev_ns", F.lag("ts_ns").over(w)
        )
        plan = _final_plan(df)
        assert _exchanges(plan) == 0, plan
        assert len(re.findall(r"\bSort \[", plan)) == 0, plan
    finally:
        spark.conf.unset(key)


@pytest.mark.parametrize(
    "name",
    [
        "events_sessionize",
        "events_funnel",
        # the family's two largest pure-events exchanges.
        "events_ewma",
        "events_interval_merge",
        # round 16 (VERDICT r15 #2, the deferred layout decision): the
        # union-then-window form could not use the layout (Union has
        # unknown output partitioning); the round-16 re-plan left-joins
        # a per-user orders array onto the 3-column events projection,
        # and with orders co-bucketed on the same key/count (see
        # EVENTS_SPEC note) the whole query plans exchange-free.
        "events_asof_join",
    ],
)
def test_shipped_events_queries_drop_exchanges_with_layout(
    spark, bucketed_events, no_broadcast, name
):
    """The SHIPPED user-keyed events queries, repointed: fewer
    exchanges, identical rows."""
    q = catalog.get(name)
    base_df = q.fn(spark, SF)
    base_rows = sorted(tuple(r) for r in base_df.collect())
    base_plan = base_df._jdf.queryExecution().executedPlan().toString()

    for tbl, tname in bucketed_events.items():
        set_layout_override(SF, tbl, tname)
    try:
        bkt_df = q.fn(spark, SF)
        bkt_rows = sorted(tuple(r) for r in bkt_df.collect())
        bkt_plan = bkt_df._jdf.queryExecution().executedPlan().toString()
    finally:
        clear_layout_overrides()

    assert bkt_rows == base_rows
    assert _exchanges(bkt_plan) < _exchanges(base_plan), (
        name, _exchanges(bkt_plan), _exchanges(base_plan), bkt_plan,
    )
