"""Additional TPC-H-shaped analytical queries + reshaping operators
(unpivot, ordered string aggregation) — depth for the relational
surface over the star-schema fixtures.

Plan posture mirrors join_star: dimension filters push below joins,
dims broadcast, aggregates are two-phase, top-k uses
TakeOrderedAndProject with total-order tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_etl_spark.functions.rounding import round_half_up, round_half_up_sql
from rust_etl_spark.plans.catalog import register
from rust_etl_spark.plans.relational import (
    discount_revenue,
    pricing_summary,
    pricing_summary_oracle,
)
from rust_etl_spark.sources import load_table

# Exact scaled-integer money (the abc_analysis / q9 / q15 pattern,
# migrated here proactively in round 13 — `round(sum(double))` hash-
# failed twice at the 10x tier in round 6 and CLAUDE.md's policy is to
# migrate the class, not wait for the third hit). See functions/money.py.
from rust_etl_spark.functions.money import (  # noqa: E402
    CENTS as _CENTS,
    DISC_REV_SCALED as _DISC_REV_SCALED,
    REV_SCALED as _REV_SCALED,
)


@register(
    "q17_small_quantity",
    oracle=f"""
        WITH pavg AS (
            SELECT l_partkey, avg(l_quantity) AS avg_qty
            FROM lineitem GROUP BY l_partkey
        )
        SELECT {round_half_up_sql(f"CAST(sum({_CENTS}) AS BIGINT) / 700.0", 2)}
               AS avg_yearly
        FROM lineitem l JOIN pavg ON l.l_partkey = pavg.l_partkey
        WHERE l.l_quantity < 0.5 * pavg.avg_qty
    """,
    doc="TPC-H-Q17-shaped correlated aggregate: rows compared against their own "
    "group's average via a derived-aggregate join (the decorrelated form Catalyst "
    "produces for the scalar subquery; one shuffle keyed l_partkey on each side). "
    "Money is exact integer cents; /7.0 and the cent-round are the only float "
    "steps, identical IEEE ops on the same BIGINT in both engines.",
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pavg = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        li.join(pavg, "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(F.sum(F.expr(_CENTS)).cast("long").alias("cents"))
        .select(round_half_up(F.col("cents") / F.lit(700.0), 2).alias("avg_yearly"))
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
        SELECT l_orderkey,
               {round_half_up_sql("rev_scaled / 10000.0", 2)} AS revenue,
               o_year, o_orderpriority
        FROM (
            SELECT l_orderkey,
                   CAST(sum({_REV_SCALED}) AS BIGINT) AS rev_scaled,
                   CAST(year(o_orderdate) AS INT) AS o_year,
                   o_orderpriority
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
              AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
            GROUP BY l_orderkey, year(o_orderdate), o_orderpriority
            ORDER BY rev_scaled DESC, l_orderkey
            LIMIT 10
        ) t
    """,
    doc="TPC-H-Q3-shaped shipping priority: segment+date filters pushed, 3-table "
    "join, top-10 revenue. Money is exact scaled-integer (cents x discount-pct); "
    "the top-10 sorts on the exact BIGINT so LIMIT membership can never straddle "
    "a float rounding boundary.",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority top-10 (TPC-H Q3 topology).

    Scale posture (round-15 re-plan): the earlier form shuffled the
    near-unfiltered orders projection (the date predicate keeps ~97%
    of orders) to meet lineitem on orderkey and applied the BUILDING
    segment restriction LAST via a forced customer broadcast — a
    corpus-scaling side under an explicit broadcast (the round-11
    pathology class). Now the segment restriction semi-prunes orders
    FIRST (left_semi on custkey; size-based join selection broadcasts
    the segment projection at tested tiers and flips to a shuffle
    join on its own as the estimate grows — the q5/ADVICE-r12
    self-correcting posture), cutting the orders-side orderkey
    exchange ~5x; and the shipdate-filtered lineitem side partially
    aggregates per orderkey ahead of its exchange, which also makes
    the old post-join groupBy collapse (orders is unique per
    orderkey, so the join output is already at result grain — the
    top-10 runs straight off the joined rows, same total-order
    tie-break). Interleaved warm pairs at gen_sf10: faster in 4/4
    reps, min 3.77 -> 3.15 s; outputs exactly equal.
    """
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        .join(cust, F.col("o_custkey") == cust.c_custkey, "left_semi")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    per_order = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp"))
        .select("l_orderkey", F.expr(_REV_SCALED).alias("rs"))
        .groupBy("l_orderkey")
        .agg(F.sum("rs").cast("long").alias("rev_scaled"))
    )
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .select(
            "l_orderkey",
            "rev_scaled",
            F.year("o_orderdate").alias("o_year"),
            "o_orderpriority",
        )
        .orderBy(F.col("rev_scaled").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            round_half_up(F.col("rev_scaled") / F.lit(10000.0), 2).alias("revenue"),
            "o_year",
            "o_orderpriority",
        )
    )


@register(
    "q10_returned_items",
    oracle=f"""
        SELECT c_custkey, c_name, n_name,
               {round_half_up_sql("rev_scaled / 10000.0", 2)} AS revenue
        FROM (
            SELECT c_custkey, c_name, n_name,
                   CAST(sum({_REV_SCALED}) AS BIGINT) AS rev_scaled
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY rev_scaled DESC, c_custkey
            LIMIT 20
        ) t
    """,
    doc="TPC-H-Q10-shaped returned-item revenue per customer, top 20. Money is "
    "exact scaled-integer; the top-20 sorts on the exact BIGINT. Aggregates "
    "BEFORE joining (order grain, then customer grain), so the custkey "
    "exchange moves one skinny row per customer, not every joined lineitem.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue per customer (TPC-H Q10 topology).

    Round-13 worst-query re-plan (the last crossover-family residual
    without one): the round-1 form joined the full R-filtered lineitem
    through orders AND customer before its single wide groupBy — at
    the 100x tier that shuffles ~15M joined rows on o_custkey just to
    collapse them to 1.5M customers one exchange later. Revenue is a
    pure sum, so aggregation commutes with both equi-joins: collapse
    R-lineitems to ORDER grain before the orderkey join (map-side
    partial aggregation eats the ~1.6 R-rows/order fan-in), then to
    CUSTOMER grain before the customer join, so the custkey exchange
    and the customer-side join probe both run at one-skinny-row-per-
    customer scale. The n_name/c_name attach happens after both
    aggregates (nation broadcast; customer join at customer grain —
    Catalyst may broadcast the per-customer aggregate while its
    estimate is small and AQE shuffles it later, the adjudicated
    crossover family). Measured warm min-of-3 at gen_sf10: 6.63 ->
    4.05 s (1.64x), exceptAll = 0 both directions; the remaining wall
    is the one orderkey fact exchange — the bucketed-layout family's
    answer (sinks.write_bucketed_fact_layout).
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", F.expr(_REV_SCALED).alias("r"))
    )
    per_order = li.groupBy("l_orderkey").agg(F.sum("r").alias("r"))
    per_cust = (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("r").cast("long").alias("rev_scaled"))
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "rev_scaled")
        .orderBy(F.col("rev_scaled").desc(), F.col("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            round_half_up(F.col("rev_scaled") / F.lit(10000.0), 2).alias("revenue"),
        )
    )


@register(
    "unpivot_metrics",
    oracle="""
        SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        UNION ALL
        SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
    """,
    doc="Unpivot wide metrics to long form (DataFrame.unpivot / melt).",
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").alias("retailprice"),
    )
    return part.unpivot("p_partkey", ["size", "retailprice"], "metric", "value")


@register(
    "listagg_ordered",
    oracle="""
        SELECT n_regionkey,
               string_agg(n_name, ',' ORDER BY n_name) AS nations
        FROM nation GROUP BY n_regionkey
    """,
    doc="Ordered string aggregation (listagg WITHIN GROUP — deterministic element order).",
)
def listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    nation.createOrReplaceTempView("nation_v")
    return spark.sql(
        "SELECT n_regionkey, listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations "
        "FROM nation_v GROUP BY n_regionkey"
    )


@register(
    "join_outer_full",
    oracle="""
        SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
               c.n_cust, s.n_supp
        FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY c_nationkey) c
        FULL OUTER JOIN (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY s_nationkey) s
          ON c.c_nationkey = s.s_nationkey
    """,
    doc="Full outer join of per-nation customer vs supplier counts (null-preserving sides).",
)
def join_outer_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, c.c_nationkey == s.s_nationkey, "full_outer").select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"), "n_cust", "n_supp"
    )


@register(
    "q1_pricing_summary",
    oracle=pricing_summary_oracle("2000-09-02 00:00:00"),
    doc="TPC-H-Q1-shaped pricing summary: the canonical wide-aggregate scan — one "
    "pass, partial (map-side) aggregation into 4 groups, derived sums/avgs all in "
    "whole-stage codegen; the shuffle moves only 4 groups x 8 partials. All money "
    "and rate aggregates are exact scaled BIGINTs (cents / discount-pct / tax-pct; "
    "quantities are whole numbers); sums and averages are derived from them with "
    "identical IEEE division + half-up-round steps on both engines.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pricing_summary(spark, sf_dir, "2000-09-02 00:00:00")


@register(
    "q6_forecast_revenue",
    oracle=f"""
        SELECT {round_half_up_sql(f"CAST(sum({_DISC_REV_SCALED}) AS BIGINT) / 10000.0", 2)}
               AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount >= 0.045 AND l_discount <= 0.075
          AND l_quantity < 24
    """,
    doc="TPC-H-Q6-shaped forecast revenue: pure filter+scalar-aggregate — every "
    "predicate pushes to the parquet scan (date range prunes row groups via "
    "min/max stats), zero joins, one shuffle of a single partial. Discount bounds "
    "sit at 0.005-step midpoints so double-literal boundary equality can never "
    "differ between engines; the discount-revenue sum is exact scaled-integer "
    "(cents x discount-pct).",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return discount_revenue(spark, sf_dir, 0.045, 0.075)


Q18_QTY_MIN = 300.0


@register(
    "q18_large_volume",
    oracle=f"""
        WITH big AS (
            SELECT l_orderkey, sum(l_quantity) AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(l_quantity) > {Q18_QTY_MIN}
        )
        SELECT c_name, c_custkey, o_orderkey,
               epoch_us(o_orderdate) AS o_orderdate_us,
               o_totalprice, total_qty
        FROM big
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    doc="TPC-H-Q18-shaped large-volume-customer query: aggregate the fact table "
    "first (HAVING prunes ~99.7% of orders), then join the survivors back to "
    "orders and customer. The expensive join runs on the post-aggregate slice, "
    "not the raw fact table; top-100 is TakeOrderedAndProject with an o_orderkey "
    "tie-break.",
)
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agg-then-join-back: which customers placed the largest orders.

    Scale posture: sum(l_quantity) reduces lineitem to one row per
    order with map-side partial aggregation before its only shuffle;
    the > threshold filter then cuts that to a sliver, so the
    orders/customer joins see thousands of rows, not billions — AQE
    converts them to broadcasts at runtime. ``total_qty`` sums
    whole-number doubles, so the HAVING boundary is exact on both
    engines. o_orderdate is emitted as integer epoch micros (the
    repo's portable timestamp convention).
    """
    from rust_etl_spark.plans.events_queries import ntz_epoch_us

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > Q18_QTY_MIN)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            ntz_epoch_us("o_orderdate").alias("o_orderdate_us"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "q5_local_supplier",
    oracle=f"""
        SELECT n_name,
               {round_half_up_sql("rev_scaled / 10000.0", 2)} AS revenue
        FROM (
            SELECT n_name, CAST(sum({_REV_SCALED}) AS BIGINT) AS rev_scaled
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY n_name
        ) t
    """,
    doc="TPC-H-Q5-shaped local-supplier revenue: 6-table star join where the "
    "customer and supplier must share a nation, nation restricted to one region "
    "and orders to a 2-year window. Dims (supplier/nation/region) broadcast; the "
    "only shuffles are the two fact joins, both pre-filtered.",
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier revenue by nation (TPC-H Q5 join topology).

    Scale posture: the region restriction is pushed through BOTH dim
    arms before either fact shuffle. The round-6 form shuffled the
    full lineitem on l_orderkey and the full join result on o_custkey,
    then applied the supplier/nation predicates last; since every join
    is inner and the predicates are conjunctive, they reorder freely —
    so the ASIA-supplier broadcast semi-probe now prunes lineitem to
    ~1/5 of its rows BEFORE the orderkey exchange, and customer is cut
    to ASIA nations (carrying n_name) before the custkey exchange,
    which also makes orders⋈customer selective (~date-window x 1/5) so
    the orderkey exchange's probe side shrinks the same way. The
    per-order side is hinted shuffle_hash: it is filtered but still
    corpus-scaling, and Catalyst's static estimate would otherwise
    broadcast it at mid tiers (the round-11 misbroadcast pathology).
    5.9 -> 2.x s min-of-3 warm at gen_sf10; outputs exactly equal.
    The same-nation predicate rides the joined row (no extra join).
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(nation.select("n_nationkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey", "n_name")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    # NO explicit broadcast on the supplier probe (ADVICE r12): the
    # ASIA-filtered supplier projection is corpus-scaling (∝ SF, ~2
    # ints/row — KBs at every evidence tier but ~GBs at a real 100 TB
    # SF), and a forced broadcast of an unbounded side is the repo's
    # own round-11 pathology. Size-based selection broadcasts it at
    # every tested tier (plan-locked below) and flips to a shuffle
    # join on its own once the estimate outgrows the threshold; the
    # bounded nation/region dims stay explicitly broadcast.
    li_asia = li.join(supp, li.l_suppkey == supp.s_suppkey)
    ord_cust = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return (
        li_asia.join(
            ord_cust.hint("shuffle_hash"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(F.expr(_REV_SCALED)).cast("long").alias("rev_scaled"))
        .select(
            "n_name",
            round_half_up(F.col("rev_scaled") / F.lit(10000.0), 2).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


LATE_DAYS = 1000


@register(
    "q21_sole_late_supplier",
    oracle=f"""
        WITH flagged AS (
            SELECT l_orderkey, l_suppkey,
                   max(CASE WHEN datediff('day', o_orderdate, l_shipdate)
                                 > {LATE_DAYS} THEN 1 ELSE 0 END) AS is_late
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY l_orderkey, l_suppkey
        ),
        per_order AS (
            SELECT l_orderkey, count(*) AS n_supp,
                   sum(is_late) AS n_late
            FROM flagged GROUP BY l_orderkey
        )
        SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        FROM flagged
        JOIN per_order USING (l_orderkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE flagged.is_late = 1 AND n_supp > 1 AND n_late = 1
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 25
    """,
    doc=f"TPC-H-Q21-shaped sole-late-supplier count: on multi-supplier orders, "
    f"the one supplier whose lineitem shipped > {LATE_DAYS} days after the order "
    "date while every other supplier shipped on time. Decorrelated to one "
    "per-(order,supplier) aggregate + one per-order aggregate instead of the "
    "textbook EXISTS/NOT EXISTS double self-join of the fact table.",
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sole-late-supplier analysis (TPC-H Q21 topology, ship-lag semantics).

    The classic plan self-joins lineitem twice (EXISTS + NOT EXISTS).
    At 100 TB that is two extra shuffles of the largest table. This
    formulation aggregates once per (order, supplier) with a late
    flag, then collapses the per-order supplier/late counts AND the
    sole late supplier's key into a second hash aggregate over the
    SAME orderkey clustering, then filters — identical semantics (a
    supplier is "waiting" iff it is late and the order's only late
    supplier among >1 suppliers; when n_late == 1 that supplier's key
    is max(when(is_late=1, suppkey))). The supplier dim broadcasts.

    Round-16 re-plan (guide §1.2 step 2 / §3.1): the round-12 window
    form was at the SHUFFLE floor (measured: every variant pays the
    same 1070 MB at gen_sf10 — lineitem and orders each cross their
    orderkey exchange exactly once) but paid THREE large sorts per
    run: SMJ sorted both fact sides (60M + 15M rows) and the window
    re-sorted all ~60M pair-grain rows a third time, because the
    intervening hash aggregate destroys the SMJ output order. Two
    changes remove all three: (a) `shuffle_hash` hint on the orders
    side (per-partition build ≈ post-AQE partition bytes, bounded;
    SMJ stays the spill-safe fallback) kills both join sorts, and
    (b) the window becomes a second HashAggregate keyed l_orderkey —
    hash(l_orderkey) from the join exchange satisfies both aggregates'
    clustering, so no new exchange and no sort. Measured interleaved
    warm min-of-4 at gen_sf10: 9.27 -> 7.96 s (wins 3/4 pairs; bytes
    identical 1069.8 vs 1069.9 MB — the win is pure sort removal);
    sf0.1 min-of-5: 1.10 -> 0.58 s. Outputs exceptAll-equal both ways
    at both tiers. VERDICT r15 lever (a) — pre-aggregating lineitem to
    (ok, sk, max_ship) BEFORE the orders join — was measured and
    REJECTED: the fixture's (orderkey, suppkey) duplication ratio is
    1.002 (59.88M distinct pairs / 60M rows, DuckDB), so map-side
    combine has nothing to eat, and the pre-agg's own (ok, sk)
    exchange no longer satisfies the join's hash(ok) requirement —
    the pair rows cross TWICE (interleaved min-of-4: 11.64 s vs the
    window form's 9.27).

    History — round-12 re-plan: the round-6 form computed per-order
    counts as a separate groupBy then JOINED it back to flagged — and
    the executed plan showed the entire
    lineitem-join-orders-aggregate subtree EXECUTING TWICE (distinct
    expression IDs across the self-join branches defeat
    ReusedExchange). The round-12 window form computed the same two
    aggregates over the join exchange's partitioning (11.41 ->
    6.37 s min-of-4 warm at the 100x tier); round 16 keeps that
    clustering-reuse insight and swaps the window for the cheaper
    hash aggregate above.

    Shuffle accounting (round-6 numbers, still the relevant
    comparison): the groupBy/join form wrote 188 MB at the 10x tier
    across three post-partial-aggregate exchanges; the up-front
    ``repartition("l_orderkey")`` alternative measured 40% WORSE
    (267 MB, 4x wall) because it shuffles raw pre-combine rows — and
    the same lesson is why the window form wins: it reuses the join's
    clustering instead of paying any new exchange at all.

    Adapted to this fixture's columns: no l_commitdate/l_receiptdate
    exist, so "late" is ship-lag (l_shipdate - o_orderdate) beyond a
    threshold (reference has no such query; extension surface).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    flagged = (
        li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(
                    F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > LATE_DAYS, 1
                ).otherwise(0)
            ).alias("is_late")
        )
    )
    # Second aggregate reuses the join exchange's hash(l_orderkey)
    # clustering (group key is a superset-compatible subset): no new
    # exchange, no sort. When n_late == 1, max(when(is_late=1, sk))
    # IS the sole late supplier's key.
    per_order = flagged.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("is_late").alias("n_late"),
        F.max(F.when(F.col("is_late") == 1, F.col("l_suppkey"))).alias("late_supp"),
    )
    return (
        per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(supp), F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )
