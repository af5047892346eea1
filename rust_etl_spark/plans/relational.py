"""Relational query surface: scan/filter/agg/join/sort/window/set-ops.

The reference has none of these (SURVEY.md §2b) — its only projection
is a column drop — but an *engine* with its capability surface must
expose them, and they are the §2d correctness contract items 1-2 and 8.
All pure built-in DataFrame ops => whole-stage codegen, pushdown, and
AQE-chosen join strategies for free.

Scale notes (100 TB posture):
- fact-side scans project only needed columns (ReadSchema pruning) and
  carry their filters in the plan (PushedFilters);
- star joins broadcast the dimension side explicitly where it is
  guaranteed tiny (region/nation/supplier) and let AQE decide for the
  mid-size sides (customer/orders);
- top-k never global-sorts the full table: ``orderBy().limit(k)``
  compiles to TakeOrderedAndProject (per-partition heap + driver merge
  of k rows per partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rust_etl_spark.functions.money import (
    CENTS as _CENTS,
    CHARGE_SCALED as _CHARGE_SCALED,
    CHARGE_SCALED_DEC38 as _CHARGE_SCALED_DEC38,
    DISC_REV_SCALED as _DISC_REV_SCALED,
    DPCT as _DPCT,
    O_TOTALPRICE_CENTS as _O_CENTS,
    QTY_INT as _QTY_INT,
    REV_SCALED as _REV_SCALED,
)
from rust_etl_spark.functions.rounding import round_half_up, round_half_up_sql
from rust_etl_spark.operators.dedup import expand_pairs
from rust_etl_spark.plans.catalog import register
from rust_etl_spark.sources import load_table

_CUTOFF = "1998-09-02 00:00:00"


@register(
    "scan_project",
    oracle="SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_extendedprice FROM lineitem",
    doc="Parquet scan + column projection (SURVEY §2a ops 6/11/13): ReadSchema prunes to 5 columns.",
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"
    )


@register(
    "filter_predicate",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    doc="Row filter with range + between predicates; all four push down to the parquet scan.",
)
def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")


def pricing_summary_oracle(cutoff: str) -> str:
    """DuckDB mirror of :func:`pricing_summary`."""
    return f"""
        SELECT l_returnflag, l_linestatus,
               CAST(qty AS DOUBLE) AS sum_qty,
               {round_half_up_sql("cents / 100.0", 2)} AS sum_base_price,
               {round_half_up_sql("rev / 10000.0", 2)} AS sum_disc_price,
               {round_half_up_sql("charge / 1000000.0", 2)} AS sum_charge,
               {round_half_up_sql("qty / (cnt * 1.0)", 4)} AS avg_qty,
               {round_half_up_sql("cents / (cnt * 100.0)", 4)} AS avg_price,
               {round_half_up_sql("dpct / (cnt * 100.0)", 4)} AS avg_disc,
               cnt AS count_order
        FROM (
            SELECT l_returnflag, l_linestatus,
                   CAST(sum({_QTY_INT}) AS BIGINT) AS qty,
                   CAST(sum({_CENTS}) AS BIGINT) AS cents,
                   CAST(sum({_REV_SCALED}) AS BIGINT) AS rev,
                   CAST(sum({_CHARGE_SCALED}) AS BIGINT) AS charge,
                   CAST(sum({_DPCT}) AS BIGINT) AS dpct,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '{cutoff}'
            GROUP BY l_returnflag, l_linestatus
        ) t
    """


def pricing_summary(spark: SparkSession, sf_dir: str, cutoff: str) -> DataFrame:
    """TPC-H Q1 pricing summary of lineitem shipped on or before ``cutoff``:
    2-key groupBy, 8 exact scaled-integer aggregates (functions/money.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    cnt = F.col("cnt")
    return (
        li.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.expr(_QTY_INT)).cast("long").alias("qty"),
            F.sum(F.expr(_CENTS)).cast("long").alias("cents"),
            F.sum(F.expr(_REV_SCALED)).cast("long").alias("rev"),
            F.sum(F.expr(_CHARGE_SCALED)).cast("long").alias("charge"),
            F.sum(F.expr(_DPCT)).cast("long").alias("dpct"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("qty").cast("double").alias("sum_qty"),
            round_half_up(F.col("cents") / F.lit(100.0), 2).alias("sum_base_price"),
            round_half_up(F.col("rev") / F.lit(10000.0), 2).alias("sum_disc_price"),
            round_half_up(F.col("charge") / F.lit(1000000.0), 2).alias("sum_charge"),
            round_half_up(F.col("qty") / (cnt * F.lit(1.0)), 4).alias("avg_qty"),
            round_half_up(F.col("cents") / (cnt * F.lit(100.0)), 4).alias("avg_price"),
            round_half_up(F.col("dpct") / (cnt * F.lit(100.0)), 4).alias("avg_disc"),
            F.col("cnt").alias("count_order"),
        )
    )


@register(
    "groupby_agg",
    oracle=pricing_summary_oracle(_CUTOFF),
    doc="TPC-H-Q1-shaped flagship: filter + 2-key groupBy + 8 aggregates (map-side "
    "partial agg). Money/rate aggregates are exact scaled BIGINTs (functions/"
    "money.py); dollars reconstitute via identical IEEE steps on both engines.",
)
def groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pricing_summary(spark, sf_dir, _CUTOFF)


@register(
    "groupby_agg_dec38",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {round_half_up_sql("CAST(charge_dec AS DOUBLE) / 1000000.0", 2)} AS sum_charge,
               cnt AS count_order
        FROM (
            SELECT l_returnflag, l_linestatus,
                   sum({_CHARGE_SCALED_DEC38}) AS charge_dec,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '{_CUTOFF}'
            GROUP BY l_returnflag, l_linestatus
        ) t
    """,
    doc="q1's sum_charge on the DECIMAL(38,0) escape-hatch accumulator "
    "(functions/money.py dec38_sql) — the tested migration path the int64 "
    "headroom guard names for tiers past ~sf25; value-identical to "
    "groupby_agg's BIGINT form wherever that form is in range.",
)
def groupby_agg_dec38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The int64-headroom escape hatch, as a live oracle-verified query.

    Identical dataflow to ``groupby_agg`` (filter + 2-key groupBy with
    map-side partial aggregation) but the widest-scale accumulator —
    charge, 10^-6 dollars — sums in DECIMAL(38,0): exact 38-digit
    arithmetic on both engines, ~1e19x more headroom than the BIGINT
    form (which raises ARITHMETIC_OVERFLOW past int64 under Spark's
    default ANSI mode — tests/test_money_dec38.py). The exact
    decimal sum reconstitutes through one correctly-rounded cast to
    DOUBLE (identical on both engines even above 2^53) + one IEEE
    division + the portable half-up round.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit(_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.expr(_CHARGE_SCALED_DEC38)).alias("charge_dec"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            round_half_up(
                F.col("charge_dec").cast("double") / F.lit(1000000.0), 2
            ).alias("sum_charge"),
            F.col("cnt").alias("count_order"),
        )
    )


@register(
    "agg_filter_sum",
    oracle=f"""
        SELECT {round_half_up_sql(f"CAST(sum({_DISC_REV_SCALED}) AS BIGINT) / 10000.0", 2)}
               AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    doc="TPC-H-Q6-shaped single-row global aggregate; fully pushed-down scan feeding "
    "one partial+final agg. Exact scaled-integer discount revenue.",
)
def agg_filter_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return discount_revenue(spark, sf_dir, 0.05, 0.07)


def discount_revenue(spark: SparkSession, sf_dir: str, lo: float, hi: float) -> DataFrame:
    """TPC-H Q6 revenue of 1997 lineitem with quantity < 24 and ``lo <=
    l_discount <= hi``; every predicate pushes down to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= lo)
            & (F.col("l_discount") <= hi)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(F.expr(_DISC_REV_SCALED)).cast("long").alias("rev_scaled"))
        .select(
            round_half_up(F.col("rev_scaled") / F.lit(10000.0), 2).alias("revenue")
        )
    )


@register(
    "join_star",
    oracle=f"""
        SELECT n_name, {round_half_up_sql("rev_scaled / 10000.0", 2)} AS revenue
        FROM (
            SELECT n_name, CAST(sum({_REV_SCALED}) AS BIGINT) AS rev_scaled
            FROM lineitem
            JOIN orders   ON l_orderkey  = o_orderkey
            JOIN customer ON o_custkey   = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
        ) t
    """,
    doc="TPC-H-Q5-shaped star join, dims-first: the ASIA restriction is "
    "pushed through nation->customer->orders before lineitem joins "
    "anything, and lineitem is partially aggregated per orderkey ahead "
    "of its only exchange. Exact scaled-integer revenue.",
)
def join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by ASIA nation (Q5 topology minus the supplier arm).

    Scale posture: no full-fact-row exchange. The ASIA restriction
    flows dims-first (region -> nation ->
    customer, both bounded dims broadcast) so orders is pruned to ~1/5
    BEFORE any fact exchange, and the lineitem side is partially
    aggregated per orderkey (map-side combine collapses the ~4
    lineitems/order ahead of the exchange; the join on the same key
    reuses that partitioning, no second lineitem-side shuffle). The
    pruned per-order side is hinted shuffle_hash: it is filtered but
    still corpus-scaling, and Catalyst's static estimate would
    otherwise broadcast it at mid tiers (a misbroadcast); the per-task
    hash build holds one partition slice of the ~1/5 orders
    projection. orders<->customer stays size-based on purpose, as in
    q5: size-based selection flips to a shuffle join as the estimate
    grows, while a forced broadcast of a corpus-scaling side is a
    misbroadcast. Per-order rev_scaled sums stay ~1e10 « int64 (headroom family:
    REV_SCALED, coarsest grain unchanged).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    nation_asia = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    cust = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(nation_asia), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "n_name")
    )
    ord_asia = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "n_name")
        .hint("shuffle_hash")
    )
    li_agg = (
        li.select("l_orderkey", F.expr(_REV_SCALED).alias("rs"))
        .groupBy("l_orderkey")
        .agg(F.sum("rs").alias("rs"))
    )
    return (
        li_agg.join(ord_asia, li_agg.l_orderkey == ord_asia.o_orderkey)
        .groupBy("n_name")
        .agg(F.sum("rs").cast("long").alias("rev_scaled"))
        .select(
            "n_name",
            round_half_up(F.col("rev_scaled") / F.lit(10000.0), 2).alias("revenue"),
        )
    )


@register(
    "sort_topk",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10
    """,
    doc="Top-k with total-order tie-break; compiles to TakeOrderedAndProject (no global sort).",
)
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "window_rank",
    oracle="""
        SELECT c_custkey, c_nationkey, c_acctbal, rk FROM (
            SELECT c_custkey, c_nationkey, c_acctbal,
                   CAST(row_number() OVER (
                        PARTITION BY c_nationkey
                        ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rk
            FROM customer
        ) t WHERE rk <= 3
    """,
    doc="Top-3-per-group via row_number window with deterministic tie-break; single shuffle on the partition key.",
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
    )


@register(
    "window_running",
    oracle=f"""
        SELECT o_custkey, o_orderkey, o_totalprice,
               {round_half_up_sql(f'''sum({_O_CENTS}) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0''', 2)}
               AS running_spend
        FROM orders
    """,
    doc="Running per-customer spend: frame-bounded window aggregate (ROWS UNBOUNDED "
    "PRECEDING..CURRENT). The prefix sum accumulates exact integer cents — a "
    "double prefix sum is order-dependent in its low bits.",
)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate")
        .withColumn(
            "running_spend",
            round_half_up(F.sum(F.expr(_O_CENTS)).over(w) / F.lit(100.0), 2),
        )
        .drop("o_orderdate")
    )


@register(
    "set_ops",
    oracle="""
        SELECT DISTINCT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    """,
    doc="Set operation (INTERSECT) over projected key columns.",
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    return cust.intersect(supp)


@register(
    "set_except",
    oracle="""
        SELECT DISTINCT o_orderkey AS orderkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT
        SELECT DISTINCT l_orderkey AS orderkey FROM lineitem WHERE l_returnflag = 'R'
    """,
    doc="Set operation (EXCEPT): finished orders with no returned line items.",
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    fo = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("orderkey"))
        .distinct()
    )
    ret = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("orderkey"))
        .distinct()
    )
    return fo.exceptAll(ret).distinct()


@register(
    "sample_hash",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) % 10 = 0
    """,
    doc="Deterministic ~10% sample via content hashing — unlike rand()-based df.sample, "
    "hash sampling is reproducible across engines, retries, and scale-ups (the standard "
    "pattern for stable train/eval splits).",
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rust_etl_spark.functions.hashing import md5_long60

    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(md5_long60(F.col("o_orderkey")) % 10 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@register(
    "join_null_safe",
    oracle="""
        WITH f AS (
            SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS pr
            FROM orders
        ), dim AS (
            SELECT DISTINCT nullif(o_orderpriority, '1-URGENT') AS pr,
                   coalesce(nullif(o_orderpriority, '1-URGENT'), 'URGENT-TIER') AS tier
            FROM orders
        )
        SELECT d.tier, count(*) AS n
        FROM f JOIN dim d ON f.pr IS NOT DISTINCT FROM d.pr
        GROUP BY d.tier
    """,
    doc="Null-safe equi-join (Spark <=> / SQL IS NOT DISTINCT FROM): NULL keys "
    "MATCH each other instead of silently dropping - the semantics dirty "
    "dimension keys need; a plain = here would lose the whole NULL tier and "
    "fail the hash. Broadcast dim, single fact scan.",
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    pr = F.nullif("o_orderpriority", F.lit("1-URGENT"))
    fact = orders.select("o_orderkey", pr.alias("pr"))
    dim = (
        orders.select(pr.alias("pr"))
        .distinct()
        .select("pr", F.coalesce("pr", F.lit("URGENT-TIER")).alias("tier"))
    )
    return (
        fact.join(F.broadcast(dim), fact["pr"].eqNullSafe(dim["pr"]))
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "join_semi_anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
          AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    """,
    doc="Left-semi (EXISTS) + left-anti (NOT EXISTS) join composition.",
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    failed = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .join(failed, F.col("c_custkey") == failed.o_custkey, "left_anti")
    )


@register(
    "agg_distinct",
    oracle=f"""
        SELECT o_orderpriority,
               count(DISTINCT o_custkey) AS n_customers,
               {round_half_up_sql(f"CAST(sum({_O_CENTS}) AS BIGINT) / 100.0", 2)} AS total
        FROM orders
        GROUP BY o_orderpriority
    """,
    doc="Distinct aggregate alongside a plain aggregate (expand + two-phase agg). "
    "Exact integer-cents total.",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum(F.expr(_O_CENTS)).cast("long").alias("cents"),
        )
        .select(
            "o_orderpriority",
            "n_customers",
            round_half_up(F.col("cents") / F.lit(100.0), 2).alias("total"),
        )
    )


@register(
    "pivot_agg",
    oracle=f"""
        SELECT o_orderpriority,
               {round_half_up_sql(f"CAST(sum(CASE WHEN o_orderstatus = 'F' THEN {_O_CENTS} END) AS BIGINT) / 100.0", 2)} AS F,
               {round_half_up_sql(f"CAST(sum(CASE WHEN o_orderstatus = 'O' THEN {_O_CENTS} END) AS BIGINT) / 100.0", 2)} AS O,
               {round_half_up_sql(f"CAST(sum(CASE WHEN o_orderstatus = 'P' THEN {_O_CENTS} END) AS BIGINT) / 100.0", 2)} AS P
        FROM orders GROUP BY o_orderpriority
    """,
    doc="Pivot on order status (explicit value list keeps the plan one pass, no "
    "distinct-scan). Exact integer-cents sums per pivot cell.",
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    piv = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(F.expr(_O_CENTS)).cast("long"))
    )
    return piv.select(
        "o_orderpriority",
        *[
            round_half_up(F.col(s) / F.lit(100.0), 2).alias(s)
            for s in ("F", "O", "P")
        ],
    )


@register(
    "rollup_agg",
    oracle=f"""
        SELECT coalesce(o_orderstatus, '(all)') AS status,
               coalesce(o_orderpriority, '(all)') AS priority,
               count(*) AS n,
               {round_half_up_sql(f"CAST(sum({_O_CENTS}) AS BIGINT) / 100.0", 2)} AS total
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="Hierarchical subtotal rollup over (status, priority). Exact integer-cents total.",
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr(_O_CENTS)).cast("long").alias("cents"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "n",
            round_half_up(F.col("cents") / F.lit(100.0), 2).alias("total"),
        )
    )


@register(
    "cube_agg",
    oracle="""
        SELECT coalesce(o_orderstatus, '(all)') AS status,
               coalesce(o_orderpriority, '(all)') AS priority,
               count(*) AS n
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="Full cube over (status, priority).",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "n",
        )
    )


@register(
    "grouping_sets_id",
    oracle="""
        SELECT coalesce(o_orderstatus, '(n/a)') AS status,
               coalesce(o_orderpriority, '(n/a)') AS priority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS with grouping() indicator columns — disambiguates "
    "a NULL group value from the roll-up NULL (the nuance coalesce alone hides).",
)
def grouping_sets_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, '(n/a)') AS status,
               coalesce(o_orderpriority, '(n/a)') AS priority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority,
               count(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "sort_nulls_last",
    oracle="""
        SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
        FROM customer
        ORDER BY seg ASC NULLS LAST, c_custkey
        LIMIT 20
    """,
    doc="Explicit NULL-ordering semantics: engines disagree on default NULL "
    "placement (Spark ASC = NULLS FIRST, DuckDB = NULLS LAST), so portable "
    "sorts always state it; LIMIT makes the cutoff observable.",
)
def sort_nulls_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.select("c_custkey", F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg"))
        .orderBy(F.col("seg").asc_nulls_last(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "groupby_having",
    oracle=f"""
        SELECT l_partkey, count(*) AS n_items,
               CAST(CAST(sum({_QTY_INT}) AS BIGINT) AS DOUBLE) AS qty
        FROM lineitem
        GROUP BY l_partkey
        HAVING count(*) > 35
    """,
    doc="Aggregate + post-aggregation HAVING filter (threshold sits inside the "
    "per-part count distribution). Whole-number quantities sum as exact BIGINTs.",
)
def groupby_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.expr(_QTY_INT)).cast("long").cast("double").alias("qty"),
        )
        .filter(F.col("n_items") > 35)
    )


# ------------------------------------------------- market-basket pairs

BASKET_CAP = 32   #: defensive bound on per-order distinct parts
BASKET_TOPK = 25


@register(
    "basket_pairs",
    oracle=f"""
        WITH basket AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        sized AS (
            SELECT l_orderkey FROM basket GROUP BY l_orderkey
            HAVING count(*) BETWEEN 2 AND {BASKET_CAP}
        )
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS support
        FROM basket a
        JOIN basket b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        JOIN sized s ON a.l_orderkey = s.l_orderkey
        GROUP BY part_a, part_b
        ORDER BY support DESC, part_a, part_b
        LIMIT {BASKET_TOPK}
    """,
    doc=f"Market-basket co-occurrence: top-{BASKET_TOPK} part pairs by "
    f"order-level support (baskets capped at {BASKET_CAP} distinct parts). "
    "The frequent-itemset support-counting stage; pairs expand in-row "
    "from per-order sorted member lists, never via a fact self-join.",
)
def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise co-occurrence support (market-basket shape).

    The oracle writes the textbook self-join; the Spark plan instead
    aggregates each order's distinct parts into a sorted in-row list
    (one shuffle on l_orderkey), drops mega-baskets via the cap (the
    same bounded-fanout idea as the MinHash bucket cap — a pathological
    order with thousands of parts would otherwise expand O(n²) rows),
    expands C(n,2) pairs per row with a nested transform, and counts
    support per pair (second shuffle, pair-keyed, AQE-splittable).
    TakeOrderedAndProject handles the final top-k — no global sort.
    """
    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter((F.size("parts") >= 2) & (F.size("parts") <= BASKET_CAP))
    )
    pairs = baskets.select(
        expand_pairs(
            "parts", lambda x, y: F.struct(x.alias("part_a"), y.alias("part_b"))
        ).alias("p")
    )
    return (
        pairs.groupBy("p.part_a", "p.part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .orderBy(F.col("support").desc(), "part_a", "part_b")
        .limit(BASKET_TOPK)
    )


# ------------------------------------------------- RFM segmentation

@register(
    "customer_rfm",
    oracle=f"""
        WITH base AS (
            SELECT c_custkey, c_nationkey,
                   max(epoch_us(o_orderdate)) AS last_us,
                   count(*) AS freq,
                   CAST(sum({_O_CENTS}) AS BIGINT) AS monetary_cents
            FROM customer JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey, c_nationkey
        )
        SELECT c_custkey,
               CAST(ntile(5) OVER (PARTITION BY c_nationkey
                                   ORDER BY last_us, c_custkey) AS BIGINT) AS r_score,
               CAST(ntile(5) OVER (PARTITION BY c_nationkey
                                   ORDER BY freq, c_custkey) AS BIGINT) AS f_score,
               CAST(ntile(5) OVER (PARTITION BY c_nationkey
                                   ORDER BY monetary_cents, c_custkey) AS BIGINT) AS m_score
        FROM base
    """,
    doc="RFM (recency/frequency/monetary) quintile segmentation per "
    "customer, scored within nation — ntile(5) windows with c_custkey "
    "tie-breaks so bucket assignment is deterministic on both engines. "
    "Monetary ranks on exact integer cents: a double sum's ulp wobble "
    "could reorder ADJACENT non-tied customers, which no tie-break fixes.",
)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer quintile scoring (marketing-analytics shape).

    One fact aggregate to customer grain, then three ntile windows
    PARTITIONED BY nation — windows stay market-sized, never global
    (the repo's no-single-partition rule; a global ntile would funnel
    every customer through one task). Recency compares integer epoch
    micros; every ORDER BY carries the unique c_custkey so quintile
    boundaries are total-ordered, which is what makes ntile portable
    (ties split by an arbitrary-but-identical order on both engines).
    """
    from rust_etl_spark.plans.events_queries import ntz_epoch_us

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", ntz_epoch_us("o_orderdate").alias("t_us")
    )
    base = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.max("t_us").alias("last_us"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.expr(_O_CENTS)).cast("long").alias("monetary_cents"),
        )
    )
    w = Window.partitionBy("c_nationkey")
    return base.select(
        "c_custkey",
        F.ntile(5).over(w.orderBy("last_us", "c_custkey")).cast("long").alias("r_score"),
        F.ntile(5).over(w.orderBy("freq", "c_custkey")).cast("long").alias("f_score"),
        F.ntile(5).over(w.orderBy("monetary_cents", "c_custkey")).cast("long").alias("m_score"),
    )


# ------------------------------------------------- LTV deciles

@register(
    "customer_ltv_deciles",
    oracle="""
        WITH spend AS (
            SELECT o_custkey,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        dec AS (
            SELECT o_custkey, cents,
                   CAST(ntile(10) OVER (ORDER BY cents, o_custkey) AS BIGINT) AS decile
            FROM spend
        )
        SELECT decile,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(min(cents) AS BIGINT) AS min_cents,
               CAST(max(cents) AS BIGINT) AS max_cents,
               CAST(sum(cents) AS BIGINT) AS total_cents
        FROM dec GROUP BY decile
    """,
    doc="Customer lifetime-value deciles: per-customer order spend in "
    "exact integer cents (half-up-quantized, engine-identical), ntile(10) "
    "under a total order, per-decile occupancy and spend envelope — the "
    "value-segmentation behind tiered retention spend.",
)
def customer_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ntile(10) without a customer-grain global window.

    Customer grain is 10^8-10^9 rows at 100 TB — a global
    ``Window.orderBy`` would sort all of it in one task. Instead the
    global rank decomposes house-style (same machinery as
    gini_customer_spend / abc_analysis): customers bucket into spend
    bands, ascending row_numbers run in band-partitioned windows, each
    band's rank offset is the count of all lower bands (triangular
    join of the bands-sized rollup), and the decile comes from the
    rank arithmetically via ntile's documented fill rule — with
    n rows, q = n div 10 and r = n mod 10, the first r tiles hold
    q+1 rows: decile = ceil(rk / (q+1)) while rk <= r*(q+1), else
    r + ceil((rk - r*(q+1)) / q). All-integer, so it reproduces the
    oracle's ntile exactly. Bands partition by cents, so cross-band
    ties cannot exist and the (cents, o_custkey) order is total.
    """
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.expr(_O_CENTS)).cast("long").alias("cents")
    )
    banded = spend.withColumn("band", F.expr(f"cents div {GINI_BAND}"))
    w_in = Window.partitionBy("band").orderBy("cents", "o_custkey")
    in_band = banded.withColumn("rk_in", F.row_number().over(w_in).cast("long"))
    band_cnt = banded.groupBy("band").agg(F.count(F.lit(1)).alias("bn"))
    a, t = band_cnt.alias("a"), band_cnt.alias("t")
    offsets = (
        a.join(F.broadcast(t), F.col("t.band") < F.col("a.band"), "left")
        .groupBy(F.col("a.band").alias("band"))
        .agg(F.coalesce(F.sum("t.bn"), F.lit(0)).alias("off"))
    )
    n_tot = spend.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = (
        in_band.join(F.broadcast(offsets), "band")
        .crossJoin(F.broadcast(n_tot))
        .withColumn("rk", F.col("off") + F.col("rk_in"))
    )
    dec = ranked.withColumn(
        "decile",
        F.expr(
            """
            CASE WHEN rk <= (n % 10) * (n div 10 + 1)
                 THEN (rk + (n div 10)) div (n div 10 + 1)
                 ELSE (n % 10)
                      + (rk - (n % 10) * (n div 10 + 1) + (n div 10) - 1)
                        div (n div 10)
            END
            """
        ).cast("long"),
    )
    return dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.min("cents").cast("long").alias("min_cents"),
        F.max("cents").cast("long").alias("max_cents"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


# ------------------------------------------------- ABC / Pareto classes

ABC_BAND = 100_000_000  #: revenue-band width for the two-level prefix
#: integer cents x pct revenue: floor-half-up cents x (100 - pct)
#: (the functions/money.py IEEE form — round(double) is BigDecimal-based
#: in Spark and only empirically engine-portable; see money.cents_sql)
_REV_SCALED = (
    "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT))"
)


@register(
    "abc_analysis",
    oracle=f"""
        WITH part_rev AS (
            SELECT l_partkey, CAST(sum({_REV_SCALED}) AS BIGINT) AS rev
            FROM lineitem GROUP BY l_partkey
        ),
        ranked AS (
            SELECT l_partkey, rev,
                   CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS BIGINT) AS cum_before,
                   CAST(sum(rev) OVER () AS BIGINT) AS total
            FROM part_rev
        ),
        classed AS (
            SELECT CASE
                     WHEN coalesce(cum_before, 0) * 5 < total * 4 THEN 'A'
                     WHEN coalesce(cum_before, 0) * 20 < total * 19 THEN 'B'
                     ELSE 'C'
                   END AS cls, rev
            FROM ranked
        )
        SELECT cls, CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(rev) AS BIGINT) AS rev_scaled
        FROM classed GROUP BY cls
    """,
    doc="ABC (Pareto) revenue classification of parts: rank by revenue "
    "descending, class A until the cumulative share crosses 80%, B "
    "until 95%, C after — the inventory-prioritization classic. Money "
    "is integer cents x integer discount-pct throughout, thresholds are "
    "integer cross-multiplications, so classification is exact.",
)
def abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pareto classes without a table-sized global window.

    The oracle's global cumulative sum is decomposed house-style:
    parts bucket into revenue bands, the ordered prefix runs WITHIN
    each band (partitioned window over band-sized groups), and
    per-band offsets come from a triangular join of the bands-sized
    rollup — no single-partition stage touches the part grain. The
    classing compare is integer cross-multiplication (cum*5 < total*4)
    on exact scaled-cents BIGINTs, so no float share ever exists.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part_rev = (
        li.select("l_partkey", F.expr(_REV_SCALED).alias("r"))
        .groupBy("l_partkey")
        .agg(F.sum("r").cast("long").alias("rev"))
    )
    banded = part_rev.withColumn("band", F.expr(f"rev div {ABC_BAND}"))
    w_in = Window.partitionBy("band").orderBy(
        F.col("rev").desc(), "l_partkey"
    ).rowsBetween(Window.unboundedPreceding, -1)
    in_band = banded.withColumn(
        "pre_in", F.coalesce(F.sum("rev").over(w_in), F.lit(0))
    )
    band_tot = banded.groupBy("band").agg(F.sum("rev").alias("brev"))
    a, t = band_tot.alias("a"), band_tot.alias("t")
    # higher bands sort FIRST (revenue desc), so a band's offset sums
    # every strictly-higher band
    offsets = (
        a.join(F.broadcast(t), F.col("t.band") > F.col("a.band"), "left")
        .groupBy(F.col("a.band").alias("band"))
        .agg(F.coalesce(F.sum("t.brev"), F.lit(0)).alias("off"))
    )
    total = part_rev.agg(F.sum("rev").cast("long").alias("total"))
    classed = (
        in_band.join(F.broadcast(offsets), "band")
        .crossJoin(F.broadcast(total))
        .withColumn("cum_before", F.col("off") + F.col("pre_in"))
        .withColumn(
            "cls",
            F.when(F.col("cum_before") * 5 < F.col("total") * 4, F.lit("A"))
            .when(F.col("cum_before") * 20 < F.col("total") * 19, F.lit("B"))
            .otherwise(F.lit("C")),
        )
    )
    return classed.groupBy("cls").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rev").cast("long").alias("rev_scaled"),
    )


# ------------------------------------------------- Gini concentration

GINI_BAND = 1_000_000  #: spend-band width (cents) for the rank decomposition


@register(
    "gini_customer_spend",
    oracle="""
        WITH spend AS (
            SELECT o_custkey,
                   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT cents,
                   CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS rk,
                   CAST(count(*) OVER () AS BIGINT) AS n,
                   CAST(sum(cents) OVER () AS BIGINT) AS total
            FROM spend
        )
        SELECT CAST(max(n) AS BIGINT) AS n_customers,
               CAST(max(total) AS BIGINT) AS total_cents,
               CAST(sum(2 * rk * cents) - (max(n) + 1) * max(total) AS BIGINT)
                   AS gini_num_scaled,
               (CAST(sum(2 * rk * cents) - (max(n) + 1) * max(total) AS BIGINT))
                   / (CAST(max(n) AS DOUBLE) * CAST(max(total) AS DOUBLE)) AS gini
        FROM ranked
    """,
    doc="Gini coefficient of customer spend concentration (0 = equal, "
    "->1 = one whale): G = (2*sum(rank*x) - (n+1)*sum(x)) / (n*sum(x)) "
    "over ascending-spend ranks. Money is integer cents, the numerator "
    "is exact BIGINT, and G is two exact casts and one division — the "
    "inequality metric that also audits domain concentration in a "
    "training corpus.",
)
def gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini without a table-sized global ranking window.

    Ranks decompose house-style (same as abc_analysis): customers
    bucket into spend bands; in-band ascending row_numbers run in
    partitioned windows and each band's rank offset is the COUNT of
    all lower bands (triangular join of the bands-sized rollup). The
    final reduction is one map-side-combinable aggregate of exact
    integers; the only floats are the two casts in the last division.
    The tie order (cents, custkey) matches the oracle exactly — with
    equal cents in different... impossible: bands partition by cents,
    so cross-band ties cannot exist and in-band order is total.
    """
    orders = load_table(spark, sf_dir, "orders")
    spend = (
        orders.select(
            "o_custkey",
            F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("c"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    banded = spend.withColumn("band", F.expr(f"cents div {GINI_BAND}"))
    w_in = Window.partitionBy("band").orderBy("cents", "o_custkey")
    in_band = banded.withColumn("rk_in", F.row_number().over(w_in).cast("long"))
    band_cnt = banded.groupBy("band").agg(F.count(F.lit(1)).alias("bn"))
    a, t = band_cnt.alias("a"), band_cnt.alias("t")
    offsets = (
        a.join(F.broadcast(t), F.col("t.band") < F.col("a.band"), "left")
        .groupBy(F.col("a.band").alias("band"))
        .agg(F.coalesce(F.sum("t.bn"), F.lit(0)).alias("off"))
    )
    ranked = in_band.join(F.broadcast(offsets), "band").withColumn(
        "rk", F.col("off") + F.col("rk_in")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum(F.lit(2) * F.col("rk") * F.col("cents")).cast("long").alias("s2rx"),
    )
    num = F.col("s2rx") - (F.col("n_customers") + 1) * F.col("total_cents")
    return agg.select(
        "n_customers",
        "total_cents",
        num.cast("long").alias("gini_num_scaled"),
        (
            num.cast("long")
            / (F.col("n_customers").cast("double") * F.col("total_cents").cast("double"))
        ).alias("gini"),
    )
