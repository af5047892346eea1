"""Advanced aggregation coverage: range-frame windows, arg-max
selection, approximate sketches.

``approx_distinct`` is intentionally rows-only: HLL/KLL sketch
internals differ across engines by design, so the driver records the
weaker check and pytest bounds the estimation error against the exact
answer instead (tests/test_approx.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rust_etl_spark.functions.money import O_TOTALPRICE_CENTS as _O_CENTS
from rust_etl_spark.functions.rounding import round_half_up, round_half_up_sql
from rust_etl_spark.plans.catalog import register
from rust_etl_spark.sources import load_table

#: Frame width of the RANGE window — also the value-bucket width of the
#: distributed re-plan below (frame spans at most 2 adjacent buckets).
RANGE_FRAME_W = 1000.0

#: oracle fragment: integer-cents RANGE-frame sum (see the money note
#: in window_range_frame's docstring)
_CENTS_RANGE_SUM = (
    f"sum({_O_CENTS}) OVER (ORDER BY o_totalprice "
    "RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) / 100.0"
)


@register(
    "window_range_frame",
    oracle=f"""
        SELECT o_orderkey, o_totalprice,
               CAST(count(*) OVER (
                    ORDER BY o_totalprice
                    RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_near,
               {round_half_up_sql(_CENTS_RANGE_SUM, 2)}
               AS sum_near
        FROM orders
    """,
    doc="Value-based RANGE frame: per order, count/sum of orders within 1000 below its price "
    "(frame membership is value-determined, so ties need no break).",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed RANGE-frame window via a two-level prefix sum.

    The naive plan (``OVER (ORDER BY o_totalprice RANGE ...)`` with no
    PARTITION BY) moves the whole table into ONE task — Spark itself
    warns "No Partition Defined for Window operation". That dies at
    scale, so this computes the identical result as

        G(<= p) - G(< p - W)

    where G is the global value-prefix aggregate, assembled from:

    1. per-(bucket, value) partial aggregates over distinct prices,
       with an in-bucket running prefix (window PARTITIONed BY bucket:
       per-partition rows are bounded by the distinct values per
       bucket, not the data size);
    2. a densified bucket-total table (size = value_domain / W — a few
       hundred rows at ANY data scale) whose running offsets come from
       a triangular self-join, deliberately not a global window, so no
       single-partition stage exists anywhere in the plan;
    3. one as-of lookup per DISTINCT-PRICE endpoint inside the bucket
       partition: inclusive anchor at p (kind=2 sorts after the value
       row), exclusive probe at p - W (kind=0 sorts before it, because
       a row exactly W below is INSIDE the frame). The frame aggregate
       is a function of p alone and distinct prices are cent-quantized
       over a bounded domain (1% of rows at the 100x tier), so the
       endpoint explode + window + groupBy all run at DISTINCT scale
       (round-12 re-plan: the round-2 form ran them per ORDER row —
       2N rows through the window and a 2N-row groupBy over an N-key
       domain, profiled as the two dominant stages);
    4. order rows resolve by one equi-join on the exact price double
       (bit-identical keys: the distinct values come from the same
       column through groupBy), against a domain-bounded aggregate
       side that Catalyst may broadcast while small and shuffle later.

    Bucket assignment floor(v / W) is monotone in v, so the
    "all lower buckets + in-bucket prefix" decomposition is exact even
    at FP bucket-boundary edge cases. Parallelism = number of value
    buckets; at 100 TB pick W (or a secondary split key) so bucket
    row-counts fit a task — the shuffle keys are (bucket, value), never
    a single global ordering.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    w = F.lit(RANGE_FRAME_W)
    bkt = lambda v: F.floor(v / w).cast("long")  # noqa: E731

    # 1. distinct values with in-bucket prefix count/sum.
    # the summed metric is exact integer cents (functions/money.py,
    # round-13 class migration): the decomposed prefix sums reassociate
    # the reduction vs the oracle's sequential window accumulation,
    # which is exactly where a double sum's low bits diverge
    g = (
        o.groupBy(bkt(F.col("o_totalprice")).alias("b"), F.col("o_totalprice").alias("v"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.expr(_O_CENTS)).alias("s"))
    )
    wc = Window.partitionBy("b").orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    idx = g.select(
        "b", "v", F.sum("n").over(wc).alias("cn"), F.sum("s").over(wc).alias("cs")
    )

    # 2. densified bucket offsets (tiny: one row per W-wide slice of the
    # value domain). Triangular join instead of a global window keeps
    # the plan free of single-partition stages.
    btot = g.groupBy("b").agg(F.sum("n").alias("tn"), F.sum("s").alias("ts"))
    lo_hi = btot.agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
    dense = lo_hi.select(F.explode(F.sequence("lo", "hi")).alias("b"))
    a, t = dense.alias("a"), btot.alias("t")
    boff = (
        a.join(F.broadcast(t), F.col("t.b") < F.col("a.b"), "left")
        .groupBy(F.col("a.b").alias("b"))
        .agg(
            F.coalesce(F.sum("t.tn"), F.lit(0)).alias("off_n"),
            F.coalesce(F.sum("t.ts"), F.lit(0)).alias("off_s"),
        )
    )

    # 3. endpoint lookups — PER DISTINCT PRICE, not per order row
    # (round-12 re-plan): the frame aggregate G(<= p) - G(< p - W) is
    # a function of p alone, and the price domain is cent-quantized
    # over a bounded range, so distinct prices saturate sublinearly
    # (149,743 at the 100x tier vs 15M order rows — 1%). The round-2
    # form exploded TWO endpoint rows per ORDER, pushing 2N rows
    # through the bucket window and a 2N-row groupBy over an N-key
    # domain (profiled as the two dominant stages: 8.3 s warm at
    # 100x); evaluating the identical machinery over the distinct-
    # price table makes both stages ~1% of their size, and order rows
    # resolve by one equi-join on the exact price double at the end
    # (bit-identical join keys: v comes from the same column through
    # groupBy). Per anchor price an inclusive anchor at p (+1 *
    # G(<= p)) and an exclusive probe at p - W (-1 * G(< p - W)):
    p = F.col("av")
    anchors = g.select(F.col("v").alias("av"))
    lookups = anchors.select(
        "av",
        F.explode(
            F.array(
                F.struct(
                    bkt(p).alias("b"),
                    p.alias("v"),
                    F.lit(2).alias("kind"),
                    F.lit(1).alias("sign"),
                ),
                F.struct(
                    bkt(p - w).alias("b"),
                    (p - w).alias("v"),
                    F.lit(0).alias("kind"),
                    F.lit(-1).alias("sign"),
                ),
            )
        ).alias("e"),
    ).select("av", "e.b", "e.v", "e.kind", "e.sign")
    union = idx.withColumn("kind", F.lit(1)).unionByName(lookups, allowMissingColumns=True)
    wl = Window.partitionBy("b").orderBy("v", "kind").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    looked = (
        union.withColumn("lcn", F.last("cn", ignorenulls=True).over(wl))
        .withColumn("lcs", F.last("cs", ignorenulls=True).over(wl))
        .filter(F.col("kind") != 1)
    )
    resolved = looked.join(F.broadcast(boff), "b", "left")
    part_n = F.col("sign") * (F.coalesce("lcn", F.lit(0)) + F.coalesce("off_n", F.lit(0)))
    part_s = F.col("sign") * (F.coalesce("lcs", F.lit(0)) + F.coalesce("off_s", F.lit(0)))
    per_price = resolved.groupBy("av").agg(
        F.sum(part_n).cast("bigint").alias("n_near"),
        round_half_up(F.sum(part_s).cast("bigint") / F.lit(100.0), 2).alias("sum_near"),
    )
    # Join-back: shuffle_hash hinted with PER_PRICE (domain-bounded,
    # 1% of rows) as the build side. Unhinted, the gate's misbroadcast
    # canary caught Catalyst broadcasting the pruned ORDERS projection
    # — the corpus-scaling side, the exact round-11 pathology this
    # round's re-plan was supposed to avoid (its 2-column estimate
    # sits under the threshold at small/mid tiers). SMJ on the price
    # double is the spill-safe fallback.
    return o.join(per_price.hint("shuffle_hash"), o.o_totalprice == per_price.av).select(
        "o_orderkey", "o_totalprice", "n_near", "sum_near"
    )


@register(
    "agg_argmax",
    oracle="""
        SELECT c_nationkey,
               arg_max(c_custkey, c_acctbal * 1000000 + c_custkey) AS richest_custkey,
               round(max(c_acctbal), 2) AS top_bal
        FROM customer GROUP BY c_nationkey
    """,
    doc="Per-group arg-max (max_by) with a tie-safe composite ordering key.",
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    ord_key = F.col("c_acctbal") * 1_000_000 + F.col("c_custkey")
    return cust.groupBy("c_nationkey").agg(
        F.max_by("c_custkey", ord_key).alias("richest_custkey"),
        F.round(F.max("c_acctbal"), 2).alias("top_bal"),
    )


@register(
    "window_lead_lag",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(lag(o_orderkey)  OVER w AS BIGINT) AS prev_order,
               CAST(lead(o_orderkey) OVER w AS BIGINT) AS next_order,
               (CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                - lag(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) OVER w) / 100.0 AS delta_spend,
               CAST(ntile(4) OVER w AS INT) AS spend_quartile,
               floor(percent_rank() OVER (
                    PARTITION BY o_custkey
                    ORDER BY o_totalprice, o_orderkey) * 1000000.0 + 0.5) / 1000000.0 AS pr
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="Analytic-function surface: lag/lead offsets, ntile bucketing, percent_rank — "
    "one shuffle on the partition key, total-order sort keys on every spec.",
)
def window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        # delta_spend is EXACT: integer cents difference reconstituted
        # with one IEEE division (o_totalprice is 2-decimal money — the
        # money.py doctrine); pr is a derived ratio, rounded with the
        # portable half-up floor on both engines.
        ((F.expr(_O_CENTS) - F.lag(F.expr(_O_CENTS)).over(w)) / F.lit(100.0)).alias("delta_spend"),
        F.ntile(4).over(w).alias("spend_quartile"),
        round_half_up(F.percent_rank().over(wp), 6).alias("pr"),
    )


#: fuzzy_blocked_match block-key sizing: per-suffix expected density is
#: N / 10^L, so the smallest L with 10^L * FUZZY_BLOCK_DENSITY >= N keeps
#: block sizes bounded by the same constant at every tier (L=3 at all
#: graded scales — bit-identical to the historical fixed 3-char key; the
#: 10x/30x gen tiers step to L=4, holding per-suffix density at ~15/45
#: instead of the 150/450 the fixed key would densify to).
FUZZY_BLOCK_DENSITY = 100
_FUZZY_MAX_LEN = 6


def fuzzy_block_len(n_rows: int) -> int:
    """Smallest suffix length L in [3, 6] with 10^L * 100 >= n_rows —
    the same integer-only scale-aware derivation as similarity.ivf_mod
    (no log10 boundary risk; both engines compute it identically)."""
    ln = 3
    while (10**ln) * FUZZY_BLOCK_DENSITY < n_rows and ln < _FUZZY_MAX_LEN:
        ln += 1
    return ln


#: same derivation in SQL (integer comparisons only, DuckDB-portable):
#: min L from the candidate lengths whose 10^L * 100 covers the table.
#: The VALUES rows are GENERATED from the same constants fuzzy_block_len
#: uses, so the Python and SQL derivations cannot desync (boundary
#: equality is pinned in tests/test_fuzzy_block_len.py).
_FUZZY_BLK_VALUES = ", ".join(f"({length}, {10**length})" for length in range(3, _FUZZY_MAX_LEN + 1))
_FUZZY_BLK_SQL = f"""(
    SELECT min(l) FROM (VALUES {_FUZZY_BLK_VALUES}) t(l, p)
    WHERE CAST(p AS BIGINT) * {FUZZY_BLOCK_DENSITY} >= (SELECT count(*) FROM customer)
       OR l = {_FUZZY_MAX_LEN}
)"""


@register(
    "fuzzy_blocked_match",
    oracle=f"""
        WITH blk AS (SELECT {_FUZZY_BLK_SQL} AS n),
        c AS (
            SELECT c_custkey, c_name, c_nationkey FROM customer
            WHERE length(c_name) >= (SELECT n FROM blk)
        )
        SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
               CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        FROM c a JOIN c b
          ON a.c_nationkey = b.c_nationkey
         AND substring(a.c_name, length(a.c_name) - (SELECT n FROM blk) + 1, (SELECT n FROM blk))
           = substring(b.c_name, length(b.c_name) - (SELECT n FROM blk) + 1, (SELECT n FROM blk))
         AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 3
    """,
    doc="Fuzzy entity matching with blocking: candidate pairs only within "
    "(nation, name-suffix) blocks, then edit-distance filter — the classic "
    "entity-resolution shape whose cost is bounded by block sizes, never n^2. "
    "(Suffix blocking because TPC-H-ish names share one long prefix; real "
    "deployments run several passes with different block keys to recover "
    "matches a single key misses.) The suffix length is SCALE-AWARE: "
    "fuzzy_block_len picks the smallest L whose 10^L digit-suffix key space "
    "bounds expected per-suffix density at 100 rows (integer-only, mirrored "
    "by a scalar subquery in the oracle) — the fixed 3-char key densified "
    "linearly with the corpus, making within-block pair generation "
    "quadratic (5.6x wall at 10x rows).",
)
def fuzzy_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rust_etl_spark.sources import table_rows

    ln = fuzzy_block_len(table_rows(spark, sf_dir, "customer"))
    # Names shorter than the suffix length are excluded on BOTH sides:
    # Spark clamps nonpositive substring starts toward position 1 while
    # DuckDB follows Postgres-style trimming, so a short name would
    # yield engine-divergent block keys. Fixture names always carry a
    # 9-digit zero-filled suffix; the guard makes the precondition
    # explicit instead of incidental.
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.length("c_name") >= ln)
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            F.expr(f"substring(c_name, length(c_name) - {ln - 1}, {ln})").alias("blk"),
        )
    )
    a = cust.select(
        F.col("c_custkey").alias("cust_a"), F.col("c_name").alias("name_a"), "c_nationkey", "blk"
    )
    b = cust.select(
        F.col("c_custkey").alias("cust_b"), F.col("c_name").alias("name_b"), "c_nationkey", "blk"
    )
    pairs = a.join(b, ["c_nationkey", "blk"]).filter(F.col("cust_a") < F.col("cust_b"))
    dist = F.levenshtein("name_a", "name_b")
    return pairs.filter(dist <= 3).select(
        "cust_a", "cust_b", dist.cast("long").alias("dist")
    )


@register(
    "profile_table",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               CAST(count(*) - count(o_orderdate) AS BIGINT) AS null_dates,
               round(min(o_totalprice), 2) AS min_price,
               round(max(o_totalprice), 2) AS max_price,
               floor((CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                      / (count(*) * 100.0)) * 100.0 + 0.5) / 100.0 AS avg_price
        FROM orders
    """,
    doc="One-pass table profile (row count, per-column distincts, null count, "
    "min/max/avg) — the data-quality summary every ingestion run records. A "
    "single global aggregate: map-side partials, one tiny final reduce.",
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_orderstatus").alias("n_status"),
        F.countDistinct("o_custkey").alias("n_customers"),
        (F.count(F.lit(1)) - F.count("o_orderdate")).alias("null_dates"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        # avg of money is EXACT: BIGINT cents sum / (n * 100.0), then
        # the portable half-up round — round(avg(double)) is the
        # reduction-order class that hash-failed at the 10x tier.
        round_half_up(
            F.sum(F.expr(_O_CENTS)).cast("long") / (F.count(F.lit(1)) * F.lit(100.0)), 2
        ).alias("avg_price"),
    )


HIST_BUCKET_W = 30_000.0
HIST_MAX_BUCKET = 19


@register(
    "histogram_fixed",
    oracle=f"""
        SELECT least(CAST(floor(o_totalprice / {HIST_BUCKET_W}) AS BIGINT),
                     {HIST_MAX_BUCKET}) AS bucket,
               count(*) AS n,
               round(min(o_totalprice), 2) AS lo,
               round(max(o_totalprice), 2) AS hi
        FROM orders
        GROUP BY 1
    """,
    doc=f"Fixed-width value histogram of order totals ({HIST_BUCKET_W:.0f}-wide "
    f"buckets, overflow clamped to bucket {HIST_MAX_BUCKET}) — the distribution "
    "profile behind data-drift checks; one shuffle on the bucket id.",
)
def histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / HIST_BUCKET_W).cast("long"),
        F.lit(HIST_MAX_BUCKET).cast("long"),
    )
    return (
        orders.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "approx_distinct",
    oracle=None,  # sketch internals are engine-specific; bounded in tests/test_approx.py
    doc="Approximate sketches: HLL distinct + approximate percentile per return flag (rows-only check).",
)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
    )


@register(
    "sketch_union_rollup",
    oracle=None,  # Datasketches HLL binary internals are engine-specific;
    # error-bounded against the exact answer in tests/test_approx.py
    doc="Mergeable-sketch rollup: per-day HLL user sketches unioned into "
    "weekly + total distinct-user estimates — the partial-sketch-then-"
    "merge pattern an incremental 100 TB deployment stores instead of "
    "raw ids (rows-only check; error bound pinned in pytest).",
)
def sketch_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical HLL union: day partials -> week -> total.

    The day-grain sketch pass is the only scan of events; every wider
    scope is a union of the KB-sized binary partials, never a rescan —
    the architecture that lets a nightly job maintain exact-cost-free
    DAU/WAU/MAU at any corpus size. Spark's hll_sketch_agg partials
    are Datasketches-compatible, so the same partials could be merged
    by any other Datasketches engine.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("ts_ns div 86400000000000").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    weekly = (
        daily.groupBy(F.expr("day div 7").alias("week"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"))
        .select(F.concat(F.lit("week_"), F.col("week")).alias("scope"), "est_users")
    )
    total = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    ).select(F.lit("total").alias("scope"), "est_users")
    return weekly.unionByName(total)


# -------------------------------------------------------- 2-D skyline

#: Coarse-grid width for the skyline pre-filter (price axis). The
#: fixture's p_retailprice spans ~900-1000, so 5.0 gives ~20 buckets;
#: the width is a tuning constant per deployment (target: enough
#: buckets that the running max saturates early).
SKY_GRID_W = 5.0


@register(
    "skyline_pareto",
    oracle="""
        SELECT p.p_partkey, p.p_retailprice, p.p_size
        FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM part q
            WHERE q.p_retailprice <= p.p_retailprice
              AND q.p_size >= p.p_size
              AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
        )
        ORDER BY p.p_retailprice, p.p_partkey
    """,
    doc="2-D skyline (Pareto frontier): parts with no rival both cheaper "
    "and at-least-as-large (min price, max size; strict on one axis). "
    "The preference-query operator behind 'most-X-for-the-money' "
    "shortlists; grid-prune first, exact dominance check on survivors.",
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed skyline: coarse-grid prune, then exact check.

    Dominance (q dominates p): q.price <= p.price AND q.size >= p.size
    AND strict on at least one axis.

    Phase 1 (prune): bucket the price axis at SKY_GRID_W, take max
    size per bucket (tiny agg), then the running max over STRICTLY
    cheaper buckets — any row whose size does not exceed that bound is
    dominated by some part in an earlier bucket and is discarded. That
    running max runs on #buckets rows (price-range/SKY_GRID_W — ~20 on
    the fixture domain; at 100 TB the bucket aggregate combines map-side and
    the window input stays bucket-count-sized, never corpus-sized).
    Survivors are the skyline plus at most one grid-cell's worth of
    borderline rows per bucket (prune ratio pinned in
    tests/test_layout.py).

    Phase 2 (exact, on survivors only): per distinct candidate price,
    m2 = max size at the SAME price and m1 = running max over strictly
    lower prices; p survives iff m1 < p.size (nothing cheaper is as
    large — sound because every pruned dominator is itself dominated
    by a surviving candidate at an even lower price) AND
    m2 <= p.size (nothing equally cheap is larger). The distinct-price
    window runs on the pruned candidate set — skyline-sized, not
    table-sized — so the unpartitioned ORDER BY is safe by
    construction.
    """
    cand = skyline_candidates(spark, sf_dir).drop("b", "prev_max")

    per_price = cand.groupBy("p_retailprice").agg(F.max("p_size").alias("m2"))
    wp = Window.orderBy("p_retailprice").rowsBetween(Window.unboundedPreceding, -1)
    bounds = per_price.select("p_retailprice", "m2", F.max("m2").over(wp).alias("m1"))
    return (
        cand.join(F.broadcast(bounds), "p_retailprice")
        .filter(
            (F.col("m1").isNull() | (F.col("m1") < F.col("p_size")))
            & (F.col("m2") <= F.col("p_size"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_partkey")
    )


def skyline_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-1 survivors only (exposed for the prune-ratio test)."""
    part = load_table(spark, sf_dir, "part")
    rows = part.select("p_partkey", "p_retailprice", "p_size")
    bucket = F.floor(F.col("p_retailprice") / SKY_GRID_W).cast("long")
    per_bucket = (
        rows.select(bucket.alias("b"), "p_size").groupBy("b").agg(F.max("p_size").alias("bmax"))
    )
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    bound = per_bucket.select("b", F.max("bmax").over(wb).alias("prev_max"))
    return (
        rows.withColumn("b", bucket)
        .join(F.broadcast(bound), "b")
        .filter(F.col("prev_max").isNull() | (F.col("p_size") > F.col("prev_max")))
    )
