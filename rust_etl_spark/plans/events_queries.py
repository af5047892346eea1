"""Event-time queries over the stream-shaped ``events`` table:
tumbling-window aggregation, gap sessionization, as-of join, range
join. Batch forms of the streaming surface (streaming/events.py runs
the same window agg unbounded with a watermark).

Cross-engine determinism: all event-time arithmetic is integer
nanos/micros (``ts_ns``/``epoch_us``), never float; window starts are
compared as epoch-micros BIGINTs; every window/sort carries an
``event_id`` tie-break.

Scale notes:
- the window agg is a single shuffle keyed (window, type) with
  map-side partial aggregation;
- sessionization shuffles once on user_id; state per user is one lag
  value — the streaming analogue is ``session_window`` or
  applyInPandasWithState;
- the as-of join is the union-then-window pattern: one shuffle on the
  join key, no per-row probing, skew handled by AQE — this is the
  shape that survives 100 TB (a broadcast-probe as-of would not).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rust_etl_spark.functions.money import (
    VALUE_CENTS as _V_CENTS,
    value_total_col,
    value_total_sql,
)
from rust_etl_spark.functions.rounding import round_half_up, round_half_up_sql
from rust_etl_spark.plans.catalog import register
from rust_etl_spark.sources import load_table

SESSION_GAP_NS = 30 * 60 * 1_000_000_000  # 30 min


def ntz_epoch_us(col: str):
    """Epoch micros of a TIMESTAMP_NTZ column, independent of session
    time zone (``unix_micros`` only accepts LTZ; an NTZ->LTZ cast
    would shift by the driver session's zone)."""
    return F.expr(f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})")


@register(
    "events_window_agg",
    oracle=f"""
        SELECT epoch_us(time_bucket(INTERVAL '5 minutes', ts)) AS w_start_us,
               event_type,
               count(*) AS n,
               {value_total_sql()} AS total_value
        FROM events
        GROUP BY 1, 2
    """,
    doc="Tumbling 5-minute window aggregate over event time (batch form of the streaming agg); "
    "total_value is an exact scaled-integer cents sum (events.value is 2-decimal by fixture construction).",
)
def events_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), value_total_col().alias("total_value"))
        .select(
            F.unix_micros("w.start").alias("w_start_us"),
            "event_type",
            "n",
            "total_value",
        )
    )


HOP_WIDTH_US = 10 * 60 * 1_000_000
HOP_SLIDE_US = 5 * 60 * 1_000_000


@register(
    "events_hop_window",
    oracle=f"""
        WITH b AS (
            SELECT epoch_us(ts) AS t_us, event_type, value FROM events
        ), cand AS (
            SELECT t_us, event_type, value,
                   unnest([ (t_us // {HOP_SLIDE_US}) * {HOP_SLIDE_US},
                            ((t_us // {HOP_SLIDE_US}) - 1) * {HOP_SLIDE_US} ]) AS w_start_us
            FROM b
        )
        SELECT w_start_us, event_type, count(*) AS n,
               {value_total_sql()} AS total_value
        FROM cand
        WHERE t_us >= w_start_us AND t_us < w_start_us + {HOP_WIDTH_US}
        GROUP BY 1, 2
    """,
    doc="Hopping (sliding) 10-minute window with 5-minute slide: each event lands in "
    "exactly width/slide = 2 overlapping windows. Spark's F.window(slide) generates "
    "the overlap natively; the oracle materializes the two candidate window starts "
    "per event by integer bucket arithmetic. Single shuffle keyed (window, type).",
)
def events_hop_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), value_total_col().alias("total_value"))
        .select(
            F.unix_micros("w.start").alias("w_start_us"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "events_sessionize",
    oracle=f"""
        WITH t AS (
            SELECT user_id, event_id, value, epoch_ns(ts) AS ts_ns,
                   lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS prev_ns
            FROM events
        ), marked AS (
            SELECT *, CASE WHEN prev_ns IS NULL OR ts_ns - prev_ns > {SESSION_GAP_NS}
                           THEN 1 ELSE 0 END AS is_new
            FROM t
        ), numbered AS (
            -- CAST: DuckDB sum(INT) yields HUGEINT, which fetchdf() surfaces
            -- as float64 and breaks the driver's value hash vs Spark's BIGINT.
            SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
            FROM marked
        )
        SELECT user_id, session_seq,
               min(ts_ns) // 1000 AS session_start_us,
               count(*) AS n_events,
               {value_total_sql()} AS total_value
        FROM numbered GROUP BY user_id, session_seq
    """,
    doc="Gap-based sessionization (30-min inactivity): lag + cumulative-sum session ids, one shuffle on user_id.",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value", "ts_ns")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    marked = ev.withColumn("prev_ns", F.lag("ts_ns").over(w)).withColumn(
        "is_new",
        F.when(F.col("prev_ns").isNull() | (F.col("ts_ns") - F.col("prev_ns") > SESSION_GAP_NS), 1).otherwise(0),
    )
    numbered = marked.withColumn(
        "session_seq", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    )
    return (
        numbered.groupBy("user_id", "session_seq")
        .agg(
            F.expr("min(ts_ns) div 1000").alias("session_start_us"),
            F.count(F.lit(1)).alias("n_events"),
            value_total_col().alias("total_value"),
        )
    )


@register(
    "events_session_window",
    oracle=f"""
        WITH t AS (
            SELECT user_id, value, epoch_us(ts) AS ts_us,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
            FROM events
        ), marked AS (
            SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > {SESSION_GAP_NS // 1000}
                           THEN 1 ELSE 0 END AS is_new
            FROM t
        ), numbered AS (
            SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                                        ROWS UNBOUNDED PRECEDING) AS seq
            FROM marked
        )
        SELECT user_id,
               min(ts_us) AS s_start_us,
               max(ts_us) + {SESSION_GAP_NS // 1000} AS s_end_us,
               count(*) AS n_events,
               {value_total_sql()} AS total_value
        FROM numbered GROUP BY user_id, seq
    """,
    doc="Native session_window(30 min gap) sessionization, cross-validated against the "
    "lag/cumsum SQL formulation. Boundary semantics (probe-verified): Spark merges an "
    "event at EXACTLY prev+gap into the session (inclusive), so the oracle splits only "
    "on gap > 30min; window end = last event + gap.",
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), value_total_col().alias("total_value"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("s_start_us"),
            F.unix_micros("w.end").alias("s_end_us"),
            "n_events",
            "total_value",
        )
    )


@register(
    "events_asof_join",
    oracle="""
        SELECT e.event_id, e.user_id,
               (SELECT max(epoch_us(o.o_orderdate)) FROM orders o
                WHERE o.o_custkey = e.user_id
                  AND epoch_us(o.o_orderdate) <= epoch_us(e.ts)) AS last_order_us
        FROM events e
    """,
    doc="As-of join (latest order at-or-before each event, per user) via a per-user "
    "order-times array join: orders collapse to one array row per user before the "
    "only fact-side join; each event takes array_max of the <= t_us elements. "
    "DuckDB oracle uses a correlated max.",
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest order at-or-before each event, per user.

    Orders per user are bounded (tens at the generated tiers), so the
    orders side collapses to ONE array row per user (collect_list
    partially aggregates
    map-side) and joins the 3-column events projection; per event the
    answer is array_max(filter(arr, x <= t_us)) — max of an empty
    filter is NULL, matching the correlated-max oracle for events
    with no prior order. `shuffle_hash` on the bounded arrays side
    (per-partition build; never a corpus-scaling broadcast) keeps the
    events side sort-free, with no union of the two fact sides and no
    window sort over them. The events arm rides a user_id-bucketed
    layout exchange-free (sinks.write_bucketed_fact_layout).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_ns div 1000").alias("t_us"), "event_id"
    )
    arrs = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("user_id"),
            ntz_epoch_us("o_orderdate").alias("o_us"),
        )
        .groupBy("user_id")
        .agg(F.collect_list("o_us").alias("o_arr"))
    )
    return ev.join(arrs.hint("shuffle_hash"), "user_id", "left").select(
        "event_id",
        "user_id",
        F.array_max(F.filter(F.col("o_arr"), lambda x: x <= F.col("t_us"))).alias(
            "last_order_us"
        ),
    )


@register(
    "events_time_weighted_avg",
    oracle=f"""
        WITH t AS (
            SELECT user_id, value, epoch_us(ts) AS t_us,
                   lead(epoch_us(ts)) OVER (
                        PARTITION BY user_id
                        ORDER BY epoch_us(ts), event_id) AS nxt_us
            FROM events
        ), s AS (
            SELECT user_id,
                   CAST(sum({_V_CENTS} * (nxt_us - t_us)) AS BIGINT) AS swv,
                   CAST(sum(nxt_us - t_us) AS BIGINT) AS sw
            FROM t WHERE nxt_us IS NOT NULL
            GROUP BY user_id
        )
        SELECT user_id, {round_half_up_sql("swv / sw / 100.0", 4)} AS twa
        FROM s
    """,
    doc="Time-weighted average per user (the TSDB time_weight aggregate): each "
    "sample weighted by how long it was current (interval to the next sample, "
    "last-observation-carried-forward; trailing open interval dropped). Samples "
    "at irregular cadence make the plain avg lie - this is the honest mean for "
    "sensor/metric streams. One shuffle on user_id (window + re-aggregate share "
    "the partitioning); integer-microsecond interval arithmetic.",
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.expr("ts_ns div 1000"), F.col("event_id"))
    t = ev.select(
        "user_id",
        "value",
        F.expr("ts_ns div 1000").alias("t_us"),
        F.lead(F.expr("ts_ns div 1000")).over(w).alias("nxt_us"),
    ).filter(F.col("nxt_us").isNotNull())
    # Exact integer aggregation: cents x micros per interval, both
    # BIGINT sums; the reconstitution (two IEEE divisions + half-up
    # round on identical integers) is bit-identical across engines.
    # Headroom: max per-user sum(cents*dt_us) measured 2.4e-3 of int64
    # at sf0.1, linear in rows-per-user (see money.VALUE_CENTS note).
    dt = F.col("nxt_us") - F.col("t_us")
    return (
        t.groupBy("user_id")
        .agg(
            F.sum(F.expr(_V_CENTS) * dt).cast("long").alias("swv"),
            F.sum(dt).cast("long").alias("sw"),
        )
        .select(
            "user_id",
            round_half_up(F.col("swv") / F.col("sw") / F.lit(100.0), 4).alias("twa"),
        )
    )


GAPFILL_BUCKET_US = 6 * 3600 * 1_000_000  # 6-hour resampling grid


@register(
    "events_gap_fill",
    oracle=f"""
        WITH pts AS (
            SELECT user_id, bkt, value FROM (
                SELECT user_id, epoch_us(ts) // {GAPFILL_BUCKET_US} AS bkt, value,
                       row_number() OVER (
                            PARTITION BY user_id, epoch_us(ts) // {GAPFILL_BUCKET_US}
                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
                FROM events) t
            WHERE rn = 1
        ), bounds AS (
            SELECT user_id, min(bkt) AS mn, max(bkt) AS mx FROM pts GROUP BY user_id
        ), grid AS (
            SELECT user_id, unnest(range(mn, mx + 1)) AS bkt FROM bounds
        )
        SELECT g.user_id, g.bkt,
               last_value(p.value IGNORE NULLS) OVER (
                    PARTITION BY g.user_id ORDER BY g.bkt
                    ROWS UNBOUNDED PRECEDING) AS value
        FROM grid g LEFT JOIN pts p ON p.user_id = g.user_id AND p.bkt = g.bkt
    """,
    doc="Gap-fill resampling (TSDB locf): per user, the value series resampled "
    "onto a dense 6-hour grid between that user's first and last sample, empty "
    "buckets forward-filled with the last observation (in-bucket survivor chosen "
    "by max event time with event_id tie-break). Grid generation is an in-row "
    "sequence explode - no driver loop, no cross join; fill is a per-user window. "
    "Carried values are raw doubles (no derived-float rounding hazard).",
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t_us = F.expr("ts_ns div 1000")
    pts = (
        ev.select(
            "user_id",
            # integer division: exact bucket boundaries, no FP floor
            F.expr(f"(ts_ns div 1000) div {GAPFILL_BUCKET_US}").alias("bkt"),
            "value",
            t_us.alias("t_us"),
            "event_id",
        )
        .groupBy("user_id", "bkt")
        .agg(F.max_by("value", F.struct("t_us", "event_id")).alias("value"))
    )
    bounds = pts.groupBy("user_id").agg(F.min("bkt").alias("mn"), F.max("bkt").alias("mx"))
    grid = bounds.select("user_id", F.explode(F.sequence("mn", "mx")).alias("bkt"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(pts, ["user_id", "bkt"], "left").select(
        "user_id", "bkt", F.last("value", ignorenulls=True).over(w).alias("value")
    )


#: Max staleness for the tolerance-bounded as-of join. 9000 days sits
#: inside the fixture's order→event lag distribution (8190–9799 days:
#: TPC-H-ish order dates are 1990s, events are present-day), so the
#: oracle exercises BOTH branches — matched-within-tolerance and
#: expired-to-NULL — instead of degenerating to all-NULL.
ASOF_TOLERANCE_US = 9000 * 24 * 3600 * 1_000_000


@register(
    "events_asof_tolerance",
    oracle=f"""
        SELECT e.event_id, e.user_id,
               (SELECT max(epoch_us(o.o_orderdate)) FROM orders o
                WHERE o.o_custkey = e.user_id
                  AND epoch_us(o.o_orderdate) <= epoch_us(e.ts)
                  AND epoch_us(o.o_orderdate) >= epoch_us(e.ts) - {ASOF_TOLERANCE_US}
               ) AS last_order_us
        FROM events e
    """,
    doc="Tolerance-bounded as-of join: latest order at-or-before each event but no "
    "staler than the tolerance, else NULL - the feature-freshness variant every "
    "serving pipeline needs. Same union-then-window shape as events_asof_join "
    "(the window max IS the latest candidate, so one post-filter implements the "
    "bound); one shuffle on the key, no per-row probe.",
)
def events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_ns div 1000").alias("t_us"), "event_id", F.lit(0).alias("is_order")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        ntz_epoch_us("o_orderdate").alias("t_us"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(1).alias("is_order"),
    )
    both = orders.unionByName(ev)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t_us"), F.col("is_order").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    latest = F.max(F.when(F.col("is_order") == 1, F.col("t_us"))).over(w)
    enriched = both.withColumn(
        "last_order_us",
        # The running max is the single latest candidate; if IT is too
        # stale, nothing within tolerance exists for this row.
        F.when(F.col("t_us") - latest <= ASOF_TOLERANCE_US, latest),
    )
    return enriched.filter(F.col("is_order") == 0).select("event_id", "user_id", "last_order_us")


@register(
    "events_json_extract",
    oracle="""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
               CAST(json_extract_string(props, '$.missing') AS BIGINT) AS absent
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    """,
    doc="JSON field extraction from the props column with a numeric filter; "
    "missing paths yield NULL on both engines. Single-parse from_json "
    "(one get_json_object per path would re-parse the payload per call).",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse fewer times, extract many: one ``get_json_object`` per
    path, with the filter referencing the extracted field, parses props
    3x per row (filter + two projections — Catalyst has no CSE across
    get_json_object calls). ``from_json`` with an explicit
    string-typed schema parses 2x (Catalyst still inlines the
    parse into the pushed filter, but whole-stage codegen's
    subexpression elimination dedupes the two field extractions inside
    the project, and OptimizeJsonExprs prunes the parse to the two
    requested keys); the struct fields cast long exactly like
    get_json_object's string-extract + cast (scalar JSON numbers
    stringify identically) and a missing key is NULL just as a missing
    path is. The saving scales with payload width (KB-sized event
    props at 100 TB)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = F.from_json("props", "k string, missing string")
    return (
        ev.select("event_id", parsed.alias("p"))
        .select(
            "event_id",
            F.col("p.k").cast("long").alias("k"),
            F.col("p.missing").cast("long").alias("absent"),
        )
        .filter(F.col("k") >= 50)
    )


@register(
    "events_range_join",
    oracle="""
        SELECT s.event_id AS signup_id, count(*) AS n_follow
        FROM events s JOIN events e
          ON e.user_id = s.user_id
         AND s.event_type = 'signup'
         AND epoch_us(e.ts) >  epoch_us(s.ts)
         AND epoch_us(e.ts) <= epoch_us(s.ts) + 24 * 3600 * CAST(1000000 AS BIGINT)
        GROUP BY s.event_id
    """,
    doc="Range join: per signup event, follow-up events of the same user within 24h. "
    "Time axis bucketed at the window width, so the join key is (user, day-bucket) "
    "— per-key fan-out is one day of one user's events, not their whole history.",
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join: a signup at time s can only be followed by
    events in day-bucket floor(s/W) or floor(s/W) + 1 (window width W
    = 1 day), so the SIGNUP side is exploded into those two candidate
    buckets and the join runs on (user_id, bucket). Exploding the
    small side (signups, ~20% of events here; the filtered side by
    construction) instead of the FOLLOW side (every event, 2N rows)
    leaves the big side un-generated
    and un-duplicated, with value parity exact (e in (s, s+W] <=>
    e_bkt in {s_bkt, s_bkt+1}, integer division so bucket boundaries
    are exact). At 100 TB this bounds every join group to ~one
    user-day instead of one user-lifetime; the residual range
    predicate filters inside buckets.

    Join strategy: left to its size estimates Catalyst BROADCASTS the
    pruned follow-side projection — the side that grows with the
    corpus, a single-threaded hash build of the 100 TB side. The
    signup side is therefore hinted ``shuffle_hash``: both sides
    shuffle on the bounded (user_id, day-bucket) key and each task
    hash-builds only its signup slice. At 100 TB the per-task build
    stays small because AQE's 16 MB advisory partition target bounds
    the post-shuffle slice regardless of corpus size, per-key fan-out
    is one user-day, and the hint is advisory — Spark falls back to
    the spill-safe SortMergeJoin on the same bounded key when a build
    slice can't be hashed. tests/test_plans.py locks the hinted shape
    and fails any broadcast."""
    ev = load_table(spark, sf_dir, "events")
    day_us = 24 * 3600 * 1_000_000
    base = ev.select(
        "user_id",
        F.expr("ts_ns div 1000").alias("e_us"),
        F.expr(f"(ts_ns div 1000) div {day_us}").alias("bkt"),
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            "user_id",
            F.expr("ts_ns div 1000").alias("s_us"),
        )
        .select(
            "signup_id",
            "user_id",
            "s_us",
            F.explode(
                F.array(
                    F.expr(f"s_us div {day_us}"),
                    F.expr(f"s_us div {day_us} + 1"),
                )
            ).alias("bkt"),
        )
    )
    return (
        signups.hint("shuffle_hash").join(base, ["user_id", "bkt"])
        .filter((F.col("e_us") > F.col("s_us")) & (F.col("e_us") <= F.col("s_us") + day_us))
        .groupBy("signup_id")
        .agg(F.count(F.lit(1)).alias("n_follow"))
    )


@register(
    "events_retention",
    oracle="""
        WITH act AS (
            SELECT DISTINCT user_id,
                   date_trunc('day', min(ts) OVER (PARTITION BY user_id)) AS cohort_day,
                   date_trunc('day', ts) AS act_day
            FROM events
        )
        SELECT epoch_us(cohort_day) AS cohort_us,
               CAST(date_diff('day', cohort_day, act_day) AS BIGINT) AS day_offset,
               CAST(count(*) AS BIGINT) AS n_active
        FROM act GROUP BY cohort_day, day_offset
    """,
    doc="Cohort retention: users grouped by first-seen day, distinct-active counts "
    "per (cohort, day-offset) cell — the standard product-analytics retention "
    "triangle. One user_id hash aggregate (min day + bounded day-set, map-side "
    "partial) replaces the window-sort + second distinct exchange.",
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle over event time.

    Scale posture: no ``min(ts)`` window sort over the full event rows
    and no second exchange for a (user, cohort, day) DISTINCT — one
    ``groupBy(user_id)`` hash aggregate —
    ``min(day)`` plus ``collect_set(day)`` — whose map-side partial
    combine eats the per-user-day fan-in (max 11 / p99 6 events per
    user-day) BEFORE the only user_id exchange, and the set explode
    afterwards runs on the already-reduced per-user rows (the
    candidate-expansion-on-the-small-side rule). Per-group state is
    the distinct active-day set — bounded by the corpus date window
    and strictly smaller than a per-user window sort run.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("day").alias("cohort_day"), F.collect_set("day").alias("days")
    )
    act = per_user.select("cohort_day", F.explode("days").alias("act_day"))
    return (
        act.groupBy("cohort_day", F.datediff("act_day", "cohort_day").cast("long").alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(ntz_epoch_us("cohort_day").alias("cohort_us"), "day_offset", "n_active")
    )


@register(
    "events_funnel",
    oracle="""
        WITH u AS (
            SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
            FROM events GROUP BY user_id
        ), c AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN u USING (user_id)
            WHERE e.event_type = 'click' AND u.t_view IS NOT NULL AND e.ts > u.t_view
            GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY e.user_id
        )
        SELECT CAST(count(t_view) AS BIGINT) AS n_view,
               CAST(count(t_click) AS BIGINT) AS n_click,
               CAST(count(t_purchase) AS BIGINT) AS n_purchase
        FROM u LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
    doc="Ordered funnel view -> click -> purchase: per-user earliest qualifying "
    "timestamp per stage, each stage strictly after the previous one; output is "
    "the stage-survivor counts. Every join/aggregate is keyed user_id (one "
    "partitioning reused across all three stages).",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel (order-sensitive, strict-after).

    The stage cascade is three per-user conditional mins, each joined
    back on ``user_id`` — co-partitioned with the previous stage, so
    after the first shuffle the remaining stages are local. The final
    count collapses to one row; nothing global ever sorts.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    u = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(u.filter(F.col("t_view").isNotNull()), "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        u.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count("t_view").alias("n_view"),
            F.count("t_click").alias("n_click"),
            F.count("t_purchase").alias("n_purchase"),
        )
    )


ZSCORE_THRESHOLD = 2.0


def _zscore_oracle() -> str:
    from rust_etl_spark.functions.rounding import round_half_up_sql

    z = "(value - mu) / sd"
    return f"""
        WITH s AS (
            SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
            FROM events GROUP BY event_type
        )
        SELECT event_id, event_type, value,
               {round_half_up_sql(z, 2)} AS z
        FROM events JOIN s USING (event_type)
        WHERE abs({z}) > {ZSCORE_THRESHOLD}
    """


@register(
    "events_zscore",
    oracle=_zscore_oracle(),
    doc=f"Per-type z-score outlier flagging: events whose value sits more than "
    f"{ZSCORE_THRESHOLD:g} sample standard deviations from their type's mean "
    "(~5% of this right-skewed fixture). Stats ride one tiny groupBy (rows = "
    "distinct event types) broadcast back over the stream — the full table is "
    "never shuffled.",
)
def events_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly gate: |value - mean(type)| / stddev(type) > threshold.

    Scale posture: the per-type moment aggregate is partial
    (map-side combine) and its result is a handful of rows, joined
    back with an explicit broadcast — the events fact table stays
    where it was read, no fact-side shuffle at any scale. The score
    is rounded with the engine-portable ``round_half_up`` (see
    functions/rounding.py) on both sides.
    """
    from rust_etl_spark.functions.rounding import round_half_up

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > ZSCORE_THRESHOLD)
        .select("event_id", "event_type", "value", round_half_up(z, 2).alias("z"))
    )


OHLC_BUCKET_US = 3_600_000_000  # 1 hour


@register(
    "events_ohlc",
    oracle=f"""
        WITH t AS (
            SELECT event_type, value,
                   (epoch_us(ts) // {OHLC_BUCKET_US}) * {OHLC_BUCKET_US} AS w_start_us,
                   row_number() OVER (
                       PARTITION BY event_type, (epoch_us(ts) // {OHLC_BUCKET_US})
                       ORDER BY epoch_ns(ts), event_id) AS rn_a,
                   row_number() OVER (
                       PARTITION BY event_type, (epoch_us(ts) // {OHLC_BUCKET_US})
                       ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn_d
            FROM events
        )
        SELECT event_type, w_start_us,
               CAST(count(*) AS BIGINT) AS n,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close
        FROM t
        GROUP BY event_type, w_start_us
    """,
    doc="OHLC candlestick rollup: per (event_type, 1-hour bucket) the "
    "open/high/low/close of the value series — the standard time-series "
    "downsampling shape. First/last are total-ordered on (ts_ns, "
    "event_id) so ties are deterministic on both engines.",
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick (OHLC) downsampling over event time.

    ONE map-side-combinable aggregate, no windows: open/close are
    min_by/max_by on the struct ordering key (ts_ns, event_id) —
    deterministic because event_id makes the key unique — so partial
    OHLC candles combine per map task and only candle-sized state
    shuffles (this replaced a two-window row_number formulation and
    ran 4x faster at sf0.1 with identical results). At 100 TB the
    bucket key is high-cardinality (types x hours) and AQE-splittable;
    no UDFs.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "ts_ns"
    )
    bucket = F.expr(f"((ts_ns div 1000) div {OHLC_BUCKET_US}) * {OHLC_BUCKET_US}")
    ordk = F.struct("ts_ns", "event_id")
    return (
        ev.withColumn("w_start_us", bucket)
        .groupBy("event_type", "w_start_us")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
        )
    )


ROLLING_N = 5  # current row + 4 preceding


@register(
    "events_rolling_stats",
    oracle=f"""
        SELECT event_id, user_id,
               {round_half_up_sql(f"CAST(sum({_V_CENTS}) OVER w AS BIGINT) / (count(*) OVER w * 100.0)", 4)} AS roll_avg,
               {round_half_up_sql("min(value) OVER w", 4)} AS roll_min,
               {round_half_up_sql("max(value) OVER w", 4)} AS roll_max,
               CAST(count(*) OVER w AS BIGINT) AS roll_n
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY epoch_ns(ts), event_id
                     ROWS BETWEEN {ROLLING_N - 1} PRECEDING AND CURRENT ROW)
    """,
    doc=f"Per-user rolling stats over the last {ROLLING_N} events (ROWS "
    "frame, total-ordered on (ts_ns, event_id)) — the moving-average "
    "smoothing shape, complementing window_range_frame's RANGE frame.",
)
def events_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding ROWS-frame aggregates per user.

    One shuffle on user_id; the ROWS frame is computed in a single
    sort-based window pass holding at most ROLLING_N rows of state
    per partition position (contrast with RANGE frames, which Spark
    evaluates with a growing buffer). user_id is the natural
    AQE-splittable key; the total order includes event_id so ties on
    ts_ns are deterministic.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value", "ts_ns")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(-(ROLLING_N - 1), Window.currentRow)
    )
    # roll_avg is exact: BIGINT cents sum over the frame / (n * 100.0)
    # — the rolling form of the money doctrine (events.value is
    # 2-decimal by fixture construction). min/max are raw parquet
    # values; the portable half-up round replaces F.round per the
    # rounding doctrine (identity on 2-decimal inputs at 4 digits).
    return ev.select(
        "event_id",
        "user_id",
        round_half_up(
            F.sum(F.expr(_V_CENTS)).over(w) / (F.count(F.lit(1)).over(w) * F.lit(100.0)), 4
        ).alias("roll_avg"),
        round_half_up(F.min("value").over(w), 4).alias("roll_min"),
        round_half_up(F.max("value").over(w), 4).alias("roll_max"),
        F.count(F.lit(1)).over(w).cast("long").alias("roll_n"),
    )


#: Open-ended validity sentinel for the current SCD2 row (max int64
#: would overflow DuckDB's us->ns conversions; a year-9999 stamp is
#: comparison-safe on both engines).
SCD2_OPEN_END_US = 253_402_300_800_000_000  # 10000-01-01 00:00:00 UTC


@register(
    "events_scd2_build",
    oracle=f"""
        WITH ordered AS (
            SELECT user_id, event_type,
                   epoch_us(ts) AS t_us, event_id,
                   lag(event_type) OVER w AS prev_type,
                   row_number() OVER w AS rn
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
        ),
        changes AS (
            SELECT user_id, event_type, t_us, event_id,
                   lead(t_us) OVER (PARTITION BY user_id
                                    ORDER BY t_us, event_id) AS next_us
            FROM ordered
            WHERE rn = 1 OR event_type IS DISTINCT FROM prev_type
        )
        SELECT user_id, event_type AS attr_value,
               t_us AS valid_from_us,
               coalesce(next_us, {SCD2_OPEN_END_US}) AS valid_to_us,
               CAST(next_us IS NULL AS BIGINT) AS is_current
        FROM changes
    """,
    doc="SCD2 (type-2 slowly-changing dimension) build: collapse each "
    "user's event_type stream into change rows with [valid_from, "
    "valid_to) validity intervals and an is_current flag — the standard "
    "warehouse dimension-history shape, derived with lag/lead under a "
    "total order (ts_ns, event_id).",
)
def events_scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 dimension history from an event stream.

    Change detection (lag) and interval closing (lead) share the same
    user_id partitioning — Spark plans them over one exchange. Every
    per-user history is processed independently, so the operator
    scales with the user key's cardinality; no self-join of the
    stream against itself (the naive interval-build). Ties are
    impossible under the (ts_ns, event_id) total order.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts_ns div 1000").alias("t_us"), "event_id", "ts_ns"
    )
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "t_us",
        "event_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.row_number().over(w).alias("rn"),
    )
    changes = ordered.filter(
        (F.col("rn") == 1) | ~F.col("event_type").eqNullSafe(F.col("prev_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    closed = changes.select(
        "user_id",
        F.col("event_type").alias("attr_value"),
        F.col("t_us").alias("valid_from_us"),
        F.lead("t_us").over(w2).alias("next_us"),
    )
    return closed.select(
        "user_id",
        "attr_value",
        "valid_from_us",
        F.coalesce("next_us", F.lit(SCD2_OPEN_END_US)).alias("valid_to_us"),
        F.isnull("next_us").cast("long").alias("is_current"),
    )


DIFF_T1_US = 1_704_931_200_000_000  # 2024-01-11 00:00:00 UTC
DIFF_T2_US = 1_705_795_200_000_000  # 2024-01-21 00:00:00 UTC


@register(
    "events_state_diff",
    oracle=f"""
        WITH ranked AS (
            SELECT user_id, event_type, epoch_us(ts) AS t_us,
                   row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
            FROM events WHERE epoch_us(ts) < {DIFF_T1_US}
        ),
        ranked2 AS (
            SELECT user_id, event_type, epoch_us(ts) AS t_us,
                   row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
            FROM events WHERE epoch_us(ts) < {DIFF_T2_US}
        ),
        s1 AS (SELECT user_id, event_type AS state1 FROM ranked  WHERE rn = 1),
        s2 AS (SELECT user_id, event_type AS state2 FROM ranked2 WHERE rn = 1)
        SELECT coalesce(s1.user_id, s2.user_id) AS user_id,
               CASE WHEN s1.user_id IS NULL THEN 'added'
                    WHEN s2.user_id IS NULL THEN 'removed'
                    WHEN state1 <> state2 THEN 'changed'
                    ELSE 'unchanged' END AS change_kind,
               state1 AS old_state, state2 AS new_state
        FROM s1 FULL OUTER JOIN s2 USING (user_id)
        WHERE s1.user_id IS NULL OR s2.user_id IS NULL OR state1 <> state2
    """,
    doc="CDC snapshot diff: each user's latest event_type as-of two "
    "cutoffs (2024-01-11 vs 2024-01-21, the fixture's mid-month cutovers), full-outer joined and classified "
    "added/removed/changed — the change-data-capture comparison a "
    "downstream consumer runs between two table snapshots. Latest-state "
    "selection is total-ordered on (ts_ns, event_id).",
)
def events_state_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot state diff (CDC shape).

    Each snapshot is a latest-row-per-key selection (row_number under
    a total order, one user_id shuffle over date-pruned input — the
    T2 scan subsumes T1's rows but Spark prunes both scans at the
    parquet level). The diff is one full-outer join on the key with
    the classification computed in-row; emitted rows are only the
    changes, so the output scales with churn, not with the keyspace.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_ns",
        F.expr("ts_ns div 1000").alias("t_us"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts_ns").desc(), F.col("event_id").desc())

    def snapshot(cutoff_us: int, out: str) -> DataFrame:
        return (
            ev.filter(F.col("t_us") < cutoff_us)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_type").alias(out))
        )

    s1 = snapshot(DIFF_T1_US, "old_state")
    s2 = snapshot(DIFF_T2_US, "new_state")
    joined = s1.join(s2, "user_id", "full_outer")
    kind = (
        F.when(F.col("old_state").isNull(), "added")
        .when(F.col("new_state").isNull(), "removed")
        .when(F.col("old_state") != F.col("new_state"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select("user_id", kind.alias("change_kind"), "old_state", "new_state")
        .filter(F.col("change_kind") != "unchanged")
    )


# ------------------------------------------------------------- EWMA

#: EWMA decay 0.5 over a bounded window of the last EWMA_K events.
#: Integer weight of age ``a`` is ``2^(EWMA_K-1-a)`` — exact on every
#: engine — and values are cent-quantized (floor(value*100)) so the
#: weighted sum is pure BIGINT arithmetic; the only float op is the
#: final division, one correctly-rounded IEEE divide on bit-identical
#: integers, hence bit-identical across engines with no rounding
#: helper needed.
EWMA_K = 8


@register(
    "events_ewma",
    oracle=f"""
        WITH r AS (
            SELECT event_id, user_id,
                   CAST(floor(value * 100) AS BIGINT) AS vc,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY epoch_ns(ts), event_id) AS rn
            FROM events
        )
        SELECT a.event_id, a.user_id,
               CAST(CAST(sum(b.vc * CAST(power(2, {EWMA_K - 1} - (a.rn - b.rn)) AS BIGINT)) AS BIGINT) AS DOUBLE)
               / (100.0 * CAST(sum(CAST(power(2, {EWMA_K - 1} - (a.rn - b.rn)) AS BIGINT)) AS BIGINT)) AS ewma
        FROM r a JOIN r b
          ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - {EWMA_K - 1} AND a.rn
        GROUP BY a.event_id, a.user_id
    """,
    doc=f"Per-user exponentially weighted moving average (decay 0.5) over "
    f"the last {EWMA_K} events — the TSDB smoothing primitive. Cent-"
    "quantized integer weights make the weighted sum exact BIGINT math "
    "on both engines; only the final divide is float (bit-identical).",
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA via a single window pass of offset functions (no self-join).

    The oracle states the same sum as a bounded self-join; the Spark
    plan instead reads the last EWMA_K values with K-1 ``lag`` offset
    expressions over ONE window spec and sums the integer-weighted
    terms inline — one user_id shuffle, one sort, zero joins; per-row
    state is one index per offset frame. At 100 TB this is strictly
    cheaper than the join form (which re-shuffles the events table
    twice and fans out x K).

    The lag form computes the BIGINT sums of a ``collect_list`` ROWS
    frame folded through a struct accumulator (weight of age a is
    2^(K-1-a); absent lags at partition starts contribute 0 to both
    numerator and weight sum, exactly like a short collect_list), with
    zero per-row allocation instead of K array+struct allocations per
    output row.

    CAVEAT: lag-offset == collect_list-fold only while
    ``value`` is never NULL mid-partition — collect_list SKIPPED
    nulls (compacting the highest weights onto the remaining values)
    while the lag form zeroes that offset's weight. The events
    source has a NOT NULL value column (and the oracle's self-join
    would diverge the same way), but a future nullable source must
    either filter nulls first or revisit this equivalence.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts_ns",
        F.floor(F.col("value") * 100).cast("long").alias("vc"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    s: Column | None = None
    ws: Column | None = None
    for i in range(EWMA_K):
        weight = F.lit(1 << (EWMA_K - 1 - i)).cast("long")
        v_i = F.col("vc") if i == 0 else F.lag("vc", i).over(w)
        term_s = F.when(v_i.isNotNull(), v_i * weight).otherwise(F.lit(0).cast("long"))
        term_w = F.when(v_i.isNotNull(), weight).otherwise(F.lit(0).cast("long"))
        s = term_s if s is None else s + term_s
        ws = term_w if ws is None else ws + term_w
    return ev.select(
        "event_id",
        "user_id",
        (s.cast("double") / (F.lit(100.0) * ws)).alias("ewma"),
    )


# ------------------------------------------- rolling distinct users

DAY_NS = 86_400_000_000_000
ROLLING_DISTINCT_DAYS = 7


@register(
    "events_rolling_distinct",
    oracle=f"""
        WITH du AS (
            SELECT DISTINCT epoch_ns(ts) // {DAY_NS} AS day, user_id FROM events
        ),
        days AS (SELECT DISTINCT day FROM du)
        SELECT d.day AS day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS n_users_7d
        FROM days d JOIN du u ON u.day BETWEEN d.day - {ROLLING_DISTINCT_DAYS - 1} AND d.day
        GROUP BY d.day
    """,
    doc=f"Rolling {ROLLING_DISTINCT_DAYS}-day distinct active users per "
    "event day — the DAU/WAU engagement metric. COUNT(DISTINCT) over a "
    "sliding frame has no native Spark window form; the plan sweeps "
    "per-user merged day-intervals (+1 at interval start, -1 past its "
    "end, prefix-summed over the calendar-bounded day grain), so the "
    "only fact-sized shuffle is one user-keyed collect_set exchange.",
)
def events_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct counting as a sweep line over per-user
    merged day-intervals.

    A user counts toward target day d iff some activity day lies in
    [d-(K-1), d] — equivalently iff d falls inside the union of
    [day_i, day_i + K-1] intervals, merged wherever consecutive
    activity days are at most K-1 apart. So the rolling distinct
    count per day is a prefix sum of interval deltas: +1 at each
    merged-interval start, -1 at (end + K).

    Dataflow: ONE user-keyed exchange (collect_set partially
    aggregates map-side; the per-user day set is bounded by the
    CALENDAR horizon, not the corpus — same argument as the per-user
    event windows), then a single in-row transform over the sorted
    day array emits, per element, an optional start delta, an
    optional end delta, and an observed-day marker; everything
    collapses to day grain (calendar-bounded rows) and one bounded
    single-partition prefix-sum window finishes the job. The marker
    rides the same explode, so no days driver table, no semi join,
    no x{K} row fan-out.

    Trade: exploding each distinct (day, user) row into the K target
    days it can serve and counting distinct over the fanned rows is
    all-codegen and can be faster on one machine, but shuffles ~30x the
    bytes; the collect_set ObjectHashAggregate here is non-codegen.
    Shuffle bytes are what scale on a cluster, so they win the trade.
    """
    K = ROLLING_DISTINCT_DAYS
    delta_t = "array<struct<day:bigint,c:int,obs:int>>"
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"ts_ns div {DAY_NS}").alias("day"), "user_id"
    )
    per_user = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set("day")).alias("ds")
    )
    ds = F.col("ds")

    # Per element i of the user's sorted day array, emit up to three
    # structs: (+1 at d) when an interval starts (i == 0 or gap > K-1),
    # (-1 at d+K) when one ends (i == last or gap > K-1), and an
    # observed-day marker (so output days mirror the oracle's
    # observed-days driver table without a join). F.get is 0-based and
    # NULL out of bounds — no ANSI element_at(0) hazard, and NULL
    # comparisons fall through `when` to the empty branch.
    def emit(d, i):
        start = F.when(
            (i == 0) | (d - F.get(ds, i - 1) > K - 1),
            F.array(F.struct(d.alias("day"), F.lit(1).alias("c"), F.lit(0).alias("obs"))),
        ).otherwise(F.array().cast(delta_t))
        end = F.when(
            (i == F.size(ds) - 1) | (F.get(ds, i + 1) - d > K - 1),
            F.array(F.struct((d + K).alias("day"), F.lit(-1).alias("c"), F.lit(0).alias("obs"))),
        ).otherwise(F.array().cast(delta_t))
        mark = F.array(F.struct(d.alias("day"), F.lit(0).alias("c"), F.lit(1).alias("obs")))
        return F.concat(start, end, mark)

    md = (
        per_user.select(F.explode(F.flatten(F.transform(ds, emit))).alias("s"))
        .groupBy("s.day")
        .agg(F.sum("s.c").alias("d"), F.max("s.obs").alias("obs"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        md.select("day", F.sum("d").over(w).cast("long").alias("n_users_7d"), "obs")
        .filter(F.col("obs") == 1)
        .select("day", "n_users_7d")
    )


# ------------------------------------------------- attribution

ATTRIB_LOOKBACK_US = 24 * 3600 * 1_000_000  # 24 h last-touch window


@register(
    "events_attribution",
    oracle=f"""
        WITH u AS (
            SELECT user_id, epoch_us(ts) AS t_us, event_id, event_type,
                   CASE WHEN event_type = 'click' THEN event_id END AS c_id,
                   CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS c_t
            FROM events WHERE event_type IN ('click', 'purchase')
        ),
        l AS (
            SELECT user_id, t_us, event_id, event_type,
                   last_value(c_id IGNORE NULLS) OVER w AS click_id,
                   last_value(c_t  IGNORE NULLS) OVER w AS click_t
            FROM u
            WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT event_id AS purchase_id, user_id, click_id,
               t_us - click_t AS delay_us
        FROM l
        WHERE event_type = 'purchase' AND click_id IS NOT NULL
          AND t_us - click_t <= {ATTRIB_LOOKBACK_US}
    """,
    doc="Last-touch attribution: each purchase is credited to the same "
    "user's most recent prior click within a 24 h lookback. The "
    "union-then-window shape (one user_id shuffle, LOCF via "
    "last(ignorenulls)) — never a per-purchase probe join, which is the "
    "as-of shape that does NOT survive 100 TB.",
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution as a single-pass as-of self-correlation.

    Clicks and purchases ride one event-time-ordered window per user;
    click ids/times are carried forward LOCF-style, so each purchase
    row reads its attribution in-row. One shuffle on user_id, state
    per row is two carried values. The type filter is pushed to the
    parquet scan (In(event_type) PushedFilter).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    u = ev.select(
        "user_id",
        F.expr("ts_ns div 1000").alias("t_us"),
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("c_id"),
        F.when(F.col("event_type") == "click", F.expr("ts_ns div 1000")).alias("c_t"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    l = u.select(
        "user_id",
        "t_us",
        "event_id",
        "event_type",
        F.last("c_id", ignorenulls=True).over(w).alias("click_id"),
        F.last("c_t", ignorenulls=True).over(w).alias("click_t"),
    )
    return (
        l.filter(
            (F.col("event_type") == "purchase")
            & F.col("click_id").isNotNull()
            & ((F.col("t_us") - F.col("click_t")) <= ATTRIB_LOOKBACK_US)
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "click_id",
            (F.col("t_us") - F.col("click_t")).alias("delay_us"),
        )
    )


# ------------------------------------------------- path mining

PATH_TOP_K = 10


@register(
    "events_top_sequences",
    oracle=f"""
        WITH s AS (
            SELECT event_type AS e1,
                   lead(event_type, 1) OVER w AS e2,
                   lead(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
        )
        SELECT e1 || '>' || e2 || '>' || e3 AS path,
               CAST(count(*) AS BIGINT) AS n
        FROM s WHERE e3 IS NOT NULL
        GROUP BY 1 ORDER BY n DESC, path LIMIT {PATH_TOP_K}
    """,
    doc=f"Top-{PATH_TOP_K} three-step behavior paths (consecutive "
    "event_type trigrams per user, total-ordered on (ts_ns, event_id); "
    "ties broken by path string) — the navigation-pattern mining shape. "
    "One user_id window shuffle; the path alphabet is tiny so the "
    "aggregate is map-side-combined and the top-k is "
    "TakeOrderedAndProject, never a global sort.",
)
def events_top_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    s = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        s.filter(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(PATH_TOP_K)
    )


# ------------------------------------------------- growth accounting

@register(
    "events_cumulative_users",
    oracle=f"""
        WITH d AS (
            SELECT user_id, epoch_ns(ts) // {DAY_NS} AS day FROM events
        ),
        first_seen AS (
            SELECT user_id, min(day) AS first_day FROM d GROUP BY user_id
        ),
        new_per_day AS (
            SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new
            FROM first_seen GROUP BY first_day
        ),
        days AS (SELECT DISTINCT day FROM d)
        SELECT days.day AS day,
               CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
               CAST(sum(coalesce(n_new, 0)) OVER (ORDER BY days.day) AS BIGINT) AS cum_users
        FROM days LEFT JOIN new_per_day ON days.day = new_per_day.day
    """,
    doc="Growth accounting: per-day NEW users (first-ever appearance) and "
    "the cumulative user base — running COUNT(DISTINCT) rewritten as "
    "first-touch dedup + prefix sum, the only shape that scales (a "
    "distinct-over-growing-window would hold unbounded state). The "
    "prefix sum runs over the tiny day domain, never over events.",
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users via first-touch attribution.

    min(day)-per-user is one user_id shuffle with map-side partial
    min; everything after operates on |users| then |days| rows. The
    ordered prefix sum is over the day table (dozens to thousands of
    rows at any corpus size) — a deliberate, bounded single-partition
    window, NOT an events-sized one.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"ts_ns div {DAY_NS}").alias("day"), "user_id"
    )
    first = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    new_per_day = first.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    days = ev.select("day").distinct()
    joined = days.join(new_per_day, "day", "left").select(
        "day", F.coalesce("n_new", F.lit(0)).alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return joined.select(
        "day", "n_new", F.sum("n_new").over(w).cast("long").alias("cum_users")
    )


# ------------------------------------------------- skew diagnostics

SKEW_TOP_K = 10


def _skew_report_oracle() -> str:
    from rust_etl_spark.functions.rounding import round_half_up_sql

    return f"""
        WITH c AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY user_id
        ),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        SELECT user_id, n, {round_half_up_sql('n / total', 6)} AS share
        FROM (SELECT * FROM c ORDER BY n DESC, user_id LIMIT {SKEW_TOP_K}) top
        CROSS JOIN t
    """


@register(
    "events_skew_report",
    oracle=_skew_report_oracle(),
    doc=f"Shuffle-key skew diagnostic: the top {SKEW_TOP_K} hottest user_id "
    "keys with their share of all events — the measurement that decides "
    "whether a join/agg on this key needs salting or AQE skew handling. "
    "Top-k is TakeOrderedAndProject over the aggregated counts; the "
    "grand total rides a broadcast single-row cross join, never a "
    "window over the full key set.",
)
def events_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measure-don't-guess prerequisite for skew mitigation.

    One shuffle (the count groupBy, map-side combined); the hot-key
    selection and share computation both operate on key-cardinality
    data with the total broadcast — the report stays cheap even when
    the key space is billions.
    """
    from rust_etl_spark.functions.rounding import round_half_up

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    top = counts.orderBy(F.col("n").desc(), "user_id").limit(SKEW_TOP_K)
    total = counts.agg(F.sum("n").cast("long").alias("total"))
    return top.crossJoin(F.broadcast(total)).select(
        "user_id", "n", round_half_up(F.col("n") / F.col("total"), 6).alias("share")
    )


# ------------------------------------------------- props key profile

@register(
    "props_key_profile",
    oracle="""
        WITH kv AS (
            SELECT unnest(json_keys(props)) AS key,
                   props
            FROM events WHERE props IS NOT NULL
        ),
        typed AS (
            SELECT key,
                   TRY_CAST(json_extract_string(props, '$.' || key) AS BIGINT) AS num_val
            FROM kv
        )
        SELECT key,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT num_val) AS BIGINT) AS n_distinct,
               CAST(min(num_val) AS BIGINT) AS min_val,
               CAST(max(num_val) AS BIGINT) AS max_val
        FROM typed GROUP BY key
    """,
    doc="Semi-structured payload profiling: per JSON key in events.props — "
    "presence count, distinct values, numeric min/max. The schema-drift "
    "observability a pipeline ingesting loosely-typed payloads runs "
    "before promoting a key to a typed column; one map-side parse "
    "(from_json to a map) + one key-grain aggregate.",
)
def props_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    kv = ev.select(
        F.explode(F.from_json("props", "map<string,string>")).alias("key", "val")
    )
    typed = kv.select("key", F.col("val").cast("long").alias("num_val"))
    return typed.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("num_val").cast("long").alias("n_distinct"),
        F.min("num_val").cast("long").alias("min_val"),
        F.max("num_val").cast("long").alias("max_val"),
    )


# ------------------------------------------------- throttling

RATE_LIMIT_N = 5
HOUR_NS = 3_600_000_000_000


@register(
    "events_rate_limit",
    oracle=f"""
        SELECT event_id, user_id, hour, rn FROM (
            SELECT event_id, user_id,
                   epoch_ns(ts) // {HOUR_NS} AS hour,
                   CAST(row_number() OVER (
                        PARTITION BY user_id, epoch_ns(ts) // {HOUR_NS}
                        ORDER BY epoch_ns(ts), event_id) AS BIGINT) AS rn
            FROM events
        ) t WHERE rn <= {RATE_LIMIT_N}
    """,
    doc=f"Per-user rate limiting: keep the first {RATE_LIMIT_N} events per "
    "user-hour (arrival order, event_id tie-break) — the bot/abuse "
    "throttle every ingest pipeline applies before expensive "
    "processing. One shuffle on the compound (user, hour) key, which "
    "is finer than user_id alone — hot users spread across hours.",
)
def events_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts_ns", F.expr(f"ts_ns div {HOUR_NS}").alias("hour")
    )
    w = Window.partitionBy("user_id", "hour").orderBy("ts_ns", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= RATE_LIMIT_N)
        .select("event_id", "user_id", "hour", "rn")
    )


# ------------------------------------------------- activity heatmap

#: 1970-01-01 (epoch day 0) was a Thursday; +3 maps Monday->0, so
#: day 0 lands on index 3 (Thursday) as it should.
_DOW_SQL = f"((epoch_ns(ts) // {DAY_NS} + 3) % 7)"


@register(
    "events_activity_heatmap",
    oracle=f"""
        SELECT {_DOW_SQL} AS dow,
               (epoch_ns(ts) % {DAY_NS}) // {HOUR_NS} AS hour_of_day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1, 2
    """,
    doc="Day-of-week x hour-of-day activity heatmap (events + distinct "
    "users per cell) — the seasonality fingerprint behind capacity "
    "planning and anomaly baselines. Pure integer epoch arithmetic "
    "(no timezone/calendar functions, so both engines agree exactly); "
    "one aggregate onto a 168-cell grid, map-side combined.",
)
def events_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.expr(f"(ts_ns div {DAY_NS} + 3) % 7").alias("dow"),
            F.expr(f"(ts_ns % {DAY_NS}) div {HOUR_NS}").alias("hour_of_day"),
            "user_id",
        )
        .groupBy("dow", "hour_of_day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )


# ------------------------------------------------- streaks

@register(
    "events_streaks",
    oracle=f"""
        WITH d AS (
            SELECT DISTINCT user_id, epoch_ns(ts) // {DAY_NS} AS day FROM events
        ),
        isl AS (
            SELECT user_id, day,
                   day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
            FROM d
        ),
        runs AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS len
            FROM isl GROUP BY user_id, grp
        )
        SELECT user_id,
               CAST(max(len) AS BIGINT) AS max_streak,
               CAST(count(*) AS BIGINT) AS n_streaks
        FROM runs GROUP BY user_id
    """,
    doc="Longest consecutive-day activity streak per user (gaps-and-"
    "islands: day minus per-user rank is constant within a run) — the "
    "engagement metric behind retention scoring. Day-grain dedup "
    "first, so the window and both aggregates run over user-days, "
    "not raw events; all three shuffles share the user_id key.",
)
def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(f"ts_ns div {DAY_NS}").alias("day")
    )
    d = ev.distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = d.withColumn("grp", F.col("day") - F.row_number().over(w))
    runs = isl.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return runs.groupBy("user_id").agg(
        F.max("len").cast("long").alias("max_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
    )


# ------------------------------------------------- spike detection

SPIKE_BASELINE_DAYS = 7
SPIKE_RATIO_TAU = 1.2


def _spike_oracle() -> str:
    from rust_etl_spark.functions.rounding import round_half_up_sql

    return f"""
        WITH daily AS (
            SELECT epoch_ns(ts) // {DAY_NS} AS day, CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1
        ),
        base AS (
            SELECT day, n,
                   CAST(sum(n) OVER w AS BIGINT) AS base_n,
                   CAST(count(*) OVER w AS BIGINT) AS base_days
            FROM daily
            WINDOW w AS (ORDER BY day
                         ROWS BETWEEN {SPIKE_BASELINE_DAYS} PRECEDING AND 1 PRECEDING)
        )
        SELECT day, n, base_n, base_days,
               {round_half_up_sql('n * base_days / base_n', 4)} AS ratio,
               n * base_days / base_n >= {SPIKE_RATIO_TAU} AS is_spike
        FROM base
        WHERE base_days >= 3
    """


@register(
    "events_spike_detect",
    oracle=_spike_oracle(),
    doc=f"Traffic-spike detection: every baseline-qualified day with its "
    f"volume ratio vs the trailing {SPIKE_BASELINE_DAYS}-day mean and an "
    f"is_spike flag at {SPIKE_RATIO_TAU}x (emitting the full series, not "
    "just alerts, keeps the check non-vacuous on smooth traffic and is "
    "what the alerting dashboard plots anyway). "
    "The ratio n*base_days/base_n is computed on exact BIGINTs with one "
    "final IEEE divide, so both engines agree bit-for-bit; the window "
    "runs over the tiny day domain, never over events.",
)
def events_spike_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rust_etl_spark.functions.rounding import round_half_up

    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"ts_ns div {DAY_NS}").alias("day")
    )
    daily = ev.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.orderBy("day").rowsBetween(-SPIKE_BASELINE_DAYS, -1)
    base = daily.select(
        "day",
        "n",
        F.sum("n").over(w).cast("long").alias("base_n"),
        F.count(F.lit(1)).over(w).cast("long").alias("base_days"),
    )
    ratio = F.col("n") * F.col("base_days") / F.col("base_n")
    return base.filter(F.col("base_days") >= 3).select(
        "day",
        "n",
        "base_n",
        "base_days",
        round_half_up(ratio, 4).alias("ratio"),
        (ratio >= SPIKE_RATIO_TAU).alias("is_spike"),
    )


# ------------------------------------------------- markov transitions

def _markov_oracle() -> str:
    from rust_etl_spark.functions.rounding import round_half_up_sql

    return f"""
        WITH s AS (
            SELECT event_type AS src,
                   lead(event_type, 1) OVER (
                       PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS dst
            FROM events
        ),
        pairs AS (
            SELECT src, dst, CAST(count(*) AS BIGINT) AS n
            FROM s WHERE dst IS NOT NULL GROUP BY src, dst
        ),
        tot AS (
            SELECT src, dst, n, CAST(sum(n) OVER (PARTITION BY src) AS BIGINT) AS n_src
            FROM pairs
        )
        SELECT src, dst, n, {round_half_up_sql('n / n_src', 4)} AS p
        FROM tot
    """


@register(
    "events_markov_transition",
    oracle=_markov_oracle(),
    doc="First-order Markov transition matrix over per-user event_type "
    "streams: P(dst | src) from consecutive pairs — the behavioral "
    "model behind next-action prediction and anomalous-session scoring. "
    "Exact BIGINT pair counts with one final divide (bit-identical); "
    "the per-src normalization window runs over the 25-cell matrix, "
    "never over events.",
)
def events_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rust_etl_spark.functions.rounding import round_half_up

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    s = ev.select(
        F.col("event_type").alias("src"), F.lead("event_type", 1).over(w).alias("dst")
    )
    pairs = (
        s.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = pairs.withColumn(
        "n_src", F.sum("n").over(Window.partitionBy("src")).cast("long")
    )
    return tot.select(
        "src", "dst", "n", round_half_up(F.col("n") / F.col("n_src"), 4).alias("p")
    )


# ------------------------------------------------- lateness profile

#: Two-level prefix-max block width, SCALE-AWARE (a fixed 1000-wide
#: block leaves the block-domain prefix window growing N/1000 —
#: corpus-linear). The smallest power of 10 whose square covers the stream
#: balances the split: ~sqrt(N) blocks of ~sqrt(N) rows each, so BOTH
#: window stages stay one-task-feasible at any achievable N (10^6-row
#: stages at a trillion events). Same integer-only derivation as
#: similarity.ivf_mod / advanced_agg.fuzzy_block_len; the decomposition
#: is exact for any width, so results are identical at every tier and
#: the oracle (which states the naive running max) needs no mirror.
LATE_BLOCK = 1000  #: floor (also the exact width at all graded tiers)


def late_block(n_rows: int) -> int:
    """Smallest power of 10 >= LATE_BLOCK whose square covers n_rows."""
    w = LATE_BLOCK
    while w * w < n_rows and w < 1_000_000_000:
        w *= 10
    return w

_LATE_BUCKETS = (
    ("on_time", "lat_ms = 0", 0),
    ("lt_1s", "lat_ms > 0 AND lat_ms < 1000", 1),
    ("lt_10s", "lat_ms >= 1000 AND lat_ms < 10000", 2),
    ("lt_100s", "lat_ms >= 10000 AND lat_ms < 100000", 3),
    ("lt_1000s", "lat_ms >= 100000 AND lat_ms < 1000000", 4),
    ("ge_1000s", "lat_ms >= 1000000", 5),
)

_LATE_CASE = "CASE " + " ".join(
    f"WHEN {cond} THEN '{name}'" for name, cond, _ in _LATE_BUCKETS
) + " END"
_LATE_ORD = "CASE " + " ".join(
    f"WHEN {cond} THEN {ordn}" for _, cond, ordn in _LATE_BUCKETS
) + " END"


@register(
    "events_lateness_profile",
    oracle=f"""
        WITH l AS (
            SELECT (max(epoch_ns(ts)) OVER (ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - epoch_ns(ts)) // 1000000 AS lat_ms
            FROM events
        )
        SELECT {_LATE_CASE} AS bucket,
               CAST({_LATE_ORD} AS BIGINT) AS bucket_ord,
               CAST(count(*) AS BIGINT) AS n
        FROM l GROUP BY 1, 2
    """,
    doc="Event-lateness profile: how far behind the high-watermark (max "
    "event time seen so far, in arrival = event_id order) each event "
    "arrives, bucketed in decades of milliseconds — THE statistic that "
    "sizes a Structured Streaming watermark (pick the bucket covering "
    "your completeness target). Spark computes the running max with a "
    "two-level prefix (per-block maxima at the scale-aware sqrt(N) "
    "block width, then a block-domain scan), so no window stage ever "
    "exceeds ~sqrt(N) rows.",
)
def events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing via distributed running max.

    The oracle states the naive unbounded running max; the Spark plan
    decomposes it: (1) per-block max (block = event_id div late_block(N),
    a map-side-combinable groupBy), (2) exclusive prefix max across the
    ~sqrt(N)-sized block domain, (3) in-block running max + the carried
    prefix. Same decomposition as window_range_frame's two-level prefix
    sum — the general recipe for turning any unbounded ordered
    aggregate into bounded-state stages. Stage (2) is a single-partition
    window by design, allowlisted in tests/test_plans.py with its
    sqrt(N) grain bound (one task over ~10^6 tiny rows at 10^12 events).
    """
    from rust_etl_spark.sources import table_rows

    blk_w = late_block(table_rows(spark, sf_dir, "events"))
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts_ns")
    ev = ev.withColumn("blk", F.expr(f"event_id div {blk_w}"))
    blk_max = ev.groupBy("blk").agg(F.max("ts_ns").alias("blk_max"))
    w_blk = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    prefix = blk_max.select(
        "blk", F.max("blk_max").over(w_blk).alias("prev_max")
    )
    w_in = (
        Window.partitionBy("blk")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_max = (
        ev.join(prefix, "blk")
        .withColumn("run_in", F.max("ts_ns").over(w_in))
        .withColumn("hwm", F.greatest(F.coalesce("prev_max", F.lit(-(2**62))), F.col("run_in")))
    )
    lat = with_max.select(
        F.expr("(hwm - ts_ns) div 1000000").alias("lat_ms")
    )
    bucket = F.expr(_LATE_CASE)
    ordn = F.expr(_LATE_ORD).cast("long")
    return lat.select(bucket.alias("bucket"), ordn.alias("bucket_ord")).groupBy(
        "bucket", "bucket_ord"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


# ------------------------------------------------- dwell time

def _dwell_oracle() -> str:
    from rust_etl_spark.functions.rounding import round_half_up_sql

    return f"""
        WITH d AS (
            SELECT event_type,
                   lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
                   - epoch_us(ts) AS dwell_us
            FROM events
        )
        SELECT event_type,
               CAST(count(dwell_us) AS BIGINT) AS n,
               CAST(sum(dwell_us) AS BIGINT) AS total_us,
               {round_half_up_sql('sum(dwell_us) / count(dwell_us) / 1000000.0', 3)} AS avg_s
        FROM d WHERE dwell_us IS NOT NULL
        GROUP BY event_type
    """


@register(
    "events_dwell_time",
    oracle=_dwell_oracle(),
    doc="Dwell time per event_type: gap to the user's next event "
    "(per-user lead, total order on (ts_ns, event_id)), aggregated as "
    "exact integer micros with one final divide — where users spend "
    "their session time, the UX metric behind funnel drop-off "
    "analysis. One user_id window shuffle + a 5-row aggregate.",
)
def events_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rust_etl_spark.functions.rounding import round_half_up

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    t_us = F.expr("ts_ns div 1000")
    d = ev.select(
        "event_type", (F.lead(t_us).over(w) - t_us).alias("dwell_us")
    ).filter(F.col("dwell_us").isNotNull())
    return d.groupBy("event_type").agg(
        F.count("dwell_us").cast("long").alias("n"),
        F.sum("dwell_us").cast("long").alias("total_us"),
        round_half_up(
            F.sum("dwell_us") / F.count("dwell_us") / F.lit(1000000.0), 3
        ).alias("avg_s"),
    )


# --------------------------------------------- interval merge (islands)

#: Each event opens a 10-minute activity interval; overlapping
#: intervals merge into islands (classic gaps-and-islands).
INTERVAL_LEN_US = 10 * 60 * 1_000_000


@register(
    "events_interval_merge",
    oracle=f"""
        WITH iv AS (
            SELECT user_id, event_id, epoch_us(ts) AS s,
                   epoch_us(ts) + {INTERVAL_LEN_US} AS e
            FROM events
        ),
        marked AS (
            SELECT user_id, s, e,
                   CASE WHEN max(e) OVER (
                            PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) IS NULL
                        OR s > max(e) OVER (
                            PARTITION BY user_id ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   THEN 1 ELSE 0 END AS new_island,
                   event_id
            FROM iv
        ),
        islanded AS (
            SELECT user_id, s, e,
                   sum(new_island) OVER (
                       PARTITION BY user_id ORDER BY s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
            FROM marked
        ),
        islands AS (
            SELECT user_id, isl, min(s) AS i_start, max(e) AS i_end
            FROM islanded GROUP BY user_id, isl
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_islands,
               CAST(sum(i_end - i_start) AS BIGINT) AS covered_us,
               CAST(max(i_end - i_start) AS BIGINT) AS longest_us
        FROM islands GROUP BY user_id
    """,
    doc="Gaps-and-islands interval merge: each event opens a 10-min "
    "activity interval; overlapping intervals per user merge into "
    "islands. Per-user island count, merged coverage, longest island — "
    "the union-of-intervals primitive behind uptime/activity billing.",
)
def events_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of overlapping intervals (gaps-and-islands).

    One shuffle on user_id: both windows (prev running max end, island
    prefix sum) and the island aggregate share the same partitioning;
    everything is integer micros. Differs from events_sessionize in
    that membership is interval OVERLAP (an event extends the island
    only while intervals touch), not inter-event gap — the primitive
    behind uptime, on-call coverage, and ad-exposure unions. At 100 TB
    per-user state is one running max; skew = one hot user's events in
    one task, same envelope as sessionization (salting applies if a
    single user exceeds a task).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts_ns div 1000").alias("s")
    )
    iv = ev.withColumn("e", F.col("s") + F.lit(INTERVAL_LEN_US))
    order = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("e").over(order.rowsBetween(Window.unboundedPreceding, -1))
    marked = iv.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), F.lit(1)).otherwise(F.lit(0)),
    )
    islanded = marked.withColumn(
        "isl",
        F.sum("new_island").over(order.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = islanded.groupBy("user_id", "isl").agg(
        F.min("s").alias("i_start"), F.max("e").alias("i_end")
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("i_end") - F.col("i_start")).cast("long").alias("covered_us"),
        F.max(F.col("i_end") - F.col("i_start")).cast("long").alias("longest_us"),
    )


# ------------------------------------------------ robust MAD anomalies

DAY_US = 24 * 3600 * 1_000_000
MAD_K = 3.0  #: flag days deviating more than K * MAD from the median


@register(
    "events_anomaly_mad",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, epoch_us(ts) // {DAY_US} AS day_idx,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        med AS (
            SELECT event_type, median(n) AS med FROM daily GROUP BY event_type
        ),
        dev AS (
            SELECT d.event_type, d.day_idx, d.n, m.med, abs(d.n - m.med) AS adev
            FROM daily d JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
        )
        SELECT d.event_type, d.day_idx, d.n, d.med, m.mad,
               CAST(CASE WHEN m.mad > 0 AND d.adev > {MAD_K} * m.mad
                         THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        FROM dev d JOIN mad m USING (event_type)
    """,
    doc=f"Robust daily-volume anomaly detection: days whose event count "
    f"deviates more than {MAD_K}x the median-absolute-deviation from "
    "the per-type median. Median/MAD resist the very outliers z-scores "
    "get dragged by — the robust complement to events_zscore/"
    "events_spike_detect. Every day ships with its verdict (no "
    "vacuously-empty result at any scale).",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier flags over daily per-type volumes.

    Two tiny aggregates over the daily rollup (one median, one MAD —
    each per event_type, a handful of groups) broadcast back onto the
    day grain. The only corpus-sized pass is the daily rollup itself
    (map-side combinable count). Exact medians sort day-count-sized
    groups (~hundreds of rows per type), never raw events; both
    engines interpolate even-count medians as the mean of the two
    middle values — IEEE-exact for integer counts, so no rounding is
    needed anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.expr(f"(ts_ns div 1000) div {DAY_US}").alias("day_idx")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    med = daily.groupBy("event_type").agg(F.median("n").alias("med"))
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            "day_idx",
            "n",
            "med",
            "mad",
            F.when(
                (F.col("mad") > 0) & (F.col("adev") > MAD_K * F.col("mad")), F.lit(1)
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("is_anomaly"),
        )
    )


# ------------------------------------------- seasonal decomposition

SEASONAL_HALF = 3  #: centered 7-day trend window


@register(
    "events_seasonal_decompose",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, epoch_us(ts) // {DAY_US} AS day_idx,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        trended AS (
            SELECT event_type, day_idx, n,
                   sum(n) OVER w AS sum7,
                   count(*) OVER w AS cnt7
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day_idx
                         ROWS BETWEEN {SEASONAL_HALF} PRECEDING
                                  AND {SEASONAL_HALF} FOLLOWING)
        ),
        full_w AS (
            SELECT event_type, day_idx, n, sum7,
                   7 * n - sum7 AS dev7,
                   day_idx % 7 AS dow
            FROM trended WHERE cnt7 = {2 * SEASONAL_HALF + 1}
        ),
        seas AS (
            SELECT event_type, dow, avg(dev7) AS seasonal7
            FROM full_w GROUP BY event_type, dow
        )
        SELECT f.event_type, f.day_idx, f.n,
               f.sum7 / 7.0 AS trend,
               s.seasonal7 / 7.0 AS seasonal,
               (CAST(f.n AS DOUBLE) - f.sum7 / 7.0) - s.seasonal7 / 7.0 AS residual
        FROM full_w f JOIN seas s USING (event_type, dow)
    """,
    doc="Classical seasonal decomposition of daily per-type volumes: "
    "trend = centered 7-day moving average (full windows only), "
    "seasonal = day-of-week mean of the detrended series, residual = "
    "the rest. All intermediate sums are integers (7n - sum7), so "
    "trend/seasonal/residual are exact IEEE divisions/subtractions — "
    "bit-identical across engines with NO rounding anywhere.",
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend / day-of-week seasonality / residual split.

    One corpus-sized pass (the daily rollup, map-side combinable);
    the trend window and the seasonal aggregate both run on the daily
    grain — #types x #days rows — partitioned by event_type, so no
    unpartitioned window and per-partition state is one 7-row frame.
    Exactness trick: the detrended series is kept in x7 integer space
    (dev7 = 7n - sum7, a BIGINT), so every float that reaches the
    output is produced by one division or subtraction of exact
    inputs in a fixed written order — cross-engine bit parity without
    a single round() call.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr(f"(ts_ns div 1000) div {DAY_US}").alias("day_idx")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_idx")
        .rowsBetween(-SEASONAL_HALF, SEASONAL_HALF)
    )
    trended = daily.select(
        "event_type",
        "day_idx",
        "n",
        F.sum("n").over(w).alias("sum7"),
        F.count(F.lit(1)).over(w).alias("cnt7"),
    )
    full_w = trended.filter(F.col("cnt7") == 2 * SEASONAL_HALF + 1).select(
        "event_type",
        "day_idx",
        "n",
        "sum7",
        (F.lit(7) * F.col("n") - F.col("sum7")).alias("dev7"),
        (F.col("day_idx") % 7).alias("dow"),
    )
    seas = full_w.groupBy("event_type", "dow").agg(F.avg("dev7").alias("seasonal7"))
    trend = F.col("sum7") / F.lit(7.0)
    seasonal = F.col("seasonal7") / F.lit(7.0)
    return (
        full_w.join(F.broadcast(seas), ["event_type", "dow"])
        .select(
            "event_type",
            "day_idx",
            "n",
            trend.alias("trend"),
            seasonal.alias("seasonal"),
            ((F.col("n").cast("double") - trend) - seasonal).alias("residual"),
        )
    )


@register(
    "events_funnel_timing",
    oracle="""
        WITH u AS (
            SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
            FROM events GROUP BY user_id
        ), c AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN u USING (user_id)
            WHERE e.event_type = 'click' AND u.t_view IS NOT NULL AND e.ts > u.t_view
            GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY e.user_id
        ),
        deltas AS (
            SELECT 'view_to_click' AS stage,
                   epoch_us(c.t_click) - epoch_us(u.t_view) AS d_us
            FROM u JOIN c USING (user_id)
            UNION ALL
            SELECT 'click_to_purchase',
                   epoch_us(p.t_purchase) - epoch_us(c.t_click)
            FROM c JOIN p USING (user_id)
        )
        SELECT stage,
               CAST(count(*) AS BIGINT) AS n_users,
               median(d_us) AS med_us,
               CAST(sum(d_us) AS BIGINT) AS total_us,
               CAST(min(d_us) AS BIGINT) AS min_us,
               CAST(max(d_us) AS BIGINT) AS max_us
        FROM deltas GROUP BY stage
    """,
    doc="Funnel time-to-convert: for users who advanced a funnel stage "
    "(same strict-after semantics as events_funnel), the per-stage-pair "
    "median / total / min / max of the conversion delay in integer "
    "micros — the metric that turns survivor counts into 'where do "
    "users stall'. Medians interpolate two integers (exact on both "
    "engines); totals stay BIGINT, so no rounding anywhere.",
)
def events_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage conversion-delay stats (integer event-time micros).

    Reuses the funnel cascade (all stages keyed and co-partitioned on
    user_id); the delta rows are user-grain, and the final aggregate
    collapses to one row per stage pair — a 2-row result at any scale.
    Exact medians sort per-stage user-count groups; at 100 TB switch
    the median to approx_percentile if user-grain deltas outgrow a
    task, the only non-exact concession this query would ever need.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts_ns div 1000").alias("t_us")
    )
    u = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("t_us"))).alias("t_view")
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(u.filter(F.col("t_view").isNotNull()), "user_id")
        .filter(F.col("t_us") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("t_us") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("t_us").alias("t_purchase"))
    )
    deltas = (
        u.join(c, "user_id")
        .select(
            F.lit("view_to_click").alias("stage"),
            (F.col("t_click") - F.col("t_view")).alias("d_us"),
        )
        .unionByName(
            c.join(p, "user_id").select(
                F.lit("click_to_purchase").alias("stage"),
                (F.col("t_purchase") - F.col("t_click")).alias("d_us"),
            )
        )
    )
    return deltas.groupBy("stage").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.median("d_us").alias("med_us"),
        F.sum("d_us").cast("long").alias("total_us"),
        F.min("d_us").cast("long").alias("min_us"),
        F.max("d_us").cast("long").alias("max_us"),
    )


@register(
    "events_changepoint",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, epoch_us(ts) // {DAY_US} AS day_idx,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        pre AS (
            SELECT event_type, day_idx, n,
                   sum(n) OVER (PARTITION BY event_type ORDER BY day_idx
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
                   row_number() OVER (PARTITION BY event_type ORDER BY day_idx) AS k,
                   sum(n) OVER (PARTITION BY event_type) AS total,
                   count(*) OVER (PARTITION BY event_type) AS n_days
            FROM daily
        ),
        cusum AS (
            SELECT event_type, day_idx,
                   CAST(n_days * prefix - k * total AS BIGINT) AS dev_scaled,
                   CAST(n_days AS BIGINT) AS n_days
            FROM pre
        )
        SELECT event_type, day_idx AS change_day, dev_scaled, n_days,
               CAST(CASE WHEN dev_scaled > 0 THEN 1 ELSE -1 END AS BIGINT) AS direction
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY event_type
                ORDER BY abs(dev_scaled) DESC, day_idx) AS rn
            FROM cusum
        ) t WHERE rn = 1
    """,
    doc="CUSUM changepoint detection over daily per-type volumes: the "
    "day where the cumulative deviation from the per-type mean peaks "
    "(the classic single-changepoint estimator). The statistic is kept "
    "in n_days-scaled integer space (D*prefix_k - k*total, a BIGINT), "
    "so detection is exact on both engines — no float means anywhere.",
)
def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer CUSUM argmax per event_type.

    One corpus-sized pass (the daily rollup); prefix sums, per-type
    totals, and the argmax all run on the daily grain partitioned by
    event_type — bounded window state, no unpartitioned window. The
    mean is never materialized as a float: CUSUM_k * n_days =
    n_days * prefix_k - k * total stays BIGINT, so the argmax (with a
    day tie-break) is deterministic arithmetic end to end.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr(f"(ts_ns div 1000) div {DAY_US}").alias("day_idx")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    wt = Window.partitionBy("event_type")
    wo = wt.orderBy("day_idx")
    pre = daily.select(
        "event_type",
        "day_idx",
        F.sum("n").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("prefix"),
        F.row_number().over(wo).alias("k"),
        F.sum("n").over(wt).alias("total"),
        F.count(F.lit(1)).over(wt).alias("n_days"),
    )
    cusum = pre.select(
        "event_type",
        "day_idx",
        (F.col("n_days") * F.col("prefix") - F.col("k") * F.col("total"))
        .cast("long")
        .alias("dev_scaled"),
        F.col("n_days").cast("long").alias("n_days"),
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("dev_scaled")).desc(), "day_idx"
    )
    return (
        cusum.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day_idx").alias("change_day"),
            "dev_scaled",
            "n_days",
            F.when(F.col("dev_scaled") > 0, F.lit(1))
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("direction"),
        )
    )


@register(
    "events_concurrency_peak",
    oracle=f"""
        WITH bounds AS (
            SELECT user_id, epoch_us(ts) AS s,
                   epoch_us(ts) + {INTERVAL_LEN_US} AS e
            FROM events
        ),
        deltas AS (
            SELECT s AS t_us, CAST(1 AS BIGINT) AS d FROM bounds
            UNION ALL
            SELECT e AS t_us, CAST(-1 AS BIGINT) AS d FROM bounds
        ),
        swept AS (
            SELECT t_us, t_us // {DAY_US} AS day_idx,
                   sum(d) OVER (ORDER BY t_us, d DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_now
            FROM deltas
        )
        SELECT day_idx,
               CAST(max(open_now) AS BIGINT) AS peak,
               CAST(min(CASE WHEN open_now = m THEN t_us END) AS BIGINT) AS peak_at_us
        FROM (SELECT *, max(open_now) OVER (PARTITION BY day_idx) AS m FROM swept)
        GROUP BY day_idx
    """,
    doc="Peak concurrency per day: each event opens a 10-min activity "
    "interval; the sweep-line over +1/-1 boundary deltas yields the "
    "number of concurrently-open intervals at every instant, and per "
    "day the peak and its first occurrence. The concurrent-sessions / "
    "connection-pool metric. Boundary tie rule: at the same instant "
    "opens count before closes (a touching interval pair overlaps).",
)
def events_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency without a global window.

    The oracle states the sweep as one global running sum (fine for
    DuckDB); the Spark plan decomposes it exactly like
    window_range_frame: (1) running delta sums WITHIN each day
    partition (bounded state, partitioned window), (2) a per-day
    carry-in = running total of all previous days' (opens - closes),
    computed on the #days-sized daily rollup, broadcast back. open_now
    = carry + in-day prefix; integer arithmetic end to end, opens
    sort before closes at equal timestamps on both engines. At 100 TB
    the only corpus-sized shuffle keys on day_idx; no single-partition
    stage exists.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("ts_ns div 1000").alias("s")
    )
    bounds = ev.withColumn("e", F.col("s") + F.lit(INTERVAL_LEN_US))
    deltas = (
        bounds.select(F.col("s").alias("t_us"), F.lit(1).cast("long").alias("d"))
        .unionByName(
            bounds.select(F.col("e").alias("t_us"), F.lit(-1).cast("long").alias("d"))
        )
        .withColumn("day_idx", F.expr(f"t_us div {DAY_US}"))
    )
    w_day = Window.partitionBy("day_idx").orderBy(
        "t_us", F.col("d").desc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    in_day = deltas.withColumn("run", F.sum("d").over(w_day))

    # Carry-in per day via a triangular self-join of the #days-sized
    # rollup (house style, same as window_range_frame's bucket offsets:
    # no unpartitioned window -> no single-partition stage anywhere).
    day_tot = deltas.groupBy("day_idx").agg(F.sum("d").alias("day_sum"))
    a, t = day_tot.alias("a"), day_tot.alias("t")
    carry = (
        a.join(F.broadcast(t), F.col("t.day_idx") < F.col("a.day_idx"), "left")
        .groupBy(F.col("a.day_idx").alias("day_idx"))
        .agg(F.coalesce(F.sum("t.day_sum"), F.lit(0)).alias("carry"))
    )

    swept = in_day.join(F.broadcast(carry), "day_idx").withColumn(
        "open_now", F.col("carry") + F.col("run")
    )
    w_peak = Window.partitionBy("day_idx")
    return (
        swept.withColumn("m", F.max("open_now").over(w_peak))
        .groupBy("day_idx")
        .agg(
            F.max("open_now").cast("long").alias("peak"),
            F.min(F.when(F.col("open_now") == F.col("m"), F.col("t_us")))
            .cast("long")
            .alias("peak_at_us"),
        )
    )


@register(
    "events_autocorr",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, epoch_us(ts) // {DAY_US} AS day_idx,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        dev AS (
            SELECT event_type, day_idx,
                   CAST(count(*) OVER w AS BIGINT) * n
                       - CAST(sum(n) OVER w AS BIGINT) AS dv
            FROM daily
            WINDOW w AS (PARTITION BY event_type)
        ),
        paired AS (
            SELECT a.event_type, a.dv AS d0, b.dv AS d1
            FROM dev a JOIN dev b
              ON a.event_type = b.event_type AND b.day_idx = a.day_idx + 1
        )
        SELECT p.event_type,
               CAST(sum(p.d0 * p.d1) AS BIGINT) AS num_scaled,
               t.den_scaled,
               CAST(sum(p.d0 * p.d1) AS BIGINT) / CAST(t.den_scaled AS DOUBLE) AS r1
        FROM paired p
        JOIN (
            SELECT event_type, CAST(sum(dv * dv) AS BIGINT) AS den_scaled
            FROM dev GROUP BY event_type
        ) t USING (event_type)
        GROUP BY p.event_type, t.den_scaled
    """,
    doc="Lag-1 autocorrelation of daily per-type volumes: is today's "
    "traffic predictive of tomorrow's? Deviations are kept n_days-"
    "scaled in integer space (D*n - total), so numerator and "
    "denominator are exact BIGINTs and r1 is a single exact IEEE "
    "division — no float means, no rounding.",
)
def events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer lag-1 autocorrelation per event_type.

    Daily rollup (the one corpus-sized pass), then everything runs on
    the daily grain partitioned by event_type: per-type count/total
    via a partitioned window, lag pairing via a windowed lead (one
    shuffle, reused), and the two quadratic sums as BIGINTs (bounded:
    scaled deviations are ~days*daily_count, their squares sum well
    inside 2^63 for any realistic day count). r1 = num/den is one
    correctly-rounded division on identical operands.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr(f"(ts_ns div 1000) div {DAY_US}").alias("day_idx")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    wt = Window.partitionBy("event_type")
    dev = daily.select(
        "event_type",
        "day_idx",
        (
            F.count(F.lit(1)).over(wt).cast("long") * F.col("n")
            - F.sum("n").over(wt).cast("long")
        ).alias("dv"),
    )
    wo = Window.partitionBy("event_type").orderBy("day_idx")
    paired = dev.select(
        "event_type",
        F.col("dv").alias("d0"),
        F.lead("dv").over(wo).alias("d1"),
        F.lead("day_idx").over(wo).alias("next_day"),
        "day_idx",
    ).filter(F.col("next_day") == F.col("day_idx") + 1)
    den = dev.groupBy("event_type").agg(
        F.sum(F.col("dv") * F.col("dv")).cast("long").alias("den_scaled")
    )
    return (
        paired.groupBy("event_type")
        .agg(F.sum(F.col("d0") * F.col("d1")).cast("long").alias("num_scaled"))
        .join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            "num_scaled",
            "den_scaled",
            (F.col("num_scaled") / F.col("den_scaled").cast("double")).alias("r1"),
        )
    )


HAAR_LEVELS = 3  #: day -> 2-day -> 4-day -> 8-day coefficient pyramid


@register(
    "events_haar_pyramid",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, epoch_us(ts) // {DAY_US} AS day_idx,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        lv AS (
            SELECT l FROM (SELECT unnest(range(1, {HAAR_LEVELS + 1})) AS l)
        ),
        coef AS (
            SELECT d.event_type, lv.l AS level,
                   d.day_idx // (1 << lv.l) AS block,
                   CAST(sum(d.n) AS BIGINT) AS approx,
                   CAST(sum(CASE WHEN (d.day_idx // (1 << (lv.l - 1))) % 2 = 0
                                 THEN d.n ELSE -d.n END) AS BIGINT) AS detail
            FROM daily d CROSS JOIN lv
            GROUP BY d.event_type, lv.l, d.day_idx // (1 << lv.l)
        )
        SELECT event_type, level, block, approx, detail FROM coef
    """,
    doc=f"Haar wavelet pyramid over daily per-type volumes ({HAAR_LEVELS} "
    "levels: 2/4/8-day blocks): per block the approximation (block sum) "
    "and detail (first-half minus second-half) coefficients — the "
    "multi-resolution sketch behind time-series compression and "
    "scale-localized anomaly detection. Coefficients are integer sums "
    "and differences of counts: exact on both engines.",
)
def events_haar_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer Haar coefficients at three dyadic scales.

    One corpus-sized daily rollup, then each level is a map-side
    re-key of the SAME daily grain (block = day div 2^level, sign =
    parity of the half-block) — the union of levels shuffles
    days x levels rows on (type, level, block), all BIGINT arithmetic.
    At 100 TB nothing beyond the daily rollup touches event grain, and
    the pyramid is how a year of per-minute buckets compresses into a
    fixed-size multi-scale profile.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.expr(f"(ts_ns div 1000) div {DAY_US}").alias("day_idx")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    levels = []
    for lvl in range(1, HAAR_LEVELS + 1):
        half = 1 << (lvl - 1)
        block = 1 << lvl
        levels.append(
            daily.select(
                "event_type",
                F.lit(lvl).cast("long").alias("level"),
                F.expr(f"day_idx div {block}").alias("block"),
                "n",
                F.when(F.expr(f"(day_idx div {half}) % 2 = 0"), F.col("n"))
                .otherwise(-F.col("n"))
                .alias("signed"),
            )
        )
    stacked = levels[0]
    for extra in levels[1:]:
        stacked = stacked.unionByName(extra)
    return stacked.groupBy("event_type", "level", "block").agg(
        F.sum("n").cast("long").alias("approx"),
        F.sum("signed").cast("long").alias("detail"),
    )


# ------------------------------------------------- Benford digit audit

#: Benford expected shares, embedded as identical literals on both
#: engines (computing log10 at query time would risk ulp-level libm
#: divergence; a generated constant cannot).
_BENFORD_CASE = "CASE first_digit WHEN 1 THEN CAST(0.3010299956639812 AS DOUBLE) WHEN 2 THEN CAST(0.17609125905568124 AS DOUBLE) WHEN 3 THEN CAST(0.12493873660829992 AS DOUBLE) WHEN 4 THEN CAST(0.09691001300805642 AS DOUBLE) WHEN 5 THEN CAST(0.07918124604762482 AS DOUBLE) WHEN 6 THEN CAST(0.06694678963061322 AS DOUBLE) WHEN 7 THEN CAST(0.05799194697768673 AS DOUBLE) WHEN 8 THEN CAST(0.05115252244738129 AS DOUBLE) WHEN 9 THEN CAST(0.04575749056067514 AS DOUBLE) END"


@register(
    "events_benford_audit",
    oracle=f"""
        WITH cents AS (
            SELECT CAST(round(value * 100, 0) AS BIGINT) AS c
            FROM events WHERE value > 0
        ),
        digits AS (
            SELECT c // CAST(power(10, length(CAST(c AS VARCHAR)) - 1) AS BIGINT)
                   AS first_digit
            FROM cents
        ),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM digits)
        SELECT first_digit,
               CAST(count(*) AS BIGINT) AS n,
               count(*) / CAST(n_total AS DOUBLE) AS share,
               {_BENFORD_CASE} AS benford_share
        FROM digits CROSS JOIN tot
        GROUP BY first_digit, n_total
    """.replace("{_BENFORD_CASE}", _BENFORD_CASE),
    doc="Benford's-law first-digit audit of event values: observed vs "
    "expected leading-digit shares - the fraud/data-quality screen for "
    "any money-like column. Digits extract by integer division against "
    "the decimal length of the cents value (no log10 at query time: "
    "portable across engines), shares are exact divisions, and the "
    "Benford constants embed as identical generated literals.",
)
def events_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit distribution with exact arithmetic.

    One scan: cents (exact 2-decimal money), decimal length via string
    length of the integer (identical on both engines, unlike float
    log10), digit by integer division, then a 9-group aggregate with
    the scalar total broadcast. Map-side combinable; at 100 TB this is
    among the cheapest full-column audits that exist.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    cents = ev.select(F.expr("CAST(round(value * 100, 0) AS BIGINT)").alias("c"))
    digits = cents.select(
        F.expr(
            "c div CAST(power(10, length(CAST(c AS STRING)) - 1) AS BIGINT)"
        ).alias("first_digit")
    )
    tot = digits.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (
        digits.crossJoin(F.broadcast(tot))
        .groupBy("first_digit", "n_total")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            "first_digit",
            "n",
            (F.col("n") / F.col("n_total").cast("double")).alias("share"),
            F.expr(_BENFORD_CASE).alias("benford_share"),
        )
    )


@register(
    "events_entropy_profile",
    oracle="""
        WITH mix AS (
            SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        tot AS (
            SELECT user_id, CAST(sum(n) AS BIGINT) AS nt,
                   CAST(count(*) AS BIGINT) AS n_types
            FROM mix GROUP BY user_id
        ),
        terms AS (
            SELECT m.user_id, m.event_type, t.nt, t.n_types,
                   (m.n / CAST(t.nt AS DOUBLE)) * ln(m.n / CAST(t.nt AS DOUBLE)) AS plp
            FROM mix m JOIN tot t USING (user_id)
        )
        SELECT user_id, nt AS n_events, n_types,
               floor((-list_reduce(list(plp ORDER BY event_type),
                                   (a, b) -> a + b)) * 10000.0 + 0.5)
                   / 10000.0 AS entropy
        FROM terms GROUP BY user_id, nt, n_types
    """,
    doc="Per-user behavioral diversity: Shannon entropy of each user's "
    "event-type mix (0 = single-minded, ln(6) = uniform across types) — "
    "a standard engagement/bot-detection feature. Probabilities are "
    "exact integer ratios; the entropy sum folds the per-type terms in "
    "SORTED event_type order on both engines (the sorted-fold pattern) "
    "and rounds to 4 digits under the same discipline as the LM scores.",
)
def events_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type mix entropy per user.

    Two aggregates on the (user, type) grain (map-side combinable; the
    second is user-grain), then a per-user sorted fold over at most
    #event-types terms — bounded state, deterministic order, one
    user_id shuffle reused throughout. No UDFs.
    """
    ev = load_table(spark, sf_dir, "events")
    mix = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = mix.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("nt"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    p = F.col("n") / F.col("nt").cast("double")
    terms = mix.join(tot, "user_id").select(
        "user_id", "nt", "n_types", "event_type", (p * F.log(p)).alias("plp")
    )
    from rust_etl_spark.functions.rounding import round_half_up

    folded = terms.groupBy("user_id", "nt", "n_types").agg(
        round_half_up(
            -F.aggregate(
                F.sort_array(F.collect_list(F.struct("event_type", "plp"))),
                F.lit(0.0),
                lambda acc, x: acc + x["plp"],
            ),
            4,
        ).alias("entropy")
    )
    return folded.select(
        "user_id", F.col("nt").alias("n_events"), "n_types", "entropy"
    )


@register(
    "events_survival_km",
    oracle=f"""
        WITH ts AS (
            SELECT user_id, epoch_us(ts) AS t_us, event_id FROM events
        ),
        obs_end AS (SELECT max(t_us) AS t_end FROM ts),
        ordered AS (
            SELECT user_id, t_us,
                   lead(t_us) OVER (PARTITION BY user_id
                                    ORDER BY t_us, event_id) AS t_next
            FROM ts
        ),
        durations AS (
            SELECT CASE WHEN t_next IS NULL
                        THEN (SELECT t_end FROM obs_end) - t_us
                        ELSE t_next - t_us END // {DAY_US} AS day,
                   CASE WHEN t_next IS NULL THEN 0 ELSE 1 END AS death
            FROM ordered
        ),
        per_day AS (
            SELECT day, CAST(sum(death) AS BIGINT) AS n_death,
                   CAST(count(*) - sum(death) AS BIGINT) AS n_censor,
                   CAST(count(*) AS BIGINT) AS n_total
            FROM durations GROUP BY day
        ),
        risk AS (
            SELECT a.day, a.n_death, a.n_censor,
                   CAST((SELECT sum(n_total) FROM per_day) AS BIGINT)
                       - CAST(coalesce(sum(b.n_total), 0) AS BIGINT) AS n_risk
            FROM per_day a LEFT JOIN per_day b ON b.day < a.day
            GROUP BY a.day, a.n_death, a.n_censor
        ),
        factors AS (
            SELECT day, n_death, n_censor, n_risk,
                   1.0 - n_death / CAST(n_risk AS DOUBLE) AS f
            FROM risk
        )
        SELECT a.day, a.n_risk, a.n_death, a.n_censor,
               list_reduce(list(b.f ORDER BY b.day), (x, y) -> x * y) AS surv
        FROM factors a JOIN factors b ON b.day <= a.day
        GROUP BY a.day, a.n_risk, a.n_death, a.n_censor
    """,
    doc="Kaplan-Meier survival of inter-event waiting times (day "
    "buckets): each user's consecutive gaps are observed 'failures', "
    "the tail gap to the observation end is right-censored, and "
    "S(day) = prod(1 - deaths/at-risk) over days <= day — the "
    "time-to-churn curve, estimated the way survival analysis demands "
    "(censoring respected, deaths-before-censors at ties). Factors are "
    "exact integer ratios and the product folds in sorted day order on "
    "both engines, so the curve ships as raw unrounded doubles.",
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KM estimator on the day-grain — no corpus-sized global pass.

    The corpus-sized work is one per-user lead() (single user_id
    shuffle) producing durations; everything after runs on the
    day-grain rollup (~observation-span rows): at-risk counts and the
    cumulative survival product both come from triangular joins of
    that tiny table (house pattern — no unpartitioned window), and the
    product folds a SORTED factor list so multiplication order is
    engine-identical.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts_ns div 1000").alias("t_us")
    )
    t_end = ev.agg(F.max("t_us").alias("t_end"))
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    ordered = ev.withColumn("t_next", F.lead("t_us").over(w))
    durations = ordered.crossJoin(F.broadcast(t_end)).select(
        # Integer division on the microsecond gap — same exact `// DAY_US`
        # arithmetic as the oracle (truncating a rounded double is only
        # coincidentally equal and breaks for extreme day indices).
        F.expr(
            "(CASE WHEN t_next IS NULL THEN t_end - t_us"
            f" ELSE t_next - t_us END) div {DAY_US}"
        ).alias("day"),
        F.when(F.col("t_next").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("death"),
    )
    per_day = durations.groupBy("day").agg(
        F.sum("death").cast("long").alias("n_death"),
        (F.count(F.lit(1)) - F.sum("death")).cast("long").alias("n_censor"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    grand = per_day.agg(F.sum("n_total").cast("long").alias("g"))
    a, b = per_day.alias("a"), per_day.alias("b")
    risk = (
        a.join(F.broadcast(b), F.col("b.day") < F.col("a.day"), "left")
        .groupBy(F.col("a.day").alias("day"), "a.n_death", "a.n_censor")
        .agg(F.coalesce(F.sum("b.n_total"), F.lit(0)).alias("before"))
        .crossJoin(F.broadcast(grand))
        .select(
            "day",
            F.col("a.n_death").alias("n_death"),
            F.col("a.n_censor").alias("n_censor"),
            (F.col("g") - F.col("before")).cast("long").alias("n_risk"),
        )
    )
    factors = risk.withColumn(
        "f", F.lit(1.0) - F.col("n_death") / F.col("n_risk").cast("double")
    )
    fa, fb = factors.alias("fa"), factors.alias("fb")
    return (
        fa.join(F.broadcast(fb), F.col("fb.day") <= F.col("fa.day"))
        .groupBy(
            F.col("fa.day").alias("day"),
            F.col("fa.n_risk").alias("n_risk"),
            F.col("fa.n_death").alias("n_death"),
            F.col("fa.n_censor").alias("n_censor"),
        )
        .agg(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct(F.col("fb.day"), F.col("fb.f")))),
                F.lit(1.0),
                lambda acc, x: acc * x["f"],
            ).alias("surv")
        )
    )
