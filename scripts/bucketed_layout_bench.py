"""Bucketed co-partitioned layout vs plain parquet (VERDICT r8 #1).

SCALING.md's broadcast->SMJ crossover note promises "at that scale you
co-partition/bucket orders+lineitem instead" — this script MEASURES
that move instead of asserting it. At each gen tier it:

1. runs the SHIPPED catalog queries (q3 / q18 / join_star) against the
   plain parquet layout — min-of-3 wall, stage-attributed shuffle-write
   bytes (UI REST, same mechanism as scale_audit.py), and the final
   adaptive plan's shuffle-Exchange count;
2. materializes orders+lineitem as bucketed, bucket-sorted catalog
   tables on the orderkey (sinks.write_bucketed_fact_layout — one file
   per bucket, so SMJ can skip the Sort too), timing the one-off write;
3. repoints the two tables at the bucketed layout via
   sources.set_layout_override — the SAME query code then reads the
   bucketed copies, exactly as a metastore repoint would — and
   re-measures.

Writes BUCKETED_BENCH.json; scripts/scaling_report.py renders it into
SCALING.md's "Bucketed layout" section. tests/test_bucketed_layout.py
locks the plan shape (exchange-free bucketed join/agg, exchange-full
parquet baseline) at the fixture scale.

Round 10 adds a SECOND key family (VERDICT r9 #5): events bucketed on
user_id with a compound (user_id, ts_ns, event_id) write-time sort —
the sessionize/funnel/retention shuffle surface — measured at
gen_sf1 + gen_sf3; proves the mechanism generalizes beyond the
orderkey pair.

Run:  python scripts/bucketed_layout_bench.py     (~15-20 min, QUIET machine)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

UI_PORT = 4048
#: 2x the reader's core count: bucket-grain scans can't split files, so
#: buckets ARE the scan parallelism — at 32 (1x cores) q18's full-table
#: pre-aggregate ran 1.8x SLOWER than parquet at the 100x tier (one
#: straggling wave, no overlap); 64 runs it 1.7x FASTER (measured
#: min-of-3: 5.1 s @32 -> 1.6 s @64 -> 2.0 s @128, parquet 2.8 s).
#: Cluster translation: size n_buckets >= 2x the total cores the
#: biggest reader will use.
N_BUCKETS = 64
RUNS = 3

TIER_DIRS = {
    "gen_sf1": "/root/repo/gen_sf1",
    "gen_sf3": "/root/repo/gen_sf3",
    "gen_sf10": "/root/repo/gen_sf10",
}

#: Two key families prove the writer+override mechanism generalizes
#: (VERDICT r9 #5): the orderkey fact pair, and a user_id-bucketed
#: events layout whose compound write-time sort (user_id, ts_ns,
#: event_id) matches the per-user windows' required ordering.
FAMILIES = [
    {
        "family": "orderkey",
        "facts": {"orders": "o_orderkey", "lineitem": "l_orderkey"},
        # q21 added round 13 (VERDICT r12 #3): its window re-plan left
        # "the two fact-side join exchanges both forms pay" as the
        # residual 100x wall — exactly what this layout removes (the
        # l_orderkey window and the (orderkey, suppkey) groupBy both
        # ride the bucket clustering through the SMJ).
        "queries": [
            "q3_shipping_priority",
            "q18_large_volume",
            "join_star",
            "q21_sole_late_supplier",
            # q10 added round 14 (VERDICT r13 #4): its round-13 order-
            # grain re-plan left "the one orderkey fact exchange" as
            # the residual wall — the per-order partial aggregate and
            # the lineitem⋈orders join both ride the bucket clustering.
            "q10_returned_items",
        ],
        # 100x: where the broadcast->SMJ crossover fully arrives (q3's
        # shuffle steps to ~600 MB as customer outgrows the threshold;
        # SCALING.md flag note) — the tier the bucketed layout exists for.
        "tiers": ["gen_sf1", "gen_sf3", "gen_sf10"],
    },
    {
        "family": "events_user",
        # orders joined the family in round 16, co-bucketed on the SAME
        # key/count (o_custkey IS user_id in this schema): under AQE a
        # ONE-sided bucketed join never consumes the bucketing —
        # EnsureRequirements re-shuffles both sides so AQE can coalesce
        # freely, and DisableUnnecessaryBucketedScan then turns the
        # bucketed read off (measured: every {n_buckets} x
        # {shuffle.partitions} combination re-shuffled; with AQE OFF
        # and matching counts the exchange disappears). Both-sides-
        # bucketed is the shape that works under AQE (the q18/q21
        # orderkey-family precedent), so events_asof_join's orders arm
        # gets its own bucketed projection and the whole query plans
        # exchange-free.
        "facts": {"events": ("user_id", ["user_id", "ts_ns", "event_id"]),
                  "orders": ("o_custkey", ["o_custkey", "o_orderdate"])},
        # all shuffle user_id first: sessionize (window + session
        # agg), funnel (three per-user conditional-min stages), retention
        # (per-user first-seen aggregate); their remaining small exchanges
        # (cohort/final rollups) are not on the bucket key by design.
        # Round 15 extends the measured set with the family's two
        # largest remaining PURE-events exchanges (scale audit at 100x:
        # interval_merge 245 MB, ewma 204 MB) — user_id-window queries
        # whose only fact exchange the bucket clustering removes
        # outright. events_asof_join joined the family in round 16
        # (VERDICT r15 #2): the round-15 rejection reasoning ("a Union
        # has unknown output partitioning, so the window re-exchanges
        # regardless") died with the union itself — the round-16
        # re-plan left-joins a per-user orders array onto the 3-column
        # events projection, so the events arm's user_id clustering
        # comes straight off the bucketed scan; only the (small)
        # orders-array side still exchanges.
        "queries": ["events_sessionize", "events_funnel", "events_retention",
                    "events_ewma", "events_interval_merge",
                    "events_asof_join"],
        "tiers": ["gen_sf1", "gen_sf3", "gen_sf10"],
    },
]


def _stages(app_id: str) -> list[dict]:
    url = f"http://localhost:{UI_PORT}/api/v1/applications/{app_id}/stages"
    return json.load(urllib.request.urlopen(url))


def _measure(spark, app_id: str, seen: set[int], name: str, sf_dir: str) -> dict:
    """min-of-RUNS wall + shuffle bytes of the LAST run + final-plan
    shuffle-exchange count for one catalog query."""
    from rust_etl_spark.plans import catalog

    q = catalog.get(name)
    # run 1: stage-attributed shuffle bytes for exactly one execution
    seen.update(s["stageId"] for s in _stages(app_id))
    df = q.fn(spark, sf_dir)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    walls = [time.perf_counter() - t0]
    new = [s for s in _stages(app_id) if s["stageId"] not in seen]
    seen.update(s["stageId"] for s in new)
    shuffle_mb = round(sum(s.get("shuffleWriteBytes", 0) for s in new) / 1e6, 3)
    # remaining runs: timing only (min-of-RUNS)
    for _ in range(RUNS - 1):
        df = q.fn(spark, sf_dir)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
    # final adaptive plan: collect() executes THIS DataFrame's own
    # QueryExecution (results are top-k/grouped — tiny), after which
    # executedPlan is the AQE-final physical plan.
    df = q.fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = len(re.findall(r"\bExchange (?:hash|range)partitioning", plan))
    return {
        "wall_sec": round(min(walls), 3),
        "shuffle_write_mb": shuffle_mb,
        "shuffle_exchanges": exchanges,
    }


def main() -> None:
    from rust_etl_spark.session import get_spark
    from rust_etl_spark.sinks import write_bucketed_fact_layout
    from rust_etl_spark.sources import clear_layout_overrides, set_layout_override

    spark = get_spark(
        "bucketed-layout-bench",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            "spark.ui.retainedStages": "8000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    seen: set[int] = set()

    families_out = []
    for fam in FAMILIES:
        queries, facts = fam["queries"], fam["facts"]
        tiers_out = []
        for tag in fam["tiers"]:
            sf_dir = TIER_DIRS[tag]
            if not os.path.isdir(sf_dir):
                print(f"skip {tag}: {sf_dir} missing")
                continue
            base = {}
            for name in queries:
                base[name] = _measure(spark, app_id, seen, name, sf_dir)
                print(f"{fam['family']} {tag} parquet   {name:24s} {base[name]}", flush=True)

            t0 = time.perf_counter()
            seen.update(s["stageId"] for s in _stages(app_id))
            names = write_bucketed_fact_layout(
                spark, sf_dir, facts, n_buckets=N_BUCKETS,
                suffix=f"_{fam['family']}_{tag}",
            )
            new = [s for s in _stages(app_id) if s["stageId"] not in seen]
            seen.update(s["stageId"] for s in new)
            writes = {
                "wall_sec": round(time.perf_counter() - t0, 3),
                "shuffle_write_mb": round(
                    sum(s.get("shuffleWriteBytes", 0) for s in new) / 1e6, 3
                ),
            }
            print(f"{fam['family']} {tag} bucketed write: {writes}", flush=True)

            for tbl, tname in names.items():
                set_layout_override(sf_dir, tbl, tname)
            try:
                bkt = {}
                for name in queries:
                    bkt[name] = _measure(spark, app_id, seen, name, sf_dir)
                    print(f"{fam['family']} {tag} bucketed  {name:24s} {bkt[name]}", flush=True)
            finally:
                clear_layout_overrides()
                for tname in names.values():
                    spark.sql(f"DROP TABLE IF EXISTS {tname}")

            tiers_out.append(
                {
                    "tier": tag,
                    "n_buckets": N_BUCKETS,
                    "bucketed_write": writes,
                    "queries": [
                        {"query": n, "parquet": base[n], "bucketed": bkt[n]}
                        for n in queries
                    ],
                }
            )
        families_out.append(
            {
                "family": fam["family"],
                "facts": {
                    t: (s if isinstance(s, str) else {"bucket": s[0], "sort": s[1]})
                    for t, s in facts.items()
                },
                "queries": queries,
                "tiers": tiers_out,
            }
        )

    record = {
        "metric": "bucketed_layout_vs_parquet",
        "runs_per_point": RUNS,
        "families": families_out,
        "note": (
            "Same shipped catalog queries both times; the bucketed runs "
            "read the family's fact tables repointed "
            "(sources.set_layout_override) at bucketed, bucket-sorted "
            "catalog tables written once by "
            "sinks.write_bucketed_fact_layout. shuffle_exchanges counts "
            "'Exchange hash/rangepartitioning' nodes in the AQE-final "
            "plan; shuffle_write_mb is stage-attributed to exactly one "
            "execution. The one-off bucketed write's cost is reported "
            "separately — at 100 TB it is paid at ingest and amortized "
            "over every subsequent join/agg on the bucket key. Two "
            "families: orderkey (orders+lineitem co-bucketed) and "
            "events_user (events bucketed user_id, sorted (user_id, "
            "ts_ns, event_id) so per-user windows consume the "
            "write-time order)."
        ),
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(root, "BUCKETED_BENCH.json")
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(
        "wrote BUCKETED_BENCH.json "
        f"({', '.join(f['family'] + ':' + str(len(f['tiers'])) + ' tiers' for f in families_out)})"
    )


if __name__ == "__main__":
    main()
