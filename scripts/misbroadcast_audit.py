"""Misbroadcast audit: find joins that broadcast a corpus-scaling side.

Round 11's range-join regime measurement exposed a pathology CLASS,
not a one-off: Catalyst's size estimate for a pruned projection of a
FACT table can sit under the broadcast threshold at the mid tiers, so
the optimizer broadcasts the side that grows with the corpus — a
single-threaded hash build locally, a driver OOM on a cluster one
scale-up later (events_range_join built the FULL follow-side events
projection this way: 5.34 s vs 1.70 s re-planned). This script sweeps
every graded + bench query's EXECUTED plan at a big tier and flags
every BroadcastExchange whose subtree scans a fact table (events,
lineitem, orders, documents, embeddings — the tables gen_scale_tier
grows) with no selective data filter beyond isnotnull: exactly the
signature that query had.

A flag means "adjudicate", not "guilty" — a fact scan reduced by a
selective equality/range filter before broadcast is the classic
filtered-dim pattern and is fine as long as the filter tracks corpus
growth sublinearly; the output records the filter text so each flag
can be judged. Writes MISBROADCAST_AUDIT.json.

Run (quiet machine):
    SPARK_GRAFT_SF_DIR=/root/repo/gen_sf10 \
        python scripts/misbroadcast_audit.py
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: tables the scale-tier generator grows linearly with the corpus —
#: broadcasting any unfiltered projection of these is the pathology.
FACT_TABLES = ("events", "lineitem", "orders", "documents", "embeddings")

_INDENT = re.compile(r"^[\s:+|-]*")


def _subtree(lines: list[str], i: int) -> list[str]:
    """Lines belonging to the plan subtree rooted at lines[i] (tree
    toString: children render below with strictly longer prefixes)."""
    root_depth = len(_INDENT.match(lines[i]).group(0))
    out = []
    for l in lines[i + 1:]:
        if l.strip() and len(_INDENT.match(l).group(0)) <= root_depth:
            break
        out.append(l)
    return out


def _scan_facts(sub: list[str]) -> list[dict]:
    """FileScan/Scan nodes over fact tables inside a subtree, with the
    filter evidence needed to adjudicate: pushed + data filters."""
    hits = []
    for l in sub:
        if "Scan parquet" not in l and "FileScan parquet" not in l and "Scan In-memory" not in l:
            continue
        tables = [t for t in FACT_TABLES if f"{t}.parquet" in l or f"/{t}]" in l or f" {t}[" in l]
        if not tables:
            continue
        pushed = re.search(r"PushedFilters: \[([^\]]*)\]", l)
        pushed_txt = pushed.group(1) if pushed else ""
        selective = bool(
            re.search(r"EqualTo|GreaterThan|LessThan|In\(|StringStartsWith", pushed_txt)
        )
        hits.append(
            {
                "tables": tables,
                "pushed_filters": pushed_txt[:200],
                "has_selective_filter": selective,
            }
        )
    return hits


def audit_query(df, execute: bool = True) -> list[dict]:
    """Classify every fact-table BroadcastExchange in df's physical plan.

    ``execute=True`` (the 100x deep audit) runs the query to a noop
    sink first so AQE's runtime re-plans are visible. ``execute=False``
    (the pytest gate canary, tests/test_misbroadcast_canary.py) reads
    the static pick — cheaper, and at fixture scale actually the
    BETTER signal: the round-11 pathology class is Catalyst's STATIC
    size estimate of a pruned fact projection sitting under the
    broadcast threshold, while AQE's runtime conversions at fixture
    scale fire on genuinely-tiny shuffle stats and are pure noise.
    """
    if execute:
        df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    flags = []
    for i, l in enumerate(lines):
        if "BroadcastExchange" not in l:
            continue
        sub = _subtree(lines, i)
        facts = _scan_facts(sub)
        if not facts:
            continue
        # any Filter node in the subtree beyond null checks?
        filter_lines = [
            s.strip()[:180]
            for s in sub
            if re.match(r"^[\s:+|-]*(\*\(\d+\) )?Filter ", s)
            and re.sub(r"isnotnull\([^)]*\)|AND|\(|\)|\s", "",
                       re.match(r"^[\s:+|-]*(?:\*\(\d+\) )?Filter (.*)$", s.strip()).group(1)) != ""
        ]
        selective = any(f["has_selective_filter"] for f in facts) or bool(filter_lines)
        # an Aggregate between the scan and the broadcast means the
        # broadcast side is a REDUCTION of the fact, not its rows —
        # legitimate whenever the group-key domain is bounded (day
        # grids, codebooks, per-type stats); classified separately so
        # adjudication checks key cardinality instead of filters.
        aggregated = any(
            re.search(r"HashAggregate|SortAggregate|ObjectHashAggregate", s)
            for s in sub
        )
        flags.append(
            {
                "tables": sorted({t for f in facts for t in f["tables"]}),
                "selective_filter_present": selective,
                "aggregated_before_broadcast": aggregated,
                "pushed": [f["pushed_filters"] for f in facts],
                "filters": filter_lines[:3],
            }
        )
    return flags


def graded_and_bench_names() -> list[str]:
    """The audited surface: graded window first, then bench extras."""
    import bench

    from rust_etl_spark.plans import catalog

    names: list[str] = []
    for name in [*catalog.GRADE_ORDER, *bench.HEADLINE, *bench.EXTENDED]:
        if name not in names:
            names.append(name)
    return names


def sweep(spark, sf_dir: str, names: list[str], execute: bool = True,
          verbose: bool = True) -> list[dict]:
    """Classify every query's fact broadcasts; one row per query.

    Shared by the 100x deep audit (main, execute=True) and the pytest
    gate canary (execute=False) so the two can never drift apart —
    the canary imports THIS function, it does not fork the classifier.
    """
    from rust_etl_spark.plans import catalog

    rows = []
    for name in names:
        q = catalog.get(name)
        try:
            flags = audit_query(q.fn(spark, sf_dir), execute=execute)
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            rows.append({"query": name, "error": str(e)[:200]})
            if verbose:
                print(f"{name:32s} ERROR {str(e)[:80]}", flush=True)
            continue
        raw = [
            f
            for f in flags
            if not f["selective_filter_present"]
            and not f["aggregated_before_broadcast"]
        ]
        rows.append(
            {
                "query": name,
                "fact_broadcasts": flags,
                "raw_fact_broadcasts": len(raw),
            }
        )
        if verbose:
            mark = "!!" if raw else ("f " if flags else "  ")
            print(
                f"{name:32s} {mark} fact-broadcasts={len(flags)} "
                f"raw={len(raw)} "
                + (str(sorted({t for f in flags for t in f['tables']})) if flags else ""),
                flush=True,
            )
    return rows


def main() -> None:
    from rust_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/repo/gen_sf10")
    tag = os.path.basename(sf_dir.rstrip("/"))
    spark = get_spark("misbroadcast-audit")
    spark.sparkContext.setLogLevel("ERROR")

    import pandas as _pd

    spark.createDataFrame(_pd.DataFrame({"k": range(64), "v": range(64)})) \
        .groupBy("k").applyInPandas(lambda p: p, "k long, v long") \
        .write.format("noop").mode("overwrite").save()

    rows = sweep(spark, sf_dir, graded_and_bench_names())

    bad = [r for r in rows if r.get("raw_fact_broadcasts")]
    filtered = [r for r in rows if r.get("fact_broadcasts") and not r.get("raw_fact_broadcasts")]
    record = {
        "metric": "misbroadcast_audit",
        "tier": tag,
        "queries_audited": len(rows),
        "raw_fact_broadcasts": [r["query"] for r in bad],
        "reduced_fact_broadcasts": [r["query"] for r in filtered],
        "rows": rows,
        "note": (
            "A BroadcastExchange whose subtree scans a fact table with "
            "neither a selective filter nor an aggregation broadcasts "
            "the fact's RAW ROWS — the side that grows with the corpus "
            "(the events_range_join round-11 pathology, fixed by a "
            "shuffle_hash hint). raw flags are the re-plan queue; "
            "reduced flags (filtered and/or aggregated before the "
            "broadcast) are legitimate whenever the filter selectivity "
            "or group-key domain keeps the side sublinear in corpus "
            "size — adjudicated per query."
        ),
    }
    # Reduced flags need ADJUDICATION, not a pass stamp: the classifier
    # treats any pushed comparison filter / non-null Filter / Aggregate
    # as "reduced", and round 11's own decontaminate fix proves a
    # 75%-pass modulo filter defeats exactly that check. So every run
    # diffs against the committed record and surfaces NEW entries of
    # EITHER class loudly — a new reduced flag is un-adjudicated until
    # someone writes its family down in the canary allowlist
    # (tests/test_misbroadcast_canary.py, REDUCED_OK).
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = os.path.join(root, "MISBROADCAST_AUDIT.json")
    new_raw: list[str] = []
    new_reduced: list[str] = []
    diffed = False
    if os.path.exists(out_path):
        try:
            with open(out_path) as f:
                prev = json.load(f)
            # broadcast picks are size-driven, so only a SAME-tier diff
            # is apples-to-apples (a fixture-tier run legitimately
            # broadcasts facts the 100x tier must not).
            if prev.get("tier") == tag:
                diffed = True
                new_raw = sorted(
                    set(record["raw_fact_broadcasts"]) - set(prev.get("raw_fact_broadcasts", []))
                )
                new_reduced = sorted(
                    set(record["reduced_fact_broadcasts"])
                    - set(prev.get("reduced_fact_broadcasts", []))
                    - set(prev.get("raw_fact_broadcasts", []))
                )
        except (json.JSONDecodeError, KeyError):
            pass
    record["new_since_committed"] = (
        {"raw": new_raw, "reduced": new_reduced}
        if diffed
        else {"note": f"no committed same-tier ({tag}) record to diff against"}
    )
    if new_raw or new_reduced:
        print(
            "\n!! NEW fact broadcasts vs the committed record — "
            f"ADJUDICATE before shipping: raw={new_raw} reduced={new_reduced}",
            flush=True,
        )
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(
        f"\nwrote MISBROADCAST_AUDIT.json ({len(rows)} queries, "
        f"{len(bad)} raw fact broadcasts: {[r['query'] for r in bad]})"
    )


if __name__ == "__main__":
    main()
