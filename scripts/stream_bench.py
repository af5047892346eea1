"""Structured Streaming timing/state evidence (VERDICT r6 #4 / r7 #4).

Drives the repo's four streaming profiles over a bounded multi-file
source (events repartitioned into 8 parquet files, maxFilesPerTrigger=1
-> 8 micro-batches; dedup gets the files twice -> 16) with a **noop
streaming sink** — full plan executes, nothing materializes on the
driver — and records per profile: input rows, wall from start() to
processAllAvailable(), rows/sec, micro-batch count, and the state-store
size (rows + memory) from the final StreamingQueryProgress.

Profiles (the plans of rust_etl_spark/streaming/*: the windowed
aggregate, the dedup and the stateful operator are built by the
engine's own functions, so this measures shipped code):

  * windowed_agg     — watermark + tumbling-window count/sum (update
                       mode, so watermark eviction actually drops
                       closed windows and the recorded state is the
                       in-horizon bound — round-9 fix: complete mode
                       retained every window ever seen, overstating
                       state growth)
  * session_window   — native session_window gap sessionization (append)
  * dedup            — withWatermark + dropDuplicates, doubled input
  * stateful_profiles— applyInPandasWithState running per-user profile

Run:  python scripts/stream_bench.py   (sf0.1 + gen_sf1 + gen_sf3 + gen_sf10)
      writes STREAM_BENCH.json; scripts/scaling_report.py renders it
      into SCALING.md's streaming section.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from rust_etl_spark.sources.tables import normalize_event_time  # noqa: E402
from rust_etl_spark.streaming.events import (  # noqa: E402
    SESSION_GAP,
    WATERMARK,
    deduped_events,
    windowed_counts,
)
from rust_etl_spark.streaming.stateful import user_profiles_stream  # noqa: E402

#: micro-batches per run: enough to amortize the first batch's plan
#: compile and show steady-state per-batch wall, small enough that the
#: per-trigger overhead doesn't dominate the small tier.
N_FILES = 8

TIERS = [
    ("sf0.1", "/root/testdata/sf0.1"),
    ("gen_sf1", "/root/repo/gen_sf1"),
    # 30x (round 8): state is the scale risk in streaming, so measure
    # where per-key state actually grows another 3x over the 10x point.
    ("gen_sf3", "/root/repo/gen_sf3"),
    # 100x (round 9): match the batch surface's top tier; session_window
    # state was 131 MB at 30x and linear in open sessions — measure
    # where it would first threaten executor memory.
    ("gen_sf10", "/root/repo/gen_sf10"),
]


def _prepare(spark, sf_dir: str, copies: int = 1) -> tuple[str, int, object]:
    """Write events as N_FILES parquet files into a fresh watch dir
    (times `copies` duplicate sets for the dedup profile); returns
    (watch_dir, total_rows, schema)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(sf_dir, "events.parquet")
    df = spark.read.parquet(src)
    staged = tempfile.mkdtemp(prefix="stream_bench_stage_")
    df.repartition(N_FILES).write.mode("overwrite").parquet(staged)
    watch = tempfile.mkdtemp(prefix="stream_bench_watch_")
    parts = sorted(
        f for f in os.listdir(staged) if f.endswith(".parquet")
    )
    for c in range(copies):
        for i, f in enumerate(parts):
            shutil.copy(os.path.join(staged, f), os.path.join(watch, f"c{c}_{i}.parquet"))
    shutil.rmtree(staged)
    return watch, df.count() * copies, df.schema


def _drive(plan, mode: str) -> dict:
    """Start plan -> noop sink, drain, return timing + state metrics."""
    t0 = time.perf_counter()
    q = plan.writeStream.outputMode(mode).format("noop").start()
    try:
        q.processAllAvailable()
        wall = time.perf_counter() - t0
        progresses = [p for p in q.recentProgress if p is not None]
    finally:
        q.stop()
    batches = sum(1 for p in progresses if p["numInputRows"] > 0)
    # PEAK state across micro-batches (watermark eviction shrinks the
    # store before the final progress — the bound that matters is the
    # high-water mark, not the drained tail).
    state_rows = state_mb = None
    for p in progresses:
        ops = p.get("stateOperators") or []
        if ops:
            r = sum(o.get("numRowsTotal", 0) for o in ops)
            m = sum(o.get("memoryUsedBytes", 0) for o in ops) / 1e6
            state_rows = r if state_rows is None else max(state_rows, r)
            state_mb = m if state_mb is None else max(state_mb, m)
    if state_mb is not None:
        state_mb = round(state_mb, 2)
    return {"wall_sec": round(wall, 3), "batches": batches,
            "state_rows": state_rows, "state_mb": state_mb}


def _stream(spark, watch: str, schema, mfpt: int = 1):
    s = spark.readStream.schema(schema).option("maxFilesPerTrigger", mfpt).parquet(watch)
    return normalize_event_time(s)


def profile_windowed_agg(spark, watch, schema):
    agg = windowed_counts(_stream(spark, watch, schema).withWatermark("ts", WATERMARK))
    # update mode (NOT complete): complete retains every window ever
    # seen in the store, so watermark eviction never applies and the
    # recorded state would grow with total windows rather than the
    # in-horizon bound the design note claims.
    return _drive(agg, "update")


def profile_session_window(spark, watch, schema):
    agg = (
        _stream(spark, watch, schema)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return _drive(agg, "append")


def profile_dedup(spark, watch, schema):
    return _drive(deduped_events(_stream(spark, watch, schema)), "append")


def profile_stateful_profiles(spark, watch, schema):
    out = user_profiles_stream(_stream(spark, watch, schema))
    return _drive(out, "update")


def profile_stateful_profiles_t8(spark, watch, schema):
    """Same stateful operator, trigger sized so all N_FILES files land
    in ONE micro-batch. The applyInPandasWithState cost is per
    KEY-UPDATE (~90 us each: per-group Arrow framing + GroupState round
    trip + a 1-row pandas output — measured invariant across batch
    sizes; the Python body itself is ~200 us single-threaded and NOT
    the bottleneck: numpy-body / maxRecordsPerBatch variants moved
    nothing). With maxFilesPerTrigger=1 every user re-updates in every
    micro-batch, so an 8-trigger drain pays 8x the key-updates for the
    same rows — at the 100x tier that is ~86-95k rows/s vs ~620-640k
    rows/s for the identical operator with one right-sized trigger
    (JVM-native parity; the committed STREAM_BENCH.json rows are
    canonical and the JSON note quotes them directly — numbers here
    are ranges across round re-measures). The plain stateful_profiles
    row is that deliberately MIS-SIZED trigger baseline (pedagogical —
    it demonstrates the tax, it is not the operator's ceiling). The
    deployment rule this row documents: size triggers so
    rows-per-key-per-trigger stays high (e.g. trigger interval >> key
    revisit interval); the per-key tax is then amortized to noise."""
    out = user_profiles_stream(_stream(spark, watch, schema, mfpt=N_FILES))
    return _drive(out, "update")


def main() -> None:
    from rust_etl_spark.session import get_spark

    spark = get_spark("stream-bench")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for tier, sf_dir in TIERS:
        if not os.path.isdir(sf_dir):
            print(f"skip {tier}: {sf_dir} missing")
            continue
        watch1, n1, schema = _prepare(spark, sf_dir, copies=1)
        watch2, n2, _ = _prepare(spark, sf_dir, copies=2)
        profiles = [
            ("windowed_agg", profile_windowed_agg, watch1, n1),
            ("session_window", profile_session_window, watch1, n1),
            ("dedup", profile_dedup, watch2, n2),
            ("stateful_profiles", profile_stateful_profiles, watch1, n1),
            ("stateful_profiles_t8", profile_stateful_profiles_t8, watch1, n1),
        ]
        for name, fn, watch, n in profiles:
            m = fn(spark, watch, schema)
            m.update(
                profile=name, tier=tier, rows=n,
                rows_per_sec=round(n / m["wall_sec"], 1),
            )
            rows.append(m)
            print(m)
        shutil.rmtree(watch1)
        shutil.rmtree(watch2)

    # Quote the trigger-sizing lever FROM the measured rows (the prose
    # desynced twice when hardcoded: 716k and 640k both shipped against
    # records that later re-measured differently).
    big = {
        r["profile"]: r["rows_per_sec"]
        for r in rows
        if r["tier"] == TIERS[-1][0] and r["profile"].startswith("stateful")
    }
    if "stateful_profiles" in big and "stateful_profiles_t8" in big:
        lever = (
            f"({big['stateful_profiles'] / 1e3:.0f}k -> "
            f"{big['stateful_profiles_t8'] / 1e3:.0f}k rows/s at the "
            "largest measured tier, this file's own rows)"
        )
    else:
        # The largest tier was skipped (sf_dir missing): never quote a
        # fabricated "0k -> 0k" lever in the authoritative JSON note —
        # say what happened instead (ADVICE r11).
        lever = (
            f"(largest tier {TIERS[-1][0]} not measured this run — "
            "lever ratio omitted; see the previous committed "
            "STREAM_BENCH.json for the last measured values)"
        )
    record = {
        "metric": "streaming_profiles",
        "n_files_per_run": N_FILES,
        "rows": rows,
        "note": (
            "noop streaming sink (plan executes end-to-end, nothing "
            "collected); wall includes stream start + all micro-batches "
            "to drain. State growth per key: windowed_agg holds one row "
            "per (window, event_type) inside the watermark horizon, "
            "session_window one open session per user, dedup one "
            "(event_id, ts) entry per event inside the horizon (the "
            "largest state — linear in event rate x watermark), "
            "stateful_profiles exactly one (count,total,last_ts) triple "
            "per user forever (NoTimeout by design: profiles are "
            "permanent); state_rows/state_mb columns are the measured "
            "final state-store sizes. stateful_profiles_t8 is the SAME "
            "operator with the trigger sized to one micro-batch: the "
            "Python-state path's cost is ~90 us per KEY-UPDATE (not per "
            "row), so per-key-per-trigger amortization — not body or "
            "Arrow tuning, both measured flat — is the throughput lever "
            f"{lever}. Read the plain "
            "stateful_profiles row as the deliberately mis-sized-trigger "
            "baseline (pedagogical), not the operator's ceiling."
        ),
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "STREAM_BENCH.json"), "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(f"wrote STREAM_BENCH.json ({len(rows)} profile runs)")


if __name__ == "__main__":
    main()
