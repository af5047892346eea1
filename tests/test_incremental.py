"""Incremental ingest: files are processed exactly once across
restarts (checkpoint recovery), new files are picked up."""

from __future__ import annotations

import json
import os

import pytest

from rust_etl_spark.streaming.incremental import start_incremental_ingest

SCHEMA = "id long, name string"


def _drop_file(src_dir: str, name: str, rows: list[dict]) -> None:
    with open(os.path.join(src_dir, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_incremental_aggregate_matches_batch_recompute(spark, tmp_path):
    """The maintained summary after several file drops must equal a
    from-scratch GROUP BY over everything that landed."""
    from rust_etl_spark.streaming.aggregate_sink import start_incremental_aggregate

    src = str(tmp_path / "landing")
    summary = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ckpt_agg")
    os.makedirs(src)
    schema = "k string, v double"

    _drop_file(src, "a.jsonl", [{"k": "x", "v": 1.0}, {"k": "y", "v": 2.0}])
    q = start_incremental_aggregate(spark, src, summary, ckpt, schema, "k", "v")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    _drop_file(src, "b.jsonl", [{"k": "x", "v": 3.0}, {"k": "z", "v": 5.0}])
    q2 = start_incremental_aggregate(spark, src, summary, ckpt, schema, "k", "v")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {r["k"]: (r["n"], r["total"]) for r in spark.read.parquet(summary).collect()}
    assert got == {"x": (2, 4.0), "y": (1, 2.0), "z": (1, 5.0)}


def test_exactly_once_across_restarts(spark, tmp_path):
    src = str(tmp_path / "landing")
    dest = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    _drop_file(src, "batch1.jsonl", [{"id": 1, "name": "a"}, {"id": 2, "name": "b"}])
    q = start_incremental_ingest(spark, src, dest, ckpt, SCHEMA)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(dest).count() == 2

    # restart with the same checkpoint: old file NOT reprocessed,
    # new file picked up
    _drop_file(src, "batch2.jsonl", [{"id": 3, "name": "c"}])
    q2 = start_incremental_ingest(spark, src, dest, ckpt, SCHEMA)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = {r["id"]: r["name"] for r in spark.read.parquet(dest).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}  # exactly once each


def _force_epoch_replay(ckpt: str) -> None:
    """Simulate a crash between the batch write and the checkpoint
    commit: drop the newest ``commits/<n>`` file. On restart Structured
    Streaming finds offsets without a commit and re-executes that epoch
    with the same epoch_id — the at-least-once replay path."""
    commits = os.path.join(ckpt, "commits")
    latest = max(
        (f for f in os.listdir(commits) if not f.startswith(".")), key=int
    )
    os.remove(os.path.join(commits, latest))
    # Hadoop's local ChecksumFileSystem keeps a '.<n>.crc' twin; leaving
    # it behind makes the restart's write-temp-then-rename of the
    # re-created commit fail with FileAlreadyExistsException (surfaced
    # as SparkConcurrentModificationException). A real crash loses both.
    crc = os.path.join(commits, f".{latest}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_ingest_crash_replay_no_duplicates(spark, tmp_path):
    """Replaying a crashed epoch must overwrite its own output, not
    append duplicates (epoch-directory overwrite = idempotent sink)."""
    src = str(tmp_path / "landing")
    dest = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    _drop_file(src, "batch1.jsonl", [{"id": 1, "name": "a"}, {"id": 2, "name": "b"}])
    q = start_incremental_ingest(spark, src, dest, ckpt, SCHEMA)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    _force_epoch_replay(ckpt)
    q2 = start_incremental_ingest(spark, src, dest, ckpt, SCHEMA)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = spark.read.parquet(dest).collect()
    assert len(rows) == 2  # replayed epoch overwrote, did not append
    assert {r["id"] for r in rows} == {1, 2}


def test_aggregate_sink_crash_replay_not_double_counted(spark, tmp_path):
    """A replayed epoch must NOT be summed onto stored partials a
    second time: the _applied_epoch marker (swapped in atomically with
    the summary) makes the additive sink exactly-once."""
    from rust_etl_spark.streaming.aggregate_sink import start_incremental_aggregate

    src = str(tmp_path / "landing")
    summary = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ckpt_agg")
    os.makedirs(src)
    schema = "k string, v double"

    _drop_file(src, "a.jsonl", [{"k": "x", "v": 1.0}, {"k": "y", "v": 2.0}])
    q = start_incremental_aggregate(spark, src, summary, ckpt, schema, "k", "v")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    _force_epoch_replay(ckpt)
    q2 = start_incremental_aggregate(spark, src, summary, ckpt, schema, "k", "v")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = {r["k"]: (r["n"], r["total"]) for r in spark.read.parquet(summary).collect()}
    assert got == {"x": (1, 1.0), "y": (1, 2.0)}  # not doubled

    # Positive proof the replay took the SKIP path (not a lucky merge):
    # the marker still records the originally-applied epoch 0 for this
    # checkpoint — a re-apply would have rewritten it.
    with open(os.path.join(summary, "_applied_epoch")) as fh:
        marker = json.loads(fh.read())
    assert marker["epoch"] == 0
    assert marker["ckpt"] == os.path.abspath(ckpt)

    # ...and genuinely new data after the replay still lands.
    _drop_file(src, "b.jsonl", [{"k": "x", "v": 3.0}])
    q3 = start_incremental_aggregate(spark, src, summary, ckpt, schema, "k", "v")
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    got = {r["k"]: (r["n"], r["total"]) for r in spark.read.parquet(summary).collect()}
    assert got == {"x": (2, 4.0), "y": (1, 2.0)}


def test_aggregate_sink_swap_crash_plus_replay_keeps_partials(spark, tmp_path):
    """Worst-case double fault: the machine dies BETWEEN the swap's two
    renames (summary only exists as the '._upsert_old' aside copy) AND
    the epoch commit was lost, so the restarted stream replays the
    epoch. merge_batch must restore the aside copy BEFORE reading the
    epoch marker — otherwise the replayed epoch sees no summary, merges
    batch-only partials, and the restore inside upsert then anti-joins
    the accumulated partials away permanently."""
    from rust_etl_spark.streaming.aggregate_sink import start_incremental_aggregate

    src = str(tmp_path / "landing")
    summary = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ckpt_agg")
    os.makedirs(src)
    schema = "k string, v double"

    _drop_file(src, "a.jsonl", [{"k": "x", "v": 1.0}, {"k": "y", "v": 2.0}])
    q = start_incremental_aggregate(spark, src, summary, ckpt, schema, "k", "v")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    _drop_file(src, "b.jsonl", [{"k": "x", "v": 3.0}])
    q2 = start_incremental_aggregate(spark, src, summary, ckpt, schema, "k", "v")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    # Simulate the crash window: epoch 1's commit never landed, and the
    # swap stopped after rename #1 (table moved aside, new one absent).
    _force_epoch_replay(ckpt)
    os.rename(summary, summary + "._upsert_old")

    q3 = start_incremental_aggregate(spark, src, summary, ckpt, schema, "k", "v")
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    got = {r["k"]: (r["n"], r["total"]) for r in spark.read.parquet(summary).collect()}
    assert got == {"x": (2, 4.0), "y": (1, 2.0)}  # nothing lost, nothing doubled


def test_window_aggregate_matches_batch_recompute_and_survives_replay(spark, tmp_path):
    """Continuous aggregate: the per-(window, key) summary after
    several drops equals a from-scratch windowed GROUP BY, late data
    sums into its own bucket only, and a replayed epoch is skipped."""
    from rust_etl_spark.streaming.aggregate_sink import (
        start_incremental_window_aggregate,
    )

    src = str(tmp_path / "landing")
    summary = str(tmp_path / "summary")
    ckpt = str(tmp_path / "ckpt_win")
    os.makedirs(src)
    schema = "k string, v double, ts timestamp"

    def run():
        q = start_incremental_window_aggregate(
            spark, src, summary, ckpt, schema, "ts", "k", "v"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    m = 60 * 1_000_000  # one minute in epoch micros
    _drop_file(
        src,
        "a.jsonl",
        [
            {"k": "x", "v": 1.0, "ts": "2024-01-01T00:01:00"},
            {"k": "x", "v": 2.0, "ts": "2024-01-01T00:04:00"},
            {"k": "y", "v": 5.0, "ts": "2024-01-01T00:07:00"},
        ],
    )
    run()
    base_us = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00 UTC
    got = {
        (r["w_start_us"], r["k"]): (r["n"], r["total"])
        for r in spark.read.parquet(summary).collect()
    }
    assert got == {
        (base_us, "x"): (2, 3.0),
        (base_us + 5 * m, "y"): (1, 5.0),
    }

    # Late arrival for the FIRST window plus new data for a later one:
    # the late row sums into its own bucket, others are untouched.
    _drop_file(
        src,
        "b.jsonl",
        [
            {"k": "x", "v": 10.0, "ts": "2024-01-01T00:02:00"},  # late
            {"k": "y", "v": 7.0, "ts": "2024-01-01T00:11:00"},
        ],
    )
    run()
    want = {
        (base_us, "x"): (3, 13.0),
        (base_us + 5 * m, "y"): (1, 5.0),
        (base_us + 10 * m, "y"): (1, 7.0),
    }
    got = {
        (r["w_start_us"], r["k"]): (r["n"], r["total"])
        for r in spark.read.parquet(summary).collect()
    }
    assert got == want

    # Crash-replay of the last epoch must not double-count any bucket.
    _force_epoch_replay(ckpt)
    run()
    got = {
        (r["w_start_us"], r["k"]): (r["n"], r["total"])
        for r in spark.read.parquet(summary).collect()
    }
    assert got == want


def test_aggregate_sink_fresh_checkpoint_not_suppressed(spark, tmp_path):
    """Epoch ids are per-checkpoint: a rebuilt checkpoint restarts at
    epoch 0. The marker left by the OLD checkpoint (epoch >= 0) must be
    recognized as stale — not silently skip every new batch."""
    from rust_etl_spark.streaming.aggregate_sink import start_incremental_aggregate

    src1 = str(tmp_path / "landing1")
    src2 = str(tmp_path / "landing2")
    summary = str(tmp_path / "summary")
    os.makedirs(src1)
    os.makedirs(src2)
    schema = "k string, v double"

    _drop_file(src1, "a.jsonl", [{"k": "x", "v": 1.0}])
    q = start_incremental_aggregate(
        spark, src1, summary, str(tmp_path / "ckpt_old"), schema, "k", "v"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # New checkpoint + new source: its epoch 0 is NOT the old epoch 0.
    _drop_file(src2, "b.jsonl", [{"k": "x", "v": 3.0}, {"k": "z", "v": 5.0}])
    q2 = start_incremental_aggregate(
        spark, src2, summary, str(tmp_path / "ckpt_new"), schema, "k", "v"
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = {r["k"]: (r["n"], r["total"]) for r in spark.read.parquet(summary).collect()}
    assert got == {"x": (2, 4.0), "z": (1, 5.0)}  # new batch applied, not skipped


def test_aggregate_sink_rejects_bare_int_marker(spark, tmp_path):
    """The epoch marker is always JSON naming its checkpoint. A bare
    integer names none, so it cannot tell a replay from a new
    checkpoint's batch: the sink must fail the batch rather than skip
    it and lose its rows."""
    from rust_etl_spark.streaming.aggregate_sink import start_incremental_aggregate

    src1 = str(tmp_path / "landing1")
    src2 = str(tmp_path / "landing2")
    summary = str(tmp_path / "summary")
    os.makedirs(src1)
    os.makedirs(src2)
    schema = "k string, v double"

    _drop_file(src1, "a.jsonl", [{"k": "x", "v": 1.0}])
    q = start_incremental_aggregate(
        spark, src1, summary, str(tmp_path / "ckpt_old"), schema, "k", "v"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    with open(os.path.join(summary, "_applied_epoch"), "w") as fh:
        fh.write("0")

    _drop_file(src2, "b.jsonl", [{"k": "x", "v": 3.0}])
    q2 = start_incremental_aggregate(
        spark, src2, summary, str(tmp_path / "ckpt_new"), schema, "k", "v"
    )
    try:
        with pytest.raises(Exception):
            q2.processAllAvailable()
    finally:
        q2.stop()


def test_incremental_ohlc_matches_batch_recompute(spark, tmp_path):
    """The maintained OHLC candles after several drops — including a
    LATE batch landing into an old window — must equal a from-scratch
    OHLC over everything that landed (open/close chosen by the total
    (event-time, id) order, not arrival order)."""
    from rust_etl_spark.streaming.aggregate_sink import start_incremental_ohlc

    src = str(tmp_path / "landing")
    summary = str(tmp_path / "candles")
    ckpt = str(tmp_path / "ckpt_ohlc")
    os.makedirs(src)
    schema = "eid long, ts timestamp, k string, v double"

    def ev(eid, sec, k, v):
        return {"eid": eid, "ts": f"2024-01-01 00:{sec // 60:02d}:{sec % 60:02d}", "k": k, "v": v}

    # window = 5 min: events at 0-299s land in w0, 300-599s in w1
    batch1 = [ev(1, 10, "a", 5.0), ev(2, 200, "a", 9.0), ev(3, 350, "a", 2.0)]
    batch2 = [ev(4, 400, "a", 7.0), ev(5, 20, "b", 1.0)]
    late = [ev(6, 5, "a", 4.0)]  # earlier than eid=1: must become w0's open

    def run(files):
        q = start_incremental_ohlc(
            spark, src, summary, ckpt, schema, "ts", "k", "v", "eid"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _drop_file(src, "b1.jsonl", batch1)
    run("b1")
    _drop_file(src, "b2.jsonl", batch2)
    _drop_file(src, "b3_late.jsonl", late)
    run("b2+late")

    got = {
        (r["k"], r["w_start_us"]): (r["n"], r["open"], r["high"], r["low"], r["close"])
        for r in spark.read.parquet(summary).collect()
    }
    w0 = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC in micros
    w1 = w0 + 300_000_000
    assert got == {
        ("a", w0): (3, 4.0, 9.0, 4.0, 9.0),  # late eid=6 (t=5s) is the open
        ("a", w1): (2, 2.0, 7.0, 2.0, 7.0),
        ("b", w0): (1, 1.0, 1.0, 1.0, 1.0),
    }
