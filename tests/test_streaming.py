"""Structured Streaming smoke: the windowed event aggregation must
produce identical results streamed (file source, watermark, memory
sink) and as the equivalent batch plan."""

from __future__ import annotations

import os
import tempfile

import pytest

from rust_etl_spark.sources import load_table
from rust_etl_spark.streaming.events import (
    run_stream_dedup_once,
    run_stream_once,
    windowed_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture
def tmp_root(tmp_path, monkeypatch):
    """Route Python temp dirs (the streams' watch directories) into an
    empty per-test directory, so a leaked watch dir is visible."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _leaked_dirs(root):
    return [p.name for p in root.iterdir() if p.is_dir()]


def test_stream_dedup_removes_replayed_batch(spark, tmp_root):
    n = run_stream_dedup_once(spark, f"{SF}/events.parquet")
    assert _leaked_dirs(tmp_root) == []
    expect = load_table(spark, SF, "events").count()
    assert n == expect  # the duplicated delivery collapsed to one copy


def _key(rows):
    return sorted((str(r["w_start"] if "w_start" in r.__fields__ else r["w_start_us"]), r["event_type"], r["n"], r["total_value"]) for r in rows)


def test_stream_interval_join_matches_batch_range_join(spark, tmp_root):
    """The watermarked stream-stream interval join must produce exactly
    the pair set the batch events_range_join aggregates over."""
    import pyspark.sql.functions as F

    from rust_etl_spark.plans import catalog
    from rust_etl_spark.streaming.events import run_stream_interval_join_once

    pairs = run_stream_interval_join_once(spark, f"{SF}/events.parquet")
    assert _leaked_dirs(tmp_root) == []
    got = (
        pairs.groupBy("signup_id")
        .agg(F.count(F.lit(1)).alias("n_follow"))
        .collect()
    )
    want = catalog.get("events_range_join").fn(spark, SF).collect()
    assert {(r["signup_id"], r["n_follow"]) for r in got} == {
        (r["signup_id"], r["n_follow"]) for r in want
    }


def test_stream_matches_batch(spark, tmp_root):
    events_path = os.path.join(SF, "events.parquet")
    streamed = run_stream_once(spark, events_path)
    assert _leaked_dirs(tmp_root) == []
    batch = windowed_counts(load_table(spark, SF, "events"))
    s = sorted((str(r["w_start"]), r["event_type"], r["n"], r["total_value"]) for r in streamed.collect())
    b = sorted((str(r["w_start"]), r["event_type"], r["n"], r["total_value"]) for r in batch.collect())
    assert s == b
    assert len(s) > 0


def test_stream_sessions_match_batch_session_window(spark, tmp_root):
    """Streaming session_window + watermark must finalize exactly the
    sessions the batch events_session_window computes. Append mode only
    emits sessions the watermark has passed, so compare on the subset
    relation: every emitted session matches a batch session, and the
    bulk of sessions (all but the watermark tail) must be emitted."""
    from rust_etl_spark.plans import catalog
    from rust_etl_spark.streaming.events import run_stream_sessions_once

    streamed = run_stream_sessions_once(spark, f"{SF}/events.parquet")
    assert _leaked_dirs(tmp_root) == []
    got = {
        (r["user_id"], r["s_start_us"], r["s_end_us"], r["n_events"], r["total_value"])
        for r in streamed.collect()
    }
    want = {
        (r["user_id"], r["s_start_us"], r["s_end_us"], r["n_events"], r["total_value"])
        for r in catalog.get("events_session_window").fn(spark, SF).collect()
    }
    assert got <= want, "streamed session not present in batch result"
    assert len(got) >= int(0.8 * len(want)) > 0, (len(got), len(want))
