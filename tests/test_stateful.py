"""applyInPandasWithState operator: final streamed per-user profiles
must equal the batch aggregation."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from rust_etl_spark.sources import load_table
from rust_etl_spark.streaming.stateful import run_profiles_once

SF = "/root/testdata/sf0.001"


def test_stateful_profiles_match_batch(spark, tmp_path, monkeypatch):
    # Python temp dirs (the stream's watch directory) land in tmp_path,
    # which must be left without a directory.
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    streamed = run_profiles_once(spark, f"{SF}/events.parquet")
    assert [p.name for p in tmp_path.iterdir() if p.is_dir()] == []
    batch = (
        load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.max("ts_ns").alias("last_ts_ns"),
        )
    )
    s = {r["user_id"]: (r["n_events"], r["total_value"], r["last_ts_ns"]) for r in streamed.collect()}
    b = {r["user_id"]: (r["n_events"], r["total_value"], r["last_ts_ns"]) for r in batch.collect()}
    assert set(s) == set(b)
    for uid in b:
        assert s[uid][0] == b[uid][0], f"user {uid} count"
        assert abs(s[uid][1] - b[uid][1]) < 0.05, f"user {uid} total"
        assert s[uid][2] == b[uid][2], f"user {uid} last ts"
