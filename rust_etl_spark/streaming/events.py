"""Structured Streaming surface over the events table.

The reference has no stream processing (SURVEY.md §2b — its
"streaming" is constant-memory IO), so this module is part of the
engine's extension surface: the same windowed aggregation runs as a
batch plan (oracle-verifiable, registered in plans/) and as a
Structured Streaming query with watermarked event time.

Scale notes: the streaming agg keys on (window, event_type) — state
size is bounded by (#windows in watermark horizon x #types); the
watermark expires state, so unbounded input never grows memory. The
file source here is a stand-in for Kafka: swap ``readStream.format``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_etl_spark.functions.money import value_total_col
from rust_etl_spark.sources.tables import normalize_event_time

WINDOW = "5 minutes"
WATERMARK = "10 minutes"


def windowed_counts(events: DataFrame) -> DataFrame:
    """Tumbling-window counts/sums per event_type, over a batch frame or
    a watermarked stream alike (:func:`run_stream_once`)."""
    return (
        events.groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), value_total_col().alias("total_value"))
        .select(
            F.col("w.start").alias("w_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def drain_bounded_stream(
    spark: SparkSession,
    events_path: str,
    build: Callable[[Callable[[], DataFrame]], DataFrame],
    mode: str,
    name: str,
    copies: int,
) -> DataFrame:
    """Run ``build(source)`` as a streaming query over ``copies`` copies
    of the events file until drained; return the memory-sink table ``name``.

    ``source()`` opens one file stream (one file per trigger, event time
    normalized as in ``load_table``); the interval join opens two. The
    watched directory is removed once the query stops — the memory sink
    keeps its rows on the driver.
    """
    # events.ts is parquet TIMESTAMP(NANOS) — see sources/tables.py.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(events_path).schema
    with tempfile.TemporaryDirectory(prefix="events_") as watch_dir:
        for i in range(copies):
            shutil.copy(events_path, os.path.join(watch_dir, f"{i}.parquet"))

        def source() -> DataFrame:
            s = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(watch_dir)
            return normalize_event_time(s)

        q = build(source).writeStream.outputMode(mode).format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.table(name)


def deduped_events(events: DataFrame) -> DataFrame:
    """``withWatermark + dropDuplicates([key, ts])`` is the streaming
    form of exact dedup — state holds one entry per key inside the
    watermark horizon and expires beyond it, so unbounded duplicate
    streams run in bounded memory."""
    return events.withWatermark("ts", WATERMARK).dropDuplicates(["event_id", "ts"])


def run_stream_dedup_once(spark: SparkSession, events_path: str) -> int:
    """Streaming exact dedup: the same events file delivered twice
    (two micro-batches of duplicates) must come out once. Returns the
    deduplicated count."""
    def build(source):
        return deduped_events(source())

    return drain_bounded_stream(
        spark, events_path, build, "append", "events_deduped", copies=2
    ).count()


def run_stream_interval_join_once(spark: SparkSession, events_path: str) -> DataFrame:
    """Watermarked stream-stream interval join: signup events joined to
    the same user's follow-up events within 24 h — the streaming form
    of the batch ``events_range_join`` query (plans/events_queries.py),
    which the test validates it against row-for-row.

    Both sides carry a watermark and the join condition bounds event
    time on both ends, so Spark can expire join state: memory holds
    only rows inside watermark + interval, regardless of stream length.
    Returns the joined (signup_id, event_id) pairs from the memory sink.
    """

    def build(source):
        signups = (
            source()
            .filter(F.col("event_type") == "signup")
            .select(
                F.col("event_id").alias("signup_id"),
                F.col("user_id").alias("s_user"),
                F.col("ts").alias("ts_s"),
            )
            .withWatermark("ts_s", "1 hour")
        )
        follows = (
            source()
            .select("event_id", F.col("user_id").alias("e_user"), F.col("ts").alias("ts_e"))
            .withWatermark("ts_e", "1 hour")
        )
        return signups.join(
            follows,
            F.expr("e_user = s_user AND ts_e > ts_s AND ts_e <= ts_s + INTERVAL 24 HOURS"),
        ).select("signup_id", "event_id")

    return drain_bounded_stream(spark, events_path, build, "append", "events_ssjoin", copies=1)


def run_stream_once(spark: SparkSession, events_path: str) -> DataFrame:
    """Drive the streaming agg over a bounded file source to
    completion (memory sink) and return the result as a DataFrame —
    the standard local smoke for a streaming plan."""

    def build(source):
        return windowed_counts(source().withWatermark("ts", WATERMARK))

    return drain_bounded_stream(spark, events_path, build, "complete", "events_windowed", copies=1)


SESSION_GAP = "30 minutes"


def run_stream_sessions_once(spark: SparkSession, events_path: str) -> DataFrame:
    """Streaming gap sessionization: the native ``session_window`` with
    a watermark, driven over a bounded file stream — the streaming form
    of the batch ``events_session_window`` query, which the test
    validates it against row-for-row.

    State is one open session per user inside the watermark horizon;
    the gap timeout closes sessions, the watermark expires them — so
    an unbounded event stream sessionizes in bounded memory. Append
    mode emits each session exactly once, when it finalizes.
    """

    def build(source):
        return (
            source()
            .withWatermark("ts", WATERMARK)
            .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"), value_total_col().alias("total_value"))
            .select(
                "user_id",
                F.unix_micros("w.start").alias("s_start_us"),
                F.unix_micros("w.end").alias("s_end_us"),
                "n_events",
                "total_value",
            )
        )

    return drain_bounded_stream(spark, events_path, build, "append", "events_sessions", copies=1)
