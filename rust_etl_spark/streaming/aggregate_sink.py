"""Incrementally-maintained aggregates: a checkpointed file stream
keeps a materialized summary parquet up to date as new data lands —
the streaming analogue of a nightly GROUP BY recompute, without
rescanning history. Two variants share one exactly-once core:

- ``start_incremental_aggregate``: per-key (n, total) — the global
  rollup.
- ``start_incremental_window_aggregate``: per-(time-bucket, key) —
  the continuous aggregate / hypertable-rollup pattern: the summary is
  a time-series of window partials, old buckets stop changing once the
  stream moves past them, and a batch only ever rewrites the buckets
  it touches.

Mechanics: every sink is a ``lift`` (one input row -> the partial
state of a one-row group) and a ``merge`` (combine partials of the same
group). Each micro-batch is pre-aggregated as ``merge(lift(batch))``,
then merged with the stored partials by the same ``merge`` and written
back with ``upsert_parquet`` (every aggregate here is algebraic, so
batch partials compose exactly). The summary stays queryable between
batches, and the upsert's rename-aside swap keeps a live directory at
every instant. At scale the summary table is keyed by a
low-cardinality dimension (plus a time bucket) and is orders of
magnitude smaller than the stream history.

Exactly-once: foreachBatch replays a failed batch, and this sink ADDS
onto stored partials — so each batch must be applied at most once. The
last applied epoch_id is persisted as a ``_applied_epoch`` marker file
written into the staged summary directory BEFORE the swap (see
``upsert_parquet(marker_files=...)``), making epoch and data visible
atomically: a replayed epoch_id <= the stored one is skipped, a crash
before the swap leaves the old epoch (and old partials) intact, and
there is no window where the data advanced but the epoch did not.
Markers are bound to their checkpoint (epoch ids restart at 0 with a
fresh checkpoint_dir), and a crash between the swap's two renames is
repaired by restoring the aside copy BEFORE any state is read.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _additive_merge(group_keys: list[str]) -> Callable[[DataFrame], DataFrame]:
    """(n, total) partials merge by summing both."""

    def merge(partials: DataFrame) -> DataFrame:
        return partials.groupBy(*group_keys).agg(
            F.sum("n").alias("n"), F.sum("total").alias("total")
        )

    return merge


def _start_aggregate_sink(
    spark: SparkSession,
    source_dir: str,
    summary_path: str,
    checkpoint_dir: str,
    schema: T.StructType | str,
    lift: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame], DataFrame],
    group_keys: list[str],
):
    """Shared exactly-once merge core. ``lift`` turns each input row
    into a one-row partial; ``merge`` combines partials back to one row
    per group. Any aggregate whose partials compose
    (min/max/min_by/sum...) slots in here; non-algebraic ones (exact
    median) would need the raw stream."""
    import json
    import os

    from rust_etl_spark.operators.upsert import restore_aside, upsert_parquet

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 8).json(source_dir)
    # Epoch ids are per-checkpoint (restart at 0 with a fresh
    # checkpoint_dir), so the marker records WHICH checkpoint the epoch
    # belongs to; a marker from a different checkpoint is stale and must
    # not suppress new batches.
    ckpt_id = os.path.abspath(checkpoint_dir)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # A crash between the swap's two renames leaves the summary only
        # in the '._upsert_old' aside copy. Restore it BEFORE reading
        # the epoch marker or the stored partials — otherwise a replayed
        # epoch sees an empty table, merges batch-only partials, and the
        # later restore inside upsert_parquet anti-joins the recovered
        # rows away (permanent loss of accumulated partials).
        restore_aside(summary_path)
        epoch_file = os.path.join(summary_path, "_applied_epoch")
        if os.path.exists(epoch_file):
            with open(epoch_file) as fh:
                marker = json.load(fh)
            if marker["ckpt"] == ckpt_id and int(epoch_id) <= int(marker["epoch"]):
                return  # replayed epoch: partials already include it
        merged = merge(lift(batch_df))
        if os.path.exists(summary_path):
            merged = merge(spark.read.parquet(summary_path).unionByName(merged))
        # collect to driver is NOT used: upsert rewrites via Spark jobs
        upsert_parquet(
            spark,
            summary_path,
            merged,
            group_keys,
            marker_files={
                "_applied_epoch": json.dumps({"epoch": int(epoch_id), "ckpt": ckpt_id})
            },
        )

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def start_incremental_aggregate(
    spark: SparkSession,
    source_dir: str,
    summary_path: str,
    checkpoint_dir: str,
    schema: T.StructType | str,
    key: str,
    value: str,
):
    """Maintain ``summary_path`` = per-``key`` (n, total of ``value``)
    over all JSON-lines files that ever landed in ``source_dir``."""

    def lift(batch_df: DataFrame) -> DataFrame:
        return batch_df.select(key, F.lit(1).alias("n"), F.col(value).alias("total"))

    return _start_aggregate_sink(
        spark, source_dir, summary_path, checkpoint_dir, schema, lift, _additive_merge([key]), [key]
    )


def start_incremental_window_aggregate(
    spark: SparkSession,
    source_dir: str,
    summary_path: str,
    checkpoint_dir: str,
    schema: T.StructType | str,
    ts_col: str,
    key: str,
    value: str,
    window: str = "5 minutes",
):
    """Continuous aggregate (hypertable-rollup pattern): maintain
    ``summary_path`` = per-(tumbling ``window`` start, ``key``)
    (n, total of ``value``) over everything that ever landed.

    The time bucket joins the merge key, so late/replayed data sums
    into ITS bucket and never disturbs others; at scale the upsert's
    anti-join touches only the buckets present in the batch, and the
    summary doubles as the serving table for time-series dashboards
    (the batch-query mirror is ``events_window_agg`` /
    ``date_trunc_rollup``)."""

    def lift(batch_df: DataFrame) -> DataFrame:
        return batch_df.select(
            F.unix_micros(F.window(ts_col, window).start).alias("w_start_us"),
            key,
            F.lit(1).alias("n"),
            F.col(value).alias("total"),
        )

    keys = ["w_start_us", key]
    return _start_aggregate_sink(
        spark, source_dir, summary_path, checkpoint_dir, schema, lift, _additive_merge(keys), keys
    )


def start_incremental_ohlc(
    spark: SparkSession,
    source_dir: str,
    summary_path: str,
    checkpoint_dir: str,
    schema: T.StructType | str,
    ts_col: str,
    key: str,
    value: str,
    id_col: str,
    window: str = "5 minutes",
):
    """Continuously-maintained OHLC candles: per (tumbling ``window``
    start, ``key``) keep n / open / high / low / close of ``value``
    as micro-batches land — the streaming twin of the batch
    ``events_ohlc`` query, via the same exactly-once merge core.

    OHLC is algebraic: a candle's partial state is
    (n, high, low, open + its ordering key, close + its ordering key),
    and two partials merge with sum/max/min/min_by/max_by — so late or
    replayed data folds into ITS candle deterministically (the
    ordering key (event-time micros, ``id_col``) is total, mirroring
    the batch query's tie-break). A single row lifts to the candle
    whose open, high, low and close are all that row. At scale the
    summary is candle-grain (keys x windows), orders of magnitude
    smaller than the stream, and each batch's upsert rewrites only the
    candles it touches.
    """

    def lift(batch_df: DataFrame) -> DataFrame:
        v = F.col(value).cast("double")
        e_us = F.unix_micros(F.col(ts_col))
        e_id = F.col(id_col).cast("long")
        return batch_df.select(
            F.unix_micros(F.window(ts_col, window).start).alias("w_start_us"),
            key,
            F.lit(1).alias("n"),
            e_us.alias("open_us"),
            e_id.alias("open_id"),
            v.alias("open"),
            v.alias("high"),
            v.alias("low"),
            e_us.alias("close_us"),
            e_id.alias("close_id"),
            v.alias("close"),
        )

    def merge(partials: DataFrame) -> DataFrame:
        # Each side of a candle keeps ITS OWN ordering key: the merged
        # open is the partial open with the earliest (open_us, open_id),
        # the merged close the partial close with the latest
        # (close_us, close_id).
        return (
            partials.groupBy("w_start_us", key)
            .agg(
                F.sum("n").alias("n"),
                F.max("high").alias("high"),
                F.min("low").alias("low"),
                F.min_by(
                    F.struct("open_us", "open_id", "open"),
                    F.struct("open_us", "open_id"),
                ).alias("o"),
                F.max_by(
                    F.struct("close_us", "close_id", "close"),
                    F.struct("close_us", "close_id"),
                ).alias("c"),
            )
            .select(
                "w_start_us",
                key,
                "n",
                F.col("o.open_us").alias("open_us"),
                F.col("o.open_id").alias("open_id"),
                F.col("o.open").alias("open"),
                "high",
                "low",
                F.col("c.close_us").alias("close_us"),
                F.col("c.close_id").alias("close_id"),
                F.col("c.close").alias("close"),
            )
        )

    keys = ["w_start_us", key]
    return _start_aggregate_sink(
        spark, source_dir, summary_path, checkpoint_dir, schema, lift, merge, keys
    )
