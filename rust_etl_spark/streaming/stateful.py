"""Custom stateful streaming operator via applyInPandasWithState:
a per-user running profile (event count, value sum, last-seen ts)
maintained across micro-batches.

This is the engine's template for operators Spark's built-in streaming
aggregates can't express (per-key custom state machines). State is one
small tuple per user; at scale the state store shards by the grouping
key across executors, and a timeout policy would expire idle keys
(kept NoTimeout here so the bounded smoke run drains deterministically).

Throughput model: the applyInPandasWithState path pays a fixed cost
per KEY-UPDATE (per-group Arrow framing + GroupState round trip + the
mandatory 1-row pandas output), independent of rows per group, so the
deployment lever is TRIGGER SIZING, not body tuning: every key that
appears in a micro-batch pays the tax once, and many small triggers
multiply it. Size triggers so rows-per-key-per-trigger stays high, and
prefer the JVM-native window/session profiles when the semantics fit.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

from rust_etl_spark.streaming.events import drain_bounded_stream

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double, last_ts_ns bigint"
STATE_SCHEMA = "n bigint, total double, last_ns bigint"


def _update_profile(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total, last_ns = state.get if state.exists else (0, 0.0, 0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
        last_ns = max(last_ns, int(pdf["ts_ns"].max()))
    state.update((n, total, last_ns))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)], "last_ts_ns": [last_ns]}
    )


def user_profiles_stream(events_stream: DataFrame) -> DataFrame:
    """events(user_id, value, ts_ns) stream -> running per-user profile."""
    return (
        events_stream.select("user_id", "value", "ts_ns")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_profiles_once(spark: SparkSession, events_path: str) -> DataFrame:
    """Drive the stateful operator over a bounded file stream; returns
    the final per-user profile (last update per key)."""
    # update-mode memory sink appends every update; keep the last per key
    all_updates = drain_bounded_stream(
        spark,
        events_path,
        lambda source: user_profiles_stream(source()),
        "update",
        "user_profiles",
        copies=1,
    )
    w = F.row_number().over(Window.partitionBy("user_id").orderBy(F.col("n_events").desc()))
    return all_updates.withColumn("rn", w).filter(F.col("rn") == 1).drop("rn")
