"""Fixture-table loaders (parquet scans).

Thin wrappers over ``spark.read.parquet`` — kept declarative so Catalyst
gets full predicate pushdown / column pruning on every downstream query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_time(df: DataFrame) -> DataFrame:
    """Schema-robust event-time normalization (batch AND streaming).

    Fixture vintages have stored ``events.ts`` as parquet
    TIMESTAMP(NANOS) (scanned as a long under ``nanosAsLong``) and as
    timestamp[us] (scanned as TIMESTAMP_NTZ). Downstream plans rely on
    one contract regardless of vintage:

      * ``ts_ns``  BIGINT — exact integer epoch nanoseconds
      * ``ts``     TIMESTAMP (LTZ, UTC-exact, microsecond precision)

    Dispatching on the scanned dtype mirrors the reference's
    dtype-dispatched normalize (src/processor.rs:38-55) — the loader
    tolerates upstream physical-type drift instead of hard-failing.
    All expressions here are streaming-safe (no window/agg).
    """
    if "ts_ns" in df.columns:
        # Already normalized (e.g. a materialized bucketed copy of the
        # normalized table, re-read through a layout override). Re-deriving
        # ts_ns from the microsecond ts would TRUNCATE the exact ns clock.
        return df
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        # TIMESTAMP(NANOS) vintage via nanosAsLong: the long IS epoch ns.
        df = df.withColumnRenamed("ts", "ts_ns")
    elif isinstance(dt, T.TimestampNTZType):
        # timestamp[us] (isAdjustedToUTC=false): the NTZ wall clock is the
        # UTC instant. Integer timestampdiff avoids the session-zone shift
        # an NTZ->LTZ cast would introduce (same trick as ntz_epoch_us).
        df = df.withColumn(
            "ts_ns",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"
            ),
        ).drop("ts")
    elif isinstance(dt, T.TimestampType):
        df = df.withColumn("ts_ns", F.expr("unix_micros(ts) * 1000")).drop("ts")
    else:
        raise TypeError(f"unsupported events.ts dtype: {dt}")
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts_ns div 1000")))


#: (abspath(sf_dir), table) -> catalog table name. A physical-layout
#: override: when a bucketed/sorted copy of a fixture table has been
#: materialized (sinks.write_bucketed_table), registering it here makes
#: EVERY catalog query read the optimized layout transparently — the
#: same move a 100 TB deployment makes by repointing the table in its
#: metastore; queries never change. Used by tests/test_bucketed_layout.py.
_LAYOUT_OVERRIDES: dict[tuple[str, str], str] = {}


def set_layout_override(sf_dir: str, name: str, table: str | None) -> None:
    """Point (sf_dir, name) at a catalog table (None clears it)."""
    key = (os.path.abspath(sf_dir), name)
    if table is None:
        _LAYOUT_OVERRIDES.pop(key, None)
    else:
        _LAYOUT_OVERRIDES[key] = table


def clear_layout_overrides() -> None:
    _LAYOUT_OVERRIDES.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table. Plain parquet scan: pushdown-friendly.

    ``events`` goes through :func:`normalize_event_time`, which exposes
    both the exact integer clock (``ts_ns`` BIGINT) and a microsecond
    TimestampType ``ts`` whatever the parquet physical type is.

    A layout override (see ``set_layout_override``) redirects the read
    to a catalog table — e.g. a bucketed copy whose write-time shuffle
    replaces every downstream join/agg exchange on the bucket key.
    """
    override = _LAYOUT_OVERRIDES.get((os.path.abspath(sf_dir), name))
    if override is not None:
        df = spark.table(override)
        return normalize_event_time(df) if name == "events" else df
    if name == "events":
        # Runtime-set so the engine also works on sessions it did not
        # build (the driver constructs its own plain SparkSession).
        # Harmless on micros fixtures; required for the nanos vintage.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_time(df)
    return df


#: (abspath(sf_dir), table, mtime_ns) -> rows. Fixture tables are
#: immutable in the normal workflow, so a per-process memo is safe;
#: scale-aware plan sizing (similarity.ivf_mod,
#: advanced_agg.fuzzy_block_len) needs a row count at every plan build
#: and would otherwise re-run the count job on each of bench.py's
#: min-of-3 executions. The path mtime in the key invalidates the memo
#: if a fixture dir IS regenerated in-process (e.g. a script that
#: builds a gen tier and then benches it) — stale counts would
#: otherwise silently mis-size block keys and centroid counts.
_ROW_COUNT_CACHE: dict[tuple[str, str, int], int] = {}


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Memoized row count of one fixture table (one count job per
    (tier, table, fixture-mtime) per process — a metadata-cheap
    zero-column scan)."""
    path = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    try:
        mtime_ns = os.stat(path).st_mtime_ns
    except OSError:
        mtime_ns = 0  # let the Spark read raise the real error
    key = (os.path.abspath(sf_dir), name, mtime_ns)
    if key not in _ROW_COUNT_CACHE:
        _ROW_COUNT_CACHE[key] = load_table(spark, sf_dir, name).count()
    return _ROW_COUNT_CACHE[key]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
