"""Partition-aware sinks: partitioned parquet, bucketed tables.

These are the two levers that shape downstream scan cost at 100 TB:

- **Partitioned layout** (`partitionBy`): coarse, low-cardinality keys
  (date, region, flag). Readers with a matching predicate scan only
  the hit directories (partition pruning — visible as PartitionFilters
  in the plan). Cap per-file size with maxRecordsPerFile so a skewed
  partition still parallelizes.
- **Bucketed tables** (`bucketBy` + saveAsTable): high-cardinality
  join/agg keys. Two tables bucketed on the same key join with ZERO
  exchanges — the shuffle is paid once at write time, amortized over
  every subsequent join.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

#: Per-file row cap for the parquet writers, so one skewed partition
#: still splits into parallel-readable files.
MAX_RECORDS_PER_FILE = 1_000_000


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    *,
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> None:
    spark = df.sparkSession
    # A managed-table *location* can outlive the catalog entry (new
    # session, old warehouse dir) and then block saveAsTable — drop
    # both the entry and any orphaned location first.
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    leftover = os.path.join(warehouse.removeprefix("file:"), table.lower())
    if os.path.isdir(leftover):
        shutil.rmtree(leftover, ignore_errors=True)
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


#: Buckets per fact table in :func:`write_bucketed_fact_layout`.
FACT_BUCKETS = 32


def write_bucketed_fact_layout(
    spark: SparkSession,
    sf_dir: str,
    specs: dict[str, str],
) -> dict[str, str]:
    """Materialize bucketed copies of fact tables and return their
    catalog names ({source_table: catalog_table}).

    ``specs`` maps fixture table -> bucket key (e.g. {"orders":
    "o_orderkey", "lineitem": "l_orderkey"}) or -> ``(bucket_key,
    sort_cols)`` when the write-time order should be a COMPOUND key —
    e.g. events bucketed on user_id but sorted (user_id, ts_ns,
    event_id), so every per-user window over the event clock consumes
    the write-time order too. Each table is
    repartitioned to exactly ``FACT_BUCKETS`` on the key before the
    bucketed write so every bucket lands in ONE file — that makes the
    bucket files globally sorted on the sort key, letting a downstream
    sort-merge join skip BOTH the Exchange and the Sort. This is the
    write-once/join-many layout a 100 TB deployment gives its biggest
    co-joined facts: the shuffle is paid at ingest, and every
    subsequent join/agg on the key runs exchange-free (pair with
    sources.set_layout_override so existing queries pick it up
    transparently). Cost model: one full shuffle + write per table,
    repaid after a few executions of the joins/aggregates on the key
    — a query-mix investment, not a one-join win; the eliminated
    shuffle bytes grow with the data while the write stays one pass.

    Sizing: bucket-grain scans cannot split files, so ``FACT_BUCKETS`` IS
    the layout's scan parallelism — size it to at least 2x the total
    cores of the biggest expected reader (one task wave of exactly
    one bucket per core leaves no room to balance).

    Sort elimination: because every bucket is exactly one sorted file,
    readers may also set
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` to have
    sort-merge joins consume the write-time order directly — zero
    exchanges AND zero sorts, a fully pipelined merge join from disk
    (plan-locked in tests/test_bucketed_layout.py). The conf is off by
    default in Spark only because it pins read parallelism to
    one-file-per-bucket, which this writer guarantees anyway.
    """
    from pyspark.sql import functions as F

    from rust_etl_spark.sources import load_table

    names: dict[str, str] = {}
    for tbl, spec in specs.items():
        key, sort_cols = (spec, [spec]) if isinstance(spec, str) else (spec[0], list(spec[1]))
        tname = f"{tbl}_bkt"
        df = load_table(spark, sf_dir, tbl).repartition(FACT_BUCKETS, F.col(key))
        write_bucketed_table(df, tname, [key], n_buckets=FACT_BUCKETS, sort_cols=sort_cols)
        names[tbl] = tname
    return names


#: Range partitions (and so files) :func:`write_range_partitioned` writes.
RANGE_PARTITIONS = 8


def write_range_partitioned(
    df: DataFrame,
    path: str,
    col: str,
) -> None:
    """Write parquet range-clustered on one ordered column — the
    time-series layout: ``repartitionByRange`` samples the column to
    form balanced, DISJOINT per-partition ranges, and the within-
    partition sort keeps every row group's min/max span narrow, so a
    reader with a range predicate (``ts BETWEEN ...``) skips whole
    files/row-groups via parquet footer statistics. The 1-D
    complement of :func:`write_zordered`; at 100 TB this is how an
    events table keeps time-slice queries from scanning history.
    No global sort: the range exchange + local sorts are fully
    parallel (tests/test_partitioning.py pins span disjointness)."""
    (
        df.repartitionByRange(RANGE_PARTITIONS, col)
        .sortWithinPartitions(col)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .parquet(path)
    )


def _morton_spread(x):
    """Spread the low 32 bits of a long so bit j lands at position 2j —
    the classic 2D Morton mask-shift chain (5 shift/or/and steps)."""
    from pyspark.sql import functions as F

    x = (x.bitwiseOR(F.shiftleft(x, 16))).bitwiseAND(F.lit(0x0000FFFF0000FFFF).cast("long"))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF00FF00FF).cast("long"))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F).cast("long"))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x3333333333333333).cast("long"))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x5555555555555555).cast("long"))
    return x


def zorder_key(a, b, bits: int = 16):
    """Z-order (Morton) key: interleave the low ``bits`` of two integer
    columns — a JVM-side expression, no UDF.

    Sorting a table by this key clusters rows so that BOTH dimensions
    have narrow min/max ranges per parquet row group; readers filtering
    on either column then skip most row groups via footer statistics.
    This is the data-layout lever for multi-dimensional pruning at
    100 TB (the same idea Delta/Iceberg expose as OPTIMIZE ZORDER BY),
    implemented here as write-time sort for plain parquet.

    The mask-shift Morton spread interleaves in 5 shift/or/and steps
    per column, value-identical to summing ``2 * bits`` per-bit
    ``bit_get(col, j) * 2^k`` terms (both read only the masked low
    bits), which the DuckDB oracle mirror (layout.morton_duckdb)
    states. bits <= 16 interleaves losslessly into the 32 even/odd
    positions each side uses; the cap is 31, not 32: at bits=32 the
    b-side spread's bit 31 lands (after the final shiftleft(sb, 1)) in
    long bit 63 — the sign bit — so z-keys go negative and sort
    locality inverts. Shipped callers use bits=21 / default 16.
    """
    if bits > 31:
        raise ValueError(
            f"bits={bits} > 31: the b-side spread would reach the long sign bit"
        )
    from pyspark.sql import functions as F

    mask = F.lit((1 << bits) - 1).cast("long")
    sa = _morton_spread(a.cast("long").bitwiseAND(mask))
    sb = _morton_spread(b.cast("long").bitwiseAND(mask))
    return sa.bitwiseOR(F.shiftleft(sb, 1)).cast("long")


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
) -> None:
    """Write parquet clustered by the Z-order of the low 16 bits of
    (col_a, col_b).

    ``sortWithinPartitions`` after a range repartition on the z-key
    gives globally-clustered row groups without a driver-side sort.
    """
    from pyspark.sql import functions as F

    z = zorder_key(F.col(col_a), F.col(col_b))
    (
        df.withColumn("__z", z)
        .repartitionByRange("__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", MAX_RECORDS_PER_FILE)
        .parquet(path)
    )
