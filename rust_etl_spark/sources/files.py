"""File source/sink coverage beyond parquet+JSON-envelope: CSV,
JSON-lines, ORC (all native Spark readers — pushdown/pruning apply to
ORC exactly as parquet; CSV/JSON get projection pruning only).

Production posture: always pass an explicit schema for CSV/JSONL at
scale (``inferSchema`` burns a full extra pass over the data); the
helpers here accept one and only fall back to inference for ad-hoc
exploration. Avro would need the spark-avro package on the classpath —
gated with a clear error instead of a stub import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from rust_etl_spark.errors import EngineError

#: Column that receives a malformed JSON line verbatim.
CORRUPT_COL = "_corrupt_record"


def read_csv(
    spark: SparkSession, path: str, *, schema: T.StructType | str | None = None
) -> DataFrame:
    """Comma-separated CSV with a header row."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)  # ad-hoc only: extra pass
    return reader.csv(path)


def write_csv(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("header", True).csv(path)


def read_jsonl(
    spark: SparkSession, path: str, *, schema: T.StructType | str | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def read_jsonl_permissive(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """JSON-lines read that quarantines malformed rows instead of
    failing the job: good rows parse into ``schema``, broken lines land
    verbatim in ``CORRUPT_COL`` (NULL elsewhere) — the ingestion
    posture for dirty landing zones at scale (fail-soft per row, the
    row-level analogue of the reference's per-endpoint fail-soft,
    /root/reference/src/main.rs:52-108).
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    full = schema.add(T.StructField(CORRUPT_COL, T.StringType(), True))
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro needs the spark-avro package (not on this classpath)."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as e:  # pragma: no cover - environment-dependent
        raise EngineError(
            "avro source requires the spark-avro package on the classpath "
            "(add org.apache.spark:spark-avro to spark.jars.packages)"
        ) from e
