"""JSON envelope source + the reference's transform core, end-to-end
(/root/reference/src/processor.rs:17-97 ``process_json_to_parquet``).

Reads a staged JSON document (either a root-level record array or an
envelope object whose ``root_path`` key holds the records), normalizes
it into a flat relational frame, applies column hygiene and codepoint
decoding, and refuses to produce output for empty tables. Everything
after the read is plan-time: the only Spark jobs are schema inference
and the caller's write, and no Python worker runs.

Spark mapping notes:
- ``multiLine=true`` because government-API payloads are single JSON
  documents, not JSON-lines.
- The reference caps schema inference at the first 1000 records
  (processor.rs:24-27). A multiLine read infers from the one staged
  document as a whole, so the cap has no Spark counterpart here; the
  two can differ only for a document whose records after the 1000th
  bring fields or types the first 1000 lack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from rust_etl_spark.errors import SchemaError
from rust_etl_spark.operators.decode import decode_codepoint_arrays
from rust_etl_spark.operators.normalize import (
    TECHNICAL_COLUMNS,
    drop_technical,
    normalize_envelope,
    require_nonempty,
)


def read_json_document(spark: SparkSession, path: str) -> DataFrame:
    """Scan one staged JSON document (an object or an array); the read
    infers its schema, which is one Spark job."""
    return spark.read.option("multiLine", "true").json(path)


def process_json_document(
    spark: SparkSession,
    path: str,
    *,
    root_path: str | None = None,
    technical_columns: tuple[str, ...] = TECHNICAL_COLUMNS,
) -> DataFrame:
    """The full processor.rs transform chain as one declarative plan:

    scan -> dtype-dispatched normalize (explode_outer / struct flatten)
    -> drop technical columns -> empty guard (a schema check) -> decode
    codepoint arrays. Caller writes the result (sink stays separate so
    the same transform serves batch files, streams, and tests).
    """
    df = read_json_document(spark, path)
    if df.columns == ["_corrupt_record"]:
        # Unparseable JSON: the reader produced only the corrupt-record
        # column (parity: reference JsonReader error -> ProcessorError).
        raise SchemaError(f"unparseable JSON document {path!r}")
    df = drop_technical(normalize_envelope(df, root_path), technical_columns)
    return decode_codepoint_arrays(require_nonempty(df, context=f"records of {path!r}"))


def write_parquet(df: DataFrame, dest: str) -> None:
    """Snappy parquet sink (processor.rs:78-91). Spark always writes
    min/max/null-count column statistics; Snappy is the session
    default — exact parity with the reference's StatisticsOptions."""
    df.write.mode("overwrite").parquet(dest)
