"""Reference-parity queries: the transform core driven through the
fixture tables (SURVEY.md §2d items 1-6).

The reference's envelope normalization (explode / unnest / drop /
decode — /root/reference/src/processor.rs:17-123) is exercised here
through SQL-expressible equivalents so the DuckDB oracle can verify
values, while the package's real operator functions
(operators.normalize / operators.decode) do the Spark-side work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_etl_spark.operators.decode import decode_codepoints_col
from rust_etl_spark.operators.normalize import drop_technical, flatten_struct
from rust_etl_spark.plans.catalog import register
from rust_etl_spark.sources import load_table

_LINEITEM_KEEP = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus", "l_shipdate",
)


@register(
    "explode_array",
    oracle="""
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    """,
    doc="List -> rows with position (reference explode, processor.rs:44-46) via posexplode.",
)
def explode_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "val"),
    ).select("vec_id", F.col("pos").cast("long").alias("pos"), F.col("val").cast("double").alias("val"))


@register(
    "struct_unnest",
    oracle="""
        SELECT event_id, event_type, CAST(json_extract(props, '$.k') AS INT) AS k
        FROM events
    """,
    doc="JSON envelope -> struct -> flattened columns (reference unnest, processor.rs:46-52): from_json + struct flatten.",
)
def struct_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.from_json("props", "k INT").alias("props")
    )
    return flatten_struct(ev, "props")


@register(
    "decode_codepoints",
    oracle="""
        SELECT doc_id,
               array_to_string(
                   list_transform([65 + doc_id % 26, 104, 105],
                                  x -> chr(CAST(x AS INT))), '') AS decoded
        FROM documents
    """,
    doc="Codepoint-array -> string decode (reference byte_arrays, processor.rs:100-123) as one JVM "
    "expression: pmod-wrap to a byte, Latin-1 encode to binary, cast to string, make_valid_utf8.",
)
def decode_codepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    arr = F.array(
        (F.lit(65) + F.col("doc_id") % 26).cast("long"),
        F.lit(104).cast("long"),
        F.lit(105).cast("long"),
    )
    return docs.select("doc_id", arr.alias("decoded")).select(
        "doc_id", decode_codepoints_col("decoded").alias("decoded")
    )


@register(
    "drop_technical",
    oracle=f"SELECT {', '.join(_LINEITEM_KEEP)} FROM lineitem",
    doc="Drop-if-present column hygiene (processor.rs:57-72): absent names are no-ops, l_tax is dropped.",
)
def drop_technical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Mix of absent envelope columns (no-ops) and one real column.
    return drop_technical(li, cols=("totalRegistros", "links", "dataHoraConsulta", "l_tax"))
