"""Sequence packing: assign documents to context-window bins so each
bin's token total stays under a budget — the batch-assembly step of an
LLM training pipeline (docs are concatenated per bin up to the model's
context length; good packing minimizes padding waste).

Spark-first shape: bin packing is inherently sequential, so the
sequence is SHARDED deterministically (content-hash bucket) and each
shard packs independently inside one Arrow batch (``applyInPandas``).
Bin ids are namespaced per bucket — (bucket, bin_id) is the global bin
key — so no cross-shard coordination exists and the operator scales
linearly with buckets at 100 TB. First-fit in deterministic hash order
(not arrival order) keeps the assignment reproducible across retries,
engines, and scale-ups, like every sampling/shuffle op in this engine.

Not SQL-mirrorable (first-fit is a sequential recurrence), so the
catalog entry is rows-only; tests/test_packing.py value-checks the
assignment against an independent Python reference and pins the
invariants (budget respected, all docs packed exactly once, bins
contiguous, oversized docs isolated).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_etl_spark.functions.hashing import md5_long60
from rust_etl_spark.functions.textfns import token_count
from rust_etl_spark.plans.catalog import register
from rust_etl_spark.sources import load_table

PACK_MAX_TOKENS = 256
PACK_BUCKETS = 32

_PACK_SCHEMA = "doc_id long, bucket long, bin_id long, n_tokens long"


def pack_sequences_df(docs: DataFrame) -> DataFrame:
    """(doc_id, bucket, bin_id, n_tokens): first-fit packing of each
    of ``PACK_BUCKETS`` hash-buckets' docs (in deterministic hash order)
    into bins whose token totals stay <= ``PACK_MAX_TOKENS``. A doc
    longer than the budget gets a bin of its own (splitting is the
    tokenizer's concern)."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["h", "doc_id"]).reset_index(drop=True)
        bins: list[int] = []
        cur, used = 0, 0
        for nt in pdf["n_tokens"]:
            if used > 0 and used + nt > PACK_MAX_TOKENS:
                cur += 1
                used = 0
            used += int(nt)
            bins.append(cur)
        pdf["bin_id"] = bins
        return pdf[["doc_id", "bucket", "bin_id", "n_tokens"]]

    h = md5_long60(F.col("doc_id"))
    prepared = docs.select(
        "doc_id",
        (h % PACK_BUCKETS).alias("bucket"),
        h.alias("h"),
        token_count("text").alias("n_tokens"),
    )
    return prepared.groupBy("bucket").applyInPandas(pack, _PACK_SCHEMA)


@register(
    "pack_sequences",
    oracle=None,  # sequential first-fit recurrence; value-checked in tests/test_packing.py
    doc=f"Context-window packing: first-fit documents into bins of <= {PACK_MAX_TOKENS} "
    f"tokens within {PACK_BUCKETS} deterministic hash shards (applyInPandas per shard; "
    "(bucket, bin_id) is the global bin key — zero cross-shard coordination). "
    "Rows-only: bin packing is a sequential recurrence with no SQL mirror.",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences_df(load_table(spark, sf_dir, "documents"))
