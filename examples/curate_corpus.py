"""End-to-end training-data curation run — the full composed pipeline,
wired from the repo's individually-verified operators:

1. cleaning cascade (corpus_clean_pipeline): keep/drop with per-rule
   reason codes (word bounds, word length, lang-ID agreement, quality);
2. near-dup removal (dedup_clusters): drop everything but the
   min-doc_id keeper of each MinHash-LSH connected component;
3. benchmark decontamination (decontaminate): drop any training doc
   sharing a 5-gram with the held-out eval split;
4. dataset mixing (dataset_mix): per-language keep fractions by
   deterministic content hash;
5. train/val/test split (dataset_split): reproducible 80/10/10 hash
   assignment;
6. context packing (pack_sequences_df): first-fit the TRAIN split into
   token-budgeted bins inside deterministic hash shards.

Every stage transition is an id-only semi/anti join — at 100 TB the
document payload is shuffled exactly zero times between stages; only
the final partitioned write moves text. The printed dataset card (per-
rule drop counts, per-stage survivors, per-split/lang totals, packing
utilization) is the audit artifact a real corpus release ships.

Run:  python examples/curate_corpus.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from rust_etl_spark.operators.dedup import dedup_clusters  # noqa: E402
from rust_etl_spark.operators.packing import PACK_MAX_TOKENS, pack_sequences_df  # noqa: E402
from rust_etl_spark.operators.text import corpus_clean_pipeline  # noqa: E402
from rust_etl_spark.plans.curation_queries import (  # noqa: E402
    dataset_mix,
    dataset_split,
    decontaminate,
)
from rust_etl_spark.sources import load_table  # noqa: E402


def run(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Execute the six-stage run; return the accounting dict (the
    dataset card's numbers — also what the pytest pins)."""
    docs = load_table(spark, sf_dir, "documents")

    verdicts = corpus_clean_pipeline(spark, sf_dir).cache()
    drop_by_rule = {
        r["reason"]: r["n"]
        for r in verdicts.groupBy("reason").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    clean_ids = verdicts.filter(F.col("keep")).select("doc_id")

    non_keepers = (
        dedup_clusters(spark, sf_dir)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    contaminated = decontaminate(spark, sf_dir).select("doc_id").distinct()
    mixed_ids = dataset_mix(spark, sf_dir).select("doc_id")

    survivors = (
        docs.join(clean_ids, "doc_id", "semi")
        .join(non_keepers, "doc_id", "anti")
        .join(contaminated, "doc_id", "anti")
        .join(mixed_ids, "doc_id", "semi")
    )
    with_split = survivors.join(
        dataset_split(spark, sf_dir).select("doc_id", "split"), "doc_id"
    ).cache()

    counts = {
        "input": docs.count(),
        "after_clean": clean_ids.count(),
        "dropped_near_dup": non_keepers.count(),
        "dropped_contaminated": contaminated.count(),
        "survivors": with_split.count(),
    }
    per_split = {
        r["split"]: r["n"]
        for r in with_split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }

    train = with_split.filter(F.col("split") == "train")
    packed = pack_sequences_df(train)
    pack_stats = packed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("bucket", "bin_id").alias("n_bins"),
        F.sum("n_tokens").alias("total_tokens"),
    ).collect()[0]

    with_split.write.mode("overwrite").partitionBy("split", "lang").parquet(out_dir)
    verdicts.unpersist()
    with_split.unpersist()
    return {
        "counts": counts,
        "drop_by_rule": drop_by_rule,
        "per_split": per_split,
        "packing": {
            "n_docs": pack_stats["n_docs"],
            "n_bins": pack_stats["n_bins"],
            "total_tokens": pack_stats["total_tokens"],
            "max_tokens_per_bin": PACK_MAX_TOKENS,
        },
    }


def main() -> None:
    from rust_etl_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/curated_corpus"
    card = run(get_spark("curate-corpus-example"), sf_dir, out_dir)

    c = card["counts"]
    print(f"corpus written to {out_dir} (partitioned by split, lang)")
    print(f"  input documents:        {c['input']}")
    print(f"  pass cleaning cascade:  {c['after_clean']}  (drops by rule: "
          + ", ".join(f"{k}={v}" for k, v in sorted(card["drop_by_rule"].items())
                      if k != "keep") + ")")
    print(f"  near-dup non-keepers:   {c['dropped_near_dup']}")
    print(f"  contaminated vs eval:   {c['dropped_contaminated']}")
    print(f"  survivors after mix:    {c['survivors']}  (splits: "
          + ", ".join(f"{k}={v}" for k, v in sorted(card["per_split"].items())) + ")")
    p = card["packing"]
    util = 100.0 * p["total_tokens"] / max(p["n_bins"] * p["max_tokens_per_bin"], 1)
    print(f"  train packed:           {p['n_docs']} docs -> {p['n_bins']} bins of "
          f"<= {p['max_tokens_per_bin']} tokens ({util:.1f}% fill)")


if __name__ == "__main__":
    main()
