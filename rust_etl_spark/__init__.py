"""rust_etl_spark — a PySpark-native analytics/ETL engine.

A ground-up re-expression of the capability surface of the reference
ETL pipeline ``owilliangoncalves/Rust-ETL`` (a Rust/Polars JSON->Parquet
normalizer, see SURVEY.md) as an idiomatic Spark engine:

- ``config``    — TOML job-spec model (parity: reference src/models.rs)
- ``extract``   — HTTP streaming extract layer (parity: src/api.rs)
- ``pipeline``  — fail-soft per-endpoint orchestration (parity: src/main.rs)
- ``operators`` — normalize/decode/dedup/similarity/text/multimodal
  (parity: src/processor.rs + the LLM-pipeline extension surface)
- ``sources``   — JSON-envelope / parquet / csv / binary readers
- ``functions`` — reusable Column expression builders (JVM-side first)
- ``plans``     — the query catalog wired into __spark_entry__.py
- ``streaming`` — Structured Streaming ingest + stateful ops

Everything is DataFrame/Catalyst-first: declarative plans, predicate
pushdown, broadcast joins for dims. Arrow/pandas kernels
(``mapInPandas``/``applyInPandas``) run only where built-ins cannot
express the semantics: LSH bucketing and dedup, IVF cell assignment
(k-means runs on it) and PQ encoding and search in
``operators.similarity``, the PCA Gram sweep (``operators.pca``),
SimHash (``operators.dedup``), winnowing fingerprints
(``operators.text``), sequence packing (``operators.packing``), grouped
z-scores (``operators.grouped``), the multimodal feature stub
(``operators.multimodal``) and the stateful streaming operator
(``streaming.stateful``). The codepoint decode is one JVM expression
(``operators.decode``).
"""

__version__ = "0.1.0"
