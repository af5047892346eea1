"""Correctness gates. They run outside the timed interval.

* envelopes: every endpoint's pipeline status equals the manifest's
  expected fail-soft status, no staging file is left for an ok endpoint,
  and each written parquet holds exactly the pure-Python flatten of the
  generated document (columns in order, every row and value, codepoint
  arrays decoded).
* queries: each query's result equals its DuckDB oracle, through
  ``tests/oracle_harness.compare`` (exact, order-insensitive).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from perfbench import gen


def check_endpoint(ep: dict, result, corpus_dir: str, data_dir: str, staging_dir: str) -> list[str]:
    """Mismatches of one endpoint's pipeline result; empty means correct."""
    where = f"{ep['api']}.{ep['group']}.{ep['key']}"
    if result.status != ep["status"]:
        return [f"{where}: status {result.status!r}, expected {ep['status']!r} ({result.error})"]
    if ep["status"] != "ok":
        return []
    staged = os.path.join(staging_dir, ep["api"], ep["group"], f"{ep['key']}_temp.json")
    if os.path.exists(staged):
        return [f"{where}: staging file left behind"]
    expected = sorted(gen.expected_rows(gen.load_document(corpus_dir, ep)), key=lambda r: r["id"])
    table = pq.read_table(os.path.join(data_dir, ep["api"], ep["group"], f"{ep['key']}.parquet"))
    columns = sorted(expected[0])
    if table.column_names != columns:
        return [f"{where}: columns {table.column_names}, expected {columns}"]
    rows = sorted(table.to_pylist(), key=lambda r: r["id"])
    if len(rows) != len(expected):
        return [f"{where}: {len(rows)} rows, expected {len(expected)}"]
    bad = sum(1 for a, b in zip(rows, expected) if a != b)
    return [f"{where}: {bad} rows differ from the flattened document"] if bad else []


def check_query(spark_df, oracle_sql: str, con) -> list[str]:
    from tests.oracle_harness import compare

    return compare(spark_df, con.execute(oracle_sql).fetchdf())
