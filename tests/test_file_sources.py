"""Round-trip coverage for the CSV / JSON-lines / ORC sources."""

from __future__ import annotations

import pytest

from rust_etl_spark.errors import EngineError
from rust_etl_spark.sources import load_table
from rust_etl_spark.sources.files import (
    read_avro,
    read_csv,
    read_jsonl,
    read_orc,
    write_csv,
    write_jsonl,
    write_orc,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def nation(spark):
    return load_table(spark, SF, "nation")


def _assert_same_rows(a, b, key):
    ra = sorted(tuple(r) for r in a.select(*key).collect())
    rb = sorted(tuple(r) for r in b.select(*key).collect())
    assert ra == rb and len(ra) > 0


def test_csv_roundtrip(spark, nation, tmp_path):
    p = str(tmp_path / "nation_csv")
    write_csv(nation, p)
    back = read_csv(spark, p, "n_nationkey int, n_name string, n_regionkey int")
    _assert_same_rows(nation, back, ["n_nationkey", "n_name", "n_regionkey"])


def test_csv_infer_fallback(spark, nation, tmp_path):
    p = str(tmp_path / "nation_csv2")
    write_csv(nation, p)
    back = read_csv(spark, p, None)  # inference path
    assert back.count() == nation.count()


def test_jsonl_roundtrip(spark, nation, tmp_path):
    p = str(tmp_path / "nation_jsonl")
    write_jsonl(nation, p)
    back = read_jsonl(spark, p, "n_nationkey int, n_name string, n_regionkey int")
    _assert_same_rows(nation, back, ["n_nationkey", "n_name", "n_regionkey"])


def test_orc_roundtrip(spark, nation, tmp_path):
    p = str(tmp_path / "nation_orc")
    write_orc(nation, p)
    _assert_same_rows(nation, read_orc(spark, p), ["n_nationkey", "n_name", "n_regionkey"])


def test_jsonl_permissive_quarantines_corrupt_rows(spark, tmp_path):
    """Malformed lines must land in _corrupt_record, not fail the job."""
    from rust_etl_spark.sources.files import read_jsonl_permissive

    p = tmp_path / "dirty.jsonl"
    p.write_text(
        '{"id": 1, "name": "ok"}\n'
        "{broken json!!\n"
        '{"id": 2, "name": "also ok"}\n'
        '["wrong", "shape"]\n'
    )
    df = read_jsonl_permissive(spark, str(p), "id long, name string")
    # caching avoids the known Spark quirk where a query over ONLY the
    # corrupt column on an uncached permissive read is disallowed
    df = df.cache()
    good = df.filter(df["_corrupt_record"].isNull())
    bad = df.filter(df["_corrupt_record"].isNotNull())
    assert {r["id"] for r in good.collect()} == {1, 2}
    assert bad.count() == 2
    assert any("broken" in r["_corrupt_record"] for r in bad.collect())


def test_parquet_schema_evolution_merges(spark, tmp_path):
    """Files written with widening schemas must read as one table under
    mergeSchema, with missing columns NULL-filled."""
    d = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(f"{d}/v1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(f"{d}/v2")
    df = spark.read.option("mergeSchema", True).option("recursiveFileLookup", True).parquet(d)
    assert set(df.columns) == {"id", "name", "score"}
    rows = {r["id"]: (r["name"], r["score"]) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_avro_gated(spark, tmp_path):
    with pytest.raises(EngineError, match="spark-avro"):
        read_avro(spark, str(tmp_path / "nope.avro"))


# --- fixture-schema canary (round-5; VERDICT r4 item 4) -----------------
#
# Round 4's driver regenerated the fixtures with events.ts stored as
# timestamp[us] instead of TIMESTAMP(NANOS), and the loader's nanos-only
# branch silently lost ts_ns — 5 graded queries + the bench died. This
# canary pins the loader's post-normalization contract on the *actual*
# on-disk fixtures (every scale dir) so any future physical-type drift
# fails the first local pytest run, not the driver's grading run.

FIXTURE_DIRS = [
    d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
    if __import__("os").path.isdir(d)
]


@pytest.mark.parametrize("sf_dir_path", FIXTURE_DIRS)
def test_events_loader_contract_on_fixtures(spark, sf_dir_path):
    from pyspark.sql import types as T

    ev = load_table(spark, sf_dir_path, "events")
    assert isinstance(ev.schema["ts_ns"].dataType, T.LongType)
    assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
    row = ev.selectExpr(
        "count(*) AS n",
        "count(ts_ns) AS n_ns",
        "sum(cast(unix_micros(ts) != ts_ns div 1000 AS bigint)) AS drift",
    ).collect()[0]
    assert row["n"] > 0 and row["n_ns"] == row["n"] and row["drift"] == 0


def test_normalize_event_time_all_vintages(spark):
    """The normalizer must yield the same (ts_ns, ts) contract whether
    the scan produced a long (nanos vintage), TIMESTAMP_NTZ (micros
    vintage), or TIMESTAMP (LTZ)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from rust_etl_spark.sources import normalize_event_time

    base_us = 1_700_000_000_123_456  # arbitrary epoch micros
    long_df = spark.createDataFrame([(1, base_us * 1000)], "event_id bigint, ts bigint")
    ntz_df = spark.createDataFrame([(1,)], "event_id bigint").withColumn(
        "ts", F.expr(f"cast(timestamp_micros({base_us}) as timestamp_ntz)")
    )
    ltz_df = spark.createDataFrame([(1,)], "event_id bigint").withColumn(
        "ts", F.timestamp_micros(F.lit(base_us))
    )
    for vintage, df in (("long", long_df), ("ntz", ntz_df), ("ltz", ltz_df)):
        out = normalize_event_time(df)
        assert isinstance(out.schema["ts_ns"].dataType, T.LongType), vintage
        assert isinstance(out.schema["ts"].dataType, T.TimestampType), vintage
        row = out.selectExpr("ts_ns", "unix_micros(ts) AS us").collect()[0]
        assert row["ts_ns"] == base_us * 1000, vintage
        assert row["us"] == base_us, vintage


def test_normalize_event_time_idempotent_preserves_exact_ns(spark):
    """Re-normalizing an already-normalized frame (the bucketed-layout
    override path re-reads a materialized normalized copy) must be a
    NO-OP: re-deriving ts_ns from the microsecond ts would silently
    truncate sub-microsecond precision (round 10, shipped with the
    events layout override)."""
    from rust_etl_spark.sources import normalize_event_time

    ns = 1_700_000_000_123_456_789  # NOT a whole microsecond
    df = spark.createDataFrame([(1, ns)], "event_id bigint, ts bigint")
    once = normalize_event_time(df)
    twice = normalize_event_time(once)
    assert twice.collect()[0]["ts_ns"] == ns  # exact ns survive
    assert once.columns == twice.columns


# Full-table schema contract: every column the catalog's queries read,
# with the dtype *class* they assume (exact widths may drift harmlessly;
# a vanished column or a numeric<->string/timestamp flip is what broke
# round 4). One pytest failure here names the drifted table/column
# directly instead of surfacing as dozens of deep query errors.

_CONTRACT = {
    "region": {"r_regionkey": "int", "r_name": "str"},
    "nation": {"n_nationkey": "int", "n_name": "str", "n_regionkey": "int"},
    "customer": {"c_custkey": "int", "c_name": "str", "c_nationkey": "int",
                 "c_acctbal": "float", "c_mktsegment": "str"},
    "supplier": {"s_suppkey": "int", "s_name": "str", "s_nationkey": "int",
                 "s_acctbal": "float"},
    "part": {"p_partkey": "int", "p_name": "str", "p_brand": "str",
             "p_type": "str", "p_size": "int", "p_retailprice": "float"},
    "orders": {"o_orderkey": "int", "o_custkey": "int", "o_orderstatus": "str",
               "o_totalprice": "float", "o_orderdate": "ts",
               "o_orderpriority": "str"},
    "lineitem": {"l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
                 "l_linenumber": "int", "l_quantity": "float",
                 "l_extendedprice": "float", "l_discount": "float",
                 "l_tax": "float", "l_returnflag": "str", "l_linestatus": "str",
                 "l_shipdate": "ts"},
    "events": {"event_id": "int", "ts_ns": "int", "ts": "ts", "user_id": "int",
               "event_type": "str", "value": "float", "props": "str"},
    "documents": {"doc_id": "int", "text": "str", "lang": "str",
                  "source": "str", "n_chars": "int"},
    "embeddings": {"vec_id": "int", "embedding": "arr<float>", "label": "int"},
}


def _dtype_class(dt):
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "float"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.ArrayType):
        return f"arr<{_dtype_class(dt.elementType)}>"
    return type(dt).__name__


@pytest.mark.parametrize("sf_dir_path", FIXTURE_DIRS)
def test_fixture_schema_contract_all_tables(spark, sf_dir_path):
    problems = []
    for table, expected in _CONTRACT.items():
        schema = load_table(spark, sf_dir_path, table).schema
        have = {f.name: _dtype_class(f.dataType) for f in schema.fields}
        for col, klass in expected.items():
            if col not in have:
                problems.append(f"{sf_dir_path}/{table}.{col}: MISSING")
            elif have[col] != klass:
                problems.append(
                    f"{sf_dir_path}/{table}.{col}: {have[col]} (contract: {klass})"
                )
    assert not problems, "fixture schema drift:\n" + "\n".join(problems)
