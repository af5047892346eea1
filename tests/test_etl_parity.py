"""Reference-parity tests for the transform core + pipeline
(FIXTURES.md §4 envelope variants; processor.rs / main.rs semantics)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.errors import PySparkException

from rust_etl_spark import pipeline
from rust_etl_spark.config import Config, is_templated, join_urls, resolve_endpoint_url
from rust_etl_spark.errors import ConfigError, EmptyResponseError, SchemaError
from rust_etl_spark.operators.decode import decode_codepoint_arrays
from rust_etl_spark.operators.normalize import flatten_struct
from rust_etl_spark.pipeline import run_pipeline
from rust_etl_spark.sources.json_envelope import process_json_document

ENVELOPE = {
    "resultado": [
        {"id": 1, "nome": "alpha", "codigo": [104, 105]},
        {"id": 2, "nome": "beta", "codigo": [111, 107]},
    ],
    "totalRegistros": 2,
    "totalPaginas": 1,
    "paginasRestantes": 0,
    "links": ["self"],
    "dataHoraConsulta": "2026-08-13T00:00:00",
    "timeZoneAtual": "UTC",
    "dataHoraAtualizacao": "2026-08-13T00:00:00",
}


def _write(tmp_path, name, obj) -> str:
    p = os.path.join(tmp_path, name)
    with open(p, "w") as f:
        json.dump(obj, f)
    return p


def _run_one_route(spark, tmp_path, doc):
    """run_pipeline over one route whose offline fetch stages ``doc``."""
    cfg = Config.from_dict({"portal": {"base_url": "https://api.example.gov",
                                       "contracts": {"root_path": "resultado", "one": "/one"}}})

    def fetch(session, url, dest, **kw):
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        return os.path.getsize(_write(os.path.dirname(dest), os.path.basename(dest), doc))

    return run_pipeline(spark, cfg, data_dir=str(tmp_path / "data"), fetcher=fetch,
                        session_factory=lambda: None, max_workers=1)


def test_envelope_normalization(spark, tmp_path):
    """Explode resultado, flatten structs, drop the 7 technical
    columns, decode codepoint arrays (processor.rs:38-123)."""
    path = _write(str(tmp_path), "env.json", ENVELOPE)
    df = process_json_document(spark, path, root_path="resultado")
    rows = {r["id"]: r for r in df.collect()}
    assert sorted(df.columns) == ["codigo", "id", "nome"]
    assert rows[1]["codigo"] == "hi" and rows[2]["codigo"] == "ok"
    assert rows[1]["nome"] == "alpha"


def test_root_level_list(spark, tmp_path):
    """No envelope: a root-level record array, root_path absent
    (models.rs:40-42)."""
    path = _write(str(tmp_path), "root.json", [{"a": 1, "b": "x"}, {"a": 2, "b": "y"}])
    df = process_json_document(spark, path, root_path=None)
    assert df.count() == 2 and sorted(df.columns) == ["a", "b"]


def test_struct_root_path(spark, tmp_path):
    """root_path holding a single struct -> flattened in place
    (processor.rs:48-49)."""
    path = _write(str(tmp_path), "struct.json", {"resultado": {"id": 7, "nome": "gamma"}, "totalPaginas": 9})
    df = process_json_document(spark, path, root_path="resultado")
    row = df.collect()[0]
    assert row["id"] == 7 and row["nome"] == "gamma"
    assert "totalPaginas" not in df.columns


@pytest.mark.parametrize(
    "text",
    [
        # zero records: the multiLine read infers no columns
        pytest.param("[]", id="empty_array"),
        pytest.param(" [ ] ", id="padded_empty_array"),
        pytest.param("\n", id="blank"),
        # rows with no columns, or none left after drop_technical
        pytest.param("[[]]", id="nested_empty_array"),
        pytest.param("[null]", id="null_record"),
        pytest.param("{}", id="empty_object"),
        pytest.param("[{}]", id="empty_record"),
        pytest.param('{"totalRegistros": 0}', id="technical_only"),
    ],
)
def test_empty_table_refuses_output(spark, tmp_path, text):
    """Empty input table -> SchemaError, nothing written
    (processor.rs:31-35, 'fail-soft rule 2')."""
    path = os.path.join(str(tmp_path), "empty.json")
    with open(path, "w") as f:
        f.write(text)
    with pytest.raises(SchemaError):
        process_json_document(spark, path, root_path=None)


def test_non_ascii_codepoint_decode(spark, tmp_path):
    """UTF-8 multi-byte fidelity + UInt8 wrap parity
    (processor.rs:110-117: Int64 -> UInt8 (wrapping) -> Binary -> String)."""
    df = spark.createDataFrame(
        [(1, [0xC3, 0xA9]), (2, [0x68 + 256, 0x69]), (3, None), (4, [])],
        "id long, codigo array<bigint>",
    )
    out = {r["id"]: r["codigo"] for r in decode_codepoint_arrays(df).collect()}
    assert out[1] == "é"          # multi-byte UTF-8 assembled from bytes
    assert out[2] == "hi"         # 0x168 wraps to 0x68 ('h') like UInt8 cast
    assert out[3] is None
    assert out[4] == ""

    # A null or NaN element fails the query, as int(None) / int(nan) do.
    for ddl, arr in (("bigint", [104, None]), ("double", [104.0, float("nan")])):
        bad = spark.createDataFrame([(arr,)], f"codigo array<{ddl}>")
        with pytest.raises(PySparkException, match="non-finite codepoint"):
            decode_codepoint_arrays(bad).collect()

    # ... which the pipeline reports as a transform error for that endpoint.
    report = _run_one_route(spark, tmp_path, dict(ENVELOPE, resultado=[{"id": 1, "codigo": [104, None]}]))
    assert [r.status for r in report.results] == ["transform_error"]


def test_flatten_struct_collision_raises(spark):
    df = spark.createDataFrame([(1, (2, "x"))], "a long, s struct<a:long, b:string>")
    with pytest.raises(SchemaError):
        flatten_struct(df, "s")


# ------------------------------------------------------------- config

TOML_OK = """
[portal]
base_url = "https://api.example.gov"

[portal.contracts]
root_path = "resultado"
list = "/contracts"
by_id = "/contracts/{id}"
"""


def test_config_load_and_resolve(tmp_path):
    p = tmp_path / "endpoints.toml"
    p.write_text(TOML_OK)
    cfg = Config.load_from_file(str(p))
    assert cfg.apis["portal"].groups["contracts"].root_path == "resultado"
    url = resolve_endpoint_url(cfg, "portal", "contracts", "list")
    assert url == "https://api.example.gov/contracts"
    assert is_templated(resolve_endpoint_url(cfg, "portal", "contracts", "by_id"))
    assert join_urls("https://x/", "/y") == "https://x/y"


@pytest.mark.parametrize(
    "raw",
    [
        {},  # no apis
        {"a": {"g": {"r": "/r"}}},  # missing base_url
        {"a": {"base_url": "http://insecure", "g": {"r": "/r"}}},  # not https
        {"a": {"base_url": "https://x", "g": {}}},  # no routes
    ],
)
def test_config_validation_fails_fast(raw):
    with pytest.raises(ConfigError):
        Config.from_dict(raw)


# ----------------------------------------------------------- pipeline

def test_pipeline_fail_soft_end_to_end(spark, tmp_path):
    """Offline pipeline run: one good endpoint, one 'empty response',
    one templated skip — the loop must advance past failures
    (main.rs:52-108) and write parquet only for the good one."""
    cfg = Config.from_dict(
        {
            "portal": {
                "base_url": "https://api.example.gov",
                "contracts": {
                    "root_path": "resultado",
                    "good": "/contracts",
                    "empty": "/empty",
                    "by_id": "/contracts/{id}",
                },
            }
        }
    )

    def fake_fetch(session, url, dest, **kw):
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        if url.endswith("/empty"):
            raise EmptyResponseError(f"zero-byte response from {url!r}")
        with open(dest, "w") as f:
            json.dump(ENVELOPE, f)
        return os.path.getsize(dest)

    report = run_pipeline(
        spark,
        cfg,
        data_dir=str(tmp_path / "data"),
        fetcher=fake_fetch,
        session_factory=lambda: None,
        max_workers=1,
    )
    by_key = {r.key: r for r in report.results}
    assert by_key["good"].status == "ok"
    assert by_key["empty"].status == "download_error"
    assert by_key["empty"].seconds > 0  # failed endpoints are timed too
    assert by_key["by_id"].status == "skipped_templated"
    out = str(tmp_path / "data" / "portal" / "contracts" / "good.parquet")
    got = spark.read.parquet(out)
    assert sorted(got.columns) == ["codigo", "id", "nome"]
    assert got.count() == 2
    # staging removed after successful write (processor.rs:94)
    assert not os.path.exists(str(tmp_path / "data" / "_staging" / "portal" / "contracts" / "good_temp.json"))


def test_envelope_runs_two_jvm_only_jobs(spark, tmp_path, monkeypatch):
    """One ok envelope costs exactly two Spark jobs — schema inference
    and the parquet write: the empty guard reads only the schema and
    the decode is a JVM expression, so no Python worker runs."""
    plans = []
    write = pipeline.write_parquet

    def planned_write(df, dest):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        write(df, dest)

    monkeypatch.setattr(pipeline, "write_parquet", planned_write)
    sc = spark.sparkContext
    sc.setJobGroup("envelope-job-count", "one ok envelope")
    try:
        report = _run_one_route(spark, tmp_path, ENVELOPE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker reads listener state
    assert [r.status for r in report.results] == ["ok"]
    assert len(sc.statusTracker().getJobIdsForGroup("envelope-job-count")) == 2
    assert len(plans) == 1
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plans[0]
