"""Fail-soft pipeline orchestration — parity with the reference's
``main()`` loop (/root/reference/src/main.rs:25-119).

The reference iterates api -> group -> route, downloading each
endpoint to a staging JSON, transforming it, and writing one parquet
per endpoint under ``data/{api}/{group}/{key}.parquet``; a download or
transform failure logs and advances (fail-soft, main.rs:89-104) while
config errors are fatal at load. We reproduce that control flow in the
Python driver and hand all data work to Spark.

Scale posture: endpoint fan-out parallelizes with a thread pool
(network-bound, GIL-friendly), and each endpoint downloads through a
session of its own from ``session_factory``; each endpoint's
transform is an independent Spark job, so a 1000-endpoint spec simply
becomes 1000 small plans the scheduler interleaves. Staging can point
at any Hadoop-visible filesystem (local, HDFS, s3a) — the driver only
shuttles paths, never data.
"""

from __future__ import annotations

import logging
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from rust_etl_spark.config import Config, is_templated, resolve_endpoint_url
from rust_etl_spark.extract import fetch_data_to_disk, make_session
from rust_etl_spark.operators.normalize import TECHNICAL_COLUMNS
from rust_etl_spark.sources.json_envelope import process_json_document, write_parquet

log = logging.getLogger("rust_etl_spark.pipeline")


@dataclass
class EndpointResult:
    api: str
    group: str
    key: str
    url: str
    status: str  # "ok" | "skipped_templated" | "download_error" | "transform_error"
    seconds: float = 0.0
    bytes_downloaded: int = 0
    error: str | None = None


@dataclass
class PipelineReport:
    results: list[EndpointResult] = field(default_factory=list)
    total_seconds: float = 0.0

    @property
    def ok(self) -> list[EndpointResult]:
        return [r for r in self.results if r.status == "ok"]


def _endpoints(config: Config):
    for api_name, api in config.apis.items():
        for group_name, group in api.groups.items():
            for key in group.routes:
                yield api_name, group_name, group, key


def run_pipeline(
    spark: SparkSession,
    config: Config,
    *,
    data_dir: str = "data",
    staging_dir: str | None = None,
    max_workers: int = 8,
    fetcher=fetch_data_to_disk,
    session_factory=make_session,
) -> PipelineReport:
    """Extract + transform + load every endpoint, fail-soft per route.

    ``fetcher``/``session_factory`` are injectable so tests (and
    offline runs) can stage local fixture files instead of real HTTP.
    """
    t_start = time.perf_counter()
    os.makedirs(data_dir, exist_ok=True)  # main.rs:31-34
    staging_dir = staging_dir or os.path.join(data_dir, "_staging")
    report = PipelineReport()

    def one(args) -> EndpointResult:
        api_name, group_name, group, key = args
        url = resolve_endpoint_url(config, api_name, group_name, key)
        res = EndpointResult(api=api_name, group=group_name, key=key, url=url, status="ok")
        if is_templated(url):  # main.rs:79-81
            res.status = "skipped_templated"
            return res
        t0 = time.perf_counter()
        staged = os.path.join(staging_dir, api_name, group_name, f"{key}_temp.json")
        dest = os.path.join(data_dir, api_name, group_name, f"{key}.parquet")
        try:
            session = session_factory()
            res.bytes_downloaded = fetcher(session, url, staged)
        except Exception as e:  # main.rs:89-92 fail-soft on download
            res.status, res.error = "download_error", str(e)
            log.warning("download failed for %s: %s", url, e)
        else:
            try:
                df = process_json_document(
                    spark,
                    staged,
                    root_path=group.root_path,
                    technical_columns=group.technical_columns or TECHNICAL_COLUMNS,
                )
                write_parquet(df, dest)
                os.remove(staged)  # processor.rs:94 — only after a good write
            except Exception as e:  # main.rs:102-104 fail-soft on transform
                # Any engine/Spark error degrades this endpoint only — the
                # reference's From impls funnel all library errors into
                # ProcessorError the same way (impl_errors.rs:18-85).
                res.status, res.error = "transform_error", str(e)
                log.warning("transform failed for %s: %s", url, e)
        res.seconds = time.perf_counter() - t0
        return res

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        report.results = list(pool.map(one, _endpoints(config)))
    report.total_seconds = time.perf_counter() - t_start  # main.rs:111-115
    return report
