"""The benchmark's workloads.

Each runs closed-loop from this one process: a pass starts when the
previous one has finished, and a run repeats passes until ``seconds`` of
timed passes have been measured (at least ``MIN_PASSES``), after
``WARMUP_PASSES`` untimed ones. Correctness gates check every pass's
outputs (etl_envelopes) or one run of each query (query_mix) outside the
timed interval.

* ``etl_envelopes``: the reference's job. A generated envelope corpus is
  served over loopback HTTPS and run through ``pipeline.run_pipeline``
  with the real ``extract.fetch_data_to_disk``. One operation is one
  endpoint.
* ``query_mix``: catalog queries (``plans.catalog.get(name).fn``) forced
  through a noop sink over a generated parquet tier. One operation is
  one query.

With ``trace`` on, plain and traced passes alternate; spans and
status-store metrics of the traced passes give the per-layer metrics,
and the wall ratio of the two kinds of pass is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from dataclasses import dataclass, field

from perfbench import checks, gen, procstat
from perfbench.sparkstats import StatusReader, busy_seconds, pair_counts, plan_counts
from perfbench.trace import Tracer

MIN_PASSES = 3
#: Untimed passes before the timed ones, per workload: the JIT is still
#: compiling the engine's hot paths for the first few, and their times
#: fall pass by pass. An envelope pass is many small jobs and warms slower;
#: query_mix has already run each query once in its correctness gate.
WARMUP_PASSES = {"etl_envelopes": 4, "query_mix": 2}

#: etl_envelopes corpus: good endpoints, and the size ladder of their documents.
ENVELOPE_OK = 8
ENVELOPE_MIN_BYTES = 2_000
ENVELOPE_MAX_BYTES = 1_000_000

#: query_mix tier: replicas of the sf0.01 fixture (gen.build_tier), and
#: the queries timed: a cross-section of bench.py's HEADLINE set covering
#: scan, exchange, aggregate, broadcast join, window, near-dup pair search
#: and a Python/Arrow kernel.
TIER_REPLICAS = 3
QUERIES = (
    "q3_shipping_priority",
    "dedup_ngram_jaccard",
    "similarity_ann_lsh",
)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0..1) of ``values``."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


@dataclass
class Pass:
    wall_s: float
    cpu_s: float
    op_seconds: dict[str, float]  # operation id -> latency
    start: float
    end: float
    traced: bool
    stolen: float = 0.0  # procstat.stolen_share over the pass
    peak_rss_mb: float = 0.0
    root: int | None = None
    extra: dict = field(default_factory=dict)


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    fail_soft: int = 0
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    passes: list[dict] = field(default_factory=list)  # wall, CPU, RSS and steal of each timed pass
    phases: dict[str, float] = field(default_factory=dict)
    tracer: Tracer | None = None


class Session:
    """The engine session of one run. Its one cold start (JVM launch,
    session configuration and the first completed job) is the run's
    set-up time."""

    def __init__(self, work: str):
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={work} -Djava.io.tmpdir={work} -XX:-UsePerfData"),
            "spark.ui.showConsoleProgress": "false",
        }
        self.start_s = 0.0  # seconds, with the stolen share taken out
        self.raw_start_s = 0.0
        self.spark = None

    def start(self):
        from rust_etl_spark.session import get_spark

        ticks, t0 = procstat.host_ticks(), time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=self.conf)
        self.spark.range(1000).selectExpr("sum(id)").collect()
        self.raw_start_s = time.perf_counter() - t0
        self.start_s = self.raw_start_s * (1.0 - procstat.stolen_share(ticks, procstat.host_ticks()))
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        """Stop the session, then the JVM (it exits when its stdin
        closes) and wait for it and its Python workers to end."""
        from pyspark import SparkContext

        children = procstat.tree_pids()[1:]
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        procstat.wait_for_exit(children, timeout=30)


def _timed_passes(seconds: float, trace: bool, one_pass) -> list[Pass]:
    """Repeat ``one_pass(traced)`` closed-loop for ``seconds``; with
    ``trace`` alternate plain and traced passes (at least two of each)."""
    passes: list[Pass] = []
    t_end = time.perf_counter() + seconds
    while True:
        # plain, traced, traced, plain, ...: the order cancels a linear
        # warm-up trend out of the tracing overhead.
        traced = trace and len(passes) % 4 in (1, 2)
        with procstat.PeakRss() as rss:
            ticks, cpu0 = procstat.host_ticks(), procstat.tree_cpu_seconds()
            t0, w0 = time.perf_counter(), time.time()
            ops, extra, root = one_pass(traced)
            wall = time.perf_counter() - t0
            cpu = procstat.tree_cpu_seconds() - cpu0
            stolen = procstat.stolen_share(ticks, procstat.host_ticks())
        passes.append(Pass(wall, cpu, ops, w0, w0 + wall, traced, stolen, rss.peak_mb, root, extra))
        if len(passes) >= (4 if trace else MIN_PASSES) and time.perf_counter() >= t_end:
            return passes


def _end_to_end(passes: list[Pass], input_mb: float, session: Session) -> dict:
    """Timings are taken net of hypervisor steal (scaled by one minus the
    pass's stolen share) and from each run's fastest timed pass, and each
    operation's fastest timed run, as in bench.py's min-of-3: on a shared
    host the steal comes and goes, and both remove most of what it adds.
    CPU time excludes steal already and takes the pass with the least;
    ``peak_rss_mb`` takes the median pass. Set-up is the one cold start
    of the session."""
    plain = [p for p in passes if not p.traced]
    wall = min(p.wall_s * (1.0 - p.stolen) for p in plain)
    ops = [min(p.op_seconds[k] * (1.0 - p.stolen) for p in plain if k in p.op_seconds)
           for k in {k for p in plain for k in p.op_seconds}]
    return {
        "setup_s": (session.start_s, "s"),
        "setup_raw_s": (session.raw_start_s, "s"),
        "wall_s": (wall, "s"),
        "wall_raw_s": (min(p.wall_s for p in plain), "s"),
        "cpu_s": (min(p.cpu_s for p in plain), "s"),
        "input_mb_per_s": (input_mb / wall, "MB/s"),
        "peak_rss_mb": (statistics.median(p.peak_rss_mb for p in plain), "MB"),
        "op_p50_s": (percentile(ops, 0.5), "s"),
        "op_p90_s": (percentile(ops, 0.9), "s"),
    }


def _pass_summary(passes: list[Pass]) -> list[dict]:
    return [{"wall_s": p.wall_s, "cpu_s": p.cpu_s, "rss_mb": p.peak_rss_mb, "stolen": p.stolen,
             "traced": p.traced} for p in passes]


def _exec_layer(reader: StatusReader, groups: list[str], start: float, end: float, cores: int) -> dict:
    """Stage and plan-node metrics of the jobs of ``groups`` in one pass."""
    jobs = reader.jobs_for_groups(groups)
    st = reader.stage_totals(jobs)
    wall = end - start
    return {
        "exec.jobs": st.jobs,
        "exec.tasks": st.tasks,
        "exec.task_cpu_s": st.task_cpu_s,
        "exec.task_run_s": st.task_run_s,
        "exec.slot_busy_share": st.task_run_s / (cores * wall),
        "exec.idle_s": wall - busy_seconds(st.intervals, start, end),
        "exec.gc_s": st.gc_s,
        "exec.spill_mb": st.spill_mb,
        "exec.shuffle_write_mb": st.shuffle_write_mb,
        "exec.shuffle_read_mb": st.shuffle_read_mb,
        "exec.shuffle_fetch_wait_s": st.shuffle_fetch_wait_s,
        **plan_counts(reader.executions(jobs)),
    }


def _median_layers(per_pass: list[dict]) -> dict:
    return {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}


# --------------------------------------------------------------------------
# etl_envelopes
# --------------------------------------------------------------------------

def run_etl_envelopes(work: str, seed: int, seconds: float, trace: bool, cores: int) -> Outcome:
    from rust_etl_spark import pipeline
    from rust_etl_spark.config import Config
    from rust_etl_spark.extract import fetch_data_to_disk
    from rust_etl_spark.sources import json_envelope

    from perfbench.server import EnvelopeServer

    corpus = os.path.join(work, "corpus")
    manifest = gen.build_envelopes(corpus, seed, ENVELOPE_OK, ENVELOPE_MIN_BYTES, ENVELOPE_MAX_BYTES)
    by_key = {(e["api"], e["group"], e["key"]): e for e in manifest["endpoints"]}
    input_mb = manifest["input_bytes"] / 1e6
    workers = min(4, cores)
    out = Outcome()

    session = Session(work)
    try:
        t0 = time.perf_counter()
        spark = session.start()
        server = EnvelopeServer(corpus, manifest, threads=workers)
        with server as base_url:
            with open(os.path.join(corpus, "endpoints.toml.in")) as f:
                toml = f.read().replace("@BASE@", base_url)
            with open(os.path.join(corpus, "endpoints.toml"), "w") as f:
                f.write(toml)
            config = Config.load_from_file(os.path.join(corpus, "endpoints.toml"))
            tracer = Tracer(spark.sparkContext)
            runs: list[tuple[str, str, object]] = []

            def one_pass(traced: bool, label: str | None = None):
                label = label or f"p{len(runs)}"
                data_dir = os.path.join(work, "out", label)
                staging = os.path.join(work, "staging", label)
                with contextlib.ExitStack() as stack:
                    root = None
                    fetcher = fetch_data_to_disk
                    if traced:
                        root = stack.enter_context(tracer.pass_span(label)).span_id
                        stack.callback(tracer.unwrap)
                        tracer.wrap(json_envelope, "read_json_document", "sources.json_read")
                        tracer.wrap(json_envelope, "require_nonempty", "operators.guard")
                        for fn in ("normalize_envelope", "drop_technical", "decode_codepoint_arrays"):
                            tracer.wrap(json_envelope, fn, "operators.normalize")
                        tracer.wrap(pipeline, "process_json_document", "sources.process")
                        tracer.wrap(pipeline, "write_parquet", "sinks.write")
                        fetcher = _traced_fetcher(tracer, fetch_data_to_disk)
                    report = pipeline.run_pipeline(
                        spark, config, data_dir=data_dir, staging_dir=staging,
                        max_workers=workers, fetcher=fetcher, session_factory=server.make_session)
                runs.append((data_dir, staging, report))
                ops = {f"{r.api}.{r.group}.{r.key}": r.seconds for r in report.results if r.status == "ok"}
                busy = sum(r.seconds for r in report.results)
                return ops, {"endpoint_s": busy, "data_dir": data_dir}, root

            t1 = time.perf_counter()
            for i in range(WARMUP_PASSES["etl_envelopes"]):
                one_pass(False, f"warmup{i}")
            t2 = time.perf_counter()
            passes = _timed_passes(seconds, trace, one_pass)
            t3 = time.perf_counter()
            out.phases = {"setup": t1 - t0, "warmup": t2 - t1, "timed": t3 - t2}

        for data_dir, staging, report in runs:
            for r in report.results:
                ep = by_key[(r.api, r.group, r.key)]
                errs = checks.check_endpoint(ep, r, corpus, data_dir, staging)
                out.errors += errs
                out.failed += bool(errs)
                out.fail_soft += r.status != "ok" and not errs
        out.attempted = sum(len(rep.results) for _, _, rep in runs)
        out.metrics = _end_to_end(passes, input_mb, session)
        out.passes = _pass_summary(passes)
        if trace:
            out.tracer = tracer
            out.metrics.update(_etl_layers(spark, tracer, passes, manifest, workers, cores, session))
    finally:
        session.stop()
    return out


def _no_span(*args, **kwargs):
    return contextlib.nullcontext()


def _traced_fetcher(tracer: Tracer, fetch):
    def fetcher(http, url, dest, **kwargs):
        tracer.op = url
        with tracer.span("extract.fetch"):
            return fetch(http, url, dest, **kwargs)
    return fetcher


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def _etl_layers(spark, tracer, passes, manifest, workers, cores, session) -> dict:
    reader = StatusReader(spark)
    per_pass = []
    for p in (p for p in passes if p.traced):
        spans = tracer.descendants(p.root)
        fetch = [s.seconds for s in spans if s.name == "extract.fetch"]
        layers = _exec_layer(reader, [s.group for s in spans], p.start, p.end, cores)
        files, out_bytes = _dir_stats(p.extra["data_dir"])
        layers.update({
            "extract.fetch_s": sum(fetch),
            "extract.fetch_p90_s": percentile(fetch, 0.9),
            "extract.failed": sum(1 for s in spans if s.name == "extract.fetch" and s.error),
            "pipeline.worker_busy_share": p.extra["endpoint_s"] / (workers * p.wall_s),
            "sources.json_read_s": sum(s.seconds for s in spans if s.name == "sources.json_read"),
            "operators.guard_s": sum(s.seconds for s in spans if s.name == "operators.guard"),
            "operators.normalize_s": sum(s.seconds for s in spans if s.name == "operators.normalize"),
            "sinks.write_s": sum(s.seconds for s in spans if s.name == "sinks.write"),
            "sinks.files": files,
            "sinks.out_bytes_per_in_byte": out_bytes / manifest["input_bytes"],
        })
        per_pass.append(layers)
    m = _median_layers(per_pass)
    m.update(_common_layers(session, passes))
    return {k: (v, unit_of(k)) for k, v in m.items()}


def _common_layers(session: Session, passes: list[Pass]) -> dict:
    plain = statistics.median(p.wall_s for p in passes if not p.traced)
    traced = statistics.median(p.wall_s for p in passes if p.traced)
    return {"session.start_s": session.start_s, "trace.overhead_share": traced / plain - 1.0}


# --------------------------------------------------------------------------
# query_mix
# --------------------------------------------------------------------------

def run_query_mix(work: str, seed: int, seconds: float, trace: bool, cores: int) -> Outcome:
    from rust_etl_spark.plans import catalog

    from tests.oracle_harness import duckdb_connection

    tier = os.path.join(work, "tier")
    input_mb = gen.write_tier(tier, seed, TIER_REPLICAS) / 1e6
    queries = [catalog.get(n) for n in QUERIES]
    out = Outcome()
    session = Session(work)
    try:
        t0 = time.perf_counter()
        spark = session.start()
        tracer = Tracer(spark.sparkContext)
        t1 = time.perf_counter()
        con = duckdb_connection(tier)
        try:
            for q in queries:
                errs = checks.check_query(q.fn(spark, tier), q.oracle, con)
                out.errors += [f"{q.name}: {e}" for e in errs]
                out.failed += bool(errs)
        finally:
            con.close()
        out.attempted = len(queries)
        t2 = time.perf_counter()

        def one_pass(traced: bool):
            span = tracer.span if traced else _no_span
            ops = {}
            with tracer.pass_span("pass") if traced else contextlib.nullcontext() as root:
                for q in queries:
                    t = time.perf_counter()
                    with span("query", op=q.name):
                        with span("plans.build"):
                            df = q.fn(spark, tier)
                        with span("query.action"):
                            df.write.format("noop").mode("overwrite").save()
                    ops[q.name] = time.perf_counter() - t
            return ops, {}, root.span_id if traced else None

        for _ in range(WARMUP_PASSES["query_mix"]):
            one_pass(False)
        t3 = time.perf_counter()
        passes = _timed_passes(seconds, trace, one_pass)
        t4 = time.perf_counter()
        out.phases = {"setup": t1 - t0, "check": t2 - t1, "warmup": t3 - t2, "timed": t4 - t3}
        out.attempted += sum(len(p.op_seconds) for p in passes)
        out.metrics = _end_to_end(passes, input_mb, session)
        out.passes = _pass_summary(passes)
        if trace:
            out.tracer = tracer
            out.metrics.update(_query_layers(spark, tracer, passes, cores, session))
    finally:
        session.stop()
    return out


def _query_layers(spark, tracer, passes, cores, session) -> dict:
    reader = StatusReader(spark)
    per_pass = []
    for p in (p for p in passes if p.traced):
        spans = tracer.descendants(p.root)
        layers = _exec_layer(reader, [s.group for s in spans], p.start, p.end, cores)
        builds = [s for s in spans if s.name == "plans.build"]
        dedup_groups = [s.group for s in spans if s.name != "query" and s.op.startswith("dedup_")]
        candidates, verified = pair_counts(reader.executions(reader.jobs_for_groups(dedup_groups)))
        layers.update({
            "plans.build_s": sum(s.seconds for s in builds),
            "plans.eager_jobs": len(reader.jobs_for_groups([s.group for s in builds])),
            "operators.candidate_pairs": candidates,
            "operators.pair_yield": verified / candidates if candidates else 0.0,
        })
        for s in spans:
            if s.name == "query":
                layers[f"query.{s.op}.s"] = s.seconds
        per_pass.append(layers)
    m = _median_layers(per_pass)
    m.update(_common_layers(session, passes))
    return {k: (v, unit_of(k)) for k, v in m.items()}


# --------------------------------------------------------------------------
# metric names
# --------------------------------------------------------------------------

def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share") or name.endswith("_yield") or name.endswith("_per_in_byte"):
        return "ratio"
    return "count"


#: Per-layer metric names: every workload reports all of them (a layer a
#: workload does not touch reads 0).
LAYER_METRICS = (
    "session.start_s",
    "extract.fetch_s", "extract.fetch_p90_s", "extract.failed",
    "pipeline.worker_busy_share",
    "sources.json_read_s", "sources.scan_s", "sources.scan_mb", "sources.scan_rows", "sources.scan_count",
    "operators.guard_s", "operators.normalize_s",
    "operators.python_eval_s", "operators.python_start_s", "operators.python_rows",
    "operators.candidate_pairs", "operators.pair_yield",
    "plans.build_s", "plans.eager_jobs", "plans.exchanges", "plans.broadcast_joins",
    "plans.sort_merge_joins", "plans.python_nodes",
    *(f"query.{q}.s" for q in QUERIES),
    "exec.jobs", "exec.tasks", "exec.task_cpu_s", "exec.task_run_s", "exec.slot_busy_share",
    "exec.idle_s", "exec.gc_s", "exec.spill_mb", "exec.peak_task_mem_mb",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.shuffle_fetch_wait_s",
    "exec.agg_s", "exec.sort_s", "exec.join_build_s",
    "sinks.write_s", "sinks.files", "sinks.out_bytes_per_in_byte",
    "trace.overhead_share",
)

#: End-to-end metric names and units, reported with tracing off; each
#: has a regression bound in BENCHMARK.json.
END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "op_p50_s": "s"}
#: Reported in the full record only: ``input_mb_per_s`` is ``wall_s``
#: restated, ``op_p90_s`` rests on too few operations per run to hold a
#: regression bound on a shared host, and the ``*_raw_s`` figures are
#: ``wall_s`` and ``setup_s`` with the hypervisor's steal left in.
RECORD_ONLY = {"input_mb_per_s": "MB/s", "op_p90_s": "s", "wall_raw_s": "s", "setup_raw_s": "s"}

WORKLOADS = {"etl_envelopes": run_etl_envelopes, "query_mix": run_query_mix}
