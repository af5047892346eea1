"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import compare, gen, sparkstats, workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _digest(path: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _envelopes(tmp_path, name: str, seed: int) -> str:
    out = str(tmp_path / name)
    gen.build_envelopes(out, seed, n_ok=6, min_bytes=500, max_bytes=20_000)
    return out


def test_envelope_corpus_is_a_function_of_the_seed(tmp_path):
    a, b, c = (_envelopes(tmp_path, n, s) for n, s in (("a", 7), ("b", 7), ("c", 8)))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_tier_is_a_function_of_the_seed(tmp_path):
    dirs = {}
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        dirs[name] = str(tmp_path / name)
        gen.write_tier(dirs[name], seed, replicas=2)
    assert _digest(dirs["a"]) == _digest(dirs["b"])
    assert _digest(dirs["a"]) != _digest(dirs["c"])
    from rust_etl_spark.sources.tables import TABLES

    assert sorted(_digest(dirs["a"])) == sorted(f"{t}.parquet" for t in TABLES)


def test_tier_size_does_not_depend_on_the_seed():
    rows = [{k: t.num_rows for k, t in gen.build_tier(seed, 2).items()} for seed in (1, 2)]
    assert rows[0] == rows[1]


def test_tier_replica_zero_is_the_fixture_and_keys_stay_joined():
    fixture = gen._fixture()
    tier = gen.build_tier(5, 3)
    for name, table in tier.items():
        reps = 3 if name in gen.REPLICATED else 1
        assert table.num_rows == reps * fixture[name].num_rows
        assert table.schema.equals(fixture[name].schema)
    docs = tier["documents"].to_pandas().set_index("doc_id").sort_index()
    base = fixture["documents"].to_pandas().set_index("doc_id").sort_index()
    n = len(base)
    assert (docs.loc[: n - 1, "text"] == base["text"]).all()
    # later replicas keep each document's words, in another order
    later = docs.loc[n : 2 * n - 1, "text"].tolist()
    assert [sorted(t.split()) for t in later] == [sorted(t.split()) for t in base["text"]]
    assert later != base["text"].tolist()
    # every foreign key still finds its row, and only in its own replica
    orders = tier["orders"].to_pandas()
    li = tier["lineitem"].to_pandas()
    span = {"orders": len(fixture["orders"]), "customer": len(fixture["customer"])}
    assert set(li["l_orderkey"]) <= set(orders["o_orderkey"])
    assert set(orders["o_custkey"]) <= set(tier["customer"].to_pandas()["c_custkey"])
    assert ((orders["o_orderkey"] // span["orders"]) == (orders["o_custkey"] // span["customer"])).all()


def test_fault_manifest_covers_every_fault_kind(tmp_path):
    out = str(tmp_path / "m")
    manifest = gen.build_envelopes(out, 5, n_ok=6, min_bytes=500, max_bytes=20_000)
    eps = manifest["endpoints"]
    faults = {e["kind"]: e["status"] for e in eps if e["kind"] != "ok"}
    assert faults == gen.FAULTS
    assert sum(e["kind"] == "ok" for e in eps) == 6
    assert all(e["status"] == "ok" and e["rows"] > 0 for e in eps if e["kind"] == "ok")
    templated = next(e for e in eps if e["kind"] == "templated")
    assert "{" in templated["route"]
    http = next(e for e in eps if e["kind"] == "http_error")
    assert http["http_status"] >= 500
    zero = next(e for e in eps if e["kind"] == "zero_byte")
    assert os.path.getsize(os.path.join(out, zero["body"])) == 0
    with open(os.path.join(out, "endpoints.toml.in")) as f:
        toml = f.read()
    assert all(f'{e["key"]} = ' in toml for e in eps)


def test_size_ladder_is_log_spread():
    sizes = gen.size_ladder(5, 1_000, 16_000)
    assert sizes == [1000, 2000, 4000, 8000, 16000]


def test_expected_rows_decode_codepoints_with_byte_wrap():
    doc = {"resultado": [{"id": 1, "descricao": [104 + 256, 105], "nome": "x"}], **gen.TECHNICAL}
    assert gen.expected_rows(doc) == [{"id": 1, "descricao": "hi", "nome": "x"}]
    assert gen.decode_codepoints(list("ação".encode())) == "ação"


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == workloads.END_TO_END
    assert layers == {n: workloads.unit_of(n) for n in workloads.LAYER_METRICS}
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    for name in list(e2e) + list(layers) + [w["name"] for w in spec["workloads"]]:
        assert NAME.match(name), name
    assert len(set(e2e) | set(layers)) == len(e2e) + len(layers)


@pytest.mark.parametrize("text,expected", [
    ("1,236", (1236.0, 1236.0)),
    ("124 ms", (0.124, 0.124)),
    ("64.5 MiB", (64.5 * 2**20, 64.5 * 2**20)),
    ("total (min, med, max (stageId: taskId))\n1.0 s (14 ms, 185 ms, 639 ms (stage 4.0: task 5))", (1.0, 0.639)),
    (None, (0.0, 0.0)),
])
def test_parse_metric(text, expected):
    assert sparkstats.parse_metric(text) == pytest.approx(expected)


def test_busy_seconds_unions_and_clips():
    assert sparkstats.busy_seconds([(0, 2), (1, 3), (5, 6), (9, 20)], 0.5, 10) == pytest.approx(2.5 + 1 + 1)


def test_percentile():
    assert workloads.percentile([4, 1, 3, 2], 0.5) == 2.5
    assert workloads.percentile(list(range(11)), 0.9) == pytest.approx(9.0)


def test_compare_refuses_cross_host_records(tmp_path):
    rec = {"workload": "w", "host": {"nproc": 4}, "metrics": {"wall_s": {"value": 1.0}}}
    faster = dict(rec, metrics={"wall_s": {"value": 0.5}})
    other = dict(rec, host={"nproc": 32})
    assert compare.host_mismatch([rec, rec]) is None
    assert "nproc" in compare.host_mismatch([rec, other])
    assert compare.compare([rec, rec], [faster]) == [("w", "wall_s", 1.0, 0.5, 0.5, 0.0, 2, 1)]
    files = {}
    for name, recs in (("base", [rec]), ("same", [faster]), ("cross", [other])):
        files[name] = str(tmp_path / f"{name}.jsonl")
        with open(files[name], "w") as f:
            f.write("".join(json.dumps(r) + "\n" for r in recs))
    assert compare.main([files["base"], files["same"]]) == 0
    assert compare.main([files["base"], files["cross"]]) == 3
    assert compare.main([]) == 2


def _node(name, rows=None, **metrics):
    m = {k.replace("_", " "): (v, v) for k, v in metrics.items()}
    if rows is not None:
        m["number of output rows"] = (rows, rows)
    return sparkstats.PlanNode(name, m)


def test_pair_counts_take_the_topmost_pair_generator():
    plan = sparkstats.Execution(1, {1}, [
        _node("OverwriteByExpression"),
        _node("HashAggregate", rows=40),
        _node("Generate", rows=900),   # pair expansion
        _node("HashAggregate", rows=120),
        _node("Generate", rows=5000),  # shingle explode, below the pairs
        _node("Scan parquet ", rows=500),
    ])
    no_pairs = sparkstats.Execution(2, {2}, [_node("Project"), _node("Scan parquet ", rows=10)])
    assert sparkstats.pair_counts([plan, no_pairs]) == (900, 40)


def test_plan_counts():
    plan = sparkstats.Execution(1, {1}, [
        _node("Exchange"), _node("Exchange"), _node("BroadcastHashJoin", rows=3),
        _node("SortMergeJoin", rows=3), _node("MapInPandas", rows=7, time_to_run_Python_workers=2.0),
        _node("Scan parquet ", rows=50, scan_time=0.5, size_of_files_read=2e6),
    ])
    c = sparkstats.plan_counts([plan])
    assert (c["plans.exchanges"], c["plans.broadcast_joins"], c["plans.sort_merge_joins"]) == (2, 1, 1)
    assert (c["plans.python_nodes"], c["operators.python_rows"], c["operators.python_eval_s"]) == (1, 7, 2.0)
    assert (c["sources.scan_count"], c["sources.scan_rows"], c["sources.scan_mb"]) == (1, 50, 2.0)


def test_wait_for_exit_reaps_and_escalates():
    import subprocess
    import time

    from perfbench import procstat

    quick = subprocess.Popen([sys.executable, "-c", "pass"])
    stuck = subprocess.Popen([sys.executable, "-c", "import signal, time; "
                              "signal.signal(signal.SIGTERM, signal.SIG_IGN); time.sleep(60)"])
    time.sleep(0.5)
    t0 = time.monotonic()
    procstat.wait_for_exit([quick.pid, stuck.pid], timeout=0.5)
    assert stuck.wait(timeout=5) == -9 and quick.wait(timeout=5) == 0
    assert time.monotonic() - t0 < 15


def test_stolen_share_counts_steal_against_wanted_cpu_time():
    from perfbench import procstat

    assert procstat.stolen_share((100, 10), (160, 30)) == pytest.approx(20 / 80)
    assert procstat.stolen_share((5, 5), (5, 5)) == 0.0
    busy, steal = procstat.host_ticks()
    assert busy > 0 and steal >= 0


class _FakeContext:
    """The two SparkContext calls the tracer makes, per thread."""

    def __init__(self):
        import threading

        self._local = threading.local()
        self.seen: list[str | None] = []

    def getLocalProperty(self, key):
        return getattr(self._local, "group", None)

    def setLocalProperty(self, key, value):
        self._local.group = value
        self.seen.append(value)


def test_tracer_spans_groups_and_parents():
    import threading
    import types

    from perfbench.trace import Tracer

    sc = _FakeContext()
    tracer = Tracer(sc)
    module = types.SimpleNamespace(work=lambda x: f"{sc.getLocalProperty('g')}{x}")
    with tracer.pass_span("p0") as root:
        with tracer.span("query", op="q1") as q:
            with tracer.span("plans.build") as build:
                assert sc.getLocalProperty("g") == build.group
        tracer.wrap(module, "work", "worker.call")
        out = []
        t = threading.Thread(target=lambda: out.append(module.work("!")))
        t.start()
        t.join(timeout=10)
        tracer.unwrap()
    assert not t.is_alive()
    assert sc.getLocalProperty("g") is None
    by_name = {s.name: s for s in tracer.spans}
    assert by_name["plans.build"].op == "q1" and by_name["plans.build"].parent == q.span_id
    assert by_name["worker.call"].parent == root.span_id  # other thread, empty stack
    assert out == [f'{by_name["worker.call"].group}!']
    assert module.work("?") == "None?"  # unwrapped
    assert {s.span_id for s in tracer.descendants(root.span_id)} == {
        s.span_id for s in tracer.spans if s.name != "pass"}
