"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_envelopes --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the engine. Inputs are generated from
``--seed`` under ``.perfbench/`` in the checkout (ignored by git), and
removed at exit. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The line before it, prefixed ``perfbench record:``, is the full record
including the host descriptor; ``--record FILE`` also appends it to FILE
for ``perfbench/compare.py``. A traced run writes its spans to
``.perfbench/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import host, workloads  # noqa: E402  (imports no engine or pyspark module)

ENGINE_FILES = ("rust_etl_spark/pipeline.py", "rust_etl_spark/session.py",
                "rust_etl_spark/plans/catalog.py", "tests/oracle_harness.py")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append the full JSON record to this file")
    return ap.parse_args(argv)


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # unwinds, so the session and work dir are cleaned up


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    root = os.getcwd()
    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(root, f))]
    if missing:
        print(f"perfbench: run from the engine checkout root; missing {missing}", file=sys.stderr)
        return 2

    # Before pyspark starts the JVM: Python workers inherit this
    # environment, so they import the engine from the checkout, and all
    # scratch space lands in the run's own directory.
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    inherited = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([root, *inherited])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cores))
    # A fixed driver heap, not the engine's default of half the host's RAM:
    # a heap that large is grown by the collector as it sees fit, and the
    # tree's peak RSS then lands on one of several levels from run to run.
    # The host descriptor records the heap, so compare.py refuses a pair
    # that differs in it.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TMPDIR"] = work
    sys.path.insert(0, root)

    try:
        outcome = workloads.WORKLOADS[args.workload](work, args.seed, args.seconds, bool(args.trace), cores)
        if outcome.tracer is not None:
            spans_dir = os.path.join(base, "spans")
            os.makedirs(spans_dir, exist_ok=True)
            outcome.tracer.dump(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        names = {n: workloads.unit_of(n) for n in workloads.LAYER_METRICS}
    else:
        names = dict(workloads.END_TO_END)

    def values(units: dict[str, str]) -> dict:
        return {n: {"value": float(outcome.metrics.get(n, (0.0, u))[0]), "unit": u} for n, u in units.items()}

    metrics = values(names)
    correct = outcome.failed == 0 and not outcome.errors
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": host.descriptor(), "correct": correct, "attempted": outcome.attempted,
        "failed": outcome.failed, "fail_soft": outcome.fail_soft, "passes": outcome.passes,
        "phases": outcome.phases,
        "errors": outcome.errors[:20],
        "metrics": values(names if args.trace else {**names, **workloads.RECORD_ONLY}),
    }
    line = json.dumps(record, sort_keys=True)
    if args.record:
        with open(args.record, "a") as f:
            f.write(line + "\n")
    for e in outcome.errors[:20]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print("perfbench record: " + line)
    print(json.dumps({"correct": correct, "attempted": outcome.attempted,
                      "failed": outcome.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
