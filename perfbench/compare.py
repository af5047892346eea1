"""Compare two sets of benchmark records, refusing cross-host pairs.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds records appended by ``run.py --record FILE``. Every
record in both files must carry the same host descriptor (cores, CPU
model, heap, Spark/Java/Python versions); otherwise the comparison is
refused with exit code 3, because a ratio across hosts measures the host.
For each (workload, metric) it prints both medians, the ratio new/base
and the base's quartile spread as a share of its median.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def host_mismatch(records: list[dict]) -> str | None:
    """None when every record has the first record's host descriptor."""
    if not records:
        return None
    ref = records[0]["host"]
    for r in records[1:]:
        if r["host"] != ref:
            diff = sorted(k for k in set(ref) | set(r["host"]) if ref.get(k) != r["host"].get(k))
            return f"host descriptors differ in {diff}: {ref} vs {r['host']}"
    return None


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else 0.0


def compare(base: list[dict], new: list[dict]) -> list[tuple]:
    rows = []
    keys = sorted({(r["workload"], m) for r in base for m in r["metrics"]})
    for workload, metric in keys:
        a, b = ([r["metrics"][metric]["value"] for r in recs
                 if r["workload"] == workload and metric in r["metrics"]] for recs in (base, new))
        if not a or not b:
            continue
        ma, mb = statistics.median(a), statistics.median(b)
        rows.append((workload, metric, ma, mb, mb / ma if ma else float("nan"), spread(a), len(a), len(b)))
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    why = host_mismatch(base + new)
    if why:
        print(f"refusing to compare: {why}", file=sys.stderr)
        return 3
    print(f"{'workload':16s} {'metric':32s} {'base':>12s} {'new':>12s} {'new/base':>9s} {'base IQR':>9s}  n")
    for workload, metric, ma, mb, ratio, sp, na, nb in compare(base, new):
        print(f"{workload:16s} {metric:32s} {ma:12.4g} {mb:12.4g} {ratio:9.3f} {sp:9.3f}  {na}/{nb}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
