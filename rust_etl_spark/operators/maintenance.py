"""Table-maintenance operators: small-file compaction.

The small-files problem is the classic failure mode of a long-lived
100 TB table: streaming ingest and per-partition writes accumulate
thousands of KB-sized parquet files, and every later scan pays a task
per file plus a footer read per file. Compaction rewrites many small
files into few target-sized ones without changing content — the same
maintenance job Delta's ``OPTIMIZE`` / Iceberg's ``rewrite_data_files``
run on a schedule.

Design for scale:

- The PLAN works on file metadata only (name + byte size): at 100 TB a
  compaction planner never touches data, just the file listing the
  table catalog already holds. First-fit-decreasing bin packing is
  deterministic (size desc, then name), so the same listing always
  yields the same plan — idempotent re-runs, safe retries.
- The REWRITE reads exactly the files of one bin per output file and
  coalesces them to a single file: a narrow, shuffle-free job per bin
  (no repartition — nothing is re-keyed, bytes stream from N small
  files to 1 big one). Bins are independent; a production scheduler
  runs them concurrently, here they loop.
- Files already at or above the target are left untouched (rewriting
  them would be pure write amplification).

Reference parity: the reference (/root/reference, 604 LoC Rust/Polars)
writes one parquet per endpoint and has no maintenance surface at all
(processor.rs:78-94); this is a scale-path extension, not a port.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def plan_compaction(
    file_sizes: dict[str, int], target_bytes: int
) -> tuple[list[list[str]], list[str]]:
    """First-fit-decreasing bin packing of files into compaction bins.

    Returns ``(bins, untouched)``: each bin is a list of file names
    whose sizes sum to <= target_bytes (always >= 2 files — a
    singleton rewrite is pure write amplification, so leftovers that
    fit no bin stay untouched); ``untouched`` holds files already at
    or above the target plus those singletons. Deterministic: files
    sort by (size desc, name) before packing.
    """
    untouched = [f for f, s in file_sizes.items() if s >= target_bytes]
    todo = sorted(
        ((s, f) for f, s in file_sizes.items() if s < target_bytes),
        key=lambda t: (-t[0], t[1]),
    )
    bins: list[list[str]] = []
    room: list[int] = []
    for size, name in todo:
        for i in range(len(bins)):
            if room[i] >= size:
                bins[i].append(name)
                room[i] -= size
                break
        else:
            bins.append([name])
            room.append(target_bytes - size)
    singletons = [b[0] for b in bins if len(b) == 1]
    return [b for b in bins if len(b) > 1], untouched + singletons


def compact_parquet(
    spark: SparkSession, path: str, target_bytes: int, out_path: str
) -> dict[str, int]:
    """Rewrite the parquet dataset at ``path`` into ``out_path`` with
    small files bin-packed toward ``target_bytes``.

    Per-bin jobs are shuffle-free: read the bin's files, coalesce to
    one output file. Untouched (already-large or unpackable) files are
    copied through the same way, one job each, preserving their row
    content byte-for-byte at the row level (parquet encoding may
    differ; equality is row-wise, which is what downstream readers
    see). Returns counts for observability.
    """
    sizes = {
        f: os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }
    bins, untouched = plan_compaction(sizes, target_bytes)
    os.makedirs(out_path, exist_ok=True)
    for group in bins + [[f] for f in untouched]:
        (
            spark.read.parquet(*[os.path.join(path, f) for f in group])
            .coalesce(1)
            .write.mode("append")
            .parquet(out_path)
        )
    return {
        "n_input_files": len(sizes),
        "n_bins": len(bins),
        "n_untouched": len(untouched),
        "n_output_files": len(bins) + len(untouched),
    }
