"""Generate a ~10x scale tier from the sf0.1 fixtures — seeded, schema-identical.

The driver-provided fixtures stop at sf0.1 (~600k lineitem rows), so
every 100 TB claim rested on plan shape + the sf0.1 shuffle audit.
This script synthesizes a 10x tier (`gen_sf1/`, lineitem ~6M rows)
INSIDE the repo (never touching the read-only fixtures) so `bench.py`
can measure an actual scaling curve at 10x the rows: wall time plus
its per-query `stats` block (shuffle bytes, spill, task CPU).

Construction (seed=42, fully deterministic):

- Each table is 10 replicas of its sf0.1 original with replica-offset
  keys; foreign keys are remapped consistently (replica r's lineitem
  references replica r's orders/part/supplier), so per-key join
  fan-outs — the thing that determines shuffle behavior — are
  IDENTICAL to the original distribution while key cardinality scales
  10x. region/nation stay fixed (dimensions don't scale in TPC-H).
- `documents`: replica 0 is verbatim; replicas 1-9 deterministically
  permute each document's words with an RNG seeded by (replica,
  text-hash). The token multiset (and thus length/quality-score
  distributions) is preserved exactly, shingle identity is destroyed
  (no artificial cross-replica near-dup clusters), and exact-dup
  pairs survive within each replica (same text -> same seed -> same
  permutation), so the corpus dup RATE stays flat.
- `embeddings`: replicas 1-9 add seeded gaussian noise and re-unit-
  normalize — realistic fresh vectors with the same geometry.
- `events`: user_id/event_id offset per replica; per-user session
  structure and the time window are preserved (10x events in the same
  span, like real traffic growth).

Row groups are written small enough (<=200k rows) that Spark's split
planner can actually parallelize the single-file-per-table layout.

Run:  python scripts/gen_scale_tier.py            (~1 min, ~170 MB)
      python scripts/gen_scale_tier.py --out gen_sf0.3 --replicas 3
"""

from __future__ import annotations

import argparse
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
SEED = 42

#: key spans at sf0.1 (keys are 0-based contiguous; offsets stack replicas)
SPANS = {
    "customer": ("c_custkey", 15_000),
    "supplier": ("s_suppkey", 1_000),
    "part": ("p_partkey", 20_000),
    "orders": ("o_orderkey", 150_000),
    "events": ("event_id", 100_000),
    "documents": ("doc_id", 5_000),
    "embeddings": ("vec_id", 2_000),
}
N_USERS = 1_500
#: every table gets >=32 row groups so Spark's split planner can hand
#: row-group-grain work to all cores even for byte-small tables whose
#: per-row compute is huge (embeddings); capped so big tables don't
#: fragment.
def _row_group(n_rows: int) -> int:
    return max(256, min(200_000, n_rows // 32))


def _replicate_keyed(name: str, extra_offsets: dict[str, int], replicas: int) -> pa.Table:
    """Stack `replicas` copies with per-replica key offsets applied."""
    src = pq.read_table(os.path.join(SRC, f"{name}.parquet"))
    pk, span = SPANS.get(name, (None, None))
    #: key-derived name columns must track the NEW key — otherwise every
    #: name occurs `replicas` times and name-blocked operators (e.g.
    #: fuzzy_blocked_match) see an artificial 100x pair blow-up that the
    #: first scaling run mistook for engine super-linearity.
    name_fmt = {"customer": ("c_name", "Customer#"), "supplier": ("s_name", "Supplier#")}
    base = src.to_pandas()  # one Arrow->pandas conversion, copied per replica
    chunks = []
    for r in range(replicas):
        df = base.copy()
        if pk is not None:
            df[pk] = df[pk] + r * span
        for col, sp in extra_offsets.items():
            df[col] = df[col] + r * sp
        if name in name_fmt:
            ncol, prefix = name_fmt[name]
            df[ncol] = prefix + df[pk].astype(str).str.zfill(9)
        chunks.append(pa.Table.from_pandas(df, schema=src.schema, preserve_index=False))
    return pa.concat_tables(chunks)


def _gen_documents(replicas: int) -> pa.Table:
    src = pq.read_table(os.path.join(SRC, "documents.parquet"))
    base = src.to_pandas()
    chunks = []
    for r in range(replicas):
        df = base.copy()
        df["doc_id"] = df["doc_id"] + r * SPANS["documents"][1]
        if r > 0:
            texts = []
            for t in base["text"]:
                h = int.from_bytes(
                    hashlib.md5(f"{r}|{t}".encode()).digest()[:8], "little"
                )
                rng = np.random.default_rng(h)
                words = t.split(" ")
                texts.append(" ".join(np.array(words)[rng.permutation(len(words))]))
            df["text"] = texts
            df["n_chars"] = df["text"].str.len().astype("int64")
        chunks.append(pa.Table.from_pandas(df, schema=src.schema, preserve_index=False))
    return pa.concat_tables(chunks)


def _gen_embeddings(replicas: int) -> pa.Table:
    src = pq.read_table(os.path.join(SRC, "embeddings.parquet"))
    base = src.to_pandas()
    v0 = np.stack(base["embedding"].values).astype(np.float64)
    chunks = []
    for r in range(replicas):
        df = base.copy()
        df["vec_id"] = df["vec_id"] + r * SPANS["embeddings"][1]
        if r > 0:
            rng = np.random.default_rng(SEED * 1_000 + r)
            v = v0 + rng.normal(0.0, 0.1, v0.shape)
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            df["embedding"] = [row.astype(np.float32) for row in v]
        chunks.append(pa.Table.from_pandas(df, schema=src.schema, preserve_index=False))
    return pa.concat_tables(chunks)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="gen_sf1")
    ap.add_argument("--replicas", type=int, default=10)
    args = ap.parse_args()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(root, args.out)
    os.makedirs(out_dir, exist_ok=True)
    R = args.replicas

    plans: dict[str, pa.Table] = {
        # fixed-size dimensions: verbatim
        "region": pq.read_table(os.path.join(SRC, "region.parquet")),
        "nation": pq.read_table(os.path.join(SRC, "nation.parquet")),
        "customer": _replicate_keyed("customer", {}, R),
        "supplier": _replicate_keyed("supplier", {}, R),
        "part": _replicate_keyed("part", {}, R),
        "orders": _replicate_keyed("orders", {"o_custkey": SPANS["customer"][1]}, R),
        "lineitem": _replicate_keyed(
            "lineitem",
            {
                "l_orderkey": SPANS["orders"][1],
                "l_partkey": SPANS["part"][1],
                "l_suppkey": SPANS["supplier"][1],
            },
            R,
        ),
        "events": _replicate_keyed("events", {"user_id": N_USERS}, R),
        "documents": _gen_documents(R),
        "embeddings": _gen_embeddings(R),
    }
    for name, table in plans.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(
            table, path, compression="snappy", row_group_size=_row_group(table.num_rows)
        )
        print(f"{name:12s} {table.num_rows:>9,} rows  "
              f"{os.path.getsize(path) / 1e6:8.1f} MB")
    print(f"\nwrote {out_dir} ({R}x sf0.1)")


if __name__ == "__main__":
    main()
