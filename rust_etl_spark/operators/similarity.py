"""Similarity search over embeddings (SURVEY.md §2c).

Three tiers, all oracle-verifiable:

- ``similarity_topk``  — brute-force cosine top-k against a broadcast
  query vector: the correctness baseline. One scan, no shuffle except
  the k-row TakeOrdered merge.
- ``lsh_bucket_assign`` / ``similarity_ann_lsh`` — random-hyperplane
  LSH: signatures from deterministic md5-derived planes, candidates =
  query's bucket only. At 100 TB the bucket join prunes the candidate
  set by ~2^planes before any full dot product runs.
- ``ivf_assign`` / ``similarity_ann_ivf`` — IVF coarse quantization:
  assign every vector to its nearest (deterministically chosen)
  centroid via argmin L2; probe only the query's cell.
- ``embedding_pq_encode`` / ``similarity_ann_pq`` — product
  quantization: 64 floats -> 8 subspace codes against a deterministic
  anchor codebook; search scores candidates by asymmetric distance
  (8 lookups into a precomputed query grid) without touching raw
  vectors — the IVF-PQ memory/compute story at billion-vector scale.

Determinism notes: plane weights derive from md5 of (plane, dim) so
Spark and DuckDB build bit-identical planes; all dot products fold in
double and round to 6 digits before any sign test, threshold, or
ordering; ties in top-k break on vec_id; PQ distance expressions are
generated with one left-associated term order for both engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_etl_spark.functions.hashing import md5_long60_sql
from rust_etl_spark.functions.rounding import round_half_up
from rust_etl_spark.functions.vectors import (
    NDIGITS,
    cosine,
    cosine_sql,
    l2sq,
    l2sq_sql,
    to_double_array,
)
from rust_etl_spark.plans.catalog import register
from rust_etl_spark.sources import load_table, table_rows

TOPK = 10
QUERY_VEC_ID = 0
N_PLANES = 8
N_DIMS = 64

#: dedup_embedding_lsh plane-count sizing. A FIXED plane count is a
#: scale bug for the all-pairs-within-bucket dedup: 2^8 = 256 buckets
#: means expected occupancy grows as N/256, in-bucket pair expansion as
#: N^2/256 — quadratic. The SEARCH ops
#: (similarity_ann_lsh, lsh_bucket_assign) keep the fixed N_PLANES:
#: their cost is the probed fraction, not in-bucket pairs, and the
#: probe set (the query bucket plus its one-bit-flip neighbors) sets
#: their recall. The dedup variant
#: sizes planes so expected occupancy stays ~LSH_DEDUP_OCCUPANCY:
#: pairs ~ N * occupancy / 2 — linear at every tier. Same integer-only
#: Python==SQL derivation family as ivf_mod / fuzzy_block_len /
#: late_block; P = 8 at all graded tiers (bit-identical results).
LSH_DEDUP_OCCUPANCY = 32
_LSH_MAX_PLANES = 24  #: 2^24 * 32 ≈ 5.4e8 vectors; beyond, re-derive


def lsh_dedup_planes(n_vectors: int) -> int:
    """Smallest P >= N_PLANES with 2^P * LSH_DEDUP_OCCUPANCY >= n."""
    p = N_PLANES
    while (1 << p) * LSH_DEDUP_OCCUPANCY < n_vectors and p < _LSH_MAX_PLANES:
        p += 1
    return p


#: same derivation in SQL — VALUES rows GENERATED from the same
#: constants so the two derivations cannot desync (boundary equality
#: pinned in tests/test_lsh_dedup_planes.py).
_LSH_DEDUP_PLANES_VALUES = ", ".join(
    f"({p}, {1 << p})" for p in range(N_PLANES, _LSH_MAX_PLANES + 1)
)
_LSH_DEDUP_PLANES_SQL = f"""(
    SELECT min(p) FROM (VALUES {_LSH_DEDUP_PLANES_VALUES}) t(p, buckets)
    WHERE CAST(buckets AS BIGINT) * {LSH_DEDUP_OCCUPANCY} >= (SELECT count(*) FROM embeddings)
       OR p = {_LSH_MAX_PLANES}
)"""
#: vec_id % MOD == 0 -> centroid; deterministic so the DuckDB oracle
#: can mirror the codebook. MOD is SCALE-AWARE so the codebook stays
#: ~sqrt(N): the smallest power of 10 (floored at this base) whose
#: square covers the corpus — an integer-only derivation both engines
#: compute identically (no log10 boundary risk). The graded scales
#: (N <= 10^4) get MOD = 100; larger tiers re-size so assignment is
#: O(N*sqrt(N)) instead of O(N^2/MOD).
IVF_CENTROID_MOD = 100


def ivf_mod(n_vectors: int) -> int:
    """Smallest power of 10 >= the base whose square covers n (capped
    at 10^6, mirroring the SQL fallback, so both derivations agree for
    any input)."""
    mod = IVF_CENTROID_MOD
    while mod * mod < n_vectors and mod < 1_000_000:
        mod *= 10
    return mod


#: same derivation in SQL (integer comparisons only, DuckDB-portable)
_IVF_MOD_SQL = f"""(
    SELECT min(p) FROM (VALUES (100), (1000), (10000), (100000), (1000000)) t(p)
    WHERE CAST(p AS BIGINT) * p >= (SELECT count(*) FROM embeddings)
       OR p = 1000000
)"""
IVF_NPROBE = 4  #: base cells probed by the IVF search (the standard recall knob)

#: -------- hierarchical (two-level) assignment sizing --------
#: Exact argmin assignment is N x C distance folds with C ~ sqrt(N) —
#: O(N^1.5). Above
#: IVF_HIER_MIN_CELLS cells the assignment goes two-level: every f-th
#: centroid (f ~ sqrt(C), power of 2) is a SUPER-cell; each centroid
#: attaches to its nearest super, each vector finds its nearest super
#: (argmin over ~sqrt(C)) and then its nearest centroid among that
#: super's children (argmin over ~f ~ sqrt(C)) — per-vector work drops
#: from C to ~2*sqrt(C), assignment from O(N^1.5) to O(N^1.25). This is
#: the standard hierarchical coarse quantizer (IMI/2-level IVF family);
#: the assignment becomes approximate at f > 1 tiers (a boundary vector
#: can attach to a neighboring super's child), which is mirrored
#: EXACTLY by the oracle: same integer-only derivation family as
#: ivf_mod / lsh_dedup_planes, so both engines build the identical
#: hierarchy. Every graded tier (C <= 60 up to gen_sf3) stays below
#: the gate, so f = 1 there and the assignment is the exact argmin.
IVF_HIER_MIN_CELLS = 64
_IVF_MAX_SUPER_FACTOR = 1024  #: f caps at 1024 => fine up to ~10^6 cells


def ivf_n_cells(n_vectors: int, mod: int) -> int:
    """Centroid count under the dense-id codebook rule (vec_id % mod
    == 0 over ids 0..N-1) — pure arithmetic so both engines derive it
    identically without scanning."""
    return (n_vectors - 1) // mod + 1


def ivf_super_factor(n_cells: int) -> int:
    """1 (exact argmin) below the gate; else the smallest power of 2
    >= 8 whose square covers the cell count (~sqrt(C) supers of
    ~sqrt(C) children each), capped at _IVF_MAX_SUPER_FACTOR."""
    if n_cells < IVF_HIER_MIN_CELLS:
        return 1
    f = 8
    while f * f < n_cells and f < _IVF_MAX_SUPER_FACTOR:
        f *= 2
    return f


def ivf_nprobe(n_cells: int) -> int:
    """Scale-aware nprobe: hold the probed fraction ~constant (>= 1/5
    of the cells, floored at IVF_NPROBE) instead of a fixed cell count:
    a fixed nprobe dilutes recall as the cell count grows
    (ANN_RECALL_*.json), while a constant fraction holds it flat and
    keeps the probed work ~N/5 — linear in N."""
    return max(IVF_NPROBE, (n_cells + 4) // 5)


#: SQL mirrors of the three derivations above (integer-only; VALUES
#: generated from the same constants so the derivations cannot desync —
#: boundary equality pinned in tests/test_ivf_hier.py).
_IVF_N_CELLS_SQL = f"(((SELECT count(*) FROM embeddings) - 1) // {_IVF_MOD_SQL} + 1)"
_SUPER_FACTOR_VALUES = ", ".join(
    f"({f})" for f in [8 << i for i in range(8) if 8 << i <= _IVF_MAX_SUPER_FACTOR]
)
_IVF_SUPER_FACTOR_SQL = f"""(
    SELECT CASE WHEN {_IVF_N_CELLS_SQL} < {IVF_HIER_MIN_CELLS} THEN 1 ELSE (
        SELECT min(f) FROM (VALUES {_SUPER_FACTOR_VALUES}) t(f)
        WHERE CAST(f AS BIGINT) * f >= {_IVF_N_CELLS_SQL}
           OR f = {_IVF_MAX_SUPER_FACTOR}
    ) END
)"""
_IVF_NPROBE_SQL = f"GREATEST({IVF_NPROBE}, ({_IVF_N_CELLS_SQL} + 4) // 5)"


# ------------------------------------------------------ brute force

_TOPK_ORACLE = f"""
    SELECT a.vec_id, a.label, {cosine_sql('a.embedding', 'q.embedding')} AS score
    FROM embeddings a
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE a.vec_id <> {QUERY_VEC_ID}
    ORDER BY score DESC, a.vec_id
    LIMIT {TOPK}
"""


@register(
    "similarity_topk",
    oracle=_TOPK_ORACLE,
    doc=f"Brute-force cosine top-{TOPK} against the broadcast query vector (vec_id={QUERY_VEC_ID}).",
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        to_double_array("embedding").alias("qv")
    )
    return (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "label", to_double_array("embedding").alias("v"))
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cosine(F.col("v"), F.col("qv")).alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


# -------------------------------------------------- hyperplane LSH

def _plane_weights(n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: w(i, d) in [-1, 1].

    Same md5 family as the SQL mirror (md5 of "i_d", first 15 hex
    digits), evaluated driver-side: the whole codebook is
    n_planes x N_DIMS floats (a few KiB), so it ships to executors as
    plan literals — no plane table, no join, no shuffle. The family is
    indexed by plane number, so a larger n_planes EXTENDS the same
    codebook (plane i is identical at every size).
    """
    return [
        [
            ((int(hashlib.md5(f"{i}_{d}".encode()).hexdigest()[:15], 16) % 2001) - 1000) / 1000.0
            for d in range(N_DIMS)
        ]
        for i in range(n_planes)
    ]


def _buckets_sql(n_planes_expr: str) -> str:
    """The planes -> dots -> buckets CTE chain; ``n_planes_expr`` is a
    SQL expression for the plane count (a literal for the fixed-plane
    search ops, the scale-aware scalar subquery for the dedup op)."""
    return f"""
    planes AS (
        SELECT i, d,
               (({md5_long60_sql("concat(CAST(i AS VARCHAR), '_', CAST(d AS VARCHAR))")} % 2001) - 1000) / 1000.0 AS w
        FROM (SELECT unnest(range(0, {n_planes_expr})) AS i) pi
        CROSS JOIN (SELECT unnest(range(0, {N_DIMS})) AS d) pd
    ),
    comp AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ), dots AS (
        SELECT c.vec_id, p.i, sum(c.x * p.w) AS dp
        FROM comp c JOIN planes p ON c.d = p.d
        GROUP BY c.vec_id, p.i
    ), buckets AS (
        SELECT vec_id,
               -- sign test on the half-up-floor-quantized dot (portable
               -- by construction; round(double, 6) only empirically so).
               -- CAST: sum(BIGINT) is HUGEINT in DuckDB -> float64 via
               -- fetchdf(), breaking the value hash vs Spark's BIGINT.
               CAST(sum(CASE WHEN floor(dp * 1000000.0 + 0.5) > 0
                             THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT) AS bucket
        FROM dots GROUP BY vec_id
    )
"""


_BUCKETS_SQL = _buckets_sql(str(N_PLANES))


def lsh_buckets(
    spark: SparkSession,
    emb: DataFrame,
    n_planes: int = N_PLANES,
    keep_vector: bool = False,
) -> DataFrame:
    """(vec_id, bucket): random-hyperplane signature per vector.

    Map-side only (same pattern as dedup_simhash): one Arrow-batched
    numpy pass (``_lsh_bucket_batches``) computes every plane dot
    product and assembles the bucket bits — zero shuffles; only
    (vec_id, embedding) crosses the Python boundary.

    Dot products are quantized with the portable half-up floor
    (floor(dp * 1e6 + 0.5)) before the sign test, mirroring the SQL
    oracle, so summation-order FP noise cannot flip a bit and the
    quantize step itself cannot diverge across engines. The kernel is
    one dimension-ASCENDING loop of elementwise multiply-adds — the
    oracle's left-to-right association, so every dot product is
    bit-identical — then the floor sign test; bucket assembly is a sum
    of distinct powers of two in int64 (exact in any order). Contract
    pinned in tests/test_lsh_bucket_kernel_contract.py.
    """
    planes = _plane_weights(n_planes)
    schema = "vec_id long, bucket long" + (", v array<double>" if keep_vector else "")
    return emb.select("vec_id", "embedding").mapInPandas(
        _lsh_bucket_batches(planes, n_planes, keep_vector), schema
    )


def _lsh_bucket_batches(planes, n_planes: int, keep_vector: bool):
    """mapInPandas body for :func:`lsh_buckets` — module-level so the
    kernel contract is unit-testable without a cluster. Conventions
    that keep it bit-identical to the retired Catalyst fold (and the
    SQL oracle): (1) the dot accumulates with an explicit
    dimension-ascending loop of elementwise ``acc + (x * w)`` — never
    np.dot/np.sum (pairwise reduction reassociates); (2) the sign test
    is ``floor(dp * 1e6 + 0.5) > 0`` exactly; (3) keep_vector emits
    the float64-cast vector (same cast as to_double_array). Empty
    Arrow batches are skipped (PQ precedent)."""
    import numpy as np
    import pandas as pd

    P = np.asarray(planes, dtype=np.float64)  # (n_planes, N_DIMS)
    pows = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
            acc = np.zeros((len(pdf), n_planes), dtype=np.float64)
            for d in range(X.shape[1]):
                acc += X[:, d, None] * P[None, :, d]
            q = np.floor(acc * 1e6 + 0.5)
            bucket = ((q > 0).astype(np.int64) * pows).sum(axis=1)
            out = {"vec_id": pdf["vec_id"].to_numpy(np.int64), "bucket": bucket}
            if keep_vector:
                out["v"] = list(X)
            yield pd.DataFrame(out)

    return assign


@register(
    "lsh_bucket_assign",
    oracle=f"WITH {_BUCKETS_SQL} SELECT vec_id, bucket FROM buckets",
    doc=f"Random-hyperplane LSH bucketing: {N_PLANES} md5-derived planes -> one {N_PLANES}-bit bucket per vector.",
)
def lsh_bucket_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_buckets(spark, emb)


@register(
    "similarity_ann_lsh",
    oracle=f"""
        WITH {_BUCKETS_SQL},
        qb AS (SELECT bucket FROM buckets WHERE vec_id = {QUERY_VEC_ID}),
        probes AS (
            SELECT bucket AS b FROM qb
            UNION ALL
            SELECT xor(qb.bucket, CAST(1 AS BIGINT) << i) AS b
            FROM qb CROSS JOIN (SELECT unnest(range(0, {N_PLANES})) AS i) bits
        ),
        cand AS (
            SELECT DISTINCT b.vec_id FROM buckets b JOIN probes ON b.bucket = probes.b
            WHERE b.vec_id <> {QUERY_VEC_ID}
        )
        SELECT a.vec_id, {cosine_sql('a.embedding', 'q.embedding')} AS score
        FROM embeddings a
        JOIN cand USING (vec_id)
        CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
        ORDER BY score DESC, a.vec_id
        LIMIT {TOPK}
    """,
    doc=f"ANN top-{TOPK} with multi-probe LSH: probe the query's bucket "
    f"PLUS the {N_PLANES} buckets one hyperplane-flip away (a neighbor "
    "on the far side of one cutting plane lands exactly there), then "
    "exact cosine within the probed set. The probe radius is fixed at "
    "one flip, so ~(1+planes)/2^planes of the corpus is scanned.",
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH search: the probe set is the query's bucket and
    every bucket at Hamming distance 1 (one hyperplane disagreement) —
    built in-plan from the single query-bucket row, broadcast to the
    bucket table. The probe radius is fixed at one bit flip: probing
    1+N_PLANES of the 2^N_PLANES buckets bounds the scanned fraction
    while recovering the neighbors that a single cutting plane happened
    to separate from the query."""
    emb = load_table(spark, sf_dir, "embeddings")
    buckets = lsh_buckets(spark, emb)
    # The query bucket comes from a SINGLE-ROW kernel pass over the
    # pre-filtered scan: the bucket function is per-row, so
    # filtering before lsh_buckets is value-identical, and the vec_id
    # predicate reaches the parquet scan — with the filter ABOVE the
    # opaque mapInPandas the qb branch would re-run the kernel over
    # the whole table (guide §4.2: opaque functions defeat pushdown).
    qb = lsh_buckets(spark, emb.filter(F.col("vec_id") == QUERY_VEC_ID)).select(
        F.col("bucket").alias("qbucket")
    )
    probes = qb.select(
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                    for i in range(N_PLANES)
                ],
            )
        ).alias("qbucket")
    )
    cand = (
        buckets.join(F.broadcast(probes), F.col("bucket") == F.col("qbucket"))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id")
        .distinct()
    )
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(to_double_array("embedding").alias("qv"))
    return (
        emb.join(cand, "vec_id")
        .select("vec_id", to_double_array("embedding").alias("v"))
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine(F.col("v"), F.col("qv")).alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


EMB_NEARDUP_TAU = 0.4


@register(
    "dedup_embedding_lsh",
    oracle=f"""
        WITH np AS (SELECT {_LSH_DEDUP_PLANES_SQL} AS p),
        {_buckets_sql("(SELECT p FROM np)")},
        pairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM buckets a JOIN buckets b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT p.vec_a, p.vec_b,
               {cosine_sql('ea.embedding', 'eb.embedding')} AS score
        FROM pairs p
        JOIN embeddings ea ON ea.vec_id = p.vec_a
        JOIN embeddings eb ON eb.vec_id = p.vec_b
        WHERE {cosine_sql('ea.embedding', 'eb.embedding')} >= {EMB_NEARDUP_TAU}
    """,
    doc=f"Embedding near-dup pairs (cosine >= {EMB_NEARDUP_TAU}) generated ONLY within LSH "
    "buckets — the scale path vs the brute-force form (dedup_embedding_cosine). The "
    "plane count is SCALE-AWARE: lsh_dedup_planes picks the smallest P >= 8 whose "
    f"2^P buckets bound expected occupancy at {LSH_DEDUP_OCCUPANCY} vectors "
    "(integer-only, mirrored by a scalar subquery in the oracle), so in-bucket pair "
    "expansion stays ~N*occupancy/2 — linear — instead of the N^2/2^8 a fixed 8-plane "
    "key densifies to (121 GB spill at the 100x tier).",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs near-dup within scale-aware LSH buckets.

    P = 8 at every graded tier; the 10x/30x/100x gen tiers step to
    P = 10/11/13, holding
    per-bucket occupancy ~constant. More planes also RAISE per-pair
    precision (more agreeing hyperplanes), so the recall trade moves
    toward precision as the corpus grows — the standard LSH knob,
    documented in CATALOG.md; run multiple plane families to recover
    recall at high P, exactly as with the MinHash band trade.

    Scale posture: the vector rides its bucket row into ONE exchange
    (the bucket groupBy — each vector crosses the wire exactly once,
    ~N x 520 B) and the in-bucket pairwise cosines run in a numpy
    mapInPandas kernel over the collected members (occupancy-bounded),
    instead of exploding (vec_a, vec_b) pairs and re-joining the full
    vectors twice. Bit-parity with the Catalyst ``cosine()`` fold is by
    construction — dim-ascending accumulation loops mirror the
    left-to-right ``F.aggregate``, ``floor(x * 1e6 + 0.5) / 1e6``
    mirrors ``round_half_up`` — and is pinned exactly in
    tests/test_lsh_pair_kernel_contract.py.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    n_planes = lsh_dedup_planes(table_rows(spark, sf_dir, "embeddings"))
    groups = (
        lsh_buckets(spark, emb, n_planes, keep_vector=True)
        .groupBy("bucket")
        .agg(F.sort_array(F.collect_list(F.struct("vec_id", "v"))).alias("members"))
        .filter(F.size("members") >= 2)
    )
    return groups.select("members").mapInPandas(
        _lsh_pair_batches(EMB_NEARDUP_TAU),
        "vec_a long, vec_b long, score double",
    )


def _lsh_pair_batches(tau: float):
    """mapInPandas body for :func:`dedup_embedding_lsh` — module-level
    so the kernel contract is unit-testable without a cluster (the
    PQ/IVF pattern). Each input row is one LSH bucket's sorted member
    list (struct<vec_id, v>, vec_id-ascending from sort_array, so
    emitted pairs satisfy vec_a < vec_b exactly like the oracle's
    ``a.vec_id < b.vec_id``).

    Bit-parity contract with functions/vectors.py::cosine: dots and
    norms accumulate with a python loop over dimensions ASCENDING
    (vectorized across the bucket's rows) — the same association as
    the left-to-right ``F.aggregate`` fold; np.sum/np.dot are never
    used (pairwise summation reassociates); the rounding mirror is
    ``np.floor(x * 1e6 + 0.5) / 1e6``; multiplication commutes
    bit-exactly in IEEE-754 so ``norm_a * norm_b`` needs no order
    care. float32 parquet values widen exactly to float64 on both
    paths."""
    import numpy as np
    import pandas as pd

    s = 1e6

    def gen(batches):
        for pdf in batches:
            out_a: list = []
            out_b: list = []
            out_s: list = []
            for members in pdf["members"] if len(pdf) else ():
                k = len(members)
                ids = np.fromiter(
                    (m["vec_id"] for m in members), dtype=np.int64, count=k
                )
                M = np.vstack(
                    [np.asarray(m["v"], dtype=np.float64) for m in members]
                )
                # vec_a < vec_b contract is the kernel's own, not the
                # caller's: re-sort by id (the plan's sort_array already
                # did; argsort of ~occupancy ids is free and keeps the
                # kernel correct standalone).
                order = np.argsort(ids, kind="stable")
                ids, M = ids[order], M[order]
                nsq = np.zeros(k)
                for d in range(M.shape[1]):
                    nsq += M[:, d] * M[:, d]
                nrm = np.sqrt(nsq)
                for i in range(k - 1):
                    acc = np.zeros(k - i - 1)
                    for d in range(M.shape[1]):
                        acc += M[i, d] * M[i + 1 :, d]
                    score = np.floor(acc / (nrm[i] * nrm[i + 1 :]) * s + 0.5) / s
                    keep = score >= tau
                    if keep.any():
                        nk = int(keep.sum())
                        out_a.extend([int(ids[i])] * nk)
                        out_b.extend(ids[i + 1 :][keep].tolist())
                        out_s.extend(score[keep].tolist())
            yield pd.DataFrame(
                {
                    "vec_a": pd.Series(out_a, dtype="int64"),
                    "vec_b": pd.Series(out_b, dtype="int64"),
                    "score": pd.Series(out_s, dtype="float64"),
                }
            )

    return gen


# -------------------------------------------------------------- IVF

_CENTROIDS_SQL = f"SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id % {_IVF_MOD_SQL} = 0"

#: Unified hierarchical assignment chain (exports CTEs ``centroids``
#: and ``assign``). With f = 1 (every tier up to 30x) the chain
#: DEGENERATES to the exact argmin: every centroid is a
#: super, each attaches to itself (ties on duplicate vectors break to
#: the lower id on BOTH levels, so a tied vector still reaches the
#: globally-lowest-id nearest centroid), and the vector->super argmin
#: IS the exact argmin over all centroids.
_ASSIGN_SQL = f"""
    centroids AS ({_CENTROIDS_SQL}),
    supers AS (
        SELECT cid AS sid, cvec AS svec FROM centroids
        WHERE cid % ({_IVF_MOD_SQL} * {_IVF_SUPER_FACTOR_SQL}) = 0
    ),
    cent_super AS (
        SELECT cid, sid FROM (
            SELECT c.cid, s.sid,
                   row_number() OVER (
                       PARTITION BY c.cid
                       ORDER BY {l2sq_sql('c.cvec', 's.svec')}, s.sid) AS rn
            FROM centroids c CROSS JOIN supers s
        ) t WHERE rn = 1
    ),
    vec_super AS (
        -- multi-probe: each vector considers the children of its TOP-2
        -- supers, recovering near-boundary assignments a single-super
        -- probe misses (the IMI/two-level standard); child sets are
        -- disjoint so no duplicate candidates arise.
        SELECT vec_id, sid FROM (
            SELECT e.vec_id, s.sid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {l2sq_sql('e.embedding', 's.svec')}, s.sid) AS rn
            FROM embeddings e CROSS JOIN supers s
        ) t WHERE rn <= 2
    ),
    assign AS (
        SELECT vec_id, cid, dist FROM (
            SELECT e.vec_id, c.cid,
                   {l2sq_sql('e.embedding', 'c.cvec')} AS dist,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {l2sq_sql('e.embedding', 'c.cvec')}, c.cid) AS rn
            FROM embeddings e
            JOIN vec_super vs ON vs.vec_id = e.vec_id
            JOIN cent_super ca ON ca.sid = vs.sid
            JOIN centroids c ON c.cid = ca.cid
        ) t WHERE rn = 1
    )
"""


def _ivf_l2sq_np(X, C):
    """(n, k) squared-L2 distance matrix rounded to ``NDIGITS`` — the
    numpy mirror of the SQL oracle's left-associated per-dimension fold.

    Order parity is explicit, exactly as in :func:`_pq_subspace_scan`:
    the accumulation is a Python loop of numpy adds over dimensions in
    index order (``d = t0; d += t1; ...``) — never ``np.sum``, whose
    pairwise summation reassociates and can flip ulp-tied argmins.
    ``(x - c) * (x - c)`` is the same two IEEE ops both engines run,
    and float32 -> float64 input widening is value-exact. Rounding is
    the portable floor form (``floor(x * 1e6 + 0.5) / 1e6`` ==
    functions/rounding.round_half_up — distances are non-negative), to
    which the oracle's l2sq_sql is bit-identical by construction
    (``F.round`` and DuckDB's ``round`` can disagree on boundary values,
    CLAUDE.md)."""
    import numpy as np

    d = None
    for i in range(X.shape[1]):
        t = X[:, i:i + 1] - C[None, :, i]
        t = t * t
        d = t if d is None else d + t
    s = float(10 ** NDIGITS)
    return np.floor(d * s + 0.5) / s


def _ivf_assign_batches(C_ids, C, S_ids, S, child_sid, keep_vec: bool):
    """mapInPandas body for :func:`assign_to_cells` — module-level so
    the kernel contract is unit-testable without a cluster, like the
    PQ kernels. Empty Arrow batches are skipped (an upstream filter or
    repartition can emit one, and np.vstack rejects an empty
    sequence).

    ``S is None`` -> flat exact argmin over all centroids. Else the
    two-level probe: top-2 supers by (dist, sid) — ``argmin`` is
    first-min, i.e. lowest sid among exact ties, matching ``ORDER BY
    dist, sid``; the second probe is argmin after masking the first to
    +inf — then argmin over the union of both supers' children. The
    union is evaluated by GROUPING the batch's rows on their
    (unordered) probed-super pair and slicing the centroid matrix to
    that pair's child columns, so the distance work is O(N^1.25) and
    a batch allocates rows_g * ~2*sqrt(C), not a dense rows x C matrix.
    Bit-parity with a dense masked argmin is by construction: the
    per-dimension fold never depends on which columns are present,
    column slices are taken in ascending-cid order (np.union1d of the
    per-super child lists), so first-min stays lowest-cid-among-ties.
    When only one super exists the masked
    second argmin re-selects it — the child union is unchanged.
    A row with no finite candidate (childless pair) yields
    (cid=-1, dist=inf), the fold's init pair; the childless-super
    fixture in tests/test_ivf_hier_parity.py pins that no real corpus
    row ever hits it (the second super's children always cover)."""
    import numpy as np
    import pandas as pd

    if S is not None:
        # per-super child column lists, ascending cid (C is cid-sorted)
        children = {int(sid): np.flatnonzero(child_sid == sid) for sid in S_ids}

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            n = len(X)
            if S is None:
                D = _ivf_l2sq_np(X, C)
                j = D.argmin(axis=1)
                dist = D[np.arange(n), j]
                cid = np.where(np.isinf(dist), np.int64(-1), C_ids[j])
            else:
                DS = _ivf_l2sq_np(X, S)
                rows = np.arange(n)
                j1 = DS.argmin(axis=1)
                DS[rows, j1] = np.inf
                j2 = DS.argmin(axis=1)
                sid1, sid2 = S_ids[j1], S_ids[j2]
                # canonical unordered pair: the child union is symmetric
                lo = np.minimum(sid1, sid2)
                hi = np.maximum(sid1, sid2)
                pairs, inv = np.unique(
                    np.stack([lo, hi], axis=1), axis=0, return_inverse=True
                )
                cid = np.empty(n, dtype=np.int64)
                dist = np.empty(n, dtype=np.float64)
                for g, (a, b) in enumerate(pairs):
                    idx = np.flatnonzero(inv == g)
                    cols = np.union1d(children[int(a)], children[int(b)])
                    if cols.size == 0:
                        cid[idx] = -1
                        dist[idx] = np.inf
                        continue
                    Dg = _ivf_l2sq_np(X[idx], C[cols])
                    jg = Dg.argmin(axis=1)
                    dg = Dg[np.arange(len(idx)), jg]
                    cid[idx] = np.where(np.isinf(dg), np.int64(-1), C_ids[cols[jg]])
                    dist[idx] = dg
            out = {"vec_id": pdf["vec_id"].values}
            if keep_vec:
                out["v"] = pdf["v"]
            out["cid"] = cid.astype(np.int64)
            out["dist"] = dist
            yield pd.DataFrame(out)

    return assign


def assign_to_cells(
    vdf: DataFrame, cent: DataFrame, super_step: int | None, keep_vec: bool = False
) -> DataFrame:
    """(vec_id, cid, dist): nearest-centroid assignment of ``vdf``
    (vec_id, v) against codebook ``cent`` (cid, cvec).

    The codebook collects to the driver once — bounded at ~sqrt(N) x
    dims doubles by the ivf_mod rule (MB-scale at any tier), the same
    documented bound as the PQ/Lloyd codebooks — and ships in the
    mapInPandas closure, so assignment is a PURE MAP: zero shuffle on
    the vector side at any corpus size, no broadcast exchange at all.

    ``super_step is None`` -> exact flat argmin over all centroids.
    ``super_step`` set -> two-level: supers = centroids with cid %
    super_step == 0; each centroid attaches to its nearest super
    (computed driver-side on the collected codebook with the same
    kernel); each vector probes its TOP-2 supers and argmins over the
    union of their children (multi-probe: near-boundary vectors
    recover the neighbor-super child a single probe misses — the IMI
    standard). Per-vector distance work is the ~2*sqrt(C) two-super
    child union itself (rows grouped by probed pair, centroid matrix
    sliced to the pair's children), mirrored exactly by the oracle.
    The kernel runs the oracle's left-associated arithmetic with
    round_half_up rounding on both engines (CLAUDE.md).

    ``keep_vec`` carries the input vector through as column ``v`` (for
    callers like the Lloyd mean that need (cid, v) without re-joining
    the source — the re-join would be the only shuffle in the plan).
    """
    import numpy as np

    rows = cent.select("cid", "cvec").orderBy("cid").collect()
    if not rows:
        # not an assert: production path, and asserts vanish under -O —
        # an empty codebook would otherwise surface as an opaque numpy
        # shape error downstream
        raise ValueError("empty centroid codebook")
    C_ids = np.array([r["cid"] for r in rows], dtype=np.int64)
    C = np.array([r["cvec"] for r in rows], dtype=np.float64)
    if super_step is None:
        S_ids = S = child_sid = None
    else:
        mask = C_ids % super_step == 0
        S_ids, S = C_ids[mask], C[mask]
        # cent -> nearest super by (dist, sid): argmin over the
        # sid-sorted super axis is first-min = lowest sid on ties.
        child_sid = S_ids[_ivf_l2sq_np(C, S).argmin(axis=1)]
    schema = (
        "vec_id long"
        + (", v array<double>" if keep_vec else "")
        + ", cid long, dist double"
    )
    return vdf.select("vec_id", "v").mapInPandas(
        _ivf_assign_batches(C_ids, C, S_ids, S, child_sid, keep_vec), schema
    )


def ivf_assignments(
    spark: SparkSession,
    emb: DataFrame,
    mod: int | None = None,
    n_vectors: int | None = None,
    keep_vec: bool = False,
) -> DataFrame:
    """(vec_id, cid, dist): nearest deterministic centroid per vector.

    Flat exact argmin below IVF_HIER_MIN_CELLS cells, two-level
    hierarchical above it (see the
    sizing comment at ivf_super_factor: O(N^1.25) instead of the exact
    O(N^1.5); the oracle mirrors the hierarchy exactly). Zero shuffle
    on the vector side either way — assignment is a pure map against
    the closure-shipped codebook (numpy kernel; no broadcast exchange).

    Pass ``mod``/``n_vectors`` when the caller already derived them:
    ivf_mod needs a full count() job, and a caller that also sizes its
    own centroid set (similarity_ann_ivf) would otherwise scan twice.
    """
    if n_vectors is None:
        n_vectors = emb.count()
    if mod is None:
        mod = ivf_mod(n_vectors)
    f = ivf_super_factor(ivf_n_cells(n_vectors, mod))
    cent = (
        emb.filter(F.col("vec_id") % mod == 0)
        .select(F.col("vec_id").alias("cid"), to_double_array("embedding").alias("cvec"))
    )
    vdf = emb.select("vec_id", to_double_array("embedding").alias("v"))
    return assign_to_cells(vdf, cent, None if f == 1 else mod * f, keep_vec=keep_vec)


@register(
    "ivf_assign",
    oracle=f"WITH {_ASSIGN_SQL} SELECT vec_id, cid, dist FROM assign",
    doc="IVF coarse quantization: argmin-L2 assignment to deterministic "
    "centroids (vec_id % MOD = 0, MOD scale-aware so the codebook stays "
    "~sqrt(N); two-level hierarchical above IVF_HIER_MIN_CELLS cells; "
    "identical derivation on both engines).",
)
def ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n = table_rows(spark, sf_dir, "embeddings")
    return ivf_assignments(spark, emb, ivf_mod(n), n)


@register(
    "kmeans_iterate",
    oracle=f"""
        WITH {_ASSIGN_SQL},
        comp AS (
            SELECT a.cid,
                   CAST(generate_subscripts(e.embedding, 1) - 1 AS BIGINT) AS d,
                   CAST(unnest(e.embedding) AS DOUBLE) AS x
            FROM assign a JOIN embeddings e USING (vec_id)
        )
        SELECT cid, d, floor(avg(x) * 1000000.0 + 0.5) / 1000000.0 AS c_val,
               count(*) AS n_members
        FROM comp GROUP BY cid, d
    """,
    doc="One Lloyd (k-means) iteration: argmin-L2 assignment to the deterministic "
    "centroids, then per-(cell, dimension) mean — the building block of iterative "
    "clustering expressed as assignment + aggregation (each iteration is one "
    "codebook-probe map plus one high-cardinality groupBy; the codebook is the only driver-side state).",
)
def kmeans_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    n = table_rows(spark, sf_dir, "embeddings")
    # keep_vec carries the vector through the (shuffle-free) assignment
    # projection, so no re-join against the source is needed — the
    # per-(cell, dim) mean's exchange is the plan's only shuffle.
    assign = ivf_assignments(spark, emb, ivf_mod(n), n, keep_vec=True)
    comp = assign.select("cid", F.posexplode("v").alias("d", "x"))
    return (
        comp.groupBy("cid", F.col("d").cast("long").alias("d"))
        .agg(round_half_up(F.avg("x"), 6).alias("c_val"), F.count(F.lit(1)).alias("n_members"))
    )


KMEANS_ITERS = 3


@register(
    "kmeans_lloyd",
    oracle=None,  # iterative refinement; validated against a NumPy reference in tests/test_probes.py
    doc=f"{KMEANS_ITERS} Lloyd iterations from the deterministic IVF codebook: "
    "each round is one codebook-probe map assignment + one per-(cell, dim) mean, "
    "centroids re-collected to the driver between rounds (a codebook is KB-sized "
    "at any corpus scale; the per-vector work stays distributed).",
)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroids after KMEANS_ITERS full Lloyd rounds.

    The per-round shape matches kmeans_iterate (broadcast centroids ->
    argmin-L2 -> per-cell mean); between rounds only the centroid
    codebook (n_cells x n_dims doubles) crosses the driver boundary.
    A cell that loses every member drops out of the codebook. Output is
    (cid, d, c_val, n_members) for the final round.

    Building the DataFrame runs Spark jobs: the driver loop collects
    every round's per-cell means to seed the next round, and the
    returned plan recomputes the last round against the codebook
    collected before it.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    n = table_rows(spark, sf_dir, "embeddings")
    mod = ivf_mod(n)
    cents = (
        emb.filter(F.col("vec_id") % mod == 0)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cvec"))
    )
    # cid 0 is always a centroid initially, so a super exists in the
    # first iteration; later ones re-check against the surviving
    # codebook ids.
    cids = list(range(0, n, mod))
    spark_sess = emb.sparkSession
    last = None
    for _ in range(KMEANS_ITERS):
        f = ivf_super_factor(len(cids))
        # hierarchical only if the super slice of the SURVIVING codebook
        # is non-empty (cells can drop out between rounds).
        step = mod * f if f > 1 and any(c % (mod * f) == 0 for c in cids) else None
        # keep_vec assignment: zero shuffle on the vector side per
        # iteration.
        assigned = assign_to_cells(emb, cents, step, keep_vec=True)
        comp = assigned.select("cid", F.posexplode("v").alias("d", "x"))
        stats = comp.groupBy("cid", F.col("d").cast("long").alias("d")).agg(
            F.avg("x").alias("c_val"), F.count(F.lit(1)).alias("n_members")
        )
        last = stats
        # Codebook-sized collect (cells x dims doubles) to seed the next
        # round's broadcast — the standard Lloyd driver loop.
        rows = stats.orderBy("cid", "d").collect()
        by_cid: dict[int, list[float]] = {}
        for r in rows:
            by_cid.setdefault(r["cid"], []).append(float(r["c_val"]))
        cids = sorted(by_cid)
        cents = spark_sess.createDataFrame(
            [(cid, by_cid[cid]) for cid in cids], "cid long, cvec array<double>"
        )
    return last.select(
        "cid", "d", round_half_up(F.col("c_val"), 6).alias("c_val"), "n_members"
    )


@register(
    "similarity_ann_ivf",
    oracle=f"""
        WITH {_ASSIGN_SQL},
        qcells AS (
            SELECT cid FROM (
                SELECT c.cid,
                       row_number() OVER (
                           ORDER BY {l2sq_sql('c.cvec', 'q.embedding')}, c.cid) AS rn
                FROM centroids c
                CROSS JOIN (SELECT embedding FROM embeddings
                            WHERE vec_id = {QUERY_VEC_ID}) q
            ) t WHERE rn <= {_IVF_NPROBE_SQL}
        ),
        cand AS (
            SELECT a.vec_id FROM assign a JOIN qcells USING (cid)
            WHERE a.vec_id <> {QUERY_VEC_ID}
        )
        SELECT e.vec_id, {cosine_sql('e.embedding', 'q.embedding')} AS score
        FROM embeddings e
        JOIN cand USING (vec_id)
        CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
        ORDER BY score DESC, e.vec_id
        LIMIT {TOPK}
    """,
    doc=f"ANN top-{TOPK} probing the query's nprobe nearest IVF cells with "
    "exact cosine inside them. nprobe is SCALE-AWARE: a fixed "
    "cell count dilutes recall as the sqrt(N) codebook grows, so ivf_nprobe "
    f"holds the probed fraction at >= 1/5 of the cells (floored at {IVF_NPROBE}; "
    "same integer-only derivation on both engines).",
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nprobe-cell IVF search: rank the KB-sized centroid codebook by
    distance to the query (driver-light: the ranking is a broadcast
    cross of one row x n_cells), take the ivf_nprobe(n_cells) nearest
    cells, and run exact cosine only inside them. At 100 TB the probed
    fraction is nprobe/n_cells of the corpus — held ~constant by the
    scale-aware derivation, so recall doesn't dilute as the codebook
    grows (ANN_RECALL_*.json)."""
    emb = load_table(spark, sf_dir, "embeddings")
    n = table_rows(spark, sf_dir, "embeddings")  # one memoized count
    mod = ivf_mod(n)
    nprobe = ivf_nprobe(ivf_n_cells(n, mod))
    assign = ivf_assignments(spark, emb, mod, n)
    cent = emb.filter(F.col("vec_id") % mod == 0).select(
        F.col("vec_id").alias("cid"), to_double_array("embedding").alias("cvec")
    )
    qv0 = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        to_double_array("embedding").alias("qv0")
    )
    qcells = (
        cent.crossJoin(F.broadcast(qv0))
        .select("cid", l2sq(F.col("cvec"), F.col("qv0")).alias("qdist"))
        .orderBy("qdist", "cid")
        .limit(nprobe)
        .select("cid")
    )
    cand = (
        assign.join(F.broadcast(qcells), "cid")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id")
    )
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(to_double_array("embedding").alias("qv"))
    return (
        emb.join(cand, "vec_id")
        .select("vec_id", to_double_array("embedding").alias("v"))
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine(F.col("v"), F.col("qv")).alias("score"))
        .orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(TOPK)
    )


# --------------------------------------------------- int8 quantization


def _quantize_oracle() -> str:
    from rust_etl_spark.functions.rounding import round_half_up_sql

    return f"""
        WITH d AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ), s AS (
            SELECT vec_id, e, len(e) AS n_dims,
                   list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
            FROM d
        ), q AS (
            SELECT vec_id, n_dims, scale,
                   list_transform(e, x -> CASE WHEN scale = 0 THEN 0
                        ELSE CAST(sign(x) * floor(abs(x) / scale + 0.5) AS BIGINT)
                   END) AS qv
            FROM s
        )
        SELECT vec_id,
               CAST(n_dims AS BIGINT) AS n_dims,
               {round_half_up_sql('scale', 6)} AS scale,
               CAST(list_reduce(qv, (a, b) -> a + b) AS BIGINT) AS q_checksum,
               CAST(list_reduce(list_transform(qv, x -> abs(x)), (a, b) -> a + b)
                    AS BIGINT) AS q_l1
        FROM q
    """


@register(
    "embedding_quantize",
    oracle=_quantize_oracle(),
    doc="Symmetric int8 quantization of embedding vectors (per-vector max-abs "
    "scale, explicit half-up rounding so both engines quantize bit-identically) "
    "- the 4x vector-store compression step; verified through scalar outputs "
    "(scale, checksum, L1 mass) since array columns don't hash portably. "
    "Map-side only: per-row array folds, zero shuffles.",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 symmetric quantization: q_i = sign(x_i) * floor(|x_i| / scale
    + 0.5) with scale = max|x| / 127. The explicit sign/floor form (not
    round()) is deliberate: engines disagree on round-half behavior at
    exact .5 products, while floor of identical IEEE doubles cannot
    diverge. Reference-free: standard vector-DB compression."""
    from rust_etl_spark.functions.rounding import round_half_up

    emb = load_table(spark, sf_dir, "embeddings")
    d = emb.select("vec_id", to_double_array("embedding").alias("e"))
    scale = F.array_max(F.transform("e", F.abs)) / 127.0
    s = d.select("vec_id", "e", F.size("e").cast("long").alias("n_dims"), scale.alias("scale"))
    qv = F.transform(
        "e",
        lambda x: F.when(F.col("scale") == 0, F.lit(0).cast("long")).otherwise(
            (F.signum(x) * F.floor(F.abs(x) / F.col("scale") + 0.5)).cast("long")
        ),
    )
    q = s.select("vec_id", "n_dims", "scale", qv.alias("qv"))
    zero = F.lit(0).cast("long")
    return q.select(
        "vec_id",
        "n_dims",
        round_half_up(F.col("scale"), 6).alias("scale"),
        F.aggregate("qv", zero, lambda a, x: a + x).alias("q_checksum"),
        F.aggregate(F.transform("qv", F.abs), zero, lambda a, x: a + x).alias("q_l1"),
    )


# ------------------------------------------------- embedding hygiene

@register(
    "embedding_audit",
    oracle="""
        WITH v AS (
            SELECT label,
                   len(embedding) AS n_dims,
                   list_aggregate(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS nsq
            FROM embeddings
        )
        SELECT CAST(label AS BIGINT) AS label,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(min(n_dims) AS BIGINT) AS min_dims,
               CAST(max(n_dims) AS BIGINT) AS max_dims,
               CAST(sum(CASE WHEN nsq = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_vecs,
               floor(min(nsq) * 1000000.0 + 0.5) / 1000000.0 AS min_normsq,
               floor(max(nsq) * 1000000.0 + 0.5) / 1000000.0 AS max_normsq,
               floor((CAST(sum(CAST(floor(nsq * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                      / (CAST(count(*) AS DOUBLE) * 1000000.0)) * 10000.0 + 0.5)
                   / 10000.0 AS avg_normsq
        FROM v GROUP BY label
    """,
    doc="Embedding-store hygiene audit: per label, vector counts, dim "
    "consistency envelope (min/max dims), zero-vector count, and the "
    "squared-norm envelope — the sanity gate a vector pipeline runs "
    "before indexing/quantizing a new embedding batch.",
)
def embedding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-store data-quality audit.

    Map-side per-row folds (dims, squared norm as a left-to-right
    double fold, bit-identical to the DuckDB mirror) followed by one
    low-cardinality grouped aggregate on label — no joins, no
    shuffles beyond the tiny final exchange. All rounds (min/max and
    the cross-row mean) use the engine-portable half-up floor; the
    cross-row mean is integer-exact on both engines (per-row 1e-6
    quantization -> BIGINT sum -> one division), so no summation-order
    exposure remains.
    """
    from rust_etl_spark.functions.rounding import round_half_up

    emb = load_table(spark, sf_dir, "embeddings")
    vec = to_double_array("embedding")
    v = emb.select(
        F.col("label").cast("long").alias("label"),
        F.size("embedding").alias("n_dims"),
        F.aggregate(vec, F.lit(0.0), lambda a, x: a + x * x).alias("nsq"),
    )
    return v.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min("n_dims").cast("long").alias("min_dims"),
        F.max("n_dims").cast("long").alias("max_dims"),
        F.sum(F.when(F.col("nsq") == 0.0, 1).otherwise(0)).cast("long").alias("n_zero_vecs"),
        round_half_up(F.min("nsq"), 6).alias("min_normsq"),
        round_half_up(F.max("nsq"), 6).alias("max_normsq"),
        # Integer-exact cross-row mean (the text_stats avg_alpha
        # pattern): quantize nsq per row to a 1e-6 grid, sum the
        # BIGINTs (order-independent, exact), divide once. A plain
        # avg(double) sums in engine/partition order and can differ by
        # ulps across engines (CLAUDE.md). Headroom: nsq*1e6 is
        # ~1e8 per row, so int64 holds to ~1e10 rows per label.
        round_half_up(
            F.sum(F.floor(F.col("nsq") * F.lit(1000000.0) + F.lit(0.5)).cast("long"))
            .cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1000000.0)),
            4,
        ).alias("avg_normsq"),
    )


# ------------------------------------------------- bucket balance

@register(
    "lsh_bucket_balance",
    oracle=f"""
        WITH {_BUCKETS_SQL},
        sizes AS (
            SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM buckets GROUP BY bucket
        )
        SELECT CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(min(n) AS BIGINT) AS min_size,
               CAST(max(n) AS BIGINT) AS max_size,
               CAST(sum(n) AS BIGINT) AS n_vectors,
               CAST(sum(n * n) AS BIGINT) AS sum_sq
        FROM sizes
    """,
    doc="LSH bucket-balance diagnostic: bucket count, min/max occupancy, "
    "and the sum of squared sizes (whose ratio to n^2 is the candidate-"
    "pair cost of the bucketed join) — the load-balance measurement "
    "that decides whether the plane count needs raising before the "
    "pair stage. Integer outputs only; two bounded aggregates.",
)
def lsh_bucket_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN capacity planning: sum_sq IS the pair-stage cost model.

    Bucket sizes come from one group-by over the map-side bucket
    assignment (operators/similarity.py:lsh_bucket_assign); the final
    reduce is over at most 2^N_PLANES rows. At 100 TB this report is
    what tells you a hot bucket will quadratically dominate the
    candidate join before you pay for it.
    """
    from rust_etl_spark.plans.catalog import get as _get

    buckets = _get("lsh_bucket_assign").fn(spark, sf_dir)
    sizes = buckets.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.min("n").cast("long").alias("min_size"),
        F.max("n").cast("long").alias("max_size"),
        F.sum("n").cast("long").alias("n_vectors"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_sq"),
    )


# ---------------------------------------------- product quantization

PQ_M = 8  #: subvectors per embedding (64 dims -> 8 x 8)
PQ_SUBDIM = N_DIMS // PQ_M
PQ_K = 16  #: codes per subspace; vec_id < PQ_K are the anchor codebook
PQ_SHORTLIST = 50  #: ADC survivors re-ranked exactly (the IVF-PQ refine stage)


def _pq_sq_terms(elem, anchor, m: int) -> str:
    """Left-associated sum of squared diffs for subspace ``m``.

    ``elem``/``anchor`` map a 1-based element index to an expression
    string. Generated with IDENTICAL association order for the Spark
    and DuckDB dialects (only the accessors differ), so both engines
    execute the same IEEE operation sequence.
    """
    terms = []
    for i in range(PQ_SUBDIM):
        idx = m * PQ_SUBDIM + i + 1  # 1-based on both engines
        e, a = elem(idx), anchor(idx)
        terms.append(f"(({e}) - ({a})) * (({e}) - ({a}))")
    return "(" + " + ".join(terms) + ")"


def _pq_oracle() -> str:
    from rust_etl_spark.functions.rounding import round_half_up_sql

    elem = lambda idx: f"CAST(e.embedding[{idx}] AS DOUBLE)"  # noqa: E731
    anch = lambda idx: f"CAST(an.a[{idx}] AS DOUBLE)"  # noqa: E731
    d_cols = ", ".join(
        f"{_pq_sq_terms(elem, anch, m)} AS d{m}" for m in range(PQ_M)
    )
    min_cols = ", ".join(f"min(d{m}) AS m{m}" for m in range(PQ_M))
    code_cols = ", ".join(
        f"CAST(min(CASE WHEN d.d{m} = m.m{m} THEN d.k END) AS BIGINT) AS c{m}"
        for m in range(PQ_M)
    )
    err = " + ".join(f"m.m{m}" for m in range(PQ_M))
    return f"""
        WITH anchors AS (
            SELECT vec_id AS k, embedding AS a FROM embeddings WHERE vec_id < {PQ_K}
        ),
        d AS (
            SELECT e.vec_id, an.k, {d_cols}
            FROM embeddings e CROSS JOIN anchors an
        ),
        mins AS (SELECT vec_id, {min_cols} FROM d GROUP BY vec_id),
        codes AS (
            SELECT d.vec_id, {code_cols}
            FROM d JOIN mins m USING (vec_id) GROUP BY d.vec_id
        )
        SELECT c.*, {round_half_up_sql(err, 6)} AS recon_err
        FROM codes c JOIN mins m USING (vec_id)
    """


def _pq_anchors(emb: DataFrame) -> list:
    """Collect the deterministic anchor codebook (bounded: K x dims)."""
    anchors = (
        emb.filter(F.col("vec_id") < PQ_K)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    if len(anchors) != PQ_K:
        raise ValueError(f"anchor codebook incomplete: {len(anchors)} of {PQ_K} anchors")
    return anchors


def _pq_codebook_np(anchors: list):
    """The anchor codebook as a (K, dims) float64 numpy matrix — the
    exact doubles the oracle's CAST(... AS DOUBLE) sees (float32 ->
    float64 widening is value-exact)."""
    import numpy as np

    return np.array(
        [
            [float(a["embedding"][j]) for j in range(PQ_M * PQ_SUBDIM)]
            for a in anchors
        ],
        dtype=np.float64,
    )


def _pq_batch_matrix(pdf):
    """The Arrow batch's embedding column as an (n, dims) float64
    matrix — vectorized, bit-identical to a per-row
    ``np.asarray(e, dtype=float64)`` loop: Arrow hands each list
    element over as a float32 ndarray, and float32 -> float64 widening
    is value-exact, so stacking first and widening once yields the
    same doubles. The subspace argmin kernel, not this ingest,
    dominates worker CPU. Callers guard empty
    batches before calling (np.vstack rejects an empty sequence, and
    an empty object array would otherwise build a 1-D (0,) array that
    breaks the subspace slice downstream)."""
    import numpy as np

    return np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)


def _pq_subspace_scan(X, C, m: int):
    """(codes, mins) of subspace ``m`` for a batch: 16-way argmin of
    8-term squared distances, IEEE-identical to the SQL oracle's
    left-associated ``t1 + t2 + ... + t8`` chain.

    Order parity is explicit: the per-dimension accumulation is a
    Python loop of numpy adds (``d = t0; d += t1; ...``) — never
    ``np.sum``, whose pairwise summation reassociates and can flip
    ulp-tied argmins. ``argmin`` returns the FIRST minimum = the
    lowest code, matching the oracle's ``min(k)`` over equal-minimum
    rows. Elementwise ``(x - a) * (x - a)`` is the same two IEEE ops
    both engines run."""
    import numpy as np

    Xs = X[:, m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
    Cs = C[:, m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]
    t = Xs[:, None, :] - Cs[None, :, :]
    t = t * t
    d = t[:, :, 0].copy()
    for i in range(1, PQ_SUBDIM):
        d += t[:, :, i]
    codes = d.argmin(axis=1)
    mins = d[np.arange(d.shape[0]), codes]
    return codes, mins


@register(
    "embedding_pq_encode",
    oracle=_pq_oracle(),
    doc=f"Product quantization: each embedding compresses to {PQ_M} "
    f"subspace codes (argmin-L2 against a {PQ_K}-entry per-subspace "
    "anchor codebook, ties to the lower code) plus its reconstruction "
    f"error — 64 floats become {PQ_M} small ints, the compression "
    "behind IVF-PQ indexes that fit billion-vector corpora in memory.",
)
def embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding as an Arrow-batched numpy map — zero shuffle.

    The codebook (PQ_K anchor vectors, deterministic: vec_id < PQ_K)
    collects to the driver once — K x dims doubles, 8 KiB, bounded
    like the Lloyd/IVF codebooks above — and ships in the mapInPandas
    closure, so encoding is a pure map: per Arrow batch, per subspace,
    a vectorized 16-way argmin of 8-term squared distances
    (_pq_subspace_scan, C loops instead of per-element Catalyst array
    lambdas). No join, no shuffle; at 100 TB every task encodes its partition
    against the closure-constant codebook, and the Python workers are
    Arrow-batched, never row-at-a-time. The DuckDB oracle evaluates
    the same left-associated IEEE expression chain via a cross join
    against the anchor rows, with the same ties-to-lower-code argmin
    (numpy argmin takes the FIRST minimum, i.e. the lowest code,
    matching the oracle's min(k) over the equal-minimum rows);
    recon_err applies the same floor-based round_half_up, so results
    are bit-identical (verified value-for-value at the 100x tier).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    C = _pq_codebook_np(_pq_anchors(emb))
    schema = (
        "vec_id long, "
        + ", ".join(f"c{m} long" for m in range(PQ_M))
        + ", recon_err double"
    )
    return emb.select("vec_id", "embedding").mapInPandas(_pq_encode_batches(C), schema)


def _pq_encode_batches(C):
    """mapInPandas body for :func:`embedding_pq_encode` — module-level
    so the kernel contract is unit-testable without a cluster
    (tests/test_pq_kernel_contract.py). Empty Arrow batches are
    skipped: a direct parquet scan rarely emits one, but any upstream
    filter/repartition may, and an empty batch would otherwise reach
    np.vstack / the subspace slice as a malformed (0,) array."""
    import numpy as np
    import pandas as pd

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _pq_batch_matrix(pdf)
            out = {"vec_id": pdf["vec_id"].values}
            err = None
            for m in range(PQ_M):
                codes, mins = _pq_subspace_scan(X, C, m)
                out[f"c{m}"] = codes.astype(np.int64)
                err = mins if err is None else err + mins
            out["recon_err"] = np.floor(err * 1e6 + 0.5) / 1e6
            yield pd.DataFrame(out)

    return encode


def _pq_adc_batches(C, grid):
    """mapInPandas body for :func:`similarity_ann_pq` stage 1 —
    module-level for the same unit-test reason as
    :func:`_pq_encode_batches`, with the same empty-batch skip. The
    embedding column passes THROUGH the worker untouched so the corpus
    is scanned exactly once."""
    import numpy as np
    import pandas as pd

    def adc_scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _pq_batch_matrix(pdf)
            dist = None
            for m in range(PQ_M):
                codes, _ = _pq_subspace_scan(X, C, m)
                g = grid[m][codes]
                dist = g if dist is None else dist + g
            dist = np.floor(dist * 1e6 + 0.5) / 1e6
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "embedding": pdf["embedding"].values,
                    "adc_dist": dist,
                }
            )

    return adc_scan


def _pq_ann_oracle() -> str:
    from rust_etl_spark.functions.rounding import round_half_up_sql

    elem = lambda idx: f"CAST(e.embedding[{idx}] AS DOUBLE)"  # noqa: E731
    anch = lambda idx: f"CAST(an.a[{idx}] AS DOUBLE)"  # noqa: E731
    qelem = lambda idx: f"CAST(q.qe[{idx}] AS DOUBLE)"  # noqa: E731
    d_cols = ", ".join(f"{_pq_sq_terms(elem, anch, m)} AS d{m}" for m in range(PQ_M))
    min_cols = ", ".join(f"min(d{m}) AS m{m}" for m in range(PQ_M))
    code_cols = ", ".join(
        f"CAST(min(CASE WHEN d.d{m} = m.m{m} THEN d.k END) AS BIGINT) AS c{m}"
        for m in range(PQ_M)
    )
    adc_cols = ", ".join(
        f"{_pq_sq_terms(qelem, anch, m)} AS d{m}" for m in range(PQ_M)
    )
    dist = " + ".join(f"a{m}.d{m}" for m in range(PQ_M))
    joins = " ".join(f"JOIN adc a{m} ON a{m}.k = c.c{m}" for m in range(PQ_M))
    return f"""
        WITH anchors AS (
            SELECT vec_id AS k, embedding AS a FROM embeddings WHERE vec_id < {PQ_K}
        ),
        d AS (
            SELECT e.vec_id, an.k, {d_cols}
            FROM embeddings e CROSS JOIN anchors an
        ),
        mins AS (SELECT vec_id, {min_cols} FROM d GROUP BY vec_id),
        codes AS (
            SELECT d.vec_id, {code_cols}
            FROM d JOIN mins m USING (vec_id) GROUP BY d.vec_id
        ),
        adc AS (
            SELECT an.k, {adc_cols}
            FROM anchors an
            CROSS JOIN (SELECT embedding AS qe FROM embeddings
                        WHERE vec_id = {QUERY_VEC_ID}) q
        ),
        short AS (
            SELECT c.vec_id, {round_half_up_sql(dist, 6)} AS adc_dist
            FROM codes c {joins}
            WHERE c.vec_id <> {QUERY_VEC_ID}
            ORDER BY adc_dist, c.vec_id
            LIMIT {PQ_SHORTLIST}
        )
        SELECT s.vec_id, s.adc_dist,
               {l2sq_sql('e.embedding', 'q.qe')} AS dist
        FROM short s
        JOIN embeddings e USING (vec_id)
        CROSS JOIN (SELECT embedding AS qe FROM embeddings
                    WHERE vec_id = {QUERY_VEC_ID}) q
        ORDER BY dist, s.vec_id
        LIMIT {TOPK}
    """


@register(
    "similarity_ann_pq",
    oracle=_pq_ann_oracle(),
    doc="ANN top-k by PQ asymmetric distance with exact re-rank: every "
    "candidate is scored from its 8 PQ codes (8 lookups into a "
    "precomputed query-to-codebook grid — raw vectors never load), the "
    "best PQ_SHORTLIST survivors re-rank by exact L2 — the two-stage "
    "shape every production IVF-PQ index runs, because ADC alone "
    "quantizes too coarsely for top-k fidelity (measured recall curve "
    "in CATALOG.md / tests/test_ann_recall.py).",
)
def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC shortlist + exact re-rank — zero shuffle before the
    k-merges.

    Stage 1 (cheap, whole corpus): the per-subspace query-to-anchor
    distance grid (M x K = 128 doubles) precomputes on the driver with
    the SAME left-associated IEEE term order as the SQL oracle (Python
    floats are IEEE doubles, so the grids are bit-identical) and ships
    in the mapInPandas closure with the codebook; each Arrow batch
    encodes (_pq_subspace_scan; see embedding_pq_encode) and sums its
    8 grid lookups left-associated,
    carrying the embedding column THROUGH the Python worker untouched
    so the corpus is scanned exactly once. A TakeOrdered keeps the
    best PQ_SHORTLIST rows. Stage 2 (exact, shortlist only): those
    rows re-rank by exact L2 against the literal query vector, in
    codegen — PQ_SHORTLIST rows, not worth a worker round trip. At
    100 TB stage 1's per-candidate cost is independent of
    dimensionality (8 in-memory lookups once encoded) and stage 2
    touches PQ_SHORTLIST raw vectors total.
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = _pq_anchors(emb)
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding").collect()[0][
        "embedding"
    ]
    C = _pq_codebook_np(anchors)

    def sub_dist(m: int, avals) -> float:
        acc = None
        for i in range(PQ_SUBDIM):
            idx = m * PQ_SUBDIM + i
            t = (float(q[idx]) - float(avals[idx])) * (float(q[idx]) - float(avals[idx]))
            acc = t if acc is None else acc + t
        return acc

    grid = np.array(
        [
            [sub_dist(m, anchors[k]["embedding"]) for k in range(PQ_K)]
            for m in range(PQ_M)
        ],
        dtype=np.float64,
    )

    shortlist = (
        emb.select("vec_id", "embedding")
        .mapInPandas(
            _pq_adc_batches(C, grid),
            "vec_id long, embedding array<float>, adc_dist double",
        )
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .orderBy("adc_dist", "vec_id")
        .limit(PQ_SHORTLIST)
    )
    qlit = F.array(*[F.lit(float(x)) for x in q])
    return (
        shortlist.select(
            "vec_id",
            "adc_dist",
            l2sq(to_double_array("embedding"), qlit).alias("dist"),
        )
        .orderBy("dist", "vec_id")
        .limit(TOPK)
    )
