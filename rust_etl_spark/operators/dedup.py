"""Deduplication operators (SURVEY.md §2c): exact, MinHash-LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Design for 100 TB:
- *exact* dedup groups on a 128-bit content hash, not the full text —
  the shuffle moves 16-byte keys + ids, never documents;
- *MinHash-LSH* is the scale path for near-dup: k universal hashes
  over the distinct-token set, banded so candidate generation is an
  equi-join on (band, signature) — no pairwise comparison ever touches
  non-candidates. Band signatures are plain shuffle keys, so AQE can
  split skewed buckets;
- *n-gram Jaccard* computes exact pair similarity as a sparse
  token-posting self-join (inverted-index pattern) — cost is bounded
  by document frequency per shingle, not n^2;
- *SimHash* reduces each doc to one 32-bit signature: near-dups
  collide exactly, grouping is a trivial hash shuffle;
- *embedding cosine* is quadratic by nature; the registered query runs
  the brute-force form (correctness oracle), the LSH-bucketed variant
  in operators/similarity.py is the scale path.

All hashing is the cross-engine md5-based family from
functions.hashing, so every stage has an exact DuckDB mirror.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rust_etl_spark.functions.hashing import (
    md5_long60,
    md5_long60_sql,
    universal_hash,
    universal_hash_sql,
)
from rust_etl_spark.functions.textfns import (
    distinct_tokens,
    distinct_tokens_sql,
    tokens,
    tokens_sql,
    word_shingles,
    word_shingles_sql,
)
from rust_etl_spark.functions.rounding import round_half_up, round_half_up_sql
from rust_etl_spark.functions.vectors import cosine, to_double_array
from rust_etl_spark.plans.catalog import register
from rust_etl_spark.sources import load_table

def expand_pairs(members: str, pair):
    """Explode every ordered pair (x, y), x before y, of the sorted array
    column ``members`` into one ``pair(x, y)`` struct per row — in-row
    expansion, so candidate generation never self-joins (and never
    recomputes the upstream pipeline for a second join side)."""
    return F.explode(
        F.flatten(
            F.transform(
                members,
                lambda x, i: F.transform(
                    F.slice(F.col(members), i + 2, F.size(members)),
                    lambda y: pair(x, y),
                ),
            )
        )
    )


# ---------------------------------------------------------------- exact

@register(
    "dedup_exact",
    oracle="""
        SELECT doc_id, text, lang, source, n_chars FROM (
            SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
            FROM documents
        ) t WHERE rn = 1
    """,
    doc="Exact dedup keeping the lowest doc_id per text (deterministic survivor).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("text").orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text", "lang", "source", "n_chars")
    )


@register(
    "dedup_exact_hash",
    oracle="""
        SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    doc="Hash-groupBy exact dedup: shuffle 16-byte fingerprints, never documents.",
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
    )


# ------------------------------------------------------------- minhash

MINHASH_K = 8          #: number of hash functions
MINHASH_BAND_ROWS = 2  #: rows per band => 4 bands


def minhash_wide(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}): MinHash signature of each doc's
    distinct-token set — ONE map-side projection, zero shuffles.

    Per row: token array -> md5-hash array -> k array_min folds of the
    universal-hash family. At any scale this is embarrassingly
    parallel; the first shuffle in any MinHash pipeline is the
    downstream bucket groupBy. Docs with no tokens are dropped
    (mirrors the explode semantics of the SQL oracle).
    """
    toks = docs.select("doc_id", distinct_tokens("text").alias("t")).filter(F.size("t") > 0)
    th = toks.select("doc_id", F.transform("t", md5_long60).alias("th"))

    def uh(i: int):
        # MUST be a 1-arg lambda: a 2-arg lambda (even via default args)
        # makes F.transform pass the element *index* as the 2nd arg.
        return lambda h: universal_hash(h, 1 + 2 * i, 12_345 + 7_919 * i)

    cols = [F.array_min(F.transform("th", uh(i))).alias(f"mh_{i}") for i in range(k)]
    return th.select("doc_id", *cols)


def minhash_bands(
    wide: DataFrame, k: int = MINHASH_K, band_rows: int = MINHASH_BAND_ROWS
) -> DataFrame:
    """(doc_id, band, sig): banded signature strings — pure projection
    + explode over the wide signature, still no shuffle."""
    structs = [
        F.struct(
            F.lit(b).cast("long").alias("band"),
            F.concat_ws(
                ",", *[F.col(f"mh_{i}").cast("string") for i in range(b * band_rows, (b + 1) * band_rows)]
            ).alias("sig"),
        )
        for b in range(k // band_rows)
    ]
    return wide.select("doc_id", F.explode(F.array(*structs)).alias("bs")).select(
        "doc_id", "bs.band", "bs.sig"
    )


#: LSH buckets larger than this are skipped during pair generation.
#: Mega-buckets are exact-duplicate clusters (handled linearly by
#: ``dedup_minhash_groups``); pairing inside them is O(bucket^2) and
#: adds no information. This frequency cap is what keeps candidate
#: generation near-linear at 100 TB.
MINHASH_MAX_BUCKET = 64

_MINHASH_CORE = f"""
    tok AS (
        SELECT doc_id, unnest({distinct_tokens_sql('text')}) AS tok FROM documents
    ), h AS (
        SELECT doc_id, {md5_long60_sql('tok')} AS th FROM tok
    ), params AS (
        SELECT unnest(range(0, {MINHASH_K})) AS i
    ), mh AS (
        SELECT doc_id, i,
               min({universal_hash_sql('th', '1 + 2 * i', '12345 + 7919 * i')}) AS mh
        FROM h CROSS JOIN params GROUP BY doc_id, i
    )
"""

_MINHASH_ORACLE = f"""
    WITH {_MINHASH_CORE}, band AS (
        SELECT doc_id, i // {MINHASH_BAND_ROWS} AS band,
               string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
        FROM mh GROUP BY doc_id, i // {MINHASH_BAND_ROWS}
    ), capped AS (
        SELECT doc_id, band, sig FROM (
            SELECT doc_id, band, sig,
                   count(*) OVER (PARTITION BY band, sig) AS bucket_n
            FROM band
        ) t WHERE bucket_n <= {MINHASH_MAX_BUCKET}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped a JOIN capped b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
"""


def minhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) MinHash-LSH near-dup candidate pairs (doc_a < doc_b)
    at the shipped operating point; ``minhash_candidate_pairs_df`` takes
    ``(k, band_rows)`` so recall can be characterized against
    exact-Jaccard ground truth (see ``minhash_recall`` and the recall
    table in CATALOG.md)."""
    return minhash_candidate_pairs_df(load_table(spark, sf_dir, "documents"))


def minhash_candidate_pairs_df(
    docs: DataFrame, k: int = MINHASH_K, band_rows: int = MINHASH_BAND_ROWS
) -> DataFrame:
    """Candidate-pair core over an arbitrary (doc_id, text) frame."""
    bands = minhash_bands(minhash_wide(docs, k), k, band_rows)
    # One aggregation per bucket, then in-bucket pair expansion — NOT a
    # self-join: a self-join would recompute the whole signature
    # pipeline per side (no plan reuse), and the bucket cap already
    # bounds each member list to MINHASH_MAX_BUCKET.
    buckets = (
        bands.groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"))
        .filter((F.size("members") >= 2) & (F.size("members") <= MINHASH_MAX_BUCKET))
    )
    pairs = buckets.select(
        expand_pairs(
            "members", lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b"))
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


@register(
    "dedup_minhash_lsh",
    oracle=_MINHASH_ORACLE,
    doc=f"MinHash({MINHASH_K})+LSH({MINHASH_BAND_ROWS}-row bands) near-dup candidate pairs, "
    f"bucket-capped at {MINHASH_MAX_BUCKET} (mega-buckets go to dedup_minhash_groups).",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_candidate_pairs(spark, sf_dir)


@register(
    "dedup_clusters",
    oracle=f"""
        WITH RECURSIVE base AS ({_MINHASH_ORACLE}),
        edges AS (
            SELECT doc_a AS u, doc_b AS v FROM base
            UNION
            SELECT doc_b AS u, doc_a AS v FROM base
        ),
        walk(u, lbl) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
            UNION
            SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v
        )
        SELECT u AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY u
    """,
    doc="Duplicate clusters: connected components over the MinHash-LSH candidate-pair "
    "graph via iterative min-label propagation (cluster_id = min doc_id reachable). "
    "The step that turns pairwise near-dup evidence into keep-one-per-cluster decisions.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation to a fixpoint.

    Each round is one shuffle-join round (labels x edges, groupBy min)
    and converges in O(graph diameter) rounds — near-dup cluster
    graphs are band-induced quasi-cliques, so 2-3 rounds in practice.
    The driver-side loop only checks an aggregate convergence bit per
    round; all per-row work stays distributed (at larger scale swap the
    propagation for the large-star/small-star formulation — same
    DataFrame ops, fewer rounds on high-diameter graphs).
    DuckDB mirror: recursive CTE computing min reachable doc_id.
    """
    pairs = minhash_candidate_pairs(spark, sf_dir)
    return connected_components(pairs, "doc_a", "doc_b").select(
        F.col("u").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def _canonical_edges(e: DataFrame) -> DataFrame:
    """Undirected edge list in canonical (u > v) orientation, no
    self-loops, no duplicates."""
    return (
        e.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
        )
        .distinct()
    )


def _star_round(c: DataFrame) -> DataFrame:
    """One large-star + small-star pass (Kiveris et al., 'Connected
    Components in MapReduce and Beyond', SoCC'14) over a canonical
    (u > v) edge list. The combined operator's fixpoint is a star
    forest: every node linked directly to its component minimum."""
    # Large-star: per node u over its FULL neighborhood, link every
    # strictly-larger neighbor to m = min(neighbors + u). Halves long
    # chains every pass instead of walking them one hop per round.
    s = c.unionByName(c.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = s.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    big = (
        s.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    c1 = _canonical_edges(big)
    # Small-star: per node u over its SMALLER neighbors (canonical
    # attachment), link them and u itself to their minimum.
    mins2 = c1.groupBy("u").agg(F.min("v").alias("m"))
    small = c1.join(mins2, "u").select(F.col("v").alias("u"), F.col("m").alias("v")).unionByName(
        mins2.select("u", F.col("m").alias("v"))
    )
    return _canonical_edges(small)


#: Label-propagation rounds before escalating to star rounds, and the
#: cap on star rounds (see :func:`connected_components`).
CC_STAR_AFTER = 5
CC_MAX_ROUNDS = 50


def connected_components(
    pairs: DataFrame,
    a: str,
    b: str,
    stats: dict | None = None,
) -> DataFrame:
    """(u, lbl) for every node of the undirected pair graph, where lbl
    is the minimum node id in its connected component.

    Hybrid strategy: distributed min-label propagation (one join +
    groupBy-min per round, O(diameter) rounds — 2-3 on the band-induced
    quasi-cliques near-dup graphs form) for up to ``CC_STAR_AFTER``
    rounds; if still unconverged the graph is high-diameter
    (chain/lattice-shaped), so it escalates to alternating
    large-star/small-star rounds, which converge in O(log^2 n) — the
    same DataFrame ops, but each pass halves path lengths instead of
    walking one hop. The star phase is seeded with the propagation
    phase's partial labels (label edges preserve connectivity), so no
    progress is discarded. ``stats`` (optional dict) receives
    ``plain_rounds`` / ``star_rounds`` for observability; property-
    tested against a union-find reference in tests/test_properties.py.

    ``CC_STAR_AFTER = 5`` is measured, not guessed: the sf0.1 MinHash
    candidate graph converges in exactly 5 propagation rounds (2.52 s);
    escalating earlier is slower there (after 3 rounds → 3.44 s,
    after 2 → 3.21 s) because a star round (two sub-phases +
    distinct) costs more than a propagation round. The escalation pays
    off only on genuinely high-diameter graphs (50-chain: 49 plain
    rounds vs ~7 hybrid). A fused round-0 initialization (labels =
    min of closed neighborhood) was also measured slower (2.97 s vs
    2.46 s) despite saving a round — kept out.
    """
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .unionByName(pairs.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .localCheckpoint(eager=True)  # fixed frontier reused every round
    )
    nodes = edges.select("u").distinct()
    labels = nodes.withColumn("lbl", F.col("u"))
    plain_rounds = 0
    converged = False
    for _ in range(CC_STAR_AFTER):
        plain_rounds += 1
        prop = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("lbl").alias("nlbl"))
        )
        # One materialization per round: the new label AND the
        # convergence bit live in the same checkpointed frame, so the
        # changed-check reads the materialized rows instead of
        # re-running the join.
        step = (
            labels.join(prop, "u", "left")
            .select(
                "u",
                F.least("lbl", F.coalesce("nlbl", "lbl")).alias("lbl"),
                (F.coalesce("nlbl", "lbl") < F.col("lbl")).alias("moved"),
            )
            .localCheckpoint(eager=True)  # also truncates the growing lineage
        )
        labels = step.select("u", "lbl")
        if step.filter(F.col("moved")).limit(1).count() == 0:
            converged = True
            break
    if stats is not None:
        stats["plain_rounds"] = plain_rounds
        stats["star_rounds"] = 0
    if converged:
        return labels
    # Escalation: seed the star graph with the original edges PLUS the
    # partial labels (u -> lbl edges), canonicalized.
    label_edges = labels.filter(F.col("lbl") != F.col("u")).select(
        "u", F.col("lbl").alias("v")
    )
    c = _canonical_edges(edges.unionByName(label_edges)).localCheckpoint(eager=True)

    def sig(frame: DataFrame) -> tuple:
        # Cheap order-independent fingerprint of the materialized edge
        # set for convergence detection (count + hash sum).
        return tuple(
            frame.agg(
                F.count(F.lit(1)).alias("n"),
                # decimal sum: exact and overflow-proof under ANSI mode
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
            ).first()
        )

    prev = sig(c)
    star_rounds = 0
    for _ in range(CC_MAX_ROUNDS):
        star_rounds += 1
        c = _star_round(c).localCheckpoint(eager=True)
        cur = sig(c)
        if cur == prev:
            break
        prev = cur
    if stats is not None:
        stats["star_rounds"] = star_rounds
    # Fixpoint is a star forest: every non-min node has exactly the
    # edge (u, component_min); component minima only appear as v.
    lbl = c.groupBy("u").agg(F.min("v").alias("lbl"))
    return nodes.join(lbl, "u", "left").select(
        "u", F.coalesce("lbl", F.col("u")).alias("lbl")
    )


@register(
    "dedup_minhash_groups",
    oracle=f"""
        WITH {_MINHASH_CORE}, sig AS (
            SELECT doc_id, string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS signature
            FROM mh GROUP BY doc_id
        )
        SELECT doc_id, min(doc_id) OVER (PARTITION BY signature) AS keeper,
               count(*) OVER (PARTITION BY signature) AS n_members
        FROM sig
    """,
    doc="Linear near-dup clustering: group docs by FULL MinHash signature; "
    "keeper = min doc_id per cluster. The scale path for mega-duplicate groups.",
)
def dedup_minhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_wide(docs).select(
        "doc_id",
        F.concat_ws(",", *[F.col(f"mh_{i}").cast("string") for i in range(MINHASH_K)]).alias("signature"),
    )
    w = Window.partitionBy("signature")
    return sig.select(
        "doc_id",
        F.min("doc_id").over(w).alias("keeper"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )


# ------------------------------------------------------- ngram jaccard

JACCARD_SHINGLE_N = 3
JACCARD_THRESHOLD = 0.2
#: Shingles appearing in more documents than this are dropped before
#: the posting-list self-join: a shingle with df=d generates d^2/2 join
#: rows while contributing almost no discrimination. The df-cap bounds
#: join fan-out (the classic inverted-index optimization — similarity
#: is then Jaccard over the *discriminative* shingle universe).
JACCARD_DF_CAP = 64

#: Shingles are hashed to 60-bit BIGINTs *before* any shuffle: the
#: inverted-index stages key on `sh`, and an 8-byte long shuffles ~4x
#: fewer bytes than a raw 3-token shingle string (measured at sf0.1:
#: 34.7 MB of shingle-string shuffle before). Collisions (2^-60) are mirrored
#: exactly by the oracle, which applies the identical md5 hash.
_SHINGLES_SQL = (
    "list_distinct(list_transform("
    f"{word_shingles_sql(tokens_sql('text'), JACCARD_SHINGLE_N)}, "
    f"s -> {md5_long60_sql('s')}))"
)

_JACCARD_ORACLE = f"""
    WITH sh_all AS (
        SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM documents
    ), sh AS (
        SELECT doc_id, sh FROM (
            SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh_all
        ) t WHERE df <= {JACCARD_DF_CAP}
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           floor((n_common / (sa.n + sb.n - n_common)) * 10000.0 + 0.5) / 10000.0 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_common / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
"""


def _shingle_overlaps(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, na, nb, n_common) for every pair of documents that
    share a discriminative shingle: na / nb are the sizes of each
    document's df-capped shingle set, n_common the size of their
    intersection. The candidate stage of ``dedup_ngram_jaccard`` and
    ``dedup_containment``, which differ only in the score.

    Single linear dataflow — ONE scan of ``docs``. Spark has no subplan
    reuse above exchanges, so a stage consumed twice (e.g. per-doc
    sizes joined back onto the pairs) re-evaluates scan + tokenize +
    shingle + shuffle once per consumer. Here every stage is consumed
    exactly once: df-cap via a window on shingle, per-doc
    discriminative-set size via a window on doc_id (carried alongside,
    so no size join later), regroup by shingle, in-row pair expansion
    with both sizes already attached, and one final pair aggregation.
    Shuffle keys are shingle / doc_id / pair — all high-cardinality and
    AQE-splittable at 100 TB; per-list width stays bounded by the
    df-cap.
    """
    # Materialize the token array before shingling (see word_shingles PERF note).
    toks = docs.select("doc_id", tokens("text").alias("t"))
    sh_all = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(word_shingles(F.col("t"), JACCARD_SHINGLE_N), md5_long60)
            )
        ).alias("sh"),
    )
    capped = sh_all.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
    ).filter(F.col("df") <= JACCARD_DF_CAP)
    sized = capped.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    members = (
        sized.groupBy("sh")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n"))).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    pairs = members.select(
        expand_pairs(
            "ms",
            lambda x, y: F.struct(
                x["doc_id"].alias("doc_a"),
                x["n"].alias("na"),
                y["doc_id"].alias("doc_b"),
                y["n"].alias("nb"),
            ),
        ).alias("p")
    )
    return pairs.groupBy("p.doc_a", "p.doc_b", "p.na", "p.nb").agg(
        F.count(F.lit(1)).alias("n_common")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_ORACLE,
    doc=f"{JACCARD_SHINGLE_N}-gram Jaccard pairs >= {JACCARD_THRESHOLD} via an inverted "
    f"index over discriminative shingles (df <= {JACCARD_DF_CAP}); one linear dataflow, "
    "single documents scan, in-row pair expansion.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard n_common / (na + nb - n_common) over ``_shingle_overlaps``."""
    inter = _shingle_overlaps(load_table(spark, sf_dir, "documents"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", round_half_up(jac, 4).alias("jaccard"))
    )


# ------------------------------------------------------------- simhash

SIMHASH_BITS = 32

_SIMHASH_ORACLE = f"""
    WITH tok AS (
        SELECT doc_id, unnest({distinct_tokens_sql('text')}) AS tok FROM documents
    ), h AS (
        SELECT doc_id, {md5_long60_sql('tok')} AS th FROM tok
    ), bits AS (
        SELECT unnest(range(0, {SIMHASH_BITS})) AS j
    ), contrib AS (
        SELECT doc_id, j,
               sum(CASE WHEN (th // (CAST(1 AS BIGINT) << j)) % 2 = 1 THEN 1 ELSE -1 END) AS c
        FROM h CROSS JOIN bits GROUP BY doc_id, j
    )
    SELECT doc_id,
           -- CAST: sum(BIGINT) is HUGEINT in DuckDB -> float64 via fetchdf(),
           -- which breaks the driver's value hash vs Spark's BIGINT.
           CAST(sum(CASE WHEN c > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS simhash
    FROM contrib GROUP BY doc_id
"""


def _simhash_batches():
    """mapInPandas body for :func:`dedup_simhash` — module-level so the
    kernel contract is unit-testable without a cluster
    (tests/test_simhash_kernel_contract.py). All-integer arithmetic,
    bit-identical to the Catalyst fold it replaced: per bit j,
    ``ones_j = popcount over tokens of bit j`` and the signed counter
    of the SimHash definition is ``2*ones_j - T``, so bit j is set iff
    ``2*ones_j > T``. Empty Arrow batches are skipped (the PQ-kernel
    precedent: an upstream filter may emit one and it would reach
    np.concatenate as a malformed input). Zero-length ``th`` arrays
    raise ValueError (ADVICE r15): ``np.add.reduceat`` silently
    returns ``flat[start]`` — the NEXT doc's first hash — for an
    empty segment, a wrong signature rather than an error, so the
    kernel hard-fails if reused without the caller's size(t) > 0
    filter (pinned in the contract test)."""
    import numpy as np
    import pandas as pd

    def fold(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            lens = np.fromiter((len(a) for a in pdf["th"]), np.int64, len(pdf))
            if lens.min() <= 0:
                raise ValueError("empty th segment: reduceat would read the next doc")
            flat = np.concatenate([np.asarray(a, np.int64) for a in pdf["th"]])
            starts = np.zeros(lens.size, np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sim = np.zeros(lens.size, np.int64)
            for j in range(SIMHASH_BITS):
                ones = np.add.reduceat((flat >> j) & 1, starts)
                sim |= (ones * 2 > lens).astype(np.int64) << j
            yield pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(np.int64), "simhash": sim})

    return fold


@register(
    "dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    doc=f"{SIMHASH_BITS}-bit SimHash signature per document (near-dups collide).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side only: tokenize+md5 in codegen, then ONE Arrow-batched
    numpy pass folds the hash array into the 32-bit signature — no
    explode, no shuffle anywhere in the whole plan.

    PERF (round 15): the previous Catalyst form folded the token-hash
    array through a 32-long accumulator via ``aggregate``+``zip_with``
    +``bit_get`` — 32 lambda evaluations and a fresh 32-element array
    allocation per TOKEN. That is the dense fixed-shape integer kernel
    the PQ-encode precedent flagged (guide §4.2: hand whole batches to
    numpy; CLAUDE.md: higher-order folds pay ~17x on dense kernels).
    Subtree attribution at gen_sf10 (warm, min-of-3, noop sink):
    scan+distinct_tokens+md5 1.46 s, full Catalyst query 4.00 s — the
    fold alone was ~2.5 s. The numpy swap (32 vectorized shift/mask
    passes + np.add.reduceat per doc-segment) removes it; md5 hashing
    stays in the JVM so only (doc_id, array<long>) crosses the Arrow
    boundary, the columns the kernel needs and nothing else (§4.1).
    Bit-parity: integers end to end, verified value-for-value against
    the old fold at gen_sf10 before shipping; contract pinned in
    tests/test_simhash_kernel_contract.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", distinct_tokens("text").alias("t")).filter(F.size("t") > 0)
    th = toks.select("doc_id", F.transform("t", md5_long60).alias("th"))
    return th.mapInPandas(_simhash_batches(), "doc_id long, simhash long")


MINHASH_VERIFY_TAU = 0.8


def _verified_oracle() -> str:
    from rust_etl_spark.functions.rounding import round_half_up_sql

    inter = "len(list_filter(a.t, x -> list_contains(b.t, x)))"
    jac = f"{inter} / CAST(len(a.t) + len(b.t) - {inter} AS DOUBLE)"
    return f"""
        WITH base AS ({_MINHASH_ORACLE}),
        ta AS (SELECT doc_id, {distinct_tokens_sql('text')} AS t FROM documents)
        SELECT doc_a, doc_b, {round_half_up_sql(jac, 4)} AS jaccard
        FROM base
        JOIN ta a ON a.doc_id = base.doc_a
        JOIN ta b ON b.doc_id = base.doc_b
        WHERE {jac} >= {MINHASH_VERIFY_TAU}
    """


@register(
    "dedup_minhash_verified",
    oracle=_verified_oracle(),
    doc=f"Two-phase near-dup: MinHash-LSH candidates VERIFIED by exact distinct-token "
    f"Jaccard >= {MINHASH_VERIFY_TAU} — the standard candidate->verify pipeline; "
    "verification cost is linear in candidates, never all-pairs.",
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs joined back to per-doc distinct-token arrays for
    exact-Jaccard verification.

    Join strategy (round 11): both token joins hint ``shuffle_hash``
    with the PAIRS side as build. The round-11 misbroadcast audit
    (scripts/misbroadcast_audit.py) caught Catalyst's unhinted pick
    broadcasting the RAW token-array projection of documents on the
    second join at the 100x tier — the only raw fact broadcast left in
    the catalog, the same pathology class as events_range_join's
    (token arrays grow with the corpus; the build would die on a
    driver at scale). The hinted form is measured at par locally
    (1.93 s vs 1.77 s shipped / 1.91 s merge, min-of-3 at gen_sf10 —
    within spread) and is deterministic + scale-safe in every regime:
    both sides shuffle on doc_id, each task hash-builds only its
    bucket-capped pairs slice (bounded by AQE's 16 MB advisory), and
    Spark's fallback when a hint can't be honored is the spill-safe
    SMJ on the same key."""
    from rust_etl_spark.functions.rounding import round_half_up

    pairs = minhash_candidate_pairs(spark, sf_dir)
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", distinct_tokens("text").alias("t")
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("t_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("t_b"))
    joined = (
        pairs.hint("shuffle_hash")
        .join(ta, "doc_a")
        .hint("shuffle_hash")
        .join(tb, "doc_b")
    )
    inter = F.size(F.array_intersect("t_a", "t_b"))
    jac = inter / (F.size("t_a") + F.size("t_b") - inter).cast("double")
    return (
        joined.filter(jac >= MINHASH_VERIFY_TAU)
        .select("doc_a", "doc_b", round_half_up(jac, 4).alias("jaccard"))
    )


# ------------------------------------------------- incremental dedup

#: Fixture split for the incremental-dedup query: doc_id < split plays
#: the stored corpus, doc_id >= split the incoming batch.
CORPUS_SPLIT = 250


@register(
    "dedup_against_corpus",
    oracle=f"""
        WITH {_MINHASH_CORE}, band AS (
            SELECT doc_id, i // {MINHASH_BAND_ROWS} AS band,
                   string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i) AS sig
            FROM mh GROUP BY doc_id, i // {MINHASH_BAND_ROWS}
        ), corpus AS (
            SELECT DISTINCT band, sig FROM band WHERE doc_id < {CORPUS_SPLIT}
        ), incoming AS (
            SELECT doc_id, band, sig FROM band WHERE doc_id >= {CORPUS_SPLIT}
        )
        SELECT i.doc_id, CAST(count(DISTINCT i.band) AS BIGINT) AS n_hit_bands
        FROM incoming i JOIN corpus c ON i.band = c.band AND i.sig = c.sig
        GROUP BY i.doc_id
    """,
    doc=f"Incremental dedup: incoming docs (doc_id >= {CORPUS_SPLIT}) probe the "
    f"STORED corpus band index (doc_id < {CORPUS_SPLIT}) - the production shape "
    "for a growing corpus: cost scales with the batch, the corpus is never "
    "re-paired with itself, and at 100 TB the index is a pre-bucketed table "
    "the probe equi-joins into. n_hit_bands = how many bands collide.",
)
def dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric candidate probe. The corpus side reduces to DISTINCT
    (band, sig) keys — at scale that's the persisted LSH index (written
    once, bucketed on the join key); only the incoming batch computes
    fresh signatures. Complement of the batch-mode self-candidate
    generation in ``minhash_candidate_pairs``."""
    docs = load_table(spark, sf_dir, "documents")
    bands = minhash_bands(minhash_wide(docs))
    corpus = (
        bands.filter(F.col("doc_id") < CORPUS_SPLIT).select("band", "sig").distinct()
    )
    incoming = bands.filter(F.col("doc_id") >= CORPUS_SPLIT)
    return (
        incoming.join(corpus, ["band", "sig"])
        .groupBy("doc_id")
        .agg(F.count_distinct("band").alias("n_hit_bands"))
    )


# ------------------------------------------- minhash recall measurement

#: Candidate recall of MinHash-LSH banding vs exact distinct-token
#: Jaccard ground truth at the tau=0.8 operating point, measured by
#: ``minhash_recall`` on the deterministic planted-pair corpus from
#: ``recall_corpus`` (500 docs over a 2000-word vocabulary; 150 planted
#: near-dup pairs at J≈0.82/0.87/0.94; unrelated pairs J≈0.02).
#: Theory column: P(candidate) = 1-(1-s^r)^b at s=0.8, b=k/r bands —
#: the WORST point of the >=tau range, so measured recall (averaged
#: over planted similarities above tau) sits above it. The shipped
#: (8,2) point keeps expected recall >0.98 at half the hashes of
#: (16,2); (8,4)'s 2 bands is the cautionary row — banding too wide
#: collapses recall. tests/test_minhash_recall.py re-measures the
#: shipped setting and floors it at 0.95.
#:
#: On the driver fixture itself (documents.parquet, ~30-word
#: vocabulary) tau=0.8 ground truth is DEGENERATE — 32,191 of 124,750
#: pairs (26%) qualify because most distinct-token sets cover nearly
#: the whole tiny vocabulary. There the bucket cap routes the resulting
#: mega-buckets to the linear full-signature path by design
#: (dedup_minhash_groups); capped-LSH recall alone is 0.04 and
#: LSH∪groups system recall 0.42 on that corpus shape — numbers that
#: characterize the cap's mega-cluster routing, not the banding.
MINHASH_RECALL_TABLE: tuple[tuple[int, int, float, float], ...] = (
    # (k, band_rows, theoretical_recall@0.8, measured_recall_planted)
    (8, 1, 1.0000, 1.0000),
    (8, 2, 0.9832, 0.9867),
    (8, 4, 0.6514, 0.8000),
    (16, 2, 0.9997, 1.0000),
    (16, 4, 0.8785, 0.9400),
)


def recall_corpus(spark: SparkSession) -> DataFrame:
    """Deterministic planted-pair corpus for recall measurement:
    500 docs over a 2000-word vocabulary; doc 2i is a 60-word draw,
    doc 2i+1 replaces m ∈ {2, 4, 6} of its words (J = (60-m)/(60+m) ≈
    0.94 / 0.875 / 0.82 — all above tau=0.8), for i < 150; remaining
    docs are unrelated draws (expected J ≈ 0.02). Seeded stdlib PRNG:
    bit-identical corpus on every run/machine."""
    import random

    rng = random.Random(0xC0FFEE)
    vocab = [f"w{j:04d}" for j in range(2000)]
    rows = []
    for i in range(250):
        base = rng.sample(vocab, 60)
        rows.append((2 * i, " ".join(base)))
        if i < 150:
            m = (2, 4, 6)[i % 3]
            partner = base[:]
            out = [w for w in vocab if w not in set(base)]
            for slot in rng.sample(range(60), m):
                partner[slot] = out.pop(rng.randrange(len(out)))
            rows.append((2 * i + 1, " ".join(partner)))
        else:
            rows.append((2 * i + 1, " ".join(rng.sample(vocab, 60))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def exact_jaccard_pairs_df(docs: DataFrame, tau: float) -> DataFrame:
    """Ground-truth (doc_a, doc_b) pairs with exact distinct-token
    Jaccard >= ``tau`` — the same similarity the verify stage of
    ``dedup_minhash_verified`` computes, but over ALL pairs.

    All-pairs by construction (O(n^2) crossJoin): a measurement tool
    for fixture-scale recall characterization, NOT a query path — at
    scale, ground truth is estimated on a sampled block instead.
    """
    toks = docs.select("doc_id", distinct_tokens("text").alias("t")).filter(
        F.size("t") > 0
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("t_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("t_b"))
    pairs = ta.crossJoin(tb).filter(F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect("t_a", "t_b"))
    jac = inter / (F.size("t_a") + F.size("t_b") - inter).cast("double")
    return pairs.filter(jac >= tau).select("doc_a", "doc_b")


def minhash_recall(
    docs: DataFrame,
    k: int = MINHASH_K,
    band_rows: int = MINHASH_BAND_ROWS,
) -> float:
    """Measured candidate recall of the (k, band_rows) LSH setting over
    a (doc_id, text) frame: |candidates ∩ truth| / |truth| for truth =
    exact Jaccard >= ``MINHASH_VERIFY_TAU``."""
    truth = exact_jaccard_pairs_df(docs, MINHASH_VERIFY_TAU)
    cand = minhash_candidate_pairs_df(docs, k, band_rows)
    n_truth = truth.count()
    if n_truth == 0:
        return 1.0
    hit = truth.join(cand, ["doc_a", "doc_b"], "left_semi").count()
    return hit / n_truth


# ------------------------------------------------ end-to-end curation

CURATION_MIN_QUALITY = 0.5


def _curation_oracle() -> str:
    # Composed from the same SQL fragments as quality_score and
    # dedup_clusters (imported lazily — textfns/text have no dedup
    # dependency, so this cannot cycle).
    from rust_etl_spark.functions.rounding import round_half_up_sql
    from rust_etl_spark.operators.text import _QUALITY_SQL

    quality = round_half_up_sql(_QUALITY_SQL, 4)
    return f"""
        WITH RECURSIVE base AS ({_MINHASH_ORACLE}),
        edges AS (
            SELECT doc_a AS u, doc_b AS v FROM base
            UNION
            SELECT doc_b AS u, doc_a AS v FROM base
        ),
        walk(u, lbl) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM edges) n
            UNION
            SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v
        ),
        clusters AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY u),
        scored AS (
            SELECT doc_id, lang, n_chars, {quality} AS quality FROM documents
        )
        SELECT s.doc_id, s.lang, s.n_chars, s.quality
        FROM scored s
        WHERE s.quality >= {CURATION_MIN_QUALITY}
          AND s.doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
    """


@register(
    "corpus_curation",
    oracle=_curation_oracle(),
    doc="End-to-end corpus curation: quality gate + one-keeper-per-near-dup-cluster "
    "(composition of quality_score and dedup_clusters over the documents table).",
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composed pipeline an LLM
    training-data run actually executes: score every document, drop
    low-quality ones, and keep exactly one representative per near-dup
    cluster (the min-doc_id keeper from ``dedup_clusters``).

    All stages reuse the already-verified operators; the join against
    non-keepers is a left_anti on doc_id (at 100 TB: a shuffle of ids,
    never documents — the cluster table is orders of magnitude smaller
    than the corpus).
    """
    from rust_etl_spark.functions.textfns import alpha_ratio, tokens
    from rust_etl_spark.operators.text import quality_expr

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "lang", "n_chars", alpha_ratio("text").alias("alpha"), tokens("text").alias("t")
    )
    scored = base.select(
        "doc_id", "lang", "n_chars", quality_expr(F.col("t"), F.col("alpha")).alias("quality")
    )
    non_keepers = dedup_clusters(spark, sf_dir).filter(F.col("doc_id") != F.col("cluster_id"))
    return (
        scored.filter(F.col("quality") >= CURATION_MIN_QUALITY)
        .join(non_keepers.select("doc_id"), "doc_id", "left_anti")
    )


# ------------------------------------------- embedding cosine near-dup

COSINE_NEARDUP_TAU = 0.4
#: Candidate-block width: pairs are only scored within the same
#: ``vec_id // COSINE_BLOCK`` block, so the candidate set is
#: n*(B-1)/2 — linear in the corpus, not quadratic. This bounded form
#: replaced the round-1..14 all-pairs crossJoin (VERDICT r14 #3): the
#: O(n^2) DuckDB oracle excluded the query from every gen-tier parity
#: sweep (~2e8 list-lambda pairs at gen_sf1), while the blocked oracle
#: runs in under a second there. The all-pairs ground-truth tool for
#: recall measurement remains `exact_jaccard_pairs_df` (tokens) and
#: the labeled crossJoin in scripts/ann_recall_tier.py (vectors).
COSINE_BLOCK = 250

_COSINE_SCORE_SQL = (
    "list_reduce(list_transform(range(1, len(a.e) + 1), "
    "i -> a.e[i] * b.e[i]), (acc, x) -> acc + x) / (a.nrm * b.nrm)"
)

_COSINE_PAIRS_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, vec_id // {COSINE_BLOCK} AS blk,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, blk, e,
               sqrt(list_reduce(list_transform(e, x -> x * x),
                                (acc, x) -> acc + x)) AS nrm
        FROM v
    ),
    scored AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {round_half_up_sql(_COSINE_SCORE_SQL, 6)} AS score
        FROM n a JOIN n b ON a.blk = b.blk AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, score FROM scored WHERE score >= {COSINE_NEARDUP_TAU}
"""


@register(
    "dedup_embedding_cosine",
    oracle=_COSINE_PAIRS_ORACLE,
    doc=f"Embedding near-dup pairs within id-blocks of {COSINE_BLOCK}: cosine >= "
    f"{COSINE_NEARDUP_TAU} on every same-block pair (bounded brute-force baseline; "
    "the LSH-bucketed variant in operators/similarity.py is the recall-tuned scale path).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked brute-force cosine near-dup pairs.

    Candidate generation is a deterministic id-block equi-join
    (``vec_id div COSINE_BLOCK``), so the pair count is n*(B-1)/2 —
    linear in the corpus — and the join is a shuffle on the block key
    with a per-task hash build (shuffle_hash hint: both sides scale
    with the corpus, so Catalyst must never broadcast either; SMJ is
    the spill-safe fallback). The oracle mirrors the exact same fold
    forms as `cosine_sql` with the per-vector norm hoisted into a CTE
    (IEEE-identical value, computed once per vector instead of once
    per pair).

    Scoring arithmetic is unchanged from the all-pairs form: double-
    widened left-to-right folds, portable half-up rounding at 6dp on
    both engines, threshold applied to the rounded score.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(f"vec_id div {COSINE_BLOCK}").alias("blk"),
        to_double_array("embedding").alias("v"),
    )
    a = emb.select(F.col("vec_id").alias("vec_a"), "blk", F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), "blk", F.col("v").alias("vb"))
    pairs = a.join(b.hint("shuffle_hash"), "blk").filter(F.col("vec_a") < F.col("vec_b"))
    score = cosine(F.col("va"), F.col("vb"))
    return pairs.select("vec_a", "vec_b", score.alias("score")).filter(
        F.col("score") >= COSINE_NEARDUP_TAU
    )


# ------------------------------------------- segment (paragraph) dedup

SEGMENT_WIDTH = 3   #: tokens per segment (fixture docs are flat word streams)
SEGMENT_DF_CAP = 2  #: segment counts as boilerplate when > this many docs share it

_SEGMENT_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    idx AS (
        SELECT doc_id, t,
               unnest(range(0, CAST(ceil(len(t) / {SEGMENT_WIDTH}.0) AS BIGINT))) AS i
        FROM toks
    ),
    seg AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_slice(t, i * {SEGMENT_WIDTH} + 1, i * {SEGMENT_WIDTH} + {SEGMENT_WIDTH}),
                   ' ')) AS fp,
               len(list_slice(t, i * {SEGMENT_WIDTH} + 1, i * {SEGMENT_WIDTH} + {SEGMENT_WIDTH}))
                   AS seg_len
        FROM idx
    ),
    freq AS (SELECT fp, count(DISTINCT doc_id) AS df FROM seg GROUP BY fp)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN f.df > {SEGMENT_DF_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS dup_segments,
           CAST(sum(CASE WHEN f.df <= {SEGMENT_DF_CAP} THEN s.seg_len ELSE 0 END) AS BIGINT)
               AS kept_tokens
    FROM seg s JOIN freq f USING (fp)
    GROUP BY s.doc_id
"""


@register(
    "dedup_segments",
    oracle=_SEGMENT_ORACLE,
    doc=f"C4-style segment (paragraph) dedup: fixed {SEGMENT_WIDTH}-token segments, "
    f"corpus df > {SEGMENT_DF_CAP} marks boilerplate; per-doc kept/removed accounting.",
)
def dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicate-segment removal — the C4/MassiveText
    "line dedup" stage, adapted to the fixture's flat word-stream docs
    by chunking each document into fixed ``SEGMENT_WIDTH``-token
    segments (real corpora would split on newlines instead; the
    dataflow is identical).

    Pipeline (round-15 re-plan): chunk map-side (one projection, no
    shuffle) -> ONE exchange on the segment fingerprint computing the
    corpus document-frequency as two windows over the same fp
    clustering (lag marks each fp's first row per doc_id, a sum window
    totals the marks == countDistinct) -> re-aggregate per doc. The
    previous groupBy(fp)+join-back shape hit the exact pathology the
    dedup_ngram_jaccard adjudication measured: map-side partial
    aggregation makes the two fp exchanges non-identical, ReuseExchange
    never fires, and the whole chunk+md5 subplan evaluates TWICE —
    13.5 -> 4.25 s min-of-4 interleaved warm at gen_sf10, outputs
    exactly equal (exceptAll = 0 both directions over all 500k rows).
    Same q21-precedent justification: the windows run on the
    clustering the old join exchange already required, the sort-based
    window spills gracefully on a hot boilerplate fp (where a
    collect_set hash-agg would OOM), and the join disappears. Shuffle
    moves 16-byte md5 keys + ids, never segment text; the output is
    one row per document (ids + counters only).

    Extension op (no reference analogue: the reference never inspects
    document content — SURVEY.md §2b/§2c).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    w = SEGMENT_WIDTH
    segs = (
        toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), (F.ceil(F.size("t") / w)).cast("int") - F.lit(1)
                    ),
                    lambda i: F.slice("t", i * w + 1, w),
                )
            ).alias("seg_arr"),
        )
        .select(
            "doc_id",
            F.md5(F.array_join("seg_arr", " ")).alias("fp"),
            F.size("seg_arr").alias("seg_len"),
        )
    )
    w_ord = Window.partitionBy("fp").orderBy("doc_id")
    w_fp = Window.partitionBy("fp")
    marked = segs.withColumn(
        "is_new",
        (
            F.lag("doc_id").over(w_ord).isNull()
            | (F.col("doc_id") != F.lag("doc_id").over(w_ord))
        ).cast("long"),
    )
    return (
        marked.withColumn("df", F.sum("is_new").over(w_fp))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("df") > SEGMENT_DF_CAP).cast("long")).alias("dup_segments"),
            F.sum(
                F.when(F.col("df") <= SEGMENT_DF_CAP, F.col("seg_len")).otherwise(F.lit(0))
            ).alias("kept_tokens"),
        )
    )


# ------------------------------------------------- containment dedup

#: Containment threshold: |A∩B| / min(|A|,|B|) of the discriminative
#: shingle sets. Catches quote-inclusion / doc-inside-doc duplication
#: that symmetric Jaccard misses (a 10x-longer superset document caps
#: Jaccard at ~0.1 while containment is ~1.0).
CONTAINMENT_TAU = 0.5

_CONTAINMENT_ORACLE = f"""
    WITH sh_all AS (
        SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh FROM documents
    ), sh AS (
        SELECT doc_id, sh FROM (
            SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh_all
        ) t WHERE df <= {JACCARD_DF_CAP}
    ), sized AS (
        SELECT doc_id, sh, count(*) OVER (PARTITION BY doc_id) AS n FROM sh
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n AS na, b.n AS nb, count(*) AS n_common
        FROM sized a JOIN sized b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.n, b.n
    )
    SELECT doc_a, doc_b,
           {round_half_up_sql("n_common / least(na, nb)", 4)} AS containment
    FROM inter
    WHERE n_common / least(na, nb) >= {CONTAINMENT_TAU}
    ORDER BY doc_a, doc_b
"""


@register(
    "dedup_containment",
    oracle=_CONTAINMENT_ORACLE,
    doc=f"Containment near-dup pairs: |A∩B|/min(|A|,|B|) >= {CONTAINMENT_TAU} "
    f"over df-capped {JACCARD_SHINGLE_N}-token shingles — catches "
    "doc-inside-doc duplication (quotes, concatenated crawls) that "
    "symmetric Jaccard misses.",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-overlap (containment) duplicate detection.

    The candidate stage is ``_shingle_overlaps``, shared with
    ``dedup_ngram_jaccard``; only the final score changes to
    n_common / min(na, nb), the Broder containment of the smaller
    discriminative set.
    """
    inter = _shingle_overlaps(load_table(spark, sf_dir, "documents"))
    cont = F.col("n_common") / F.least("na", "nb")
    return (
        inter.filter(cont >= CONTAINMENT_TAU)
        .select("doc_a", "doc_b", round_half_up(cont, 4).alias("containment"))
    )


# ---------------------------------------------- near-dup graph shape


@register(
    "dedup_graph_triangles",
    oracle=f"""
        WITH base AS ({_MINHASH_ORACLE}),
        deg AS (
            SELECT id, count(*) AS d FROM (
                SELECT doc_a AS id FROM base
                UNION ALL SELECT doc_b AS id FROM base
            ) GROUP BY id
        ),
        tri AS (
            SELECT count(*) AS t
            FROM base e1
            JOIN base e2 ON e2.doc_a = e1.doc_b
            JOIN base e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM base) AS n_edges,
               (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) FROM deg) AS n_wedges,
               CAST(t AS BIGINT) AS n_triangles
        FROM tri
    """,
    doc="Triangle census of the MinHash near-dup candidate graph: "
    "edges / wedges / triangles. A high triangle-to-wedge ratio means "
    "candidate pairs close into genuine duplicate cliques (transitive "
    "duplication); a wedge-heavy graph signals hub-shaped false "
    "positives (boilerplate buckets) before clustering is run.",
)
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-ordered triangle counting over the candidate-pair graph.

    The scale-canonical algorithm: materialize the edge list once
    (local checkpoint, same as the connected-components rounds above —
    every graph engine materializes edges before counting),
    orient every edge from its lower-(degree, id) endpoint to the
    higher one, join oriented edges on their source to enumerate each
    wedge exactly once, and close wedges with a semi-join back into
    the oriented edges. Orientation bounds the per-vertex fan-out of
    the wedge join by sqrt(edges) even on hub-dominated graphs — the
    reason this formulation (Cohen's map-reduce triangle algorithm)
    survives skew at 100 TB where a naive id-ordered triple join dies
    on the hottest vertex. The id-ordered DuckDB oracle counts the
    same invariant set. Wedge totals come off the degree table
    (integer arithmetic only).
    """
    docs = load_table(spark, sf_dir, "documents")
    edges = minhash_candidate_pairs_df(docs).localCheckpoint(eager=True)
    u = edges.select(F.col("doc_a").alias("id"))
    v = edges.select(F.col("doc_b").alias("id"))
    deg = u.unionAll(v).groupBy("id").agg(F.count(F.lit(1)).alias("d"))

    e = (
        edges.join(deg.withColumnRenamed("id", "doc_a").withColumnRenamed("d", "da"), "doc_a")
        .join(deg.withColumnRenamed("id", "doc_b").withColumnRenamed("d", "db"), "doc_b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("doc_a") < F.col("doc_b"))
    )
    oriented = e.select(
        F.when(a_first, F.col("doc_a")).otherwise(F.col("doc_b")).alias("src"),
        F.when(a_first, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dst"),
        F.when(a_first, F.struct("db", "doc_b")).otherwise(F.struct(F.col("da").alias("db"), F.col("doc_a").alias("doc_b"))).alias("dst_ord"),
    )
    w1 = oriented.select("src", F.col("dst").alias("c1"), F.col("dst_ord").alias("o1"))
    w2 = oriented.select("src", F.col("dst").alias("c2"), F.col("dst_ord").alias("o2"))
    wedges = w1.join(w2, "src").filter(F.col("o1") < F.col("o2"))
    closing = oriented.select(F.col("src").alias("c1"), F.col("dst").alias("c2")).unionAll(
        oriented.select(F.col("dst").alias("c1"), F.col("src").alias("c2"))
    )
    tri = wedges.join(closing, ["c1", "c2"], "left_semi").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    totals = edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges")).crossJoin(
        deg.agg(
            F.sum(F.expr("(d * (d - 1)) div 2")).cast("long").alias("n_wedges")
        )
    )
    return totals.crossJoin(tri).select("n_edges", "n_wedges", "n_triangles")


# ------------------------------------------ simhash near-dup pairs

SIMHASH_BANDS = 4  #: 32-bit sig -> 4 x 8-bit pigeonhole blocks
SIMHASH_HAMMING_TAU = 3  #: <= 3 differing bits => near-dup (4 bands
#: guarantee recall: 3 flips cannot touch all 4 blocks)
SIMHASH_MAX_BUCKET = 64


@register(
    "dedup_simhash_pairs",
    oracle=f"""
        WITH base AS ({_SIMHASH_ORACLE}),
        bands AS (
            SELECT doc_id, simhash, b,
                   (simhash >> (8 * b)) & 255 AS v
            FROM base CROSS JOIN (SELECT unnest(range(0, {SIMHASH_BANDS})) AS b) bb
        ),
        capped AS (
            SELECT doc_id, simhash, b, v FROM (
                SELECT *, count(*) OVER (PARTITION BY b, v) AS bucket_n FROM bands
            ) t WHERE bucket_n <= {SIMHASH_MAX_BUCKET}
        ),
        pairs AS (
            SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
                   a.simhash AS sa, c.simhash AS sb
            FROM capped a
            JOIN capped c ON a.b = c.b AND a.v = c.v AND a.doc_id < c.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        FROM pairs
        WHERE bit_count(xor(sa, sb)) <= {SIMHASH_HAMMING_TAU}
    """,
    doc=f"SimHash near-dup PAIRS: pigeonhole the {SIMHASH_BITS}-bit "
    f"signature into {SIMHASH_BANDS} 8-bit blocks (any pair within "
    f"Hamming {SIMHASH_HAMMING_TAU} must agree on one whole block), "
    "generate candidates only inside block buckets, verify by popcount "
    "of the XOR — the step that turns the simhash signature into an "
    "actual dedup decision, Google-crawl style.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pigeonhole-blocked SimHash pair generation.

    Candidates never self-join the corpus: signatures (map-side, zero
    shuffle — see dedup_simhash) explode into SIMHASH_BANDS block
    keys, buckets cap at SIMHASH_MAX_BUCKET like the MinHash path, and
    pairs expand in-row from the sorted bucket member list carrying
    both signatures, so verification (bit_count of XOR — pure integer)
    needs no join back. At 100 TB the shuffle is block-key-sized and
    the pigeonhole guarantees every Hamming<=tau pair survives to the
    exact verify.
    """
    sig = dedup_simhash(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.expr(f"(simhash >> {8 * b}) & 255").alias("v"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", F.col("bv.b").alias("b"), F.col("bv.v").alias("v"))
    buckets = (
        bands.groupBy("b", "v")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "simhash"))).alias("ms")
        )
        .filter((F.size("ms") >= 2) & (F.size("ms") <= SIMHASH_MAX_BUCKET))
    )
    pairs = buckets.select(
        expand_pairs(
            "ms",
            lambda x, y: F.struct(
                x["doc_id"].alias("doc_a"),
                y["doc_id"].alias("doc_b"),
                x["simhash"].alias("sa"),
                y["simhash"].alias("sb"),
            ),
        ).alias("p")
    ).select("p.doc_a", "p.doc_b", "p.sa", "p.sb").distinct()
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        pairs.filter(hamming <= SIMHASH_HAMMING_TAU)
        .select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
    )


# ------------------------------------------------- novelty profiling


@register(
    "corpus_novelty_curve",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id, unnest({word_shingles_sql(tokens_sql('text'), 3)}) AS s
            FROM documents
        ),
        per AS (SELECT DISTINCT doc_id, s FROM sh),
        first_seen AS (
            SELECT s, min(doc_id) AS first_doc FROM per GROUP BY s
        ),
        scored AS (
            SELECT p.doc_id,
                   CAST(count(*) AS BIGINT) AS n_shingles,
                   CAST(sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_novel
            FROM per p JOIN first_seen f USING (s)
            GROUP BY p.doc_id
        )
        SELECT doc_id, n_shingles, n_novel,
               n_novel / CAST(n_shingles AS DOUBLE) AS novelty
        FROM scored
    """,
    doc="Per-document novelty: the fraction of a doc's distinct "
    "3-shingles never seen in any LOWER-doc_id document — the "
    "information-gain curve of corpus growth (near-zero novelty = the "
    "doc is recombined boilerplate; curation drops it before any "
    "pairwise dedup runs). Exact integer counts; novelty is one exact "
    "division.",
)
def corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen shingle attribution (ingestion-order novelty).

    Inverted-index shape shared with the Jaccard path: distinct
    (doc, shingle) postings, one min-aggregate per shingle for its
    first-seen doc, joined back on the shingle key — vocabulary-keyed
    shuffles only, never a doc-pair expansion. The production form of
    'is this crawl snapshot adding anything', incremental by
    construction: at 100 TB the first_seen table IS the stored index
    and a new batch only probes it.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t"))
    per = (
        toks.select("doc_id", F.explode(word_shingles(F.col("t"), 3)).alias("s"))
        .distinct()
    )
    first_seen = per.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    scored = (
        per.join(first_seen, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return scored.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        (F.col("n_novel") / F.col("n_shingles").cast("double")).alias("novelty"),
    )
