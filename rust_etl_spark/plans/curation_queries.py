"""Corpus-assembly operators a training-data pipeline runs after
cleaning/dedup: stratified sampling, per-group quantile gating,
weighted source mixing, and deterministic shuffling.

All four are hash-deterministic (md5-based, engine-portable — see
functions/hashing.py) rather than rand()-based: reproducible across
engines, task retries, speculative execution, and scale-ups, which is
what makes train/eval splits and ablation mixes auditable. Each is a
single linear dataflow whose only shuffle is the window/groupBy key
stated in its doc; none sorts globally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rust_etl_spark.functions.hashing import md5_long60, md5_long60_sql
from rust_etl_spark.functions.textfns import tokens, tokens_sql, word_shingles, word_shingles_sql
from rust_etl_spark.plans.catalog import register
from rust_etl_spark.sources import load_table

_H_DOC = md5_long60_sql("doc_id")

STRATIFIED_QUOTA = 20

@register(
    "sample_stratified",
    oracle=f"""
        SELECT doc_id, lang, n_chars, rn FROM (
            SELECT doc_id, lang, n_chars,
                   CAST(row_number() OVER (
                        PARTITION BY lang ORDER BY {_H_DOC}, doc_id) AS BIGINT) AS rn
            FROM documents
        ) t WHERE rn <= {STRATIFIED_QUOTA}
    """,
    doc=f"Stratified sampling: a fixed quota of {STRATIFIED_QUOTA} docs per language, "
    "chosen by deterministic hash order (not rand()) so the sample is reproducible "
    "across engines/retries/scale-ups; one shuffle on the stratum key.",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(md5_long60(F.col("doc_id")), F.col("doc_id"))
    return (
        docs.select("doc_id", "lang", "n_chars")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= STRATIFIED_QUOTA)
    )


QUANTILE_KEEP = 0.75


def _quantile_oracle() -> str:
    from rust_etl_spark.functions.rounding import round_half_up_sql

    return f"""
        SELECT doc_id, lang, n_chars, {round_half_up_sql('pr', 4)} AS pr FROM (
            SELECT doc_id, lang, n_chars,
                   percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS pr
            FROM documents
        ) t WHERE pr >= {QUANTILE_KEEP}
    """


@register(
    "quantile_filter",
    oracle=_quantile_oracle(),
    doc=f"Per-group quantile gate: keep docs at or above the per-language "
    f"{QUANTILE_KEEP:.0%} length percentile (percent_rank with a doc_id tie-break "
    "so rank — and therefore membership — is deterministic); the pattern behind "
    "'keep the top quartile by quality per language'. One shuffle on the group key.",
)
def quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rust_etl_spark.functions.rounding import round_half_up

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    pr = F.percent_rank().over(w)
    return (
        docs.select("doc_id", "lang", "n_chars", pr.alias("pr_raw"))
        .filter(F.col("pr_raw") >= QUANTILE_KEEP)
        .select("doc_id", "lang", "n_chars", round_half_up(F.col("pr_raw"), 4).alias("pr"))
    )


#: Per-language keep percentages of the training mix (en-heavy example).
MIX_PCT = {"en": 100, "de": 50, "fr": 50, "es": 25, "zh": 25}


@register(
    "dataset_mix",
    oracle=f"""
        SELECT doc_id, lang, source FROM documents
        WHERE {_H_DOC} % 100 <
              CASE lang {' '.join(f"WHEN '{k}' THEN {v}" for k, v in MIX_PCT.items())}
              ELSE 0 END
    """,
    doc="Weighted dataset mixing: per-language keep fractions applied via a "
    "deterministic content-hash threshold (hash % 100 < pct) — the reweighting "
    "step that turns a raw corpus into a training mix, reproducible and "
    "shuffle-free (pure map-side filter).",
)
def dataset_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pct = F.lit(0)
    for k, v in MIX_PCT.items():
        pct = F.when(F.col("lang") == k, F.lit(v)).otherwise(pct)
    return docs.filter(md5_long60(F.col("doc_id")) % 100 < pct).select(
        "doc_id", "lang", "source"
    )


DECON_NGRAM = 5
#: doc_id % DECON_EVAL_MOD == 0 stands in for the held-out benchmark
#: split; in production the eval side is a separate (tiny) table.
DECON_EVAL_MOD = 4

_DECON_SHINGLES_SQL = f"list_distinct({word_shingles_sql(tokens_sql('text'), DECON_NGRAM)})"


@register(
    "decontaminate",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id, unnest({_DECON_SHINGLES_SQL}) AS sh FROM documents
        ), ev AS (
            SELECT DISTINCT sh FROM sh WHERE doc_id % {DECON_EVAL_MOD} = 0
        ), tr AS (
            SELECT doc_id, sh,
                   CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_total
            FROM sh WHERE doc_id % {DECON_EVAL_MOD} != 0
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit, n_total
        FROM tr JOIN ev USING (sh)
        GROUP BY doc_id, n_total
    """,
    doc=f"Benchmark decontamination: flag training docs sharing any distinct "
    f"{DECON_NGRAM}-gram with the held-out eval split (the GPT-3/Pile n-gram-overlap "
    "scrub). Eval n-grams are DISTINCT-collapsed then shuffle_hash-joined as the "
    "build side, so a corpus-scaling eval split is never broadcast; each training "
    "doc's distinct-shingle count n_total is size() of its shingle array, carried "
    "as a rider through one explode_outer (outer, so no size filter is inferred "
    "and the shingle pipeline runs once) with no second scan and no join-back.",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-doc count of distinct n-grams that also occur in the
    eval split (docs with zero hits are clean and omitted). Extends the
    reference's corpus-hygiene surface (no equivalent op exists there;
    cf. SURVEY.md §2c curation family).

    Plan shape:

    - ``n_total`` (distinct shingles per doc) is the SIZE of the
      per-row distinct-shingle array, computed in-row before the
      explode and carried through it (documents are one row per
      doc_id), so there is no doc_id window, no second scan and no
      join-back.
    - The train arm explodes with ``explode_outer``: for a plain
      ``explode`` over a NAMED array column, InferFiltersFromGenerate
      adds ``size(arr) > 0``, which PushDownPredicate substitutes
      through the projection, re-evaluating the tokenize->shingle->
      array_distinct pipeline per row. No size filter is inferred for
      an outer generate, so the pipeline runs once per arm, and the
      NULL row an empty array emits dies at the join's inferred
      ``isnotnull(sh)`` filter below the exchange.
    - The eval shingles are DISTINCT-collapsed and joined as a
      ``shuffle_hash`` build side: the eval split scales with the
      corpus, so it is never hash-built on one node. Where the eval
      benchmark is genuinely bounded (MBs), a broadcast or Spark's
      runtime bloom filter is a session-config lever, not a plan
      rewrite; the runtime bloom does not inject here, because the
      probe key descends from an OUTER Generate.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t"))
    # Naming the distinct-shingle expression as a column feeding a
    # plain (inner) explode triggers InferFiltersFromGenerate's
    # `size(col) > 0 AND isnotnull(col)`, which PushDownPredicate
    # substitutes through the projection — re-evaluating the whole
    # tokens->shingles->array_distinct pipeline per row. The eval arm
    # keeps the expression INLINED (single use, nothing to share); the
    # train arm names it but explodes with explode_outer, for which no
    # size filter is inferred (see docstring).
    shingle_arr = lambda: F.array_distinct(  # noqa: E731
        word_shingles(F.col("t"), DECON_NGRAM)
    )
    ev = (
        toks.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select(F.explode(shingle_arr()).alias("sh"))
        .distinct()
    )
    # n_total RIDES the train explode: the array is materialized once
    # per row in its own projection and consumed by size() +
    # explode_outer. The OUTER explode is load-bearing, not cosmetic —
    # see the docstring. The NULL row an empty array emits is dropped
    # by the join's inferred isnotnull(sh) below the exchange, so
    # nothing extra crosses the shuffle.
    # (A narrower int rider was probed and makes no byte difference:
    # UnsafeRow serializes every fixed-width field into an 8-byte
    # slot, so int-vs-long never changes shuffle bytes — only varlen
    # columns respond to narrowing.)
    tr = (
        toks.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
        .select("doc_id", shingle_arr().alias("arr"))
        .select(
            "doc_id",
            F.size("arr").cast("long").alias("n_total"),
            F.explode_outer("arr").alias("sh"),
        )
    )
    # shuffle_hash with EV as the build side (right): each task hash-
    # builds only its shard of the eval set instead of the driver
    # building (and every probe thread sharing) one string hash
    # relation. SMJ on sh is the spill-safe fallback if the hint can't
    # be honored.
    return (
        tr.join(ev.hint("shuffle_hash"), "sh")
        .groupBy("doc_id", "n_total")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .select("doc_id", "n_hit", "n_total")
    )


SHUFFLE_BUCKETS = 32


@register(
    "shuffle_deterministic",
    oracle=f"""
        SELECT doc_id,
               {_H_DOC} % {SHUFFLE_BUCKETS} AS bucket,
               CAST(row_number() OVER (
                    PARTITION BY {_H_DOC} % {SHUFFLE_BUCKETS}
                    ORDER BY {_H_DOC}, doc_id) AS BIGINT) AS pos
        FROM documents
    """,
    doc=f"Deterministic global shuffle for training-order randomization: hash-assign "
    f"each doc to one of {SHUFFLE_BUCKETS} buckets, position within bucket by hash "
    "order. Shuffled order = (bucket, pos). Unlike a global row_number (single "
    "reducer) the per-bucket windows run fully parallel, and unlike rand() the "
    "permutation is stable across retries and engines.",
)
def shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = md5_long60(F.col("doc_id"))
    w = Window.partitionBy(F.col("bucket")).orderBy(F.col("h"), F.col("doc_id"))
    return (
        docs.select("doc_id", h.alias("h"), (h % SHUFFLE_BUCKETS).alias("bucket"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "bucket", "pos")
    )


# ------------------------------------------------- tokenizer id mapping

VOCAB_SIZE = 1000


@register(
    "tokenize_ids",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest({tokens_sql("text")}) AS w FROM documents
        ),
        vocab AS (
            SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) - 1 AS id
            FROM tok GROUP BY w
            QUALIFY id < {VOCAB_SIZE}
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
               CAST(sum(coalesce(id, 0)) AS BIGINT) AS id_checksum
        FROM tok LEFT JOIN vocab USING (w)
        GROUP BY doc_id
    """,
    doc=f"Tokenizer id mapping: build a frequency-ranked vocab (top "
    f"{VOCAB_SIZE}, ties broken by token) and map every document's token "
    "stream to ids — the tokenization stage of training-data prep. "
    "Verified through per-doc scalar outputs (token/OOV counts + id "
    "checksum) since array columns don't hash portably.",
)
def tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained vocabulary + id mapping.

    The vocab is one grouped count + a rank over (freq DESC, token) —
    total-ordered, so ids are deterministic across engines and runs
    (a retry or scale-up re-derives the identical mapping). The vocab
    is VOCAB_SIZE rows, broadcast onto the exploded token stream; the
    per-doc aggregate is the only corpus-sized shuffle. At 100 TB the
    real vocab build is exactly this plan with a bigger V — still
    KB-to-MB-sized, still broadcastable.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    # Top-V selection is TakeOrderedAndProject (distributed partial
    # top-k, no full-vocab global sort); the id-assigning row_number
    # then runs over only VOCAB_SIZE rows — bounded, not vocab-sized.
    top = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "w")
        .limit(VOCAB_SIZE)
    )
    wv = Window.orderBy(F.col("freq").desc(), "w")
    vocab = top.select("w", (F.row_number().over(wv) - 1).alias("id"))
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("id").isNull(), 1).otherwise(0)).cast("long").alias("n_oov"),
            F.sum(F.coalesce("id", F.lit(0))).cast("long").alias("id_checksum"),
        )
    )


# ------------------------------------------------- context chunking

CHUNK_LEN = 500
CHUNK_STRIDE = 400  # 100-char overlap between consecutive chunks


@register(
    "doc_chunk",
    oracle=f"""
        WITH s AS (
            SELECT doc_id, text,
                   unnest(generate_series(1, length(text), {CHUNK_STRIDE})) AS start
            FROM documents WHERE length(text) > 0
        )
        SELECT doc_id,
               CAST((start - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
               CAST(start AS BIGINT) AS chunk_start,
               CAST(length(substr(text, CAST(start AS INTEGER), {CHUNK_LEN})) AS BIGINT) AS chunk_len,
               md5(substr(text, CAST(start AS INTEGER), {CHUNK_LEN})) AS chunk_md5
        FROM s
    """,
    doc=f"Context-window chunking: split each document into {CHUNK_LEN}-char "
    f"chunks with {CHUNK_LEN - CHUNK_STRIDE}-char overlap (stride "
    f"{CHUNK_STRIDE}) — the retrieval/pretraining windowing step. Chunks "
    "are verified by scalar fingerprints (start/len/md5) since the chunk "
    "text itself is bulk payload; the plan is one map-side explode of a "
    "bounded start sequence — zero shuffles.",
)
def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (map-side only).

    Each doc emits ceil(len/stride) chunk rows via an in-row
    ``sequence`` explode — no shuffle anywhere; at 100 TB this
    pipelines with the parquet scan and parallelizes by input split.
    Character (not byte) offsets on both engines; the md5 fingerprint
    hashes the chunk's UTF-8 bytes identically on both.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = F.length("text")
    chunk = F.substring(F.col("text"), F.col("start"), F.lit(CHUNK_LEN))
    return (
        docs.filter(n > 0)
        .select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(1), n, F.lit(CHUNK_STRIDE))).alias("start"),
        )
        .select(
            "doc_id",
            F.expr(f"(start - 1) div {CHUNK_STRIDE}").cast("long").alias("chunk_id"),
            F.col("start").cast("long").alias("chunk_start"),
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk.cast("binary")).alias("chunk_md5"),
        )
    )


# ------------------------------------------------- train/val/test split

@register(
    "dataset_split",
    oracle=f"""
        SELECT doc_id, lang,
               CASE WHEN {_H_DOC} % 100 < 80 THEN 'train'
                    WHEN {_H_DOC} % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """,
    doc="Deterministic train/val/test assignment (80/10/10) by content "
    "hash — the split every training run must reproduce bit-identically "
    "across engines, retries, and scale-ups (rand() cannot). Pure "
    "map-side projection: zero shuffles, and the assignment of a given "
    "doc never changes when the corpus grows.",
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = md5_long60(F.col("doc_id")) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    return docs.select("doc_id", "lang", split.alias("split"))


# ------------------------------------------- weighted priority sample

PRIORITY_K = 100
_TWO60 = float(1 << 60)


@register(
    "sample_weighted_priority",
    oracle=f"""
        SELECT doc_id, n_chars,
               n_chars / (({_H_DOC} + 1) / {_TWO60!r}) AS priority
        FROM documents
        ORDER BY priority DESC, doc_id
        LIMIT {PRIORITY_K}
    """,
    doc=f"Priority sampling (Duffield et al.): top-{PRIORITY_K} docs by "
    "priority w/u with w = n_chars and u a deterministic md5-derived "
    "uniform — size-biased sampling with per-item inclusion "
    "probability ~ w, reproducible across engines/retries because "
    "nothing is rand(), and portable because w/u is two IEEE "
    "divisions on identical operands (no transcendentals).",
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample via priority keys.

    Each doc draws its uniform from md5(doc_id) (bit-identical on
    both engines), priority = weight / uniform, and the sample is the
    top-k by priority — one TakeOrderedAndProject, no shuffle beyond
    the k-row merge, no global sort. At 100 TB this is THE way to
    take a size-biased subsample reproducibly: task retries and
    speculative duplicates recompute identical priorities, and the
    estimator (Duffield-Lund-Thorup) needs exactly this key shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (md5_long60("doc_id") + F.lit(1)) / F.lit(_TWO60)
    return (
        docs.select(
            "doc_id", "n_chars", (F.col("n_chars") / u).alias("priority")
        )
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(PRIORITY_K)
    )


# ------------------------------------- temperature-balanced language mix

MIX_ALPHA_NOTE = "alpha=0.5 (sqrt)"  #: multilingual-LM style upsampling exponent
MIX_BUDGET = 1000  #: docs allocated per 1000 sampled


@register(
    "dataset_mix_temperature",
    oracle=f"""
        WITH per AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   sqrt(count(*)) AS w
            FROM documents GROUP BY lang
        ),
        z AS (
            SELECT list_reduce(list(w ORDER BY lang), (a, b) -> a + b) AS z
            FROM per
        )
        SELECT lang, n_docs, w / z.z AS share,
               (w / z.z) * {MIX_BUDGET}.0 AS alloc_per_{MIX_BUDGET}
        FROM per CROSS JOIN z
    """,
    doc=f"Temperature-balanced language mix ({MIX_ALPHA_NOTE}, the "
    "multilingual-LM upsampling rule): per-language sampling share "
    "proportional to sqrt(n_docs), boosting low-resource languages "
    "without letting the head language dominate. sqrt and division are "
    "correctly-rounded IEEE ops and the normalizer folds the per-lang "
    "weights in SORTED language order on both engines, so the shares "
    "are bit-identical with no rounding.",
)
def dataset_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alpha=0.5 language rebalancing with a deterministic normalizer.

    One grouped aggregate (lang grain — a handful of rows) plus a
    broadcast of the single normalizer row. The subtlety is the
    normalizer sum: a plain sum() over doubles is summation-order
    nondeterministic across engines/partitionings, so Z folds a
    SORTED (by lang) weight list — identical IEEE order everywhere,
    which is what lets the output ship raw unrounded doubles. The
    same pattern generalizes to any cross-engine-exact small-group
    float sum.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .withColumn("w", F.sqrt(F.col("n_docs").cast("double")))
    )
    z = per.agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("lang", "w"))),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("z")
    )
    share = F.col("w") / F.col("z")
    return per.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_docs",
        share.alias("share"),
        (share * F.lit(float(MIX_BUDGET))).alias(f"alloc_per_{MIX_BUDGET}"),
    )
