"""Text-analysis operators over the ``documents`` table (SURVEY.md §2c).

Language-ID (stopword heuristic), quality scoring, token counting, and
document fingerprinting — each as a pure built-in-function DataFrame
transform with an exact DuckDB oracle. No Python in the hot path: at
100 TB these run entirely inside whole-stage codegen; the only shuffle
is the final per-language aggregate (5 groups -> trivially small).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_etl_spark.functions.rounding import round_half_up, round_half_up_sql
from rust_etl_spark.functions.textfns import (
    alpha_ratio,
    alpha_ratio_sql,
    token_count,
    token_count_sql,
    tokens,
    tokens_sql,
)
from rust_etl_spark.plans.catalog import register
from rust_etl_spark.sources import load_table

#: Tiny per-language stopword lists for the n-gram/stopword heuristic
#: language-ID. Deliberately minimal — the operator's value is the
#: scalable argmax-over-evidence pattern, not lexicon quality.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "y", "que", "en"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "les", "et", "est", "une"),
    "zh": ("de", "le", "shi", "bu", "wo"),
}
#: CASE-chain priority: ties resolve to the earlier language.
LANG_ORDER = ("en", "es", "de", "fr", "zh")


def stopword_hits(toks: Column, words: tuple[str, ...]) -> Column:
    """# tokens (with multiplicity) found in ``words``."""
    return F.size(F.filter(toks, lambda t: t.isin(*words))).cast("long")


def stopword_hits_sql(toks_expr: str, words: tuple[str, ...]) -> str:
    lits = ", ".join(f"'{w}'" for w in words)
    return f"CAST(len(list_filter({toks_expr}, t -> t IN ({lits}))) AS BIGINT)"


def argmax_lang(hits: dict[str, Column]) -> Column:
    """Argmax over per-language evidence columns, fixed tie-break order.

    PERF: pass *materialized columns* (select the hit counts first) —
    inlined hit expressions get re-evaluated for every comparison in
    the CASE chain (~40x per row).
    """
    pred = F.lit(LANG_ORDER[0])
    expr = None
    for lang in LANG_ORDER:
        cond = None
        for other in LANG_ORDER:
            if other == lang:
                continue
            # strictly-greater for later langs, >= for earlier => stable argmax
            c = hits[lang] >= hits[other] if LANG_ORDER.index(other) > LANG_ORDER.index(lang) else hits[lang] > hits[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    return expr.otherwise(pred)


def predict_lang_sql(toks_expr: str) -> str:
    hit = {lang: stopword_hits_sql(toks_expr, STOPWORDS[lang]) for lang in LANG_ORDER}
    whens = []
    for lang in LANG_ORDER:
        conds = []
        for other in LANG_ORDER:
            if other == lang:
                continue
            op = ">=" if LANG_ORDER.index(other) > LANG_ORDER.index(lang) else ">"
            conds.append(f"({hit[lang]}) {op} ({hit[other]})")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return f"CASE {' '.join(whens)} ELSE '{LANG_ORDER[0]}' END"


@register(
    "text_stats",
    oracle=f"""
        SELECT lang,
               count(*) AS n_docs,
               {round_half_up_sql("CAST(sum(n_chars) AS BIGINT) / (count(*) * 1.0)", 2)} AS avg_chars,
               {round_half_up_sql(f"CAST(sum({token_count_sql('text')}) AS BIGINT) / (count(*) * 1.0)", 2)} AS avg_tokens,
               {round_half_up_sql(f"CAST(sum(CAST(floor({alpha_ratio_sql('text')} * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) / (count(*) * 1000000.0)", 4)} AS avg_alpha
        FROM documents
        GROUP BY lang
    """,
    doc="Per-language corpus statistics (count / avg chars / avg tokens / avg alpha-ratio).",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Materialize per-row features once, then aggregate (keeps the
    # tokenizer single-evaluation per row).
    # Exact means (money.py doctrine applied to counts): chars/tokens
    # are integers, so BIGINT sums + one IEEE division are exact; the
    # alpha ratio (a derived per-row double) is quantized to a 1e-6
    # grid per row with the portable half-up floor FIRST, making the
    # cross-row mean integer-exact too — round(avg(double), n) is the
    # reduction-order class that hash-failed at the 10x tier.
    feat = docs.select(
        "lang",
        "n_chars",
        token_count("text").alias("n_tok"),
        F.floor(alpha_ratio("text") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("alpha6"),
    )
    n = F.count(F.lit(1))
    return (
        feat.groupBy("lang")
        .agg(
            n.alias("n_docs"),
            round_half_up(F.sum("n_chars").cast("long") / (n * F.lit(1.0)), 2).alias("avg_chars"),
            round_half_up(F.sum("n_tok").cast("long") / (n * F.lit(1.0)), 2).alias("avg_tokens"),
            round_half_up(F.sum("alpha6").cast("long") / (n * F.lit(1e6)), 4).alias("avg_alpha"),
        )
    )


@register(
    "token_count",
    oracle=f"""
        SELECT doc_id,
               {token_count_sql('text')} AS n_tokens,
               CAST(len(list_distinct({tokens_sql('text')})) AS BIGINT) AS n_distinct,
               CAST(length(text) AS BIGINT) AS n_chars_obs
        FROM documents
    """,
    doc="Per-document token counting (whitespace tokenizer): total, distinct, chars.",
)
def token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.length("text").cast("long").alias("n_chars_obs"), tokens("text").alias("t"))
    return toks.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("t")).cast("long").alias("n_distinct"),
        "n_chars_obs",
    )


@register(
    "lang_id",
    oracle=f"""
        SELECT doc_id, lang AS lang_label,
               {predict_lang_sql(tokens_sql('text'))} AS lang_pred
        FROM documents
    """,
    doc="Stopword-evidence language ID with deterministic argmax tie-break.",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.col("lang").alias("lang_label"), tokens("text").alias("t"))
    hits = toks.select(
        "doc_id",
        "lang_label",
        *[stopword_hits(F.col("t"), STOPWORDS[lang]).alias(f"h_{lang}") for lang in LANG_ORDER],
    )
    return hits.select(
        "doc_id",
        "lang_label",
        argmax_lang({lang: F.col(f"h_{lang}") for lang in LANG_ORDER}).alias("lang_pred"),
    )


_QUALITY_SQL = f"""0.4 * least({token_count_sql('text')} / 100.0, 1.0)
                 + 0.3 * ({stopword_hits_sql(tokens_sql('text'), STOPWORDS['en'])}
                          / greatest({token_count_sql('text')}, 1))
                 + 0.3 * ({alpha_ratio_sql('text')})"""


def quality_expr(t: Column, alpha: Column) -> Column:
    """Composite quality over a materialized token array + alpha ratio,
    rounded portably (round_half_up — engine round() diverges on
    boundary doubles; see functions/rounding.py)."""
    n_tok = F.size(t).cast("long")
    score = (
        0.4 * F.least(n_tok / 100.0, F.lit(1.0))
        + 0.3 * (stopword_hits(t, STOPWORDS["en"]) / F.greatest(n_tok, F.lit(1)))
        + 0.3 * alpha
    )
    return round_half_up(score, 4)


@register(
    "quality_score",
    oracle=f"""
        SELECT doc_id,
               {round_half_up_sql(_QUALITY_SQL, 4)} AS quality
        FROM documents
    """,
    doc="Composite quality score: length saturation + stopword ratio + alpha ratio "
    "(portable half-up rounding so boundary doubles agree across engines).",
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", alpha_ratio("text").alias("alpha"), tokens("text").alias("t"))
    return base.select("doc_id", quality_expr(F.col("t"), F.col("alpha")).alias("quality"))


#: BPE-style pre-tokenizer pattern (GPT-2-shaped, simplified): English
#: contraction suffixes, space-prefixed letter runs, digit runs,
#: punctuation runs, whitespace runs. Restricted to constructs Java
#: regex (Spark) and RE2 (DuckDB) match identically — no lookarounds,
#: no unicode categories.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+|\s+"
_BPE_SQL_LIT = BPE_PATTERN.replace("'", "''")  # SQL string-literal escaping


@register(
    "token_count_bpe",
    oracle=f"""
        SELECT doc_id,
               CAST(len(list_filter(
                    regexp_extract_all(lower(text), '{_BPE_SQL_LIT}'),
                    t -> NOT regexp_matches(t, '^\\s+$'))) AS BIGINT) AS n_bpe,
               {token_count_sql('text')} AS n_ws
        FROM documents
    """,
    doc="BPE-style subword-ish token counting (GPT-2-shaped pre-tokenizer regex: "
    "contractions / letter runs / digit runs / punct runs), next to the whitespace "
    "count — the token-budget estimator a training pipeline runs over every doc.",
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all(F.lower("text"), F.lit(BPE_PATTERN), 0)
    non_ws = F.filter(pieces, lambda t: ~t.rlike(r"^\s+$"))
    base = docs.select("doc_id", tokens("text").alias("t"), non_ws.alias("bpe"))
    return base.select(
        "doc_id",
        F.size("bpe").cast("long").alias("n_bpe"),
        F.size("t").cast("long").alias("n_ws"),
    )


TFIDF_TOPK = 3


@register(
    "text_tfidf",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest({tokens_sql('text')}) AS term FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf_cnt FROM tok GROUP BY doc_id, term
        ), stat AS (
            SELECT doc_id, term, tf_cnt,
                   count(*) OVER (PARTITION BY term) AS dfreq,
                   sum(tf_cnt) OVER (PARTITION BY doc_id) AS ntok
            FROM tf
        ), n AS (SELECT count(*) AS n_corpus FROM documents),
        scored AS (
            SELECT doc_id, term,
                   floor((tf_cnt / CAST(ntok AS DOUBLE))
                         * ln(CAST(n_corpus AS DOUBLE) / dfreq) * 1000000.0 + 0.5)
                       / 1000000.0 AS tfidf
            FROM stat CROSS JOIN n
        )
        SELECT doc_id, term, tfidf, rk FROM (
            SELECT doc_id, term, tfidf,
                   CAST(row_number() OVER (
                        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS BIGINT) AS rk
            FROM scored
        ) t WHERE rk <= {TFIDF_TOPK}
    """,
    doc=f"Top-{TFIDF_TOPK} TF-IDF terms per document (rank on the 6-digit-rounded score "
    "with a term tie-break so both engines rank identically).",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single linear dataflow: term frequencies once, document frequency
    and doc length as windows over that frame (no re-scan, no joins
    except the 1-row corpus-size broadcast). Shuffle keys are term /
    doc_id — high-cardinality, AQE-splittable at 100 TB."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    tok_rows = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok_rows.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf_cnt"))
    stat = tf.withColumn(
        "dfreq", F.count(F.lit(1)).over(Window.partitionBy("term"))
    ).withColumn("ntok", F.sum("tf_cnt").over(Window.partitionBy("doc_id")))
    n = docs.agg(F.count(F.lit(1)).alias("n_corpus"))
    scored = stat.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "term",
        # Portable half-up floor round: rank is taken ON the rounded
        # score, so a round-step boundary flip would reorder top-k
        # membership — the floor form cannot diverge across engines.
        round_half_up(
            (F.col("tf_cnt") / F.col("ntok").cast("double"))
            * F.log(F.col("n_corpus").cast("double") / F.col("dfreq")),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TFIDF_TOPK)
        .select("doc_id", "term", "tfidf", "rk")
    )


@register(
    "doc_fingerprint",
    oracle=f"""
        SELECT doc_id,
               md5(array_to_string({tokens_sql('text')}, ' ')) AS fingerprint
        FROM documents
    """,
    doc="Canonical content fingerprint: md5 over the normalized token stream.",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t"))
    return toks.select("doc_id", F.md5(F.concat_ws(" ", "t")).alias("fingerprint"))


#: Gopher-style document-quality rule bounds (public heuristics from the
#: Gopher / MassiveText filtering literature), tuned so the fixture
#: exercises BOTH branches: word counts span 10-99 (min-words 40 fails
#: ~40%), mean word length spans 3.7-5.3 (upper bound 4.5 splits near
#: the median).
GOPHER_MIN_WORDS = 40
GOPHER_MAX_WORDS = 5000
GOPHER_MIN_MWL = 3.0
GOPHER_MAX_MWL = 4.5


def _gopher_oracle() -> str:
    from rust_etl_spark.functions.rounding import round_half_up_sql

    toks = tokens_sql("text")
    return f"""
        WITH t AS (
            SELECT doc_id, ({toks}) AS tk FROM documents
        ), m AS (
            SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
                   CASE WHEN len(tk) = 0 THEN 0.0
                        ELSE list_reduce(list_transform(tk, x -> len(x)), (a, b) -> a + b)
                             * 1.0 / len(tk) END AS mwl
            FROM t
        )
        SELECT doc_id, n_words, {round_half_up_sql('mwl', 4)} AS mean_word_len,
               (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AND mwl >= {GOPHER_MIN_MWL} AND mwl <= {GOPHER_MAX_MWL}) AS passes
        FROM m
    """


@register(
    "gopher_rules",
    oracle=_gopher_oracle(),
    doc=f"Gopher-style quality rules (public MassiveText heuristics): word count in "
    f"[{GOPHER_MIN_WORDS}, {GOPHER_MAX_WORDS}] and mean word length in "
    f"[{GOPHER_MIN_MWL}, {GOPHER_MAX_MWL}] - the rule-battery pattern behind web-corpus "
    "filtering, emitting per-rule evidence plus the verdict. Map-side only "
    "(token-array folds inside codegen), no shuffle.",
)
def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rust_etl_spark.functions.rounding import round_half_up

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("tk"))
    n = F.size("tk")
    mwl = F.when(n == 0, F.lit(0.0)).otherwise(
        F.aggregate(F.transform("tk", F.length), F.lit(0).cast("long"), lambda a, x: a + x)
        / n
    )
    m = t.select("doc_id", n.cast("long").alias("n_words"), mwl.alias("mwl"))
    passes = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & (F.col("mwl") >= GOPHER_MIN_MWL)
        & (F.col("mwl") <= GOPHER_MAX_MWL)
    )
    return m.select(
        "doc_id",
        "n_words",
        round_half_up(F.col("mwl"), 4).alias("mean_word_len"),
        passes.alias("passes"),
    )


def _repetition_oracle() -> str:
    from rust_etl_spark.functions.rounding import round_half_up_sql
    from rust_etl_spark.functions.textfns import word_shingles_sql

    grams = word_shingles_sql(tokens_sql("text"), 2)
    return f"""
        WITH g AS (
            SELECT doc_id, unnest({grams}) AS gram FROM documents
        ), c AS (
            SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram
        )
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_grams,
               CAST(max(cnt) AS BIGINT) AS top_gram_n,
               {round_half_up_sql('max(cnt) * 1.0 / sum(cnt)', 4)} AS top_gram_frac
        FROM c GROUP BY doc_id
    """


@register(
    "repetition_ratio",
    oracle=_repetition_oracle(),
    doc="Repetition ratio: the mass of the most frequent 2-gram per document - "
    "the spam/boilerplate signal from the Gopher rule family (looped phrases "
    "dominate the gram distribution). Two aggregations sharing the doc_id "
    "shuffle; docs shorter than one 2-gram emit no row.",
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rust_etl_spark.functions.rounding import round_half_up
    from rust_etl_spark.functions.textfns import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t"))
    g = toks.select("doc_id", F.explode(word_shingles(F.col("t"), 2)).alias("gram"))
    c = g.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    return c.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_grams"),
        F.max("cnt").alias("top_gram_n"),
        round_half_up(F.max("cnt") / F.sum("cnt"), 4).alias("top_gram_frac"),
    )


WINNOW_K = 3  #: tokens per k-gram
WINNOW_W = 4  #: consecutive k-gram hashes per winnowing window


def _winnow_oracle() -> str:
    from rust_etl_spark.functions.hashing import md5_long60_sql
    from rust_etl_spark.functions.textfns import word_shingles_sql

    grams = word_shingles_sql(tokens_sql("text"), WINNOW_K)
    w = WINNOW_W
    return f"""
        WITH g AS (
            SELECT doc_id,
                   list_transform({grams}, s -> {md5_long60_sql('s')}) AS hs
            FROM documents
        )
        SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(hs) >= {w}
                 THEN list_transform(range(1, len(hs) - {w} + 2),
                                     i -> list_min(hs[i:i + {w} - 1]))
                 ELSE [] END)) AS fp
        FROM g
    """


@register(
    "doc_winnow",
    oracle=_winnow_oracle(),
    doc=f"Winnowing fingerprints (Schleimer et al., MOSS): min rolling hash of each "
    f"window of {WINNOW_W} consecutive {WINNOW_K}-gram hashes, deduplicated — local "
    "fingerprints that survive edits outside the window, the overlap-detection "
    "complement to the whole-document doc_fingerprint. Map-side only (per-row array "
    "folds, no shuffle); docs shorter than one window emit no fingerprints.",
)
def doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window minimum over the rolling k-gram hash stream, distinct
    per doc. Selecting by min VALUE (window position discarded, picks
    deduplicated) is the set-fingerprint form used for containment
    checks; positional variants add the offset column.

    PERF (round 15): the window fold was a Catalyst
    ``transform(sequence(...), i -> array_min(slice(hs, i, W)))`` —
    per k-gram, a fresh W-element array allocation plus W+2 lambda
    evaluations, then ``array_distinct`` re-walks the result. Subtree
    attribution at gen_sf10 (warm, min-of-3, noop sink): scan+shingles
    +md5 2.40 s, full Catalyst query 6.53 s — the fold+distinct alone
    was ~4.1 s, the dense fixed-shape integer kernel class (guide
    §4.2; the PQ-encode precedent). Now an Arrow-batched numpy pass
    (``_winnow_batches``: sliding_window_view min + np.unique per doc)
    replaces fold+distinct+explode; md5 stays in the JVM so only
    (doc_id, array<long>) crosses the boundary. Bit-parity: integers
    end to end; np.unique emits the same VALUE SET as array_distinct
    (order differs — both the driver hash and the oracle harness are
    order-insensitive); verified exceptAll-equal both ways at gen_sf10
    before shipping; contract pinned in
    tests/test_winnow_kernel_contract.py. Still zero shuffle
    (plan-locked in test_plans.py).
    """
    from rust_etl_spark.functions.hashing import md5_long60
    from rust_etl_spark.functions.textfns import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t"))
    # Materialize grams, then hashes, before the window fold (see the
    # word_shingles PERF note: no CSE across lambda re-evaluations).
    grams = toks.select("doc_id", word_shingles(F.col("t"), WINNOW_K).alias("g"))
    hashed = grams.select("doc_id", F.transform("g", md5_long60).alias("hs"))
    return hashed.mapInPandas(_winnow_batches(), "doc_id long, fp long")


def _winnow_batches():
    """mapInPandas body for :func:`doc_winnow` — module-level so the
    kernel contract is unit-testable without a cluster
    (tests/test_winnow_kernel_contract.py). Docs with fewer than
    WINNOW_W k-gram hashes emit no rows (the Catalyst form's empty
    index array); empty Arrow batches are skipped (PQ precedent)."""
    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view

    def fold(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids, fps = [], []
            for doc_id, hs in zip(pdf["doc_id"].to_numpy(np.int64), pdf["hs"]):
                h = np.asarray(hs, dtype=np.int64)
                if h.size < WINNOW_W:
                    continue
                mins = sliding_window_view(h, WINNOW_W).min(axis=1)
                u = np.unique(mins)
                ids.append(np.full(u.size, doc_id, dtype=np.int64))
                fps.append(u)
            if ids:
                yield pd.DataFrame(
                    {"doc_id": np.concatenate(ids), "fp": np.concatenate(fps)}
                )

    return fold


# ----------------------------------------------------- corpus n-grams

NGRAM_FREQ_N = 2
NGRAM_FREQ_TOPK = 25

def _ngram_freq_oracle() -> str:
    from rust_etl_spark.functions.textfns import word_shingles_sql

    sh = word_shingles_sql(tokens_sql("text"), NGRAM_FREQ_N)
    return f"""
        WITH g AS (
            SELECT unnest({sh}) AS gram FROM documents
        )
        SELECT gram, CAST(count(*) AS BIGINT) AS freq
        FROM g GROUP BY gram
        ORDER BY freq DESC, gram
        LIMIT {NGRAM_FREQ_TOPK}
    """


@register(
    "ngram_counts",
    oracle=_ngram_freq_oracle(),
    doc=f"Corpus-wide top-{NGRAM_FREQ_TOPK} {NGRAM_FREQ_N}-gram frequencies — the "
    "vocabulary/merge-pair statistic a BPE/tokenizer-training pass computes first. "
    "Map-side shingle expansion, two-phase count, TakeOrderedAndProject top-k with "
    "a lexicographic tie-break; the only shuffle key is the gram itself.",
)
def ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k corpus n-grams by raw frequency (not per-doc distinct —
    repeated use inside one doc counts, matching tokenizer-training
    statistics). Extends the reference's text surface (SURVEY.md §2c);
    at scale the gram key is high-cardinality and AQE-splittable, and
    the final top-k never materializes the full count table on one
    node (TakeOrderedAndProject).
    """
    from rust_etl_spark.functions.textfns import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("t"))
    grams = toks.select(F.explode(word_shingles(F.col("t"), NGRAM_FREQ_N)).alias("gram"))
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("gram"))
        .limit(NGRAM_FREQ_TOPK)
    )


# ------------------------------------------- unigram LM quality score

#: Round the per-doc mean negative log-prob to this many digits on
#: both engines (aggregate rounding; see CLAUDE.md rounding invariant).
LM_SCORE_DIGITS = 4


@register(
    "lm_quality_score",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest({{toks}}) AS w FROM documents
        ),
        freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        total AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM tok)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               {round_half_up_sql('avg(-ln(c / t))', LM_SCORE_DIGITS)} AS neg_logprob
        FROM tok JOIN freq USING (w) CROSS JOIN total
        GROUP BY doc_id
    """.format(toks=tokens_sql("text")),
    doc="CCNet-style unigram language-model quality score: per-document "
    "mean negative log-probability under the corpus's own unigram "
    "distribution (lower = more typical text; high values flag gibberish "
    "and boilerplate outliers). The perplexity-filter stage of a "
    "training-data pipeline, self-trained so no external LM is needed.",
)
def lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained unigram LM scoring.

    Two aggregates and one join, all on the token key: corpus unigram
    counts (map-side partial agg), the scalar token total (broadcast
    single row), and a token->count join back onto the exploded token
    stream before the per-doc mean. At 100 TB the vocabulary is far
    smaller than the corpus and heavy hitters combine map-side, so
    the join shuffles vocab-sized data, never corpus-sized; the
    per-doc mean aggregates on doc_id, AQE-splittable. No UDFs.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = tok.agg(F.count(F.lit(1)).cast("double").alias("t"))
    return (
        tok.join(F.broadcast(total))
        .join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            round_half_up(F.avg(-F.log(F.col("c") / F.col("t"))), LM_SCORE_DIGITS).alias(
                "neg_logprob"
            ),
        )
    )


# ------------------------------------------------ dataset-card report

@register(
    "corpus_stats",
    oracle=f"""
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum({token_count_sql('text')}) AS BIGINT) AS total_tokens,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars,
               {round_half_up_sql("CAST(sum(n_chars) AS BIGINT) / (count(*) * 1.0)", 2)} AS avg_chars,
               CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts
        FROM documents
        GROUP BY source, lang
    """,
    doc="Dataset-card corpus report: per (source, lang) document counts, "
    "token totals, char-length envelope, and exact-unique text counts — "
    "the summary table a training-data release ships alongside the data.",
)
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slice corpus accounting (dataset-card stage).

    One grouped aggregate over (source, lang) — low cardinality, so
    partial aggregation collapses almost everything map-side; the
    distinct-text count keys on md5 fingerprints (fixed 32 bytes/row
    in the distinct's shuffle, never the document bodies). At 100 TB
    this is the cheapest full-corpus pass in the pipeline.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "source",
            "lang",
            "n_chars",
            token_count("text").alias("n_tok"),
            F.md5("text").alias("fp"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            round_half_up(
                F.sum("n_chars").cast("long") / (F.count(F.lit(1)) * F.lit(1.0)), 2
            ).alias("avg_chars"),
            F.count_distinct("fp").cast("long").alias("n_unique_texts"),
        )
    )


# ------------------------------------------- composed cleaning pipeline

CLEAN_MIN_QUALITY = 0.45


def _clean_pipeline_oracle() -> str:
    toks = tokens_sql("text")
    return f"""
        WITH m AS (
            SELECT doc_id, lang,
                   CAST(len({toks}) AS BIGINT) AS n_words,
                   CASE WHEN len({toks}) = 0 THEN 0.0
                        ELSE list_reduce(list_transform({toks}, x -> len(x)), (a, b) -> a + b)
                             * 1.0 / len({toks}) END AS mwl,
                   {round_half_up_sql(_QUALITY_SQL, 4)} AS quality,
                   {predict_lang_sql(toks)} AS pred
            FROM documents
        )
        SELECT doc_id, lang, n_words, quality,
               CASE WHEN n_words < {GOPHER_MIN_WORDS} THEN 'too_short'
                    WHEN n_words > {GOPHER_MAX_WORDS} THEN 'too_long'
                    WHEN mwl < {GOPHER_MIN_MWL} OR mwl > {GOPHER_MAX_MWL} THEN 'word_len'
                    WHEN pred <> lang THEN 'lang_mismatch'
                    WHEN quality < {CLEAN_MIN_QUALITY} THEN 'low_quality'
                    ELSE 'keep' END AS reason,
               (CASE WHEN n_words < {GOPHER_MIN_WORDS} THEN 'too_short'
                    WHEN n_words > {GOPHER_MAX_WORDS} THEN 'too_long'
                    WHEN mwl < {GOPHER_MIN_MWL} OR mwl > {GOPHER_MAX_MWL} THEN 'word_len'
                    WHEN pred <> lang THEN 'lang_mismatch'
                    WHEN quality < {CLEAN_MIN_QUALITY} THEN 'low_quality'
                    ELSE 'keep' END) = 'keep' AS keep
        FROM m
    """


@register(
    "corpus_clean_pipeline",
    oracle=_clean_pipeline_oracle(),
    doc="Composed C4/RefinedWeb-style cleaning cascade in ONE map-side pass: "
    f"word-count bounds [{GOPHER_MIN_WORDS},{GOPHER_MAX_WORDS}], mean-word-length "
    f"[{GOPHER_MIN_MWL},{GOPHER_MAX_MWL}], language-ID agreement, quality floor "
    f"{CLEAN_MIN_QUALITY} — every doc gets a keep verdict plus the FIRST failing "
    "rule as its auditable reason code. Zero shuffles; the rule battery "
    "evaluates inside whole-stage codegen on one documents scan.",
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cleaning decision per document (rule cascade with reasons).

    This is the production composition of lang_id + gopher_rules +
    quality_score: signals are materialized once from a single token
    array, the verdict is an in-row CASE — so the whole corpus-cleaning
    decision is a linear scan that pipelines with the parquet reader at
    any scale. Reason codes (not just a boolean) are what make a 100 TB
    drop auditable: the dataset card reports drop counts per rule.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "lang", alpha_ratio("text").alias("alpha"), tokens("text").alias("t")
    )
    n = F.size("t")
    mwl = F.when(n == 0, F.lit(0.0)).otherwise(
        F.aggregate(F.transform("t", F.length), F.lit(0).cast("long"), lambda a, x: a + x) / n
    )
    hits = {lang: stopword_hits(F.col("t"), STOPWORDS[lang]) for lang in LANG_ORDER}
    m = base.select(
        "doc_id",
        "lang",
        n.cast("long").alias("n_words"),
        mwl.alias("mwl"),
        quality_expr(F.col("t"), F.col("alpha")).alias("quality"),
        argmax_lang(hits).alias("pred"),
    )
    reason = (
        F.when(F.col("n_words") < GOPHER_MIN_WORDS, "too_short")
        .when(F.col("n_words") > GOPHER_MAX_WORDS, "too_long")
        .when((F.col("mwl") < GOPHER_MIN_MWL) | (F.col("mwl") > GOPHER_MAX_MWL), "word_len")
        .when(F.col("pred") != F.col("lang"), "lang_mismatch")
        .when(F.col("quality") < CLEAN_MIN_QUALITY, "low_quality")
        .otherwise("keep")
    )
    return m.select(
        "doc_id",
        "lang",
        "n_words",
        "quality",
        reason.alias("reason"),
        (reason == "keep").alias("keep"),
    )


@register(
    "lang_confusion",
    oracle=f"""
        SELECT lang, {predict_lang_sql(tokens_sql('text'))} AS pred,
               CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2
    """,
    doc="Language-ID confusion matrix: recorded label x stopword-argmax "
    "prediction with counts — the evaluation artifact that calibrates "
    "how much to trust the classifier per language before gating on "
    "it. One map-side predict + a 25-cell aggregate.",
)
def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "lang", tokens("text").alias("t"))
    hits = base.select(
        "lang", *[stopword_hits(F.col("t"), STOPWORDS[lang]).alias(f"h_{lang}") for lang in LANG_ORDER]
    )
    pred = argmax_lang({lang: F.col(f"h_{lang}") for lang in LANG_ORDER})
    return hits.select("lang", pred.alias("pred")).groupBy("lang", "pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# ------------------------------------------------- BPE pair statistics

BPE_PAIR_TOPK = 50


@register(
    "bpe_pair_counts",
    oracle=f"""
        WITH w AS (
            SELECT unnest({tokens_sql('text')}) AS w FROM documents
        ),
        p AS (
            SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                                         i -> substr(w, CAST(i AS INTEGER), 2))) AS pair
            FROM w WHERE len(w) >= 2
        )
        SELECT pair, CAST(count(*) AS BIGINT) AS freq
        FROM p GROUP BY pair
        ORDER BY freq DESC, pair
        LIMIT {BPE_PAIR_TOPK}
    """,
    doc=f"Character merge-pair frequencies (top {BPE_PAIR_TOPK}, lexicographic "
    "tie-break): the statistic the byte-pair-encoding training loop maximizes "
    "each merge round — ngram_counts' word-level complement. Pairs are cut "
    "with an in-row substring slide (no char-explode blowup); two-phase "
    "count; the only shuffle key is the 2-char pair.",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE statistics pass (adjacent character pairs within words).

    In production BPE re-runs this after each merge over the updated
    symbol sequences; this op is that inner loop's counting step,
    expressed so the expansion (len(w)-1 pairs per word) happens
    in-row inside codegen and only (pair, partial count) rows shuffle.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(F.explode(tokens("text")).alias("w")).filter(F.length("w") >= 2)
    pairs = w.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), "pair")
        .limit(BPE_PAIR_TOPK)
    )


# ------------------------------------------------- vocab coverage

VOCAB_COVERAGE_KS = (100, 500, 1000)


def _vocab_coverage_oracle() -> str:
    from rust_etl_spark.functions.rounding import round_half_up_sql

    ks = ", ".join(str(k) for k in VOCAB_COVERAGE_KS)
    return f"""
        WITH tok AS (
            SELECT unnest({tokens_sql('text')}) AS w FROM documents
        ),
        counts AS (
            SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY w
        ),
        ranked AS (
            SELECT freq, row_number() OVER (ORDER BY freq DESC, w) AS r
            FROM counts QUALIFY r <= {max(VOCAB_COVERAGE_KS)}
        ),
        tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM counts)
        SELECT k, CAST(covered AS BIGINT) AS covered, total,
               {round_half_up_sql('covered / total', 6)} AS coverage
        FROM (
            SELECT k, sum(CASE WHEN r <= k THEN freq ELSE 0 END) AS covered
            FROM ranked CROSS JOIN (SELECT unnest([{ks}]) AS k) ks
            GROUP BY k
        ) c CROSS JOIN tot
    """


@register(
    "vocab_coverage",
    oracle=_vocab_coverage_oracle(),
    doc=f"Tokenizer-sizing curve: fraction of all token occurrences covered "
    f"by the top-k frequency-ranked vocabulary at k = {VOCAB_COVERAGE_KS} "
    "(total order on (freq DESC, token)) — the statistic that picks a "
    "vocab size before training. The rank window runs over only the "
    f"top-{max(VOCAB_COVERAGE_KS)} candidates (TakeOrderedAndProject), "
    "never the full vocabulary; the grand total is a broadcast scalar.",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from rust_etl_spark.functions.rounding import round_half_up

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("w"))
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    top = counts.orderBy(F.col("freq").desc(), "w").limit(max(VOCAB_COVERAGE_KS))
    wv = Window.orderBy(F.col("freq").desc(), "w")
    ranked = top.withColumn("r", F.row_number().over(wv))
    ks = spark.createDataFrame([(k,) for k in VOCAB_COVERAGE_KS], "k int")
    covered = (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(F.sum(F.when(F.col("r") <= F.col("k"), F.col("freq")).otherwise(0)).alias("covered"))
    )
    total = counts.agg(F.sum("freq").cast("long").alias("total"))
    return covered.crossJoin(F.broadcast(total)).select(
        "k",
        F.col("covered").cast("long").alias("covered"),
        "total",
        round_half_up(F.col("covered") / F.col("total"), 6).alias("coverage"),
    )


# ------------------------------------------------- bigram LM scoring


@register(
    "lm_bigram_score",
    oracle=f"""
        WITH big AS (
            SELECT doc_id, arr[i] AS p, arr[i + 1] AS w FROM (
                SELECT doc_id, arr,
                       unnest(generate_series(1, len(arr) - 1)) AS i
                FROM (SELECT doc_id, {{toks}} AS arr FROM documents)
                WHERE len(arr) >= 2
            )
        ),
        c2 AS (SELECT p, w, count(*) AS n2 FROM big GROUP BY p, w),
        c1 AS (SELECT p, count(*) AS n1 FROM big GROUP BY p)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               {round_half_up_sql('avg(-ln(n2 / n1))', LM_SCORE_DIGITS)} AS neg_logprob
        FROM big JOIN c2 USING (p, w) JOIN c1 USING (p)
        GROUP BY doc_id
    """.format(toks=tokens_sql("text")),
    doc="Bigram language-model quality score: per-document mean "
    "-ln P(w_i | w_{i-1}) under the corpus's own bigram MLE — the "
    "order-2 refinement of lm_quality_score that additionally flags "
    "documents whose words are individually common but ordered "
    "unnaturally (shuffled/templated text). Docs under 2 tokens have "
    "no bigrams and drop out on both engines.",
)
def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram LM scoring.

    The bigram stream expands in-row (index explode over the token
    array — no token self-join); conditional probabilities are two
    vocabulary-keyed aggregates (bigram counts, preceding-word
    totals) joined back onto the stream. Both count tables are
    vocabulary-sized — far smaller than the corpus at 100 TB, with
    heavy hitters collapsing map-side — and the per-doc mean
    aggregates on doc_id. Same rounding discipline as
    lm_quality_score (avg of -ln of exact integer ratios, rounded to
    LM_SCORE_DIGITS on both engines). No UDFs.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("t")).filter(F.size("t") >= 2)
    big = toks.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
    ).select(
        "doc_id",
        F.element_at("t", F.col("i")).alias("p"),
        F.element_at("t", F.col("i") + 1).alias("w"),
    )
    c2 = big.groupBy("p", "w").agg(F.count(F.lit(1)).alias("n2"))
    c1 = big.groupBy("p").agg(F.count(F.lit(1)).alias("n1"))
    return (
        big.join(c2, ["p", "w"])
        .join(c1, ["p"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            round_half_up(F.avg(-F.log(F.col("n2") / F.col("n1"))), LM_SCORE_DIGITS).alias(
                "neg_logprob"
            ),
        )
    )


# ------------------------------------------------- readability scores


@register(
    "text_readability",
    oracle=f"""
        WITH counted AS (
            SELECT doc_id,
                   CAST({token_count_sql('text')} AS BIGINT) AS n_words,
                   CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1)
                        AS BIGINT) AS n_sents,
                   CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
                        AS BIGINT) AS n_syll
            FROM documents
        )
        SELECT doc_id, n_words, n_sents, n_syll,
               (206.835 - 1.015 * (n_words / CAST(n_sents AS DOUBLE)))
                   - 84.6 * (n_syll / CAST(n_words AS DOUBLE)) AS flesch,
               (0.39 * (n_words / CAST(n_sents AS DOUBLE))
                   + 11.8 * (n_syll / CAST(n_words AS DOUBLE))) - 15.59 AS fk_grade
        FROM counted WHERE n_words > 0
    """,
    doc="Flesch reading-ease and Flesch-Kincaid grade per document, "
    "with vowel-group runs as the syllable proxy (the standard "
    "heuristic) — the readability gate of a text-quality pipeline. "
    "Counts are integers from engine-identical regexes; the score "
    "formulas evaluate in one fixed parenthesized order, so the raw "
    "unrounded doubles hash-match across engines.",
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring — one map-side pass, no shuffle.

    Word counts reuse the engine tokenizer; sentences and syllable
    proxies are regexp counts (RE2/Java agree on these character-class
    patterns — probed before shipping); both denominators are floored
    at 1 so the formulas are total. Everything runs inside whole-stage
    codegen on one documents scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id",
        token_count("text").cast("long").alias("n_words"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit("[.!?]")), F.lit(1)
        ).cast("long").alias("n_sents"),
        F.greatest(
            F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")), F.lit(1)
        ).cast("long").alias("n_syll"),
    ).filter(F.col("n_words") > 0)
    wps = F.col("n_words") / F.col("n_sents").cast("double")
    spw = F.col("n_syll") / F.col("n_words").cast("double")
    return counted.select(
        "doc_id",
        "n_words",
        "n_sents",
        "n_syll",
        ((F.lit(206.835) - F.lit(1.015) * wps) - F.lit(84.6) * spw).alias("flesch"),
        ((F.lit(0.39) * wps + F.lit(11.8) * spw) - F.lit(15.59)).alias("fk_grade"),
    )
