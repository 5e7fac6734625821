"""Text-analysis operators over ``documents`` (north-star extension):
language ID, quality scoring, token stats, fingerprinting — the standard
pre-training corpus hygiene passes, all as codegen'd column expressions
(no Python in the hot path; a pandas_udf annotator variant lives in
functions/annotator.py as the U2 surface demo).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, share, share_if_bounded
from .registry import query

# Tiny deterministic stopword lexicons (heuristic language ID — the
# engine's shape for it; swap lexicons for real ones in production).
STOPWORDS = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "los"),
    "de": ("der", "die", "das", "und"),
}


def _spark_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"size(filter(toks, t -> t IN ({words})))"


def _duck_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(toks, t -> t IN ({words})))"


_LANGID_CASE = (
    "CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en' "
    "WHEN s_es >= s_de AND s_es > 0 THEN 'es' "
    "WHEN s_de > 0 THEN 'de' ELSE 'und' END"
)


@query(
    "text_langid",
    oracle=f"""
WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
sc AS (
    SELECT doc_id, lang,
           {_duck_hits("en")} AS s_en,
           {_duck_hits("es")} AS s_es,
           {_duck_hits("de")} AS s_de
    FROM tok
)
SELECT doc_id, lang AS declared_lang,
       {_LANGID_CASE} AS predicted_lang,
       CAST(s_en AS BIGINT) AS en_hits
FROM sc
""",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: stopword-lexicon hit counts + deterministic
    argmax (ties broken by fixed language order). Pure filter/size
    higher-order fns — scales as a single scan."""
    docs = load_table(spark, "documents", sf_dir)
    sc = docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        F.expr("split(text, ' ')").alias("toks"),
    ).select(
        "doc_id",
        "declared_lang",
        F.expr(_spark_hits("en")).alias("s_en"),
        F.expr(_spark_hits("es")).alias("s_es"),
        F.expr(_spark_hits("de")).alias("s_de"),
    )
    return sc.select(
        "doc_id",
        "declared_lang",
        F.expr(_LANGID_CASE).alias("predicted_lang"),
        F.col("s_en").cast("long").alias("en_hits"),
    )


@query(
    "text_token_stats",
    oracle="""
WITH tok AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT) AS n_token_chars,
       CAST(n_chars AS BIGINT) AS n_chars
FROM tok
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokenization, total/distinct counts,
    character mass. The BPE-ish regex variant is text_token_bpe."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_tokens"),
        F.expr("CAST(size(array_distinct(split(text, ' '))) AS BIGINT)").alias(
            "n_distinct_tokens"
        ),
        F.expr(
            "aggregate(split(text, ' '), 0L, (acc, t) -> acc + length(t))"
        ).alias("n_token_chars"),
        F.col("n_chars"),
    )


@query(
    "text_token_bpe",
    oracle=r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_ish_tokens
FROM documents
""",
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting via regex word/number/symbol classes (the
    cheap proxy used to budget tokenizer costs before running the real
    tokenizer). Regex kept to a class-only subset that means the same
    thing in Java regex (Spark) and RE2 (DuckDB)."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.expr(
            r"CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT)"
        ).alias("n_bpe_ish_tokens"),
    )


@query(
    "text_quality_score",
    oracle=f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
m AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           {_duck_hits("en")} AS stop_hits,
           list_sum(list_transform(toks, t -> len(t))) AS char_mass
    FROM tok
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(stop_hits AS DOUBLE) / n_tokens AS stopword_ratio,
       CAST(char_mass AS DOUBLE) / n_tokens AS mean_token_len,
       round((CASE WHEN n_tokens BETWEEN 20 AND 200 THEN 1.0 ELSE 0.5 END)
             * (0.5 + CAST(stop_hits AS DOUBLE) / n_tokens), 6) AS quality_score
FROM m
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length-band gate x stopword-density boost.
    All ratios are int/int double divisions — bit-identical across
    engines, no rounding needed except the composite."""
    docs = load_table(spark, "documents", sf_dir)
    m = docs.select(
        "doc_id", F.expr("split(text, ' ')").alias("toks")
    ).select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.expr(_spark_hits("en")).alias("stop_hits"),
        F.expr("aggregate(toks, 0L, (acc, t) -> acc + length(t))").alias("char_mass"),
    )
    return m.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.col("stop_hits").cast("double") / F.col("n_tokens")).alias("stopword_ratio"),
        (F.col("char_mass").cast("double") / F.col("n_tokens")).alias("mean_token_len"),
        F.round(
            F.when(F.col("n_tokens").between(20, 200), F.lit(1.0)).otherwise(0.5)
            * (F.lit(0.5) + F.col("stop_hits").cast("double") / F.col("n_tokens")),
            6,
        ).alias("quality_score"),
    )


@query(
    "corpus_quality_filter",
    oracle=f"""
WITH tok AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks FROM documents),
m AS (
    SELECT doc_id, lang, n_chars,
           len(toks) AS n_tokens,
           {_duck_hits("en")} AS stop_hits
    FROM tok
)
SELECT doc_id, lang,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round((CASE WHEN n_tokens BETWEEN 20 AND 200 THEN 1.0 ELSE 0.5 END)
             * (0.5 + CAST(stop_hits AS DOUBLE) / n_tokens), 6) AS quality_score
FROM m
WHERE n_chars >= 50
  AND (CASE WHEN n_tokens BETWEEN 20 AND 200 THEN 1.0 ELSE 0.5 END)
      * (0.5 + CAST(stop_hits AS DOUBLE) / n_tokens) >= 0.6
""",
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hygiene GATE applied to the corpus — the keep/drop decision a
    pre-training pipeline runs before dedup: minimum length plus the
    composite quality score (length band x stopword density) over a
    threshold. One scan, pure codegen predicates: the 100 TB cost is
    exactly the read. Pairs with corpus_dedup_canonical (hygiene ->
    dedup -> mixture is the standard pass order)."""
    docs = load_table(spark, "documents", sf_dir)
    m = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr("split(text, ' ')").alias("toks"),
    ).select(
        "doc_id",
        "lang",
        "n_chars",
        F.size("toks").alias("n_tokens"),
        F.expr(_spark_hits("en")).alias("stop_hits"),
    )
    score = F.when(F.col("n_tokens").between(20, 200), F.lit(1.0)).otherwise(0.5) * (
        F.lit(0.5) + F.col("stop_hits").cast("double") / F.col("n_tokens")
    )
    return (
        m.where((F.col("n_chars") >= 50) & (score >= 0.6))
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round(score, 6).alias("quality_score"),
        )
    )


@query(
    "corpus_top_terms",
    oracle="""
WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM t GROUP BY token
ORDER BY n DESC, token
LIMIT 50
""",
)
def corpus_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: global top-50 tokens by count —
    the frequency scan behind vocab construction, stopword discovery,
    and boilerplate detection.

    Scale: explode fans out map-side; the groupBy shuffles only
    (token, partial-count) pairs after map-side combine — traffic is
    vocabulary-sized per partition, not token-stream-sized — and the
    top-50 is TakeOrdered (per-partition heaps), never a global sort.
    For truly unbounded vocabularies swap in a count-min sketch; for
    any natural-language corpus the exact form is the right plan."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.explode(F.expr("split(text, ' ')")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


TFIDF_TOP_K = 3


@query(
    "tfidf_top_terms",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
    SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
), dfreq AS (
    SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token
), n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.token,
           round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
    FROM tf JOIN dfreq USING (token) CROSS JOIN n
)
SELECT doc_id, token, tfidf, CAST(rnk AS INT) AS rnk
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, token
    ) AS rnk FROM scored
)
WHERE rnk <= {TFIDF_TOP_K}
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 most characteristic tokens per
    document — term frequency times inverse document frequency, the
    classic relevance/topic signal (and the cheap keyword labeler a
    data pipeline runs before clustering or routing).

    Plan/scale: token explode is map-side; TF and DF are two partial-agg
    shuffles at (doc, token) and vocabulary cardinality; the corpus size
    N is a 1-row broadcast; the DF table joins back on token (shuffle
    join — vocabulary can be huge; AQE broadcasts it when it isn't); the
    per-doc top-k is a partitioned window with WindowGroupLimit doing
    map-side pre-filtering. Determinism: tfidf is rounded to 6 dp on
    both engines BEFORE ranking and ties break on the token string, so
    rank boundaries cannot disagree."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select("doc_id", F.explode(F.expr("split(text, ' ')")).alias("token"))
    # tok feeds BOTH the TF and DF aggregates; the lineage cut runs the
    # token explode once (the shared-model-table pattern, see
    # collocation_pmi_bigrams)
    tok = share_if_bounded(tok, sf_dir, "documents")
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "token", "tfidf", "rnk")
    )


# Gopher-style repetition gates: a doc dominated by one token/bigram or
# stuffed with repeated trigrams is boilerplate/spam, not prose. All
# three signals are per-row array folds in codegen — the mode count is
# O(m·distinct) per row, bounded by document length, zero shuffles.
# Mode (most-frequent-element) COUNT of an array. The naive form —
# filter the whole array once per distinct element — is O(distinct *
# n) per row, quadratic on natural text where distinct ~ n; at sf0.1 it
# made text_repetition_stats the single slowest registry query (17 s).
# Spark side instead sorts the array and folds ONE pass tracking the
# longest run of equal adjacent elements: O(n log n), same count for
# every input (the mode's multiplicity is the longest run in sorted
# order). nullif(.,0) preserves the naive form's NULL on empty arrays
# (unreachable via split(), which always yields >= 1 element).
_SPARK_MODE_COUNT = (
    "nullif(aggregate(array_sort({a}), "
    "named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0), "
    "(s, x) -> named_struct("
    "'prev', x, "
    "'run', IF(s.prev <=> x, s.run + 1, 1), "
    "'best', greatest(s.best, IF(s.prev <=> x, s.run + 1, 1))), "
    "s -> s.best), 0)"
)
_DUCK_MODE_COUNT = (
    "list_max(list_transform(list_distinct({a}), x -> len(list_filter({a}, y -> y = x))))"
)
# Non-distinct n-gram lists (the shingle helpers dedupe; repetition
# needs the multiset).
_SPARK_GRAMS = (
    "transform(sequence(1, greatest(size(toks) - {n1}, 1)), "
    "i -> concat_ws(' ', slice(toks, i, {n})))"
)
_DUCK_GRAMS = (
    "list_transform(range(1, greatest(len(toks) - {n1}, 1) + 1), "
    "i -> array_to_string(toks[i:i+{n1}], ' '))"
)


@query(
    "text_repetition_stats",
    oracle=f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g AS (
    SELECT doc_id, toks,
           {_DUCK_GRAMS.format(n1=1)} AS bg,
           {_DUCK_GRAMS.format(n1=2)} AS tg
    FROM tok
),
m AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           {_DUCK_MODE_COUNT.format(a="toks")} AS top_tok,
           {_DUCK_MODE_COUNT.format(a="bg")} AS top_bg,
           len(bg) AS n_bg,
           len(tg) AS n_tg,
           len(list_distinct(tg)) AS n_tg_distinct
    FROM g
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(top_tok AS DOUBLE) / n_tokens, 6) AS top_token_frac,
       round(CAST(top_bg AS DOUBLE) / n_bg, 6) AS top_bigram_frac,
       round(1.0 - CAST(n_tg_distinct AS DOUBLE) / n_tg, 6) AS dup_trigram_frac,
       (CAST(top_tok AS DOUBLE) / n_tokens <= 0.30
        AND CAST(top_bg AS DOUBLE) / n_bg <= 0.20
        AND 1.0 - CAST(n_tg_distinct AS DOUBLE) / n_tg <= 0.30) AS keep
FROM m
""",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gates (the Gopher rules): fraction of
    the doc taken by its most frequent token / bigram, and the
    duplicate-trigram fraction — the signals that catch keyword-stuffed
    spam and templated boilerplate that length/stopword gates miss.
    ``keep`` applies the composite thresholds (most-common-token <= 30%,
    top bigram <= 20%, dup trigrams <= 30%).

    Scale: one scan, all three stats computed per row by array folds in
    whole-stage codegen — no explode, no shuffle, no UDF; cost is
    O(tokens · distinct-tokens) per row, bounded by doc length (bound
    giant docs upstream at ingest, as with chunking). Determinism: every
    frac is an int/int single IEEE division, rounded to 6 dp on both
    engines; threshold comparisons happen on the unrounded values in
    both engines identically."""
    docs = load_table(spark, "documents", sf_dir)
    g = docs.select(
        "doc_id",
        F.expr("split(text, ' ')").alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.expr(_SPARK_MODE_COUNT.format(a="toks")).alias("top_tok"),
        F.expr(_SPARK_MODE_COUNT.format(a=_SPARK_GRAMS.format(n=2, n1=1))).alias(
            "top_bg"
        ),
        F.expr(f"size({_SPARK_GRAMS.format(n=2, n1=1)})").alias("n_bg"),
        F.expr(f"size({_SPARK_GRAMS.format(n=3, n1=2)})").alias("n_tg"),
        F.expr(
            f"size(array_distinct({_SPARK_GRAMS.format(n=3, n1=2)}))"
        ).alias("n_tg_distinct"),
    )
    top_token_frac = F.col("top_tok").cast("double") / F.col("n_tokens")
    top_bigram_frac = F.col("top_bg").cast("double") / F.col("n_bg")
    dup_trigram_frac = F.lit(1.0) - F.col("n_tg_distinct").cast("double") / F.col("n_tg")
    return g.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(top_token_frac, 6).alias("top_token_frac"),
        F.round(top_bigram_frac, 6).alias("top_bigram_frac"),
        F.round(dup_trigram_frac, 6).alias("dup_trigram_frac"),
        (
            (top_token_frac <= 0.30)
            & (top_bigram_frac <= 0.20)
            & (dup_trigram_frac <= 0.30)
        ).alias("keep"),
    )


@query(
    "text_fingerprint",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens
FROM tok
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct token set
    (word-order-insensitive near-exact dedup key; two docs that permute
    the same words collide). ASCII tokens sort identically under Spark's
    UTF8-binary and DuckDB's default collation."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.md5(
            F.expr("concat_ws(' ', array_sort(array_distinct(split(text, ' '))))")
        ).alias("fingerprint"),
        F.expr("CAST(size(array_distinct(split(text, ' '))) AS BIGINT)").alias(
            "n_distinct_tokens"
        ),
    )


# --- search / collocation statistics --------------------------------------

# BM25 ranking over a fixed query-term set (Robertson/Sparck Jones; the
# scoring function behind Lucene/Elasticsearch relevance). Constants are
# the textbook defaults.
BM25_TERMS = ("spark", "window", "merge")
BM25_K1 = "1.5"
BM25_B = "0.75"
BM25_TOP_N = 20

_BM25_TERM_LIST = ", ".join(f"'{t}'" for t in BM25_TERMS)

# Identical expression TEXT on both engines: every divide/multiply is
# written once so IEEE evaluation order cannot differ.
_BM25_SCORE = (
    f"ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)"
    f" * (tf * ({BM25_K1} + 1.0))"
    f" / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))"
)


@query(
    "bm25_doc_scores",
    oracle=f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
dl AS (SELECT doc_id, len(toks) AS dl FROM tok),
stats AS (
    SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
    FROM dl
),
term AS (SELECT doc_id, unnest(toks) AS token FROM tok),
tf AS (
    SELECT doc_id, token, count(*) AS tf FROM term
    WHERE token IN ({_BM25_TERM_LIST}) GROUP BY doc_id, token
),
dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
SELECT doc_id,
       CAST(sum(CAST(round({_BM25_SCORE}, 6) AS DECIMAL(18,6))) AS DOUBLE)
           AS score,
       count(*) AS n_terms
FROM tf JOIN dl USING (doc_id) JOIN dfq USING (token) CROSS JOIN stats
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT {BM25_TOP_N}
""",
)
def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text relevance ranking: BM25 of each document against a fixed
    query-term set, top-20 — the retrieval scorer a corpus pipeline runs
    for search-based curation (and the exact-scoring baseline for any
    learned retriever).

    Plan/scale: the token explode is map-side and immediately filtered to
    the |Q| query terms, so the TF shuffle carries at most |Q| rows per
    doc; document frequencies (|Q| rows) and the corpus stats (1 row)
    broadcast; the final ranking is TakeOrdered, never a global sort.
    Determinism: per-term scores share one expression string with the
    oracle (single IEEE evaluation order), are rounded to 6 dp, and sum
    as DECIMAL(18,6) — exact, order-independent — before the final cast
    back to double; ties rank by doc_id."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select("doc_id", F.expr("split(text, ' ')").alias("toks"))
    dl = tok.select("doc_id", F.size("toks").cast("long").alias("dl"))
    stats = dl.agg(
        F.expr("count(*) AS n_docs"),
        F.expr("CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl"),
    )
    term = tok.select("doc_id", F.explode("toks").alias("token"))
    tf = (
        term.where(F.expr(f"token IN ({_BM25_TERM_LIST})"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # tf feeds BOTH the df table and the scoring join; the lineage cut
    # plans the explode+filter+agg once (the shared-model-table pattern,
    # see collocation_pmi_bigrams)
    tf = share(tf, sf_dir, "documents")
    dfq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfq), "token")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.expr(
                f"CAST(sum(CAST(round({_BM25_SCORE}, 6) AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("score"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOP_N)
    )


# Pointwise mutual information over adjacent-token bigrams: the classic
# collocation detector ("new york" scores high because its joint count
# beats the unigram-independence expectation).
PMI_MIN_COUNT = 5
PMI_TOP_N = 50

# adjacent-token pairs of a ``toks`` array as (tok_a, tok_b) structs
_BIGRAMS = (
    "IF(size(toks) >= 2,"
    " transform(sequence(1, size(toks) - 1),"
    " i -> struct(element_at(toks, i) AS tok_a,"
    " element_at(toks, i + 1) AS tok_b)),"
    " array())"
)

_PMI_EXPR = (
    "round(ln((CAST(c_ab AS DOUBLE) * CAST(u_total AS DOUBLE)"
    " * CAST(u_total AS DOUBLE))"
    " / (CAST(t_total AS DOUBLE) * CAST(c_a AS DOUBLE)"
    " * CAST(c_b AS DOUBLE))), 6)"
)


@query(
    "collocation_pmi_bigrams",
    oracle=f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
uc AS (
    SELECT token, count(*) AS c FROM (SELECT unnest(toks) AS token FROM tok)
    GROUP BY token
),
u AS (SELECT sum(c) AS u_total FROM uc),
bgc AS (
    SELECT b['tok_a'] AS tok_a, b['tok_b'] AS tok_b, count(*) AS c_ab
    FROM (
        SELECT unnest(list_transform(range(1, len(toks)),
                      i -> struct_pack(tok_a := toks[i], tok_b := toks[i+1]))) AS b
        FROM tok
    )
    GROUP BY 1, 2
),
t AS (SELECT sum(c_ab) AS t_total FROM bgc)
SELECT tok_a, tok_b, c_ab, {_PMI_EXPR} AS pmi
FROM (
    SELECT bgc.tok_a, bgc.tok_b, bgc.c_ab,
           ca.c AS c_a, cb.c AS c_b, u.u_total, t.t_total
    FROM bgc
    JOIN uc ca ON ca.token = bgc.tok_a
    JOIN uc cb ON cb.token = bgc.tok_b
    CROSS JOIN u CROSS JOIN t
)
WHERE c_ab >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, tok_a, tok_b
LIMIT {PMI_TOP_N}
""",
)
def collocation_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 adjacent-token bigrams by pointwise
    mutual information, PMI = ln(p(ab) / (p(a)p(b))) with probabilities
    from corpus counts — the statistical phrase detector a tokenizer /
    vocab pipeline runs to find multi-word units worth merging.

    Plan/scale: unigram and bigram counts are two partial-agg shuffles at
    vocabulary cardinality (map-side combine keeps traffic bounded by
    vocab, not token stream); the two corpus totals are one-row
    broadcasts; the unigram table joins back per bigram side (AQE
    broadcasts it while it fits, shuffle-joins when vocab is huge); final
    top-50 is TakeOrdered. Determinism: PMI is all-integer counts pushed
    through ONE shared expression string (identical IEEE order on both
    engines), rounded to 6 dp, ties broken on the token pair; the
    min-count floor (5) keeps rare-pair noise out of the ranking."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select("doc_id", F.expr("split(text, ' ')").alias("toks"))
    uc = (
        tok.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # uc feeds THREE consumers (corpus total, tok_a side, tok_b side) and
    # bgc two (bigram total, the PMI table) — without a lineage cut each
    # reference re-plans the token/bigram explode + aggregate. The cuts
    # build each model table once (interleaved A/B at sf0.1:
    # 0.58-1.13s -> 0.21-0.34s every adjacent pair, output equal).
    uc = share(uc, sf_dir, "documents")
    u = uc.agg(F.expr("sum(c) AS u_total"))
    bg = tok.select(F.explode(F.expr(_BIGRAMS)).alias("b"))
    bgc = (
        bg.select("b.tok_a", "b.tok_b")
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    bgc = share(bgc, sf_dir, "documents")  # see uc note above
    t = bgc.agg(F.expr("sum(c_ab) AS t_total"))
    ca = uc.select(F.col("token").alias("tok_a"), F.col("c").alias("c_a"))
    cb = uc.select(F.col("token").alias("tok_b"), F.col("c").alias("c_b"))
    return (
        bgc.where(F.col("c_ab") >= PMI_MIN_COUNT)
        .join(ca, "tok_a")
        .join(cb, "tok_b")
        .crossJoin(F.broadcast(u))
        .crossJoin(F.broadcast(t))
        .select("tok_a", "tok_b", "c_ab", F.expr(_PMI_EXPR).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "tok_a", "tok_b")
        .limit(PMI_TOP_N)
    )


# --- OOV-rate curve over candidate vocabulary sizes -------------------------
# The other direction of vocabulary sizing: GIVEN candidate vocab sizes
# (hardware-friendly powers of two), what <unk> rate does each buy?
# vocab_coverage_classes asks "how big for 90% coverage"; this asks
# "what coverage at 64/256/1024" — the table a tokenizer ablation puts
# next to its loss curves.

OOV_VOCAB_SIZES = [64, 256, 1024]


@query(
    "vocab_oov_rate_curve",
    oracle=f"""
WITH wc AS (
    SELECT w AS word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    GROUP BY w
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
               count(*) AS n_types FROM wc),
top AS (
    SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS r
    FROM wc
    ORDER BY cnt DESC, word
    LIMIT {max(OOV_VOCAB_SIZES)}
),
sizes AS (SELECT unnest([{", ".join(map(str, OOV_VOCAB_SIZES))}]) AS vocab_size)
SELECT s.vocab_size,
       CAST(coalesce(sum(CASE WHEN t.r <= s.vocab_size THEN t.cnt END), 0)
            AS BIGINT) AS covered_occurrences,
       tot.total AS total_occurrences,
       CAST((tot.total
             - coalesce(sum(CASE WHEN t.r <= s.vocab_size THEN t.cnt END), 0))
            * 1000000 // tot.total AS BIGINT) AS oov_ppm
FROM sizes s CROSS JOIN tot LEFT JOIN top t ON t.r <= s.vocab_size
GROUP BY s.vocab_size, tot.total
""",
)
def vocab_oov_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV (<unk>) rate at candidate vocabulary sizes: keep the top-N
    words by corpus frequency (ties to the lexicographically smaller
    word — a total order, so the vocab is engine- and
    partitioning-stable) and report the occurrence share that falls
    outside each N, in exact integer ppm. Complements
    vocab_coverage_classes (coverage -> size) with the inverse curve
    (size -> coverage) a tokenizer ablation reads.

    Plan/scale: one vocabulary-cardinality count shuffle, then
    TakeOrdered pulls only max(sizes) rows (per-partition heaps, no
    global sort of the vocab), and the rank window runs over that
    bounded 1024-row spine — the only unpartitioned window, allowlisted
    with the other constant-bounded spines. The curve itself is
    |sizes| rows."""
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # wc feeds BOTH the corpus totals and the top-N vocab spine; the
    # lineage cut runs the word-count explode+agg once (the shared-
    # model-table pattern, see collocation_pmi_bigrams)
    wc = share(wc, sf_dir, "documents")
    tot = wc.agg(
        F.sum("cnt").cast("bigint").alias("total_occurrences"),
        F.count(F.lit(1)).alias("n_types"),
    )
    top = (
        wc.orderBy(F.desc("cnt"), "word")
        .limit(max(OOV_VOCAB_SIZES))
        .withColumn(
            "r",
            F.row_number().over(Window.orderBy(F.desc("cnt"), "word")),
        )
    )
    sizes = spark.createDataFrame(
        [(n,) for n in OOV_VOCAB_SIZES], "vocab_size int"
    )
    covered = F.coalesce(
        F.sum(F.when(F.col("r") <= F.col("vocab_size"), F.col("cnt"))), F.lit(0)
    )
    return (
        sizes.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(top), F.col("r") <= F.col("vocab_size"), "left"
        )
        .groupBy("vocab_size", "total_occurrences")
        .agg(covered.cast("bigint").alias("covered_occurrences"))
        .select(
            "vocab_size",
            "covered_occurrences",
            "total_occurrences",
            F.expr(
                "CAST((total_occurrences - covered_occurrences) * 1000000"
                " DIV total_occurrences AS BIGINT)"
            ).alias("oov_ppm"),
        )
    )


# --- frequency-class vocabulary truncation ----------------------------------

VOCAB_COVERAGE_PCT = 90


@query(
    "vocab_coverage_classes",
    oracle=f"""
WITH wc AS (
    SELECT w AS word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    GROUP BY w
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM wc),
cc AS (SELECT cnt, count(*) AS n_words, CAST(cnt * count(*) AS BIGINT) AS class_tokens
       FROM wc GROUP BY cnt),
pre AS (
    SELECT cnt, class_tokens,
           CAST(sum(class_tokens) OVER (ORDER BY cnt DESC) AS BIGINT) AS cum_tokens
    FROM cc
)
SELECT wc.word, CAST(wc.cnt AS BIGINT) AS cnt,
       CAST(pre.cum_tokens * 1000000 // tot.total AS BIGINT) AS class_cum_ppm
FROM wc
JOIN pre ON pre.cnt = wc.cnt
CROSS JOIN tot
WHERE (pre.cum_tokens - pre.class_tokens) * 10 < tot.total * {VOCAB_COVERAGE_PCT // 10}
""",
)
def vocab_coverage_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-truncated vocabulary: the smallest set of WHOLE
    frequency classes whose words cover >= 90% of all token
    occurrences — the tokenizer-vocab / embedding-table sizing pass
    (words below the cut become <unk>). Class-granular on purpose: the
    cut depends only on a word's corpus count, never on a global
    per-word rank, which is what makes it scale.

    Plan/scale: word counts partial-agg map-side; the count-of-counts
    table cc has one row per DISTINCT frequency value, which is
    O(sqrt(total_tokens)) rows (k distinct counts need >= k(k+1)/2
    tokens) — bounded by corpus mass, not vocabulary size, so its
    cumulative window is a provably tiny single partition (allowlisted);
    the class prefix sums then hash-join (broadcast-sized) back onto
    the word counts for a map-side membership filter. No global per-word
    window anywhere — compare window_ntile_customers for the
    distributed-rank alternative when per-word ranks are the ask.

    Exactness: the 90% cut compares integer token masses
    ((cum_before) * 10 < total * 9); coverage surfaces as integer ppm
    of the class boundary."""
    docs = load_table(spark, "documents", sf_dir)
    # |V|-sized word counts feed three consumers (total, count-of-counts,
    # membership join) — materialize once instead of three corpus scans
    wc = share(
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt")),
        sf_dir,
        "documents",
    )
    tot = wc.agg(F.sum("cnt").cast("bigint").alias("total"))
    cc = wc.groupBy("cnt").agg(
        (F.col("cnt") * F.count(F.lit(1))).cast("bigint").alias("class_tokens")
    )
    w = Window.orderBy(F.col("cnt").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = cc.select(
        "cnt",
        "class_tokens",
        F.sum("class_tokens").over(w).cast("bigint").alias("cum_tokens"),
    )
    return (
        wc.join(F.broadcast(pre), "cnt")
        .crossJoin(F.broadcast(tot))
        .where(
            (F.col("cum_tokens") - F.col("class_tokens")) * 10
            < F.col("total") * (VOCAB_COVERAGE_PCT // 10)
        )
        .select(
            "word",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.expr("CAST(cum_tokens * 1000000 DIV total AS BIGINT)").alias(
                "class_cum_ppm"
            ),
        )
    )


# --- cross-document duplicated n-gram spans ---------------------------------
# ExactSubstr-lite (Lee et al., "Deduplicating Training Data Makes
# Language Models Better"): find the token positions covered by n-grams
# that also occur in OTHER documents. The full suffix-array span merge
# is replaced by per-position n-gram membership — no false negatives at
# the n-gram granularity, and every stage is a hash shuffle.

SPAN_NGRAM = 4


def _gram_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, i, gh): the 32-bit hash of the 4-gram starting at token
    position i (1-based), for every position of every document —
    materialized once to keyed parquet scratch (the _minhash_sigs
    discipline) and shared by dedup_ngram_spans and dedup_span_merge.
    Before r11 each consumer re-exploded and re-md5'd every position
    per call (~2-6 s at sf0.1); the position table is also the
    production shape — ExactSubstr pipelines materialize their gram
    index once per corpus snapshot."""
    import os

    from ..catalog import widen_scan
    from ..functions import hashing as H
    from ..scratch import keyed_dir, materialize_once

    def _write(tmp: str) -> None:
        docs = widen_scan(load_table(spark, "documents", sf_dir))
        tok = docs.select("doc_id", F.split("text", " ").alias("toks")).where(
            F.expr(f"size(toks) >= {SPAN_NGRAM}")
        )
        gram_hash = H.spark_hash32(
            f"concat_ws(' ', slice(toks, i, {SPAN_NGRAM}))"
        )
        (
            tok.select(
                "doc_id",
                F.posexplode(
                    F.expr(
                        f"transform(sequence(1, size(toks) - {SPAN_NGRAM - 1}), "
                        f"i -> {gram_hash})"
                    )
                ).alias("pos", "gh"),
            )
            .select("doc_id", (F.col("pos") + 1).cast("int").alias("i"), "gh")
            .write.parquet(tmp)
        )

    scratch = keyed_dir(spark, "grampos", sf_dir, ("documents",))
    return spark.read.parquet(materialize_once(os.path.join(scratch, "grams"), _write))


@query(
    "dedup_ngram_spans",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
t2 AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= {SPAN_NGRAM}),
g AS (
    SELECT doc_id,
           CAST(('0x' || substring(md5(array_to_string(toks[i:i+{SPAN_NGRAM - 1}], ' ')), 1, 8)) AS BIGINT) AS gh
    FROM t2, unnest(range(1, len(toks) - {SPAN_NGRAM - 2})) t(i)
),
f AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
j AS (SELECT g.doc_id, g.gh FROM g JOIN f USING (gh)),
n AS (SELECT doc_id, CAST(len(toks) - {SPAN_NGRAM - 1} AS BIGINT) AS n_positions FROM t2)
SELECT j.doc_id, n.n_positions,
       count(*) AS dup_positions,
       count(DISTINCT j.gh) AS dup_distinct_grams,
       CAST(count(*) * 1000000 // n.n_positions AS BIGINT) AS dup_ppm
FROM j JOIN n ON n.doc_id = j.doc_id
GROUP BY j.doc_id, n.n_positions
""",
)
def dedup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span detection, the ExactSubstr-lite
    form of Lee et al.'s training-data dedup: for every document, how
    many of its 4-gram positions are covered by a 4-gram that also
    appears in at least one OTHER document — the signal for boilerplate
    / templated spans that document-level near-dup (MinHash) cannot see
    because the documents differ globally.

    Pipeline: per-position 4-gram hashes (codegen transform+explode, no
    distinct — positions matter), a corpus-wide document-frequency
    aggregate keeps only grams spanning >= 2 docs, and a hash join on
    the gram key credits each duplicated position back to its document.

    Scale: both join sides hash-partition on the 32-bit gram hash —
    uniform by construction, no skew; the doc-frequency table
    partial-aggregates map-side (count distinct over doc_id rides the
    standard two-level expand). This is the published shape: suffix
    arrays find longer-than-n spans, but at 100 TB everyone ships the
    n-gram approximation first because it is one shuffle + one join.
    Output is docs with >= 1 duplicated position, with ppm coverage in
    exact integer arithmetic."""
    # The gram-position table materializes once into keyed scratch
    # (see _gram_positions) and is shared with dedup_span_merge;
    # at 100 TB this is the classic materialize-vs-recompute call —
    # |grams| ~ 10x corpus bytes, so production checkpoints the index to
    # cluster storage or recomputes if storage-starved; the md5 cost
    # dominates either way.
    g = _gram_positions(spark, sf_dir).select("doc_id", "gh")
    f = (
        g.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("gh")
    )
    j = g.join(f, "gh")
    # positions per doc == rows per doc in the gram table, by construction
    n = g.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_positions")
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dup_positions"),
            F.countDistinct("gh").alias("dup_distinct_grams"),
        )
        .join(n, "doc_id")
        .select(
            "doc_id",
            "n_positions",
            "dup_positions",
            "dup_distinct_grams",
            F.expr("CAST(dup_positions * 1000000 DIV n_positions AS BIGINT)").alias(
                "dup_ppm"
            ),
        )
    )


# --- ExactSubstr span MERGE (the removal decision) --------------------------
# dedup_ngram_spans reports which 4-gram POSITIONS are cross-document
# duplicated; this operator finishes the Lee et al. pipeline by merging
# those positions into MAXIMAL duplicated token spans and sizing the
# removal: ExactSubstr cuts every duplicated span of >= some token
# length (50 in the paper; smaller here so the fixture corpus populates
# both verdicts). Two positions merge when their 4-gram token intervals
# OVERLAP (start gap <= SPAN_NGRAM - 1); adjacent-but-disjoint intervals
# stay separate spans, matching interval-merge semantics.

SPAN_REMOVE_MIN = 8  # tokens: spans at least this long get cut


@query(
    "dedup_span_merge",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
t2 AS (SELECT doc_id, toks FROM tok WHERE len(toks) >= {SPAN_NGRAM}),
g AS (
    SELECT doc_id, i,
           CAST(('0x' || substring(md5(array_to_string(toks[i:i+{SPAN_NGRAM - 1}], ' ')), 1, 8)) AS BIGINT) AS gh
    FROM t2, unnest(range(1, len(toks) - {SPAN_NGRAM - 2})) t(i)
),
f AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
dup AS (SELECT g.doc_id, g.i FROM g JOIN f USING (gh)),
flagged AS (
    SELECT doc_id, i,
           CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                     > {SPAN_NGRAM - 1} THEN 1 ELSE 0 END AS brk
    FROM dup
),
grp AS (
    SELECT doc_id, i,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS UNBOUNDED PRECEDING) AS span_id
    FROM flagged
),
spans AS (
    SELECT doc_id, span_id,
           max(i) - min(i) + {SPAN_NGRAM} AS span_tokens
    FROM grp GROUP BY doc_id, span_id
),
n AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t2)
SELECT s.doc_id, n.n_tokens,
       count(*) AS n_spans,
       CAST(max(s.span_tokens) AS BIGINT) AS longest_span_tokens,
       CAST(coalesce(sum(CASE WHEN s.span_tokens >= {SPAN_REMOVE_MIN}
                         THEN s.span_tokens END), 0) AS BIGINT) AS removable_tokens,
       CAST(coalesce(sum(CASE WHEN s.span_tokens >= {SPAN_REMOVE_MIN}
                         THEN s.span_tokens END), 0) * 1000000
            // n.n_tokens AS BIGINT) AS removable_ppm
FROM spans s JOIN n ON n.doc_id = s.doc_id
GROUP BY s.doc_id, n.n_tokens
""",
)
def dedup_span_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span merge — the REMOVAL decision Lee et al.'s
    training-data dedup actually executes: take the cross-document
    duplicated 4-gram positions (dedup_ngram_spans' signal), merge
    overlapping token intervals into maximal duplicated spans per
    document, and size the cut — span count, longest span, and how many
    tokens the >= SPAN_REMOVE_MIN policy would delete (exact integer
    ppm of the document). dedup_ngram_spans answers "how duplicated is
    this doc"; this answers "what exactly would we cut, and how much".

    Pipeline: per-position gram hashes -> corpus document-frequency
    filter (>= 2 docs) -> per-doc gaps-and-islands merge: a position
    starts a new span iff its gap to the previous duplicated position
    exceeds SPAN_NGRAM - 1 (token intervals no longer overlap), via
    lag + running-sum windows PARTITIONED BY doc — the distributed
    interval-merge idiom, never a global window.

    Scale: identical shuffle shape to dedup_ngram_spans (hash-uniform
    gram key for the frequency filter) plus one doc-keyed window whose
    partition is a single document's duplicated positions — bounded by
    document length, the same per-doc cardinality every operator here
    already carries. The merge is exactly what the suffix-array
    implementation emits; n-gram anchoring only quantizes span
    boundaries to the 4-gram grid."""
    from pyspark.sql import Window

    # shared gram index — see _gram_positions
    g = _gram_positions(spark, sf_dir)
    f = (
        g.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("gh")
    )
    dup = g.join(f, "gh").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    flagged = dup.withColumn(
        "brk",
        F.when(
            F.col("i") - F.lag("i").over(w) > SPAN_NGRAM - 1, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    grp = flagged.withColumn(
        "span_id", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = grp.groupBy("doc_id", "span_id").agg(
        (F.max("i") - F.min("i") + SPAN_NGRAM).alias("span_tokens")
    )
    # n_tokens == positions-per-doc + (SPAN_NGRAM - 1), by construction
    n = g.groupBy("doc_id").agg(
        (F.count(F.lit(1)) + (SPAN_NGRAM - 1)).cast("bigint").alias("n_tokens")
    )
    removable = F.coalesce(
        F.sum(
            F.when(
                F.col("span_tokens") >= SPAN_REMOVE_MIN, F.col("span_tokens")
            )
        ),
        F.lit(0),
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.max("span_tokens").cast("bigint").alias("longest_span_tokens"),
            removable.cast("bigint").alias("removable_tokens"),
        )
        .join(n, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "n_spans",
            "longest_span_tokens",
            "removable_tokens",
            F.expr(
                "CAST(removable_tokens * 1000000 DIV n_tokens AS BIGINT)"
            ).alias("removable_ppm"),
        )
    )


# --- hashing-trick featurization --------------------------------------------

FEATURE_HASH_DIMS = 64


@query(
    "feature_hash_tf64",
    oracle=f"""
WITH g AS (
    SELECT doc_id,
           CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % {FEATURE_HASH_DIMS} AS dim
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
)
SELECT doc_id, CAST(dim AS BIGINT) AS dim, count(*) AS tf
FROM g GROUP BY 1, 2
""",
)
def feature_hash_tf64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick term-frequency features (Weinberger et al.): each
    token hashes into one of 64 fixed dimensions, per-doc counts become
    the feature vector — the vocabulary-free featurization that scales
    to any corpus because there's no dictionary to build, broadcast, or
    keep consistent across 1000 executors (the classic failure of
    CountVectorizer-style pipelines at 100 TB).

    Exploded (doc_id, dim, tf) rows rather than an array column — the
    registry's no-array-output rule; downstream consumers pivot or
    collect as needed. The md5-derived 32-bit hash is the engine-shared
    one from functions/hashing.py (non-negative, so % 64 agrees across
    engines without pmod care).

    Plan/scale: explode + two-level hash aggregate, all codegen; output
    is bounded by |docs| x 64. One shuffle on (doc_id, dim)."""
    from ..functions import hashing as H

    docs = load_table(spark, "documents", sf_dir)
    g = docs.select(
        "doc_id",
        F.expr(
            f"explode(transform(split(text, ' '), w -> {H.spark_hash32('w')} % {FEATURE_HASH_DIMS}))"
        ).alias("dim"),
    )
    return g.groupBy("doc_id", F.col("dim").cast("bigint").alias("dim")).agg(
        F.count(F.lit(1)).alias("tf")
    )


# --- language-ID confusion matrix -------------------------------------------


@query(
    "langid_confusion_matrix",
    oracle=f"""
WITH tok AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
sc AS (
    SELECT doc_id, lang,
           {_duck_hits("en")} AS s_en,
           {_duck_hits("es")} AS s_es,
           {_duck_hits("de")} AS s_de
    FROM tok
)
SELECT lang AS declared_lang,
       {_LANGID_CASE} AS predicted_lang,
       count(*) AS n_docs
FROM sc
GROUP BY 1, 2
""",
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the heuristic language identifier: declared
    label x predicted label with document counts — the classifier-eval
    rollup run over every model-scored column before trusting it as a
    filter (exactly how a langid gate gets audited before it drops a
    language from the corpus). Composes text_langid's codegen scoring
    with one tiny aggregate; |langs|^2 output rows, partial-agg'd
    map-side. One scan."""
    docs = load_table(spark, "documents", sf_dir)
    sc = docs.select(
        "doc_id",
        F.col("lang").alias("declared_lang"),
        F.expr("split(text, ' ')").alias("toks"),
    ).select(
        "declared_lang",
        F.expr(_spark_hits("en")).alias("s_en"),
        F.expr(_spark_hits("es")).alias("s_es"),
        F.expr(_spark_hits("de")).alias("s_de"),
    )
    return (
        sc.select("declared_lang", F.expr(_LANGID_CASE).alias("predicted_lang"))
        .groupBy("declared_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- BPE training: merge-pair statistics ------------------------------------

BPE_TOP_PAIRS = 20


@query(
    "bpe_pair_counts",
    oracle=f"""
WITH wf AS (
    SELECT w AS word, count(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE len(w) >= 2
    GROUP BY 1
), pairs AS (
    SELECT substring(word, k, 1) || '|' || substring(word, k + 1, 1) AS pair,
           freq
    FROM wf, unnest(range(1, len(word))) t(k)
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
FROM pairs GROUP BY 1
ORDER BY cnt DESC, pair
LIMIT {BPE_TOP_PAIRS}
""",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE TRAINING step (Sennrich et al.): count adjacent symbol
    pairs across the corpus weighted by word frequency — the statistic
    whose argmax becomes the next merge rule. text_token_bpe covers the
    tokenization (apply) side; this is the learn side, and it is the
    exact computation a distributed tokenizer trainer runs per merge
    round (re-run after each merge with the merged symbol table).

    Plan/scale: word frequencies first (one shuffle, vocabulary
    cardinality — the classic wordcount collapse, so the pair explosion
    runs over the VOCABULARY weighted by freq, not over the corpus:
    sum(len(word)-1 per distinct word) rows instead of per-token);
    pair extraction is codegen substring arithmetic (no UDF); the pair
    aggregate partial-combines into at most |alphabet|^2 groups; top-N
    is a TakeOrdered (per-partition heaps), ties broken by pair text.
    Pure integer counts — engine-exact."""
    docs = load_table(spark, "documents", sf_dir)
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = wf.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " k -> concat(substring(word, k, 1), '|', substring(word, k + 1, 1)))"
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(BPE_TOP_PAIRS)
    )


# --- PII detection audit -----------------------------------------------------
# Patterns deliberately avoid backslash escapes and engine-divergent
# syntax (lookaround, \b): plain character classes and {m,} counts
# parse and match identically under Java regex (Spark) and RE2
# (DuckDB). Matching runs on lower(text); counts are non-overlapping
# leftmost scans in both engines.
PII_PATTERNS = {
    "email": "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z][a-z]+",
    "url": "https?://[a-z0-9./_-]+",
    "long_number": "[0-9]{6,}",
}


def _pii_oracle() -> str:
    cols = []
    for name, pat in PII_PATTERNS.items():
        n = f"len(regexp_extract_all(lower(text), '{pat}'))"
        cols.append(f"CAST(sum({n}) AS BIGINT) AS n_{name}")
        cols.append(
            f"CAST(sum(CASE WHEN {n} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS docs_with_{name}"
        )
    return f"""
SELECT source, count(*) AS n_docs, {", ".join(cols)}
FROM documents
GROUP BY source
"""


@query("pii_detection_audit", oracle=_pii_oracle())
def pii_detection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / leakage detection audit over the corpus, per source: match
    counts and affected-document counts for email addresses, URLs, and
    long digit runs — the report that decides which sources need
    redaction (text_scrub_denylist is the removal side; this is the
    detection/triage side every training-data pipeline runs first,
    and re-runs after scrubbing to prove rates dropped to zero). The
    synthetic corpus is PII-free, so the registered audit correctly
    reports zeros; the pattern machinery is exercised on planted PII —
    with cross-dialect agreement pinned — in
    tests/test_aggregates_props.py::test_pii_patterns_detect_and_agree.

    Plan/scale: pure map-side regexp_count per pattern fused into one
    codegen stage over a single corpus scan, then a partial-agg shuffle
    at |sources| cardinality — per-row cost is the regex scans, shuffle
    cost is nil. Patterns are dialect-portable by construction (module
    note); adding a pattern is one dict entry feeding both engines."""
    docs = load_table(spark, "documents", sf_dir)
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for name, pat in PII_PATTERNS.items():
        n = F.expr(f"regexp_count(lower(text), '{pat}')")
        aggs.append(F.sum(n).cast("bigint").alias(f"n_{name}"))
        aggs.append(
            F.sum(F.when(n > 0, 1).otherwise(0)).cast("bigint").alias(
                f"docs_with_{name}"
            )
        )
    return docs.groupBy("source").agg(*aggs)


# --- BPE round 2: apply the learned merge, recount ---------------------------

_BPE_WF_SQL = """
wf AS (
    SELECT w AS word, count(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE len(w) >= 2
    GROUP BY 1
)"""


@query(
    "bpe_merge_round2",
    oracle=f"""
WITH {_BPE_WF_SQL},
p1 AS (
    SELECT substring(word, k, 1) || '|' || substring(word, k + 1, 1) AS pair,
           freq
    FROM wf, unnest(range(1, len(word))) t(k)
),
c1 AS (SELECT pair, sum(freq) AS cnt FROM p1 GROUP BY 1),
rule AS (
    SELECT substring(pair, 1, 1) || substring(pair, 3, 1) AS merged
    FROM c1 ORDER BY cnt DESC, pair LIMIT 1
),
mw AS (
    SELECT replace(word, r.merged, chr(1)) AS word, freq, r.merged
    FROM wf CROSS JOIN rule r
),
p2 AS (
    SELECT merged,
           (CASE WHEN substring(word, k, 1) = chr(1) THEN merged
                 ELSE substring(word, k, 1) END)
           || '|' ||
           (CASE WHEN substring(word, k + 1, 1) = chr(1) THEN merged
                 ELSE substring(word, k + 1, 1) END) AS pair,
           freq
    FROM mw, unnest(range(1, len(word))) t(k)
)
SELECT merged AS merge_rule, pair, CAST(sum(freq) AS BIGINT) AS cnt
FROM p2 GROUP BY 1, 2
ORDER BY cnt DESC, pair
LIMIT {BPE_TOP_PAIRS}
""",
)
def bpe_merge_round2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second BPE training round — bpe_pair_counts is the statistic
    of round one; this query closes the train loop: take round one's
    argmax pair (ties to the lexicographically smallest, a total
    order), APPLY it as a merge rule over the weighted vocabulary
    (greedy leftmost non-overlapping — exactly what string replace
    does when both symbols are single characters), and recount
    adjacent-symbol pairs over the merged sequences. Output: the
    applied merge rule and round two's top pair statistics — pairs
    whose sides may now be the 2-char merged symbol.

    The merged symbol is carried as a sentinel char (chr(1), outside
    the corpus alphabet) so the merged word stays a flat string and
    round two's pair extraction stays pure codegen substring
    arithmetic; the sentinel maps back to the merged text at labeling
    time. Both engines replace leftmost-first, matching the BPE merge
    convention on overlapping runs ("aaa" + rule aa -> [aa, a]).

    Plan/scale: everything runs over the VOCABULARY weighted by word
    frequency (the wordcount collapse, one shuffle), not the corpus;
    the argmax rule is a one-row DataFrame broadcast into the merge —
    no driver round-trip, the whole two-round train step is one lazy
    plan. Further rounds iterate the same shape (symbol arrays +
    per-round broadcast rule) with cost per round linear in vocabulary
    size — the distributed-trainer loop in miniature."""
    docs = load_table(spark, "documents", sf_dir)
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    p1 = wf.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " k -> concat(substring(word, k, 1), '|', substring(word, k + 1, 1)))"
            )
        ).alias("pair"),
        "freq",
    )
    rule = (
        p1.groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(1)
        .select(
            F.concat(
                F.expr("substring(pair, 1, 1)"), F.expr("substring(pair, 3, 1)")
            ).alias("merged")
        )
    )
    mw = (
        wf.crossJoin(F.broadcast(rule))
        .select(
            F.expr("replace(word, merged, chr(1))").alias("word"), "freq", "merged"
        )
        # a word equal to the merge rule collapses to the 1-char
        # sentinel: no adjacent pairs. DuckDB's range(1, 1) is empty;
        # Spark's sequence(1, 0) DESCENDS ([1, 0]) and would fabricate
        # pairs — filter the degenerate words out explicitly.
        .where(F.length("word") >= 2)
    )
    relabel = (
        "CASE WHEN substring(word, k, 1) = chr(1) THEN merged"
        " ELSE substring(word, k, 1) END"
    )
    relabel_next = relabel.replace("word, k, 1", "word, k + 1, 1")
    p2 = mw.select(
        "merged",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                f" k -> concat({relabel}, '|', {relabel_next}))"
            )
        ).alias("pair"),
        "freq",
    )
    return (
        p2.groupBy(F.col("merged").alias("merge_rule"), "pair")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(BPE_TOP_PAIRS)
    )


# --- Python UDTF surface (user-defined TABLE function) -----------------------

UDTF_TOP_TERMS = 20


def _register_term_pos_udtf(spark: SparkSession) -> None:
    """Define + register the UDTF lazily (idempotent per session): a
    nested class so cloudpickle ships it by value, like the stateful
    sessionizer's state machine."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, term string")
    class TermPos:
        def eval(self, text: str):
            if text is None:
                return
            for i, tok in enumerate(text.split(" "), 1):
                yield (i, tok)

    spark.udtf.register("term_pos_udtf", TermPos)


@query(
    "udtf_term_positions",
    oracle=f"""
WITH terms AS (
    SELECT unnest(string_split(text, ' ')) AS term,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents
)
SELECT term, count(*) AS cnt, CAST(sum(pos) AS BIGINT) AS pos_mass
FROM terms
GROUP BY term
ORDER BY cnt DESC, term
LIMIT {UDTF_TOP_TERMS}
""",
)
def udtf_term_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python USER-DEFINED TABLE FUNCTION surface under the value
    hash — the one Python-integration path the registry didn't yet
    exercise (beside pandas_udf scalar, GROUPED_AGG, mapInPandas,
    applyInPandas(WithState), and the Python DataSource): a UDTF
    explodes each document into (position, term) rows through a
    LATERAL join, and the aggregate digests term frequency plus
    positional mass (sum of 1-based positions — proving the UDTF's
    row ORDER survives, not just its row set). The oracle is the same
    explosion as unnest + generate_subscripts arithmetic.

    Plan/scale: UDTFs are the row-iterator Python path — per-row
    Python generator calls, the slow lane compared to Arrow-batched
    pandas_udfs — so this is a SURFACE-parity row, deliberately not in
    the bench headline; production term explosion runs as the codegen
    posexplode(split()) the oracle states. The lateral join itself is
    partition-parallel with no shuffle before the aggregate."""
    _register_term_pos_udtf(spark)
    load_table(spark, "documents", sf_dir).createOrReplaceTempView(
        "udtf_docs_view"
    )
    return spark.sql(f"""
        SELECT f.term, count(*) AS cnt, CAST(sum(f.pos) AS BIGINT) AS pos_mass
        FROM udtf_docs_view d, LATERAL term_pos_udtf(d.text) f
        GROUP BY f.term
        ORDER BY cnt DESC, f.term
        LIMIT {UDTF_TOP_TERMS}
    """)


# --- BPE train loop generalized to N rounds ----------------------------------

BPE_MERGE_ROUNDS = 4


def _bpe_rounds_oracle(rounds: int = BPE_MERGE_ROUNDS) -> str:
    """Per-round unrolled CTEs (the LPA/k-core discipline): round r
    counts adjacent pairs over w{r-1}, argmaxes (cnt desc, pair asc —
    total order), assigns sentinel chr(r) to the merged symbol, and
    e{r} expands the rule back to base characters by substituting the
    FULLY-expanded prior sentinels (order-free: expansions contain no
    sentinels)."""
    parts = [_BPE_WF_SQL.strip(), "w0 AS (SELECT word, freq FROM wf)"]
    selects = []
    for r in range(1, rounds + 1):
        parts.append(
            f"""p{r} AS (
    SELECT substring(word, k, 1) || '|' || substring(word, k + 1, 1) AS pair, freq
    FROM w{r - 1}, unnest(range(1, len(word))) t(k)
)"""
        )
        parts.append(f"c{r} AS (SELECT pair, sum(freq) AS cnt FROM p{r} GROUP BY 1)")
        parts.append(
            f"r{r} AS (SELECT substring(pair, 1, 1) || substring(pair, 3, 1) AS sym,"
            f" cnt FROM c{r} ORDER BY cnt DESC, pair LIMIT 1)"
        )
        exp = "sym"
        for i in range(1, r):
            exp = f"replace({exp}, chr({i}), (SELECT exp FROM e{i}))"
        parts.append(f"e{r} AS (SELECT {exp} AS exp, cnt FROM r{r})")
        parts.append(
            f"w{r} AS (SELECT replace(word, (SELECT sym FROM r{r}), chr({r})) AS word,"
            f" freq FROM w{r - 1}"
            f" WHERE len(replace(word, (SELECT sym FROM r{r}), chr({r}))) >= 2)"
        )
        selects.append(
            f"SELECT {r} AS merge_round, exp AS merge_rule,"
            f" CAST(cnt AS BIGINT) AS cnt FROM e{r}"
        )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)


@query("bpe_merge_round4", oracle=_bpe_rounds_oracle())
def bpe_merge_round4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE train loop lifted from the unrolled two rounds
    (bpe_merge_round2) to BPE_MERGE_ROUNDS = 4 — a real trainer: each
    round counts adjacent symbol pairs over the frequency-weighted
    vocabulary, argmaxes with a total tie order (count desc, pair
    asc), APPLIES the merge as greedy leftmost replace, and recounts.
    The output is the trained artifact itself — one row per round:
    (merge_round, merge_rule, cnt), i.e. merges.txt with the rule
    expanded back to base characters.

    Symbol-space invariant that keeps N rounds cheap: every merged
    symbol is assigned a fresh SENTINEL char (chr(r), outside the
    corpus alphabet), so symbols stay single characters forever,
    every rule stays a 2-char string, and the merge stays a plain
    ``replace`` — no arrays, no re-tokenization. Rule expansion back
    to text substitutes prior sentinels with their fully-expanded
    rules (order-free: expansions are sentinel-free by induction).
    Words that collapse below 2 symbols leave the working set each
    round — Spark's sequence(1, 0) DESCENDS and would fabricate
    pairs for them (the bpe_merge_round2 guard, here per round,
    property-tested in tests/test_bpe.py).

    Plan/scale: per round one pair-count shuffle at vocabulary (not
    corpus) cardinality plus a one-row broadcast of the rule into the
    merge; the vocab and each rule are checkpointed per round (see
    _bpe_train_rules — the corpus is scanned exactly once, every
    round reads the vocab table), no data ever crosses the driver.
    Rounds cost O(|vocab|) each. The oracle unrolls the identical
    rounds as CTEs."""
    docs = load_table(spark, "documents", sf_dir)
    rules = _bpe_train_rules(docs, sf_dir)
    out = rules[0].select(
        F.lit(1).alias("merge_round"),
        F.col("exp").alias("merge_rule"),
        F.col("cnt").cast("bigint").alias("cnt"),
    )
    for r, rule in enumerate(rules[1:], start=2):
        out = out.unionByName(
            rule.select(
                F.lit(r).alias("merge_round"),
                F.col("exp").alias("merge_rule"),
                F.col("cnt").cast("bigint").alias("cnt"),
            )
        )
    return out


def _bpe_train_rules(docs: DataFrame, sf_dir: str) -> list[DataFrame]:
    """The N-round BPE train loop (see bpe_merge_round4): returns one
    one-row DataFrame per round with (sym — the 2-char rule in sentinel
    symbol space, cnt — its count at selection, exp — the rule expanded
    to base characters). Shared by the trainer query and
    bpe_encode_corpus (train -> apply).

    Materialization discipline: the weighted vocabulary and each
    one-row rule are cut (``share``) PER ROUND. Left lazy, round r's
    rule embeds the whole prior-round lineage — the corpus scan
    multiplies into every branch (a 41-scan / 81-exchange plan at
    N=4, caught by plan audit). Cut, the CORPUS is scanned
    exactly once (the initial wordcount); every later round reads the
    vocab-cardinality table — which is also how a real distributed
    trainer persists its vocab between merge rounds."""
    words = share(
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq")),
        sf_dir,
        "documents",
    )
    pair_of = (
        "transform(sequence(1, length(word) - 1),"
        " k -> concat(substring(word, k, 1), '|', substring(word, k + 1, 1)))"
    )
    rules: list[DataFrame] = []  # one-row DFs: (sym, cnt, exp)
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        cnt = (
            words.select(F.explode(F.expr(pair_of)).alias("pair"), "freq")
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
        )
        rule = (
            cnt.orderBy(F.col("cnt").desc(), "pair")
            .limit(1)
            .select(
                F.expr("concat(substring(pair, 1, 1), substring(pair, 3, 1))").alias(
                    "sym"
                ),
                "cnt",
            )
        )
        exp_expr = "sym"
        for i, prev in enumerate(rules, start=1):
            rule = rule.crossJoin(
                F.broadcast(prev.select(F.col("exp").alias(f"__exp_{i}")))
            )
            exp_expr = f"replace({exp_expr}, chr({i}), __exp_{i})"
        rule = share(
            rule.select("sym", "cnt", F.expr(exp_expr).alias("exp")), sf_dir, "documents"
        )
        rules.append(rule)
        words = share(
            words.crossJoin(F.broadcast(rule.select("sym")))
            .select(F.expr(f"replace(word, sym, chr({r}))").alias("word"), "freq")
            .where(F.length("word") >= 2),
            sf_dir,
            "documents",
        )
    return rules


def _bpe_encode_oracle() -> str:
    """Corpus-encode twin: the identical train CTEs, then the learned
    rules applied in round order to every document (scalar subqueries),
    symbol counts = space-stripped lengths."""
    train = _bpe_rounds_oracle(BPE_MERGE_ROUNDS)
    with_clause = train[: train.rindex("\nSELECT")]  # keep CTEs, drop the select
    ap = "text"
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        ap = f"replace({ap}, (SELECT sym FROM r{r}), chr({r}))"
    return f"""{with_clause}
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(replace(text, ' ', ''))) AS BIGINT) AS syms_before,
       CAST(sum(len(replace({ap}, ' ', ''))) AS BIGINT) AS syms_after
FROM documents
GROUP BY source
"""


@query("bpe_encode_corpus", oracle=_bpe_encode_oracle())
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train -> APPLY: encode the whole corpus with the merges
    bpe_merge_round4 learns — the tokenizer-throughput measurement
    every pipeline runs after training (how many symbols does the
    vocabulary actually save?). The four learned rules broadcast as
    one-row frames into a single chained-replace expression applied in
    merge order over every document (rules contain no spaces, so
    whole-text replace == per-word application), and the per-source
    aggregate reports symbol counts before/after.

    Plan/scale: training runs at vocabulary cardinality (see
    bpe_merge_round4); the apply is ONE codegen projection over the
    corpus scan — four broadcast one-row joins, no shuffle beyond the
    |sources| aggregate. This is the standard model: learn on the
    compact weighted vocab, stamp the corpus map-side."""
    docs = load_table(spark, "documents", sf_dir)
    rules = _bpe_train_rules(docs, sf_dir)
    enc = docs.select("source", "text")
    ap = "text"
    for r, rule in enumerate(rules, start=1):
        enc = enc.crossJoin(
            F.broadcast(rule.select(F.col("sym").alias(f"__sym_{r}")))
        )
        ap = f"replace({ap}, __sym_{r}, chr({r}))"
    return enc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length(F.expr("replace(text, ' ', '')")))
        .cast("bigint")
        .alias("syms_before"),
        F.sum(F.length(F.expr(f"replace({ap}, ' ', '')")))
        .cast("bigint")
        .alias("syms_after"),
    )


# --- statistical-LM fluency scoring (CCNet-shape quality filter) ------------
# A corpus-trained bigram language model scoring each document's own
# bigram stream — the model-based quality filter (CCNet/Gopher run a
# small LM and keep low-perplexity docs; the statistics here are the
# same, with the per-bigram conditional probability kept in exact
# integer ppm so the score is engine-stable instead of a float logprob).
LM_SCALE_PPM = 1_000_000


def bigram_lm_scores(tok: DataFrame, keys: list, sf_dir: str, *aggs) -> DataFrame:
    """Corpus bigram-LM fluency of each ``keys`` group of ``tok`` (which
    holds ``keys`` and a ``toks`` array): ``aggs``, then avg_cond_ppm,
    the mean exact-integer-ppm conditional probability p(b|a) =
    c_ab/c_a of the group's own adjacent-token bigrams. Groups with no
    bigram drop out.

    The occurrence stream feeds both the bigram-count model build and
    the scoring probe, so it is cut once (interleaved A/B at sf0.1:
    1.01-1.34 s -> 0.81-1.00 s in every adjacent pair, digests equal);
    past the source gate each consumer re-plans it instead."""
    occ = tok.select(*keys, F.explode(F.expr(_BIGRAMS)).alias("b")).select(
        *keys, "b.tok_a", "b.tok_b"
    )
    occ = share_if_bounded(occ, sf_dir, "documents")
    uc = (
        tok.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bgc = occ.groupBy("tok_a", "tok_b").agg(F.count(F.lit(1)).alias("c_ab"))
    ca = uc.select(F.col("token").alias("tok_a"), F.col("c").alias("c_a"))
    return (
        occ.join(bgc, ["tok_a", "tok_b"])
        .join(ca, "tok_a")
        .groupBy(*keys)
        .agg(
            *aggs,
            F.expr(
                f"CAST(sum(c_ab * {LM_SCALE_PPM} DIV c_a) DIV count(*) AS BIGINT)"
            ).alias("avg_cond_ppm"),
        )
    )


@query(
    "bigram_lm_doc_score",
    oracle=f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
uc AS (
    SELECT token, count(*) AS c FROM (SELECT unnest(toks) AS token FROM tok)
    GROUP BY token
),
occ AS (
    SELECT doc_id, b['tok_a'] AS tok_a, b['tok_b'] AS tok_b
    FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                      i -> struct_pack(tok_a := toks[i], tok_b := toks[i+1]))) AS b
        FROM tok
    )
),
bgc AS (SELECT tok_a, tok_b, count(*) AS c_ab FROM occ GROUP BY 1, 2)
SELECT o.doc_id,
       count(*) AS n_bigrams,
       CAST(sum(bgc.c_ab * {LM_SCALE_PPM} // ca.c) AS BIGINT) AS sum_cond_ppm,
       CAST(sum(bgc.c_ab * {LM_SCALE_PPM} // ca.c) // count(*) AS BIGINT)
           AS avg_cond_ppm
FROM occ o
JOIN bgc ON bgc.tok_a = o.tok_a AND bgc.tok_b = o.tok_b
JOIN uc ca ON ca.token = o.tok_a
GROUP BY o.doc_id
""",
)
def bigram_lm_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring with a corpus-trained statistical LM:
    per document, the mean conditional probability of its own adjacent-
    token bigrams under the corpus bigram model — the CCNet-style
    fluency filter (a real pipeline trains the LM on a trusted corpus
    and keeps fluent docs; the plan is identical, only the training
    table differs). Per-bigram p(b|a) = c_ab/c_a is held as exact
    integer ppm (floor), summed and averaged in integer arithmetic, so
    the score is bit-stable across engines and partitionings — no float
    logprob accumulation order to drift.

    Plan/scale: bigram occurrences explode map-side (one row per
    adjacent pair); the bigram-count and unigram-count model tables
    aggregate at vocabulary cardinality with map-side partials, then
    join back onto the occurrence stream (AQE broadcasts them while
    they fit — the production shape ships the trained model table to
    executors); the final per-doc aggregate is one shuffle on doc_id.
    Docs with fewer than two tokens have no bigrams and drop out, like
    every length-floor quality gate."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select("doc_id", F.expr("split(text, ' ')").alias("toks"))
    return bigram_lm_scores(
        tok,
        ["doc_id"],
        sf_dir,
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr(f"CAST(sum(c_ab * {LM_SCALE_PPM} DIV c_a) AS BIGINT)").alias(
            "sum_cond_ppm"
        ),
    )


# --- CCNet head/middle/tail perplexity buckets ------------------------------
_CCNET_SCORE_DUCK = f"""
tok AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
uc AS (
    SELECT token, count(*) AS c FROM (SELECT unnest(toks) AS token FROM tok)
    GROUP BY token
),
occ AS (
    SELECT doc_id, lang, b['tok_a'] AS tok_a, b['tok_b'] AS tok_b
    FROM (
        SELECT doc_id, lang,
               unnest(list_transform(range(1, len(toks)),
                      i -> struct_pack(tok_a := toks[i], tok_b := toks[i+1]))) AS b
        FROM tok
    )
),
bgc AS (SELECT tok_a, tok_b, count(*) AS c_ab FROM occ GROUP BY 1, 2),
doc_sc AS (
    SELECT o.doc_id, o.lang,
           CAST(sum(bgc.c_ab * {LM_SCALE_PPM} // ca.c) // count(*) AS BIGINT)
               AS avg_cond_ppm
    FROM occ o
    JOIN bgc ON bgc.tok_a = o.tok_a AND bgc.tok_b = o.tok_b
    JOIN uc ca ON ca.token = o.tok_a
    GROUP BY o.doc_id, o.lang
)"""


@query(
    "ccnet_perplexity_buckets",
    oracle=f"""
WITH {_CCNET_SCORE_DUCK},
b AS (
    SELECT lang, avg_cond_ppm,
           ntile(3) OVER (PARTITION BY lang
                          ORDER BY avg_cond_ppm DESC, doc_id) AS tile
    FROM doc_sc
)
SELECT lang,
       CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
           AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(avg_cond_ppm) AS BIGINT) AS min_score_ppm,
       CAST(max(avg_cond_ppm) AS BIGINT) AS max_score_ppm
FROM b
GROUP BY 1, 2
""",
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's defining output shape (Wenzek et al. 2020): split each
    language's corpus into head/middle/tail terciles by statistical-LM
    fluency, so downstream mixtures can oversample the head and drop or
    down-weight the tail per language instead of applying one global
    cutoff (which would starve low-resource languages — the same
    fairness argument as quality_percentile_gate). Scoring reuses the
    exact-integer bigram-LM mean conditional probability of
    bigram_lm_doc_score (higher = more fluent = bucket 'head'); tercile
    assignment is NTILE(3) over the per-language total order
    (score DESC, doc_id), deterministic because the order is total.

    Plan/scale: the LM model tables aggregate at vocabulary cardinality
    and broadcast back onto the map-side bigram stream (see
    bigram_lm_doc_score); the tercile window shuffles only the per-DOC
    score table — corpus-cardinality rows of (lang, score), thousands
    of times smaller than the token stream. At 100 TB you'd swap the
    exact NTILE for approx-quantile cutoffs broadcast map-side (the
    quality_percentile_gate_2pass pattern, documented there); the exact
    window IS the audit twin."""
    docs = load_table(spark, "documents", sf_dir)
    tok = docs.select(
        "doc_id", "lang", F.expr("split(text, ' ')").alias("toks")
    )
    doc_sc = bigram_lm_scores(tok, ["doc_id", "lang"], sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.desc("avg_cond_ppm"), F.col("doc_id")
    )
    b = doc_sc.select("lang", "avg_cond_ppm", F.ntile(3).over(w).alias("tile"))
    return b.groupBy(
        "lang",
        F.expr(
            "CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'"
            " ELSE 'tail' END"
        ).alias("bucket"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("avg_cond_ppm").cast("bigint").alias("min_score_ppm"),
        F.max("avg_cond_ppm").cast("bigint").alias("max_score_ppm"),
    )


# --- tokenizer fertility by language (round 12) -------------------------------
def _fertility_oracle() -> str:
    """Fertility twin: the identical BPE train CTEs, then per-LANGUAGE
    symbol/word accounting after applying the learned rules."""
    train = _bpe_rounds_oracle(BPE_MERGE_ROUNDS)
    with_clause = train[: train.rindex("\nSELECT")]
    ap = "text"
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        ap = f"replace({ap}, (SELECT sym FROM r{r}), chr({r}))"
    return f"""{with_clause}
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
       CAST(sum(len(replace(text, ' ', ''))) AS BIGINT) AS syms_before,
       CAST(sum(len(replace({ap}, ' ', ''))) AS BIGINT) AS syms_after,
       CAST(sum(len(replace({ap}, ' ', ''))) * 1000000
            // sum(len(string_split(text, ' '))) AS BIGINT)
           AS syms_per_word_ppm,
       CAST(sum(len(replace({ap}, ' ', ''))) * 1000000
            // sum(len(replace(text, ' ', ''))) AS BIGINT)
           AS compression_ppm
FROM documents
GROUP BY lang
"""


@query("tokenizer_fertility_by_lang", oracle=_fertility_oracle())
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language — BPE symbols per word after
    applying the trained merges, in exact integer ppm — the
    multilingual-equity metric every tokenizer review reports: a
    vocabulary trained on a mixed corpus spends more symbols per word
    on under-represented languages, which silently taxes their
    effective context length and training compute share. Emits per
    language the doc/word/symbol accounting, fertility
    (symbols-per-word), and the compression ratio vs raw characters;
    bpe_encode_corpus reports the same apply per SOURCE, this row the
    per-language equity view.

    Plan/scale: training runs once at vocabulary cardinality
    (_bpe_train_rules — corpus scanned once, rules checkpointed); the
    apply is one codegen chained-replace projection with four broadcast
    one-row joins; the aggregate shuffles |langs| groups with map-side
    partials. Integer floor divisions only — engine-stable."""
    docs = load_table(spark, "documents", sf_dir)
    rules = _bpe_train_rules(docs, sf_dir)
    enc = docs.select("lang", "text")
    ap = "text"
    for r, rule in enumerate(rules, start=1):
        enc = enc.crossJoin(
            F.broadcast(rule.select(F.col("sym").alias(f"__sym_{r}")))
        )
        ap = f"replace({ap}, __sym_{r}, chr({r}))"
    agg = enc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_words"),
        F.sum(F.length(F.expr("replace(text, ' ', '')")))
        .cast("bigint")
        .alias("syms_before"),
        F.sum(F.length(F.expr(f"replace({ap}, ' ', '')")))
        .cast("bigint")
        .alias("syms_after"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "n_words",
        "syms_before",
        "syms_after",
        F.expr("CAST(syms_after * 1000000 DIV n_words AS BIGINT)").alias(
            "syms_per_word_ppm"
        ),
        F.expr("CAST(syms_after * 1000000 DIV syms_before AS BIGINT)").alias(
            "compression_ppm"
        ),
    )
