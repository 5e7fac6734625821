"""U2 annotator queries: the reference's full extract_sentiment pipeline
(filter -> annotate -> histogram, tweets.py:48-62) re-expressed over
documents, with the pandas_udf annotator and a SQL-stated lexicon oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.annotator import _NEGATIVE, _POSITIVE, annotate_sentiment
from .registry import query


def _in_list(words: set[str]) -> str:
    return ", ".join(f"'{w}'" for w in sorted(words))


_SENTIMENT_CTE = f"""
tok AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
scored AS (
    SELECT doc_id, lang, text,
           len(list_filter(toks, t -> t IN ({_in_list(_POSITIVE)}))) AS pos,
           len(list_filter(toks, t -> t IN ({_in_list(_NEGATIVE)}))) AS neg
    FROM tok
),
labeled AS (
    SELECT doc_id, lang, text,
           CASE WHEN pos > neg THEN 'positive'
                WHEN neg > pos THEN 'negative'
                ELSE 'na' END AS overall_sentiment
    FROM scored
)"""


@query(
    "annotate_sentiment_docs",
    oracle=f"""
WITH {_SENTIMENT_CTE}
SELECT doc_id, overall_sentiment FROM labeled
""",
)
def annotate_sentiment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: the annotator stage itself — appends overall_sentiment via the
    Arrow-vectorized lexicon pandas_udf (deterministic Spark-NLP stand-in,
    tweets.py:53-59)."""
    docs = load_table(spark, "documents", sf_dir)
    return annotate_sentiment(docs).select("doc_id", "overall_sentiment")


@query(
    "sentiment_pipeline_histogram",
    oracle=f"""
WITH {_SENTIMENT_CTE}
SELECT overall_sentiment, count(*) AS cnt
FROM labeled
WHERE lang = 'en' AND NOT text LIKE 'the %'
GROUP BY overall_sentiment
""",
)
def sentiment_pipeline_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole Spark job in one lazy plan: filter (P2+P3)
    -> annotate (U2) -> sentiment histogram (A1) — tweets.py:48-62 with
    no collect() round-trip. Native filters run BEFORE the Python stage
    so scan pushdown isn't blocked by the UDF (SURVEY.md §4.1 caveat)."""
    docs = load_table(spark, "documents", sf_dir)
    filtered = docs.where(
        (F.col("lang") == "en") & (~F.col("text").startswith("the "))
    )
    return (
        annotate_sentiment(filtered)
        .groupBy("overall_sentiment")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _model_oracle() -> str:
    from ..functions.model import duck_model_cte

    return f"""
WITH {duck_model_cte()}
SELECT doc_id, topic_label, topic_score FROM mpred
"""


@query("model_inference_annotator", oracle=_model_oracle())
def model_inference_annotator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 with REAL inference mechanics — the r9 "model-based
    annotator" gap closed: a linear topic classifier whose integer
    weight matrix rides to executors in the UDF closure and whose
    forward pass is one vectorized ``X @ W.T + b`` numpy matmul per
    Arrow batch (functions/model.py). Featurization (token counts)
    stays JVM-side in codegen so scan pushdown is never blocked by
    Python; only dense vectors cross the Arrow boundary. The oracle
    restates the full forward pass — integer scores and
    numpy-convention argmax (first max wins) — from the SAME weight
    constants, so model math, batching, and tie-breaks are all under
    the value hash.

    Reference parity: PretrainedPipeline('analyze_sentiment').annotate
    (/root/reference/airflow/dags/tasks/tweets.py:53-54). Scale: per
    batch one (n x F) x (F x C) matmul — arithmetic-bound, shuffle-
    free; a real transformer swaps the closure weights for a
    broadcast/executor-local artifact, same plan."""
    from ..functions.model import annotate_topic

    docs = load_table(spark, "documents", sf_dir)
    return annotate_topic(docs).select("doc_id", "topic_label", "topic_score")


MODEL_GATE_MIN_SCORE = 3


def _model_gate_oracle() -> str:
    from ..functions.model import duck_model_cte

    return f"""
WITH {duck_model_cte()}
SELECT topic_label,
       count(*) AS n_docs,
       CAST(coalesce(sum(CASE WHEN topic_score >= {MODEL_GATE_MIN_SCORE}
                               THEN 1 END), 0) AS BIGINT) AS n_kept,
       CAST(coalesce(sum(CASE WHEN topic_score >= {MODEL_GATE_MIN_SCORE}
                               THEN n_chars END), 0) AS BIGINT) AS kept_chars
FROM mpred JOIN documents USING (doc_id)
GROUP BY topic_label
"""


@query("model_quality_gate", oracle=_model_gate_oracle())
def model_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based corpus gating — the modern counterpart of the
    heuristic quality filter (corpus_quality_filter): the inference
    stage's scores decide which documents survive into training, per
    predicted topic (the fastText-classifier-gate shape every large
    pretraining corpus runs). Composes model_inference_annotator's
    forward pass into an aggregation pipeline: per topic, total docs,
    docs clearing the score floor, and surviving chars.

    Plan/scale: inference is the shuffle-free Arrow stage; the gate is
    a codegen conditional aggregate over its output — one shuffle on
    the 3-value topic key. At 100 TB the same plan holds; the join to
    documents is by doc_id within the same scan (no second pass)."""
    from ..functions.model import annotate_topic

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "n_chars"
    )
    gate = F.col("topic_score") >= MODEL_GATE_MIN_SCORE
    return (
        annotate_topic(docs)
        .groupBy("topic_label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum(F.when(gate, 1)), F.lit(0))
            .cast("bigint")
            .alias("n_kept"),
            F.coalesce(F.sum(F.when(gate, F.col("n_chars"))), F.lit(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
    )


# Cohen's kappa between the two corpus gates: agreement corrected for
# chance. The evaluation every classifier swap needs ("the new model
# gate mostly agrees with the heuristic it replaces — kappa 0.4, and
# here is exactly where they differ"). Exact integer ppm end to end:
# po and pe are ratios of integer confusion counts, and kappa's
# signed division routes through non-negative floor divisions only, so
# Spark's DIV (truncate toward zero) and DuckDB's // (floor) cannot
# disagree.


def _kappa_oracle() -> str:
    from ..functions.model import duck_model_cte
    from .textops import _duck_hits

    return f"""
WITH {duck_model_cte()},
tok AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
h AS (
    SELECT doc_id,
           (n_chars >= 50
            AND (CASE WHEN len(toks) BETWEEN 20 AND 200 THEN 1.0 ELSE 0.5 END)
                * (0.5 + CAST({_duck_hits("en")} AS DOUBLE) / len(toks)) >= 0.6)
               AS heur_keep
    FROM tok
),
j AS (
    SELECT (m.topic_score >= {MODEL_GATE_MIN_SCORE}) AS model_keep, h.heur_keep
    FROM mpred m JOIN h USING (doc_id)
),
c AS (
    SELECT count(*) AS n,
           sum(CASE WHEN model_keep AND heur_keep THEN 1 ELSE 0 END) AS ka,
           sum(CASE WHEN model_keep AND NOT heur_keep THEN 1 ELSE 0 END) AS kb,
           sum(CASE WHEN NOT model_keep AND heur_keep THEN 1 ELSE 0 END) AS kc,
           sum(CASE WHEN NOT model_keep AND NOT heur_keep THEN 1 ELSE 0 END) AS kd
    FROM j
),
k AS (
    SELECT n, ka, kb, kc, kd,
           n * (ka + kd) AS po_num,
           (ka + kb) * (ka + kc) + (kc + kd) * (kb + kd) AS pe_num
    FROM c
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(ka AS BIGINT) AS n_both_keep,
       CAST(kb AS BIGINT) AS n_model_only,
       CAST(kc AS BIGINT) AS n_heur_only,
       CAST(kd AS BIGINT) AS n_both_drop,
       CAST((ka + kd) * 1000000 // n AS BIGINT) AS po_ppm,
       CAST(pe_num * 1000000 // (n * n) AS BIGINT) AS pe_ppm,
       CAST(CASE WHEN n * n = pe_num THEN 0
                 WHEN po_num >= pe_num
                 THEN (po_num - pe_num) * 1000000 // (n * n - pe_num)
                 ELSE -((pe_num - po_num) * 1000000 // (n * n - pe_num))
            END AS BIGINT) AS kappa_ppm
FROM k
"""


@query("classifier_agreement_kappa", oracle=_kappa_oracle())
def classifier_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the MODEL corpus gate (inference score >=
    MODEL_GATE_MIN_SCORE) and the HEURISTIC gate (corpus_quality_filter's
    length + stopword-density predicate) — chance-corrected agreement
    plus the full 2x2 confusion, the report a team reads before swapping
    a heuristic filter for a learned one. One row: confusion counts,
    observed/expected agreement, and kappa, all in exact integer ppm
    (the signed kappa division is routed through non-negative floor
    divisions so Spark DIV and DuckDB // agree; n*n*1e6 fits BIGINT to
    ~3e6 docs — production lifts to DECIMAL(38,0), same expressions).

    Plan/scale: the model side is the shuffle-free Arrow inference
    stage; the heuristic side is codegen predicates on the same scan;
    one doc_id join and a single global 5-counter aggregate whose
    map-side partials reduce everything before the 1-row exchange."""
    from ..functions.model import annotate_topic
    from .textops import _spark_hits

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "n_chars"
    )
    model = annotate_topic(docs).select(
        "doc_id",
        (F.col("topic_score") >= MODEL_GATE_MIN_SCORE).alias("model_keep"),
    )
    m = docs.select(
        "doc_id", "n_chars", F.expr("split(text, ' ')").alias("toks")
    ).select(
        "doc_id",
        "n_chars",
        F.size("toks").alias("n_tokens"),
        F.expr(_spark_hits("en")).alias("stop_hits"),
    )
    score = F.when(F.col("n_tokens").between(20, 200), F.lit(1.0)).otherwise(
        0.5
    ) * (F.lit(0.5) + F.col("stop_hits").cast("double") / F.col("n_tokens"))
    heur = m.select(
        "doc_id", ((F.col("n_chars") >= 50) & (score >= 0.6)).alias("heur_keep")
    )
    c = (
        model.join(heur, "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("model_keep") & F.col("heur_keep"), 1).otherwise(0)).alias("ka"),
            F.sum(F.when(F.col("model_keep") & ~F.col("heur_keep"), 1).otherwise(0)).alias("kb"),
            F.sum(F.when(~F.col("model_keep") & F.col("heur_keep"), 1).otherwise(0)).alias("kc"),
            F.sum(F.when(~F.col("model_keep") & ~F.col("heur_keep"), 1).otherwise(0)).alias("kd"),
        )
        .withColumn("po_num", F.expr("n * (ka + kd)"))
        .withColumn(
            "pe_num", F.expr("(ka + kb) * (ka + kc) + (kc + kd) * (kb + kd)")
        )
    )
    return c.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("ka").cast("bigint").alias("n_both_keep"),
        F.col("kb").cast("bigint").alias("n_model_only"),
        F.col("kc").cast("bigint").alias("n_heur_only"),
        F.col("kd").cast("bigint").alias("n_both_drop"),
        F.expr("CAST((ka + kd) * 1000000 DIV n AS BIGINT)").alias("po_ppm"),
        F.expr("CAST(pe_num * 1000000 DIV (n * n) AS BIGINT)").alias("pe_ppm"),
        F.expr(
            "CAST(CASE WHEN n * n = pe_num THEN 0"
            " WHEN po_num >= pe_num"
            " THEN (po_num - pe_num) * 1000000 DIV (n * n - pe_num)"
            " ELSE -((pe_num - po_num) * 1000000 DIV (n * n - pe_num))"
            " END AS BIGINT)"
        ).alias("kappa_ppm"),
    )


def _calibration_oracle() -> str:
    from ..functions.model import duck_model_cte
    from .textops import _duck_hits

    return f"""
WITH {duck_model_cte()},
tok AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
h AS (
    SELECT doc_id,
           (n_chars >= 50
            AND (CASE WHEN len(toks) BETWEEN 20 AND 200 THEN 1.0 ELSE 0.5 END)
                * (0.5 + CAST({_duck_hits("en")} AS DOUBLE) / len(toks)) >= 0.6)
               AS heur_keep
    FROM tok
)
SELECT CAST(m.topic_score AS BIGINT) AS topic_score,
       count(*) AS n_docs,
       CAST(coalesce(sum(CASE WHEN h.heur_keep THEN 1 END), 0) AS BIGINT)
           AS n_heur_keep,
       CAST(coalesce(sum(CASE WHEN h.heur_keep THEN 1 END), 0) * 1000000
            // count(*) AS BIGINT) AS heur_keep_ppm
FROM mpred m JOIN h USING (doc_id)
GROUP BY m.topic_score
"""


@query("model_calibration_by_score", oracle=_calibration_oracle())
def model_calibration_by_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-resolved reliability table — the calibration view behind
    classifier_agreement_kappa's single number: for each model score
    value, how many documents land there and what fraction the
    heuristic gate would keep, in exact integer ppm. A well-calibrated
    score shows keep-rate rising with score; a flat curve says the
    model's score adds no information over the heuristic — the plot an
    ML-ops review reads before trusting MODEL_GATE_MIN_SCORE. Scores
    are small integers (the linear model's integer logits), so the
    score itself is the bin — no quantile binning needed.

    Plan/scale: the Arrow inference stage and the codegen heuristic
    predicates share one scan; a doc_id join, then one aggregate onto
    |distinct scores| groups with map-side partials."""
    from ..functions.model import annotate_topic
    from .textops import _spark_hits

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "n_chars"
    )
    model = annotate_topic(docs).select("doc_id", "topic_score")
    m = docs.select(
        "doc_id", "n_chars", F.expr("split(text, ' ')").alias("toks")
    ).select(
        "doc_id",
        "n_chars",
        F.size("toks").alias("n_tokens"),
        F.expr(_spark_hits("en")).alias("stop_hits"),
    )
    score = F.when(F.col("n_tokens").between(20, 200), F.lit(1.0)).otherwise(
        0.5
    ) * (F.lit(0.5) + F.col("stop_hits").cast("double") / F.col("n_tokens"))
    heur = m.select(
        "doc_id", ((F.col("n_chars") >= 50) & (score >= 0.6)).alias("heur_keep")
    )
    return (
        model.join(heur, "doc_id")
        .groupBy(F.col("topic_score").cast("bigint").alias("topic_score"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum(F.when(F.col("heur_keep"), 1)), F.lit(0))
            .cast("bigint")
            .alias("n_heur_keep"),
        )
        .select(
            "topic_score",
            "n_docs",
            "n_heur_keep",
            F.expr(
                "CAST(n_heur_keep * 1000000 DIV n_docs AS BIGINT)"
            ).alias("heur_keep_ppm"),
        )
    )


# --- three-signal quality ensemble (round 12) --------------------------------
# Production corpus filtering rarely trusts ONE signal: the standard
# posture is an ensemble — a cheap heuristic gate, a learned classifier
# gate, and a statistical-LM fluency gate — with majority vote deciding
# the keep (the same no-single-signal-deletes discipline as
# dedup_crossmodal_verify). This row composes the repo's three existing
# gates verbatim and surfaces the full 2x2x2 agreement lattice, so the
# hash pins every individual gate AND the vote arithmetic.
LM_GATE_MIN_PPM = 33_000  # fluency floor: near the corpus median at sf0.1


def _ensemble_oracle() -> str:
    from ..functions.model import duck_model_cte
    from .textops import LM_SCALE_PPM, _duck_hits

    return f"""
WITH {duck_model_cte()},
tok AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
h AS (
    SELECT doc_id,
           (n_chars >= 50
            AND (CASE WHEN len(toks) BETWEEN 20 AND 200 THEN 1.0 ELSE 0.5 END)
                * (0.5 + CAST({_duck_hits("en")} AS DOUBLE) / len(toks)) >= 0.6)
               AS heur_keep
    FROM tok
),
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
bgc AS (SELECT tok_a, tok_b, count(*) AS c_ab FROM occ GROUP BY 1, 2),
lm AS (
    SELECT o.doc_id,
           CAST(sum(bgc.c_ab * {LM_SCALE_PPM} // ca.c) // count(*) AS BIGINT)
               AS avg_cond_ppm
    FROM occ o
    JOIN bgc ON bgc.tok_a = o.tok_a AND bgc.tok_b = o.tok_b
    JOIN uc ca ON ca.token = o.tok_a
    GROUP BY o.doc_id
),
j AS (
    SELECT (m.topic_score >= {MODEL_GATE_MIN_SCORE}) AS model_keep,
           h.heur_keep,
           coalesce(lm.avg_cond_ppm >= {LM_GATE_MIN_PPM}, FALSE) AS lm_keep
    FROM mpred m
    JOIN h USING (doc_id)
    LEFT JOIN lm USING (doc_id)
)
SELECT heur_keep, model_keep, lm_keep,
       CAST(CASE WHEN heur_keep THEN 1 ELSE 0 END
            + CASE WHEN model_keep THEN 1 ELSE 0 END
            + CASE WHEN lm_keep THEN 1 ELSE 0 END AS INT) AS n_votes,
       (CASE WHEN heur_keep THEN 1 ELSE 0 END
        + CASE WHEN model_keep THEN 1 ELSE 0 END
        + CASE WHEN lm_keep THEN 1 ELSE 0 END) >= 2 AS kept_majority,
       CAST(count(*) AS BIGINT) AS n_docs
FROM j
GROUP BY heur_keep, model_keep, lm_keep
"""


@query("quality_ensemble_vote", oracle=_ensemble_oracle())
def quality_ensemble_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote quality ensemble over the repo's three corpus
    gates — heuristic (corpus_quality_filter's length + stopword
    predicate), learned (model inference score >= MODEL_GATE_MIN_SCORE),
    and statistical-LM fluency (bigram mean conditional probability >=
    LM_GATE_MIN_PPM; a doc too short to have bigrams votes drop) —
    emitting the full 2x2x2 agreement lattice with vote counts and the
    majority keep decision. The no-single-signal-decides posture of a
    production curation stack, in one hash-pinned row set; kappa
    (classifier_agreement_kappa) reports pairwise agreement, this row
    the three-way decision surface.

    Plan/scale: the model side is the shuffle-free Arrow inference
    stage; the heuristic side is codegen predicates on the same scan;
    the LM side explodes bigrams map-side, joins the vocabulary-
    cardinality model tables (AQE-broadcast), and aggregates once on
    doc_id — then one doc_id join chain and an 8-group aggregate whose
    map-side partials reduce everything before the exchange."""
    from ..functions.model import annotate_topic
    from .textops import _spark_hits, bigram_lm_scores

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "n_chars"
    )
    model = annotate_topic(docs).select(
        "doc_id",
        (F.col("topic_score") >= MODEL_GATE_MIN_SCORE).alias("model_keep"),
    )
    tok = docs.select(
        "doc_id", "n_chars", F.expr("split(text, ' ')").alias("toks")
    )
    m = tok.select(
        "doc_id",
        "n_chars",
        F.size("toks").alias("n_tokens"),
        F.expr(_spark_hits("en")).alias("stop_hits"),
    )
    score = F.when(F.col("n_tokens").between(20, 200), F.lit(1.0)).otherwise(
        0.5
    ) * (F.lit(0.5) + F.col("stop_hits").cast("double") / F.col("n_tokens"))
    heur = m.select(
        "doc_id", ((F.col("n_chars") >= 50) & (score >= 0.6)).alias("heur_keep")
    )
    lm = bigram_lm_scores(tok, ["doc_id"], sf_dir)
    j = (
        model.join(heur, "doc_id")
        .join(lm, "doc_id", "left")
        .select(
            "heur_keep",
            "model_keep",
            F.coalesce(
                F.col("avg_cond_ppm") >= LM_GATE_MIN_PPM, F.lit(False)
            ).alias("lm_keep"),
        )
    )
    votes = F.expr(
        "CAST(IF(heur_keep, 1, 0) + IF(model_keep, 1, 0) + IF(lm_keep, 1, 0) AS INT)"
    )
    return (
        j.groupBy("heur_keep", "model_keep", "lm_keep")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .select(
            "heur_keep",
            "model_keep",
            "lm_keep",
            votes.alias("n_votes"),
            (votes >= 2).alias("kept_majority"),
            "n_docs",
        )
    )
