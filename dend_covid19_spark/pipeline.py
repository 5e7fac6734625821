"""The reference pipeline, end-to-end, as one parameterized driver
program (SURVEY.md §2.9 O1-O6 and §3 lifecycles).

Airflow DAG -> ordered function calls; templated execution date -> an
explicit ``date`` argument; Redshift serving tables -> Spark managed
tables; post-load SELECT gates -> operators/quality.py.

Differences from the reference, by design (SURVEY.md §3.1 'new-engine
shape'):
  - one lazy plan per side, ending in a write: no collect-then-pivot
    round-trip (tweets.py:64-77), the class histogram is one aggregate
    over a fixed class list (an absent class counts 0 instead of
    KeyError);
  - the market side fetches all series then performs a single batched
    write (vs one INSERT per index, market.py:29-42);
  - quality gates ride the load: each insert counts its own matching
    rows (``df.observe``), so a count >= 1 passes with no extra job;
    only a count of 0 falls back to a short-circuited (limit(1)) scan
    of the table, so reruns over earlier rows still pass.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table
from .functions.annotator import annotate_sentiment
from .operators.quality import expect_nonempty, observe_metrics
from .sources.ddl import reset_serving_tables
from .sources.readers import external_timeseries

SENTIMENT_CLASSES = ("positive", "negative", "na")
DEFAULT_INDICES = ("NASDAQOMX/XQC",)


def extract_sentiment(
    spark: SparkSession, sf_dir: str, date: str, language: str = "en"
) -> DataFrame:
    """The reference's Spark job (tweets.py:41-82) as ONE lazy plan:
    filter -> annotate -> one-aggregate class histogram -> enriched
    one-row summary for ``date``.

    documents stand in for the day's tweet shards; ``date`` plays the
    execution-date role (tweets are path-partitioned by it, tweets.py:44).
    """
    docs = load_table(spark, "documents", sf_dir)
    filtered = docs.where(
        (F.col("lang") == language) & (~F.col("text").startswith("the "))
    )
    annotated = annotate_sentiment(filtered)
    d = F.to_date(F.lit(date))
    label = F.col("overall_sentiment")
    return (
        annotated.agg(*[F.count(F.when(label == c, 1)).alias(c) for c in SENTIMENT_CLASSES])
        .select(
            F.format_string("%s(%s)", F.lit(date), F.lit(language)).alias(
                "tweets_sentiment_id"
            ),
            d.cast("timestamp").alias("date"),
            F.year(d).cast("short").alias("year"),
            F.month(d).cast("short").alias("month"),
            F.dayofmonth(d).cast("short").alias("day"),
            F.lit(language).alias("language"),
            *[F.col(c).cast("int").alias(f"{c}_count") for c in SENTIMENT_CLASSES],
        )
    )


def scrap_market_data(
    spark: SparkSession,
    fetch: Callable[[str, str], list],
    indices: Iterable[str],
    date: str,
) -> DataFrame:
    """The market task (market.py:15-42): fetch every configured series
    for ``date`` via the injected connector callback, one DataFrame out.
    ``fetch(index, date) -> [(index, value-or-None)]`` mirrors the
    None-when-missing Quandl contract (market.py:24-27)."""
    d = F.to_date(F.lit(date))
    series = external_timeseries(
        spark, fetch, indices, date, schema="index string, value float"
    )
    return series.select(
        F.format_string("%s(%s)", F.lit(date), F.col("index")).alias(
            "markets_value_id"
        ),
        d.cast("timestamp").alias("date"),
        F.year(d).cast("short").alias("year"),
        F.month(d).cast("short").alias("month"),
        F.dayofmonth(d).cast("short").alias("day"),
        F.col("index"),
        F.col("value"),
    )


def _append_gated(
    spark: SparkSession, df: DataFrame, table: str, gates: list[tuple[str, Column]]
) -> None:
    """Append ``df`` to ``table``, then pass each ``(name, predicate)``
    gate on the rows the insert itself counted: ``observe_metrics``
    counts the matches of every predicate during the write, so a count
    >= 1 passes with no extra job (the committed append holds those
    rows). A count of 0 falls back to ``expect_nonempty`` over the whole
    table, so rows an earlier run loaded still pass and a gate nothing
    satisfies still raises ``DataQualityError``."""
    counts = [F.count(F.when(p, 1)).alias(f"n{i}") for i, (_, p) in enumerate(gates)]
    if counts:
        df, seen = observe_metrics(df, *counts)
    df.write.mode("append").insertInto(table)
    observed = seen.get if counts else {}
    for i, (name, predicate) in enumerate(gates):
        if observed[f"n{i}"] < 1:
            expect_nonempty(spark.table(table), predicate, name=name)


def run_daily(
    spark: SparkSession,
    sf_dir: str,
    date: str,
    fetch: Callable[[str, str], list],
    indices: Iterable[str] = DEFAULT_INDICES,
    language: str = "en",
    db_prefix: str = "",
) -> None:
    """One execution-date run of the whole DAG (tweets_and_market.py:97-104):
    both extract sides, both loads, both quality gates. Ordering mirrors
    the reference's fan-out/fan-in; Spark's lazy DAG handles everything
    within each side. ``db_prefix`` (e.g. ``"mydb."``) redirects the
    serving tables into an alternate database — the warehouse-relocation
    knob the roundtrip query uses to stay cwd-independent."""
    indices = tuple(indices)  # read twice: by the fetch and by the gates
    on_date = F.col("date") == F.to_date(F.lit(date)).cast("timestamp")
    _append_gated(
        spark,
        extract_sentiment(spark, sf_dir, date, language),
        f"{db_prefix}tweets_sentiment",
        [(f"tweets@{date}", on_date)],
    )
    _append_gated(
        spark,
        scrap_market_data(spark, fetch, indices, date),
        f"{db_prefix}markets_value",
        [(f"market@{date}/{ix}", on_date & (F.col("index") == ix)) for ix in indices],
    )


def backfill(
    spark: SparkSession,
    sf_dir: str,
    dates: Iterable[str],
    fetch: Callable[[str, str], list],
    reset: bool = True,
    db_prefix: str = "",
    indices: Iterable[str] = DEFAULT_INDICES,
    **kwargs,
) -> None:
    """O2: the bounded backfill window (tweets_and_market.py:15-17,
    2020-01-21..31 in the reference) as an explicit date loop, optionally
    after an O6 reset."""
    indices = tuple(indices)  # every date fetches and gates all of them
    if reset:
        reset_serving_tables(spark, db_prefix)
    for date in dates:
        run_daily(spark, sf_dir, date, fetch, indices, db_prefix=db_prefix, **kwargs)


def flagship_join(spark: SparkSession) -> DataFrame:
    """The README's visualization query (README.md:63-66), over the
    serving tables inside Catalyst instead of ad-hoc Redshift SQL."""
    return spark.sql(
        """
        SELECT mv.date, mv.index, mv.value,
               ts.positive_count, ts.negative_count
        FROM markets_value mv
        JOIN tweets_sentiment ts ON mv.date = ts.date
        """
    )


def incremental_daily_counts(
    spark: SparkSession,
    prior_agg: DataFrame,
    new_events: DataFrame,
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: merge yesterday's
    aggregate table with the aggregate of ONLY the new partition —
    algebraic aggregates (count, decimal sum) re-aggregate exactly, so
    merge(agg(old), agg(delta)) == agg(old ∪ delta) with cost
    O(|delta| + |aggregate|) instead of a full recompute.

    This is the batch twin of the streaming update mode: the daily
    Airflow-style schedule (SURVEY.md §2.7) maintains the serving
    aggregate by folding one day at a time. Late/replayed days are safe:
    group keys merge; exactly-once delivery of deltas is the caller's
    contract (e.g., one partition == one day, tracked in a manifest).
    """
    delta = (
        new_events.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("value_dec"),
        )
    )
    prior = prior_agg.select(
        "day", "event_type", "cnt", F.col("total_value").cast("decimal(18,2)").alias("value_dec")
    )
    return (
        prior.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("value_dec").cast("double").alias("total_value"),
        )
    )
