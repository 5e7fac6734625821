"""End-to-end test of the reference-pipeline re-expression (O1-O6):
reset -> backfill two dates -> quality gates -> flagship join."""

from __future__ import annotations

import pytest

from dend_covid19_spark.operators.quality import (
    DataQualityError,
    expect_no_nulls,
    expect_nonempty,
    expect_unique_key,
)
from dend_covid19_spark.pipeline import backfill, flagship_join, run_daily
from dend_covid19_spark.sources.ddl import reset_serving_tables
from tests.conftest import SF_DIR


def fake_quandl(index: str, date: str) -> list:
    """Deterministic stand-in for the Quandl connector (market.py:21-27):
    value derived from the key; one index intentionally 'missing'."""
    if index == "NASDAQOMX/MISSING":
        return [(index, None)]
    return [(index, float(len(index)) + float(date[-2:]))]


@pytest.fixture(scope="module")
def warehouse(spark):
    # spark.sql.warehouse.dir is a static conf — use the session default
    # (./spark-warehouse, gitignored) and clean up the tables around us.
    reset_serving_tables(spark)
    yield spark
    from dend_covid19_spark.sources.ddl import drop_serving_tables

    drop_serving_tables(spark)


def test_backfill_and_flagship(warehouse):
    spark = warehouse
    dates = ["2020-01-21", "2020-01-22"]
    backfill(
        spark,
        SF_DIR,
        dates,
        fake_quandl,
        indices=("NASDAQOMX/XQC", "NASDAQOMX/NQEU"),
    )
    ts = spark.table("tweets_sentiment")
    assert ts.count() == 2
    row = ts.where("tweets_sentiment_id = '2020-01-21(en)'").collect()[0]
    assert row.year == 2020 and row.month == 1 and row.day == 21
    assert row.positive_count + row.negative_count + row.na_count > 0

    mv = spark.table("markets_value")
    assert mv.count() == 4  # 2 dates x 2 indices
    expect_unique_key(mv, "markets_value_id")
    expect_no_nulls(mv, "date", "index")

    joined = flagship_join(spark)
    assert joined.count() == 4
    cols = set(joined.columns)
    assert {"date", "index", "value", "positive_count", "negative_count"} <= cols


def test_null_market_value_is_preserved(warehouse):
    spark = warehouse
    run_daily(
        spark, SF_DIR, "2020-01-23", fake_quandl, indices=("NASDAQOMX/MISSING",)
    )
    row = (
        spark.table("markets_value")
        .where("markets_value_id = '2020-01-23(NASDAQOMX/MISSING)'")
        .collect()[0]
    )
    assert row.value is None  # market.py:26-27 semantics


def test_quality_gates(warehouse):
    spark = warehouse
    df = spark.table("tweets_sentiment")
    expect_nonempty(df)
    with pytest.raises(DataQualityError):
        expect_nonempty(df, df.language == "xx", name="missing-language")
    with pytest.raises(DataQualityError):
        dup = df.union(df)
        expect_unique_key(dup, "tweets_sentiment_id", name="dup-pk")


def test_incremental_daily_counts_matches_full(spark):
    """Folding the last day into the aggregate of all earlier days must
    equal the full-recompute aggregate exactly (algebraic re-aggregation
    over exact decimals)."""
    from pyspark.sql import functions as F

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.pipeline import incremental_daily_counts
    from dend_covid19_spark.plans.timeseries import events_tumbling_daily

    ev = load_table(spark, "events", SF_DIR)
    cutoff = ev.agg(F.max(F.to_date("ts")).alias("d")).collect()[0].d
    old = ev.where(F.to_date("ts") < F.lit(cutoff))
    new = ev.where(F.to_date("ts") >= F.lit(cutoff))
    prior = (
        old.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )
    got = {
        (str(r.day), r.event_type): (r.cnt, round(r.total_value, 2))
        for r in incremental_daily_counts(spark, prior, new).collect()
    }
    want = {
        (str(r.day), r.event_type): (r.cnt, round(r.total_value, 2))
        for r in events_tumbling_daily(spark, SF_DIR).collect()
    }
    assert got == want


def test_observe_metrics_free_telemetry(spark):
    """observe_metrics rides the caller's action (no extra job) and
    expect_observed gates on the captured aggregates — the alert-after
    quality-gate shape. A failing predicate must raise with the
    metrics embedded."""
    import pytest
    from pyspark.sql import functions as F

    from dend_covid19_spark.operators.quality import (
        DataQualityError,
        expect_observed,
        observe_metrics,
    )

    df = spark.range(1000).withColumn("v", F.col("id") % 10)
    observed, obs = observe_metrics(
        df,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("n_zero"),
    )
    observed.write.format("noop").mode("overwrite").save()  # the action
    m = expect_observed(obs, lambda m: m["n_rows"] == 1000 and m["n_zero"] == 100)
    assert m == {"n_rows": 1000, "n_zero": 100}

    observed2, obs2 = observe_metrics(df, F.count(F.lit(1)).alias("n_rows"))
    observed2.write.format("noop").mode("overwrite").save()
    with pytest.raises(DataQualityError, match="n_rows"):
        expect_observed(obs2, lambda m: m["n_rows"] > 10**6, name="volume-floor")


INDICES = ("NASDAQOMX/XQC", "NASDAQOMX/NQEU")


def fetch_without(missing: str):
    """fake_quandl, except that ``missing`` returns no point at all."""

    def fetch(index: str, date: str) -> list:
        return [] if index == missing else fake_quandl(index, date)

    return fetch


@pytest.fixture
def fallback_scans(monkeypatch):
    """Names of the gates that fell back to scanning the table, recorded
    by patching the module attribute ``run_daily`` calls, as perfbench's
    traced run does."""
    from dend_covid19_spark import pipeline

    names: list[str] = []
    real = pipeline.expect_nonempty

    def recorded(df, predicate=None, name="check"):
        names.append(name)
        return real(df, predicate, name=name)

    monkeypatch.setattr(pipeline, "expect_nonempty", recorded)
    return names


def test_backfill_fetches_one_shot_indices_for_every_date(warehouse):
    spark = warehouse
    backfill(spark, SF_DIR, ["2020-01-21", "2020-01-22"], fake_quandl, indices=iter(INDICES))
    assert spark.table("markets_value").count() == 2 * len(INDICES)


@pytest.mark.parametrize("wrap", [tuple, iter])
def test_missing_market_point_fails_its_gate(warehouse, wrap):
    spark = warehouse
    reset_serving_tables(spark)
    date, missing = "2020-01-24", INDICES[1]
    with pytest.raises(DataQualityError, match=f"market@{date}/{missing}"):
        run_daily(spark, SF_DIR, date, fetch_without(missing), indices=wrap(INDICES))


def test_gates_scan_the_table_only_on_a_zero_count(warehouse, fallback_scans):
    """A load that carries its rows passes every gate on the counts its
    own insert observed. A rerun that loads nothing for one index still
    passes on the row an earlier run loaded, through the fallback scan."""
    spark = warehouse
    reset_serving_tables(spark)
    date = "2020-01-25"
    run_daily(spark, SF_DIR, date, fake_quandl, indices=INDICES)
    assert fallback_scans == []
    run_daily(spark, SF_DIR, date, fetch_without(INDICES[1]), indices=INDICES)
    assert fallback_scans == [f"market@{date}/{INDICES[1]}"]
    assert spark.table("markets_value").count() == 2 * len(INDICES) - 1


def test_no_indices_loads_sentiment_only(warehouse, fallback_scans):
    spark = warehouse
    reset_serving_tables(spark)
    run_daily(spark, SF_DIR, "2020-01-26", fake_quandl, indices=())
    assert spark.table("tweets_sentiment").count() == 1
    assert spark.table("markets_value").count() == 0
    assert fallback_scans == []
