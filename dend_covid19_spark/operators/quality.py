"""Data-quality gates (SURVEY.md O5) as first-class engine operators.

The reference implements quality checks as post-load SQL + a Python
``raise`` (/root/reference/airflow/dags/tasks/tweets.py:136-142,
market.py:45-52). Here they are engine-side predicates over DataFrames —
usable in any pipeline and cheap at scale (``limit(1)`` short-circuits
the scan; no full count).

``observe_metrics``/``expect_observed`` gate on metrics a caller's own
action collects, with no job of their own. ``pipeline.run_daily`` uses
``observe_metrics`` so each load's insert counts the rows its gates
need; it calls ``expect_nonempty`` only for a gate whose count is 0."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


class DataQualityError(ValueError):
    """Raised when a quality gate fails (mirrors the reference's
    ValueError at tweets.py:142 / market.py:52)."""


def expect_nonempty(df: DataFrame, predicate: Column | None = None, name: str = "check") -> DataFrame:
    """Assert at least one row (optionally matching ``predicate``).

    Uses limit(1).count() — Spark stops the scan at the first hit instead
    of counting everything (the reference's SELECT-then-len does a full
    fetch)."""
    checked = df.where(predicate) if predicate is not None else df
    if checked.limit(1).count() < 1:
        raise DataQualityError(f"quality gate {name!r}: expected >=1 row, got 0")
    return df


def expect_unique_key(df: DataFrame, *key_cols: str, name: str = "pk") -> DataFrame:
    """Assert key uniqueness (the PRIMARY KEY the reference delegates to
    Redshift DDL, create_tables.sql:3,16 — Spark doesn't enforce PKs, so
    the engine checks it explicitly). One aggregation, short-circuited."""
    dupes = df.groupBy(*key_cols).count().where("count > 1")
    if dupes.limit(1).count() > 0:
        raise DataQualityError(f"quality gate {name!r}: duplicate keys in {key_cols}")
    return df


def expect_no_nulls(df: DataFrame, *cols: str, name: str = "not_null") -> DataFrame:
    """Assert NOT NULL columns (create_tables.sql:4,17 equivalents)."""
    for c in cols:
        if df.where(df[c].isNull()).limit(1).count() > 0:
            raise DataQualityError(f"quality gate {name!r}: NULLs in column {c!r}")
    return df


def observe_metrics(df: DataFrame, *metrics: Column):
    """Attach FREE quality telemetry to a DataFrame via ``df.observe``:
    the aggregate metrics accumulate DURING whatever action the caller
    runs next — zero extra scans, unlike the expect_* gates above,
    which each pay a (short-circuited) job. The trade: observe metrics
    exist only AFTER an action, so they suit "measure every batch,
    alert after" pipelines, while expect_* suits "refuse to publish"
    gates. Returns (observed_df, observation); read
    ``observation.get`` after the action (it blocks until one ran).

    At 100 TB this is the right gate shape: the expect_* family costs
    an extra (short-circuited) job per assertion, while an observe
    piggybacks the metric on the write itself — one pass, telemetry
    included. Streams surface the same metrics per-batch through
    QueryProgressEvent.observedMetrics."""
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, *metrics), obs


def expect_observed(observation, predicate, name: str = "observed") -> dict:
    """Assert over metrics captured by ``observe_metrics`` after the
    action ran: ``predicate(metrics_dict) -> bool``. Returns the
    metrics on success, raises DataQualityError with them on failure —
    the alert-after twin of the refuse-to-publish gates."""
    metrics = observation.get
    if not predicate(metrics):
        raise DataQualityError(f"quality gate {name!r} failed: {metrics}")
    return metrics
