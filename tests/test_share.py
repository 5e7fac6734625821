"""``catalog.share``, the package's one lineage cut, its source-gated
form ``share_if_bounded``, and the footer-read node bound the graph
loops gate on (``rows_bound``/``broadcast_gate``). All of it runs in
the suite's one SparkSession, with AQE on as the session sets it."""

from __future__ import annotations

import re
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

import dend_covid19_spark.catalog as cat
from dend_covid19_spark.catalog import (
    load_table,
    share,
    share_if_bounded,
    share_scope,
    share_width,
)
from tests.conftest import SF_DIR

AQE = "spark.sql.adaptive.enabled"


@contextmanager
def _jobs(spark, group: str):
    """Collect the ids of the jobs the body launches under ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
        sc.setLocalProperty("spark.jobGroup.id", None)


def _per_part(spark):
    return (
        load_table(spark, "lineitem", SF_DIR)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def test_share_over_a_shuffle_launches_no_job(spark):
    assert spark.conf.get(AQE) == "true"
    with _jobs(spark, "share_lazy") as ids:
        cut = share(_per_part(spark), SF_DIR, "lineitem")
    assert ids == []
    assert cut.count() > 0  # the cut materializes in the first action


def test_share_refuses_an_observed_plan(spark):
    """Metrics observed below a lazy cut read as zero, so ``share``
    refuses to cut a plan that holds an ``observe``; the frame it
    returns can still be observed."""
    observed = _per_part(spark).observe("below", F.count(F.lit(1)).alias("n"))
    with pytest.raises(ValueError, match="observed plan"):
        share(observed, SF_DIR, "lineitem")
    share(_per_part(spark), SF_DIR, "lineitem").observe(
        "above", F.count(F.lit(1)).alias("n")
    )


def test_share_keeps_hash_partitioning_at_its_width(spark):
    w = share_width(spark, SF_DIR, "lineitem")
    cut = share(_per_part(spark), SF_DIR, "lineitem")
    part = cut._jdf.queryExecution().executedPlan().outputPartitioning().toString()
    assert re.fullmatch(rf"hashpartitioning\(l_partkey#\d+L?, {w}\)", part), part
    # so an aggregate on the key downstream needs no exchange
    down = cut.groupBy("l_partkey").agg(F.sum("n").alias("n"))
    plan = down._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_share_scope_restores_aqe_also_when_the_body_raises(spark):
    share(_per_part(spark), SF_DIR, "lineitem")
    assert spark.conf.get(AQE) == "true"
    with pytest.raises(RuntimeError):
        with share_scope(spark, SF_DIR, "lineitem"):
            assert spark.conf.get(AQE) == "false"
            raise RuntimeError("body failed")
    assert spark.conf.get(AQE) == "true"


def test_share_width_follows_the_source_size_and_clamps(spark, monkeypatch):
    top = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert share_width(spark, SF_DIR, "lineitem") == 1
    # one partition per advisory size (64 MB by default), rounded up
    monkeypatch.setattr(cat, "_source_bytes", lambda path: 10 * 2**20)
    assert share_width(spark, SF_DIR, "lineitem") == 1
    monkeypatch.setattr(cat, "_source_bytes", lambda path: 3 * 64 * 2**20 + 1)
    assert share_width(spark, SF_DIR, "lineitem") == min(4, top)
    monkeypatch.setattr(cat, "_source_bytes", lambda path: 10**18)
    assert share_width(spark, SF_DIR, "lineitem") == top


def _is_cut(df) -> bool:
    return "LogicalRDD" in df._jdf.queryExecution().analyzed().toString()


def test_only_share_if_bounded_leaves_df_uncut_past_the_source_gate(spark, monkeypatch):
    monkeypatch.setattr(cat, "_source_bytes", lambda path: cat.CKPT_SOURCE_MAX_BYTES + 1)
    df = _per_part(spark)
    assert share_if_bounded(df, SF_DIR, "lineitem") is df
    assert _is_cut(share(df, SF_DIR, "lineitem"))


def test_freeze_layout_site_cuts_past_the_source_gate(spark, monkeypatch):
    """skyline_customers collects per-partition summaries of a range
    layout sampled over a shuffle's row order, then scans that layout
    again; the cut that freezes it must be taken at any source size."""
    from dend_covid19_spark.plans.aggregates import skyline_customers

    monkeypatch.setattr(cat, "_source_bytes", lambda path: 10**15)
    df = skyline_customers(spark, SF_DIR)
    plan = df._jdf.queryExecution().analyzed().toString()
    # the range layout is behind the cut, so the plan no longer shows it
    assert "RepartitionByExpression" not in plan, plan


def test_rows_bound_reads_the_footers(spark):
    n = load_table(spark, "part", SF_DIR).count()
    with _jobs(spark, "rows_bound") as ids:
        assert cat.rows_bound(SF_DIR, "part") == n
    assert ids == []


def test_broadcast_gate_below_the_bound_launches_no_job(spark):
    nodes = load_table(spark, "part", SF_DIR).select("p_partkey").distinct()
    with _jobs(spark, "gate_bound") as ids:
        assert cat.broadcast_gate(SF_DIR, "part", nodes)
    assert ids == []


def test_broadcast_gate_counts_exactly_past_the_bound(spark, monkeypatch):
    """With the footer bound forced over the threshold, the exact node
    count decides: the real graph is small, so the gate still picks the
    broadcast branch, and with the threshold under the real count it
    picks the shuffle branch."""
    nodes = load_table(spark, "part", SF_DIR).select("p_partkey").distinct()
    n = nodes.count()
    monkeypatch.setattr(cat, "rows_bound", lambda sf_dir, table: 10**12)
    with _jobs(spark, "gate_exact") as ids:
        assert cat.broadcast_gate(SF_DIR, "part", nodes)
    assert ids
    monkeypatch.setattr(cat, "GRAPH_BROADCAST_MAX_NODES", n - 1)
    assert not cat.broadcast_gate(SF_DIR, "part", nodes)
