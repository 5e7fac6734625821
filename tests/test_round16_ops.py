"""Round-16 surfaces: the stats-pruned manifest scan, the optimistic
two-writer commit race, schema evolution through compaction, and the
compaction sink's restart — each row's in-query asserts fire here under
pytest, and each digest is pinned against a directly-computed Spark
twin so the choreography (pruning, race retry, mergeSchema rewrite,
checkpoint resume) provably changed nothing."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from conftest import SF_DIR

from dend_covid19_spark.catalog import load_table


def _digest(df):
    return sorted(map(tuple, df.collect()))


def test_pruned_scan_matches_direct_range_query(spark):
    """The pruned manifest read (strict file subset asserted in-query)
    plus the exact predicate equals the same range query over the
    original table — pruning dropped only files with no matching rows."""
    from dend_covid19_spark.plans.ingest import lakehouse_pruned_scan

    got = lakehouse_pruned_scan(spark, SF_DIR)
    ev = load_table(spark, "events", SF_DIR)
    mn, mx = ev.agg(F.min("event_id"), F.max("event_id")).first()
    span = mx - mn
    lo, hi = mn + span // 10, mn + (3 * span) // 10
    want = (
        ev.where(F.col("event_id").between(lo, hi))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").cast("bigint").alias("n_distinct_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("bigint")
            .alias("total_cents"),
            F.min("event_id").cast("bigint").alias("min_event_id"),
            F.max("event_id").cast("bigint").alias("max_event_id"),
        )
    )
    assert _digest(got) == _digest(want)
    # the range really is selective at every SF (non-trivial pruning)
    n_rows = got.agg(F.sum("n_events")).first()[0]
    assert 0 < n_rows < ev.count()


def test_concurrent_commit_row_lands_every_row_once(spark):
    """After the staged race (conflict + commit-only retry, asserted
    inside the row), the table holds exactly the full corpus — no row
    lost to the losing writer, none doubled by its retry."""
    from dend_covid19_spark.plans.ingest import lakehouse_concurrent_commit

    got = lakehouse_concurrent_commit(spark, SF_DIR)
    ev = load_table(spark, "events", SF_DIR)
    want = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_id").cast("bigint").alias("n_distinct_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("bigint")
        .alias("total_cents"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )
    assert _digest(got) == _digest(want)
    # exactly-once: distinct == total within every group
    assert all(r.n_events == r.n_distinct_events for r in got.collect())


def test_schema_evolution_tags_survive_compaction(spark):
    """The evolved column survives the mergeSchema compaction rewrite:
    post-cut rows keep their 'b2' tag, pre-cut rows surface as the
    NULL-coalesced 'v1' — matching a ts-derived CASE over the source."""
    from dend_covid19_spark.plans.ingest import (
        _LH_EVOLVE_CUT,
        lakehouse_schema_evolution,
    )

    got = lakehouse_schema_evolution(spark, SF_DIR)
    tags = {r.batch_tag for r in got.select("batch_tag").distinct().collect()}
    assert tags == {"v1", "b2"}

    ev = load_table(spark, "events", SF_DIR)
    d = F.to_date("ts")
    tag = F.when(
        d.isNotNull() & (d >= F.lit(_LH_EVOLVE_CUT).cast("date")), F.lit("b2")
    ).otherwise(F.lit("v1"))
    want = ev.groupBy(tag.alias("batch_tag"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("bigint")
        .alias("total_cents"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )
    assert _digest(got) == _digest(want)


def test_restart_sink_equals_batch_read(spark):
    """The restarted drain (manifest scoping asserted inside the row on
    the fresh pass) is lossless and duplicate-free vs a batch read."""
    from dend_covid19_spark.plans.ingest import (
        streaming_compaction_restart_executed,
    )

    got = streaming_compaction_restart_executed(spark, SF_DIR)
    ev = load_table(spark, "events", SF_DIR)
    want = ev.groupBy(F.to_date("ts").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_id").cast("bigint").alias("n_distinct_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("bigint")
        .alias("total_cents"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )
    assert _digest(got) == _digest(want)


def test_round16_rows_are_reentrant(spark):
    """Re-entry in the SAME process with the query cache evicted (the
    appId-changed path): scratch already built, checkpoint already
    committed, race already resolved at v3 — a second invocation must
    return the same result, and the fresh-drain/fresh-build asserts
    must not fire against the completed state."""
    from dend_covid19_spark.plans.ingest import (
        lakehouse_concurrent_commit,
        lakehouse_pruned_scan,
        lakehouse_schema_evolution,
        streaming_compaction_restart_executed,
    )

    rows = [
        lakehouse_pruned_scan,
        lakehouse_concurrent_commit,
        lakehouse_schema_evolution,
        streaming_compaction_restart_executed,
    ]
    for fn in rows:
        first = _digest(fn(spark, SF_DIR))
        fn.cache_clear()
        assert _digest(fn(spark, SF_DIR)) == first, fn.__name__


def test_pruned_scan_plan_pushes_predicate_to_scan(spark):
    """Plan-level pin: the exact range predicate reaches the parquet
    scan (PushedFilters carries both event_id bounds), so the pruned
    file list AND row-group skipping compose — the two-level skip a
    100 TB selective read needs."""
    import re

    from dend_covid19_spark.plans.ingest import lakehouse_pruned_scan

    df = lakehouse_pruned_scan(spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, f"no PushedFilters in plan\n{plan}"
    pushed = m.group(1)
    assert "GreaterThanOrEqual(event_id" in pushed, pushed
    assert "LessThanOrEqual(event_id" in pushed, pushed


def test_prebuilt_manifest_sink_row_matches_batch(spark):
    """The r17 candidate row (prebuilt, unregistered — SURVEY §8 r16
    item 9): the manifest-commit sink's digest equals the batch digest
    over the source, and its DuckDB twin is syntactically ready (the
    r17 registration is one decorator). Also pins re-entrancy."""
    import duckdb
    from dend_covid19_spark.plans.ingest import (
        _MANIFEST_SINK_ORACLE,
        streaming_manifest_sink_executed,
    )

    got = streaming_manifest_sink_executed(spark, SF_DIR)
    ev = load_table(spark, "events", SF_DIR)
    want = ev.groupBy(F.to_date("ts").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_id").cast("bigint").alias("n_distinct_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("bigint")
        .alias("total_cents"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )
    assert _digest(got) == _digest(want)

    # the oracle twin runs on DuckDB and agrees with the Spark digest
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    oracle = sorted(
        tuple(r) for r in con.execute(_MANIFEST_SINK_ORACLE).fetchall()
    )
    cols = ["day", "n_events", "n_distinct_events", "total_cents",
            "min_event_id", "max_event_id"]
    spark_rows = sorted(tuple(r[c] for c in cols) for r in got.collect())
    assert spark_rows == oracle

    first = _digest(got)
    streaming_manifest_sink_executed.cache_clear()
    assert _digest(streaming_manifest_sink_executed(spark, SF_DIR)) == first

def test_migration_equivalence_swap_scenario_through_manifest(spark, tmp_path):
    """The r17 migration's safety net: compaction_incremental_events'
    planted-debris scenario (fragmented early dates, healthy later
    dates) rebuilt through the MANIFEST path — six disjoint debris
    appends over the fragmented dates, then one only_values OPTIMIZE —
    must (a) resolve exactly the debris files as touched, (b) leave
    every healthy file byte-identical, and (c) digest equal to the
    original events per day: the same lossless-selective contract the
    swap path proves, minus the single-writer window."""
    from dend_covid19_spark.operators.lakehouse import (
        append_manifest_table,
        compact_manifest_table,
        current_manifest,
        files_for_values,
        read_manifest_table,
        write_manifest_table,
    )

    root = str(tmp_path / "mig")
    ev = load_table(spark, "events", SF_DIR).select(
        "event_id", "user_id", "value", F.to_date("ts").alias("day")
    )
    frag = F.coalesce(F.dayofmonth("day") <= 10, F.lit(False))
    healthy, debris = ev.where(~frag), ev.where(frag)

    write_manifest_table(spark, healthy, root, n_files=4, cluster_by=["day"])
    healthy_files = {
        f: os.path.getmtime(os.path.join(root, f))
        for f in current_manifest(root)["files"]
    }
    for i in range(6):  # micro-batch debris: six disjoint full-span files
        append_manifest_table(
            spark, debris.where(F.col("event_id") % 6 == i), root, n_files=1
        )
    m = current_manifest(root)
    debris_files = set(m["files"]) - set(healthy_files)
    assert len(debris_files) == 6

    frag_days = sorted(
        r.day.isoformat() for r in debris.select("day").distinct().collect()
    )
    assert set(files_for_values(m, "day", frag_days)) == debris_files

    rec = compact_manifest_table(
        spark, root, target_file_bytes=1 << 40, only_values=("day", frag_days)
    )
    assert rec["files_rewritten"] == 6 and rec["files_after"] == len(healthy_files) + 1

    m2 = current_manifest(root)
    for f, mt in healthy_files.items():
        assert f in set(m2["files"])
        assert os.path.getmtime(os.path.join(root, f)) == mt, (
            f"healthy file rewritten by the debris OPTIMIZE: {f}"
        )

    got = (
        read_manifest_table(spark, root)
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.countDistinct("event_id").cast("bigint").alias("nd"),
             F.min("event_id").alias("lo"), F.max("event_id").alias("hi"))
    )
    want = ev.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_id").cast("bigint").alias("nd"),
        F.min("event_id").alias("lo"), F.max("event_id").alias("hi"),
    )
    assert _digest(got) == _digest(want)
