"""Round-17 surfaces: the r16 advice fixes on the lakehouse read/vacuum
paths (all-null stats marker, deterministic empty-prune schema,
mergeSchema through the migration shim, pointer-temp vacuum) plus the
convergence-design stretch pin — files_for_values is EXACT membership on
a clustered table, not just a sound superset."""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR

from dend_covid19_spark.catalog import load_table
from dend_covid19_spark.operators.lakehouse import (
    _ALL_NULL,
    append_manifest_table,
    compact_manifest_table,
    current_manifest,
    files_for_values,
    prune_files,
    read_manifest_table,
    write_manifest_table,
)


def _digest(df):
    return sorted(map(tuple, df.collect()))


def test_all_null_column_records_marker_and_prunes(spark, tmp_path):
    """An entirely-NULL column records the explicit _ALL_NULL marker in
    the manifest stats (not a missing entry): pruning for any non-null
    value SKIPS the file — it provably cannot match — while a genuinely
    missing entry still widens. A column with nulls in some row groups
    but values in others keeps a valid merged range."""
    root = str(tmp_path / "an")
    df = spark.createDataFrame(
        [(i, None, i % 3) for i in range(20)], "k int, dead int, third int"
    )
    write_manifest_table(spark, df, root, n_files=1)
    m = current_manifest(root)
    (f,) = m["files"]
    st = m["file_stats"][f]
    assert st["dead"] == _ALL_NULL, st
    assert st["k"] == [0, 19] and st["third"] == [0, 2], st

    # all-null: pruned for every non-null probe; range/missing: kept
    assert files_for_values(m, "dead", [0]) == []
    assert prune_files(m, "dead", -100, 100) == []
    assert files_for_values(m, "k", [5]) == [f]
    assert files_for_values(m, "no_stats_col", [5]) == [f]  # missing widens

    # the exact predicate on top of the pruned-empty plan stays correct
    got = read_manifest_table(spark, root, prune=("dead", 0, 0)).where(
        F.col("dead") == 0
    )
    assert got.count() == 0


def test_allnull_day_file_not_rewritten_by_scoped_optimize(spark, tmp_path):
    """The r16 advice hazard (streaming/daily.py only_values mode): a
    committed file whose 'day' is entirely NULL used to widen into every
    subsequent scoped OPTIMIZE's touched set and be rewritten each batch
    forever. With the _ALL_NULL marker it prunes: two successive scoped
    OPTIMIZEs over real days leave the all-null file byte-untouched and
    rewrite only the matching files."""
    root = str(tmp_path / "nd")
    ev = load_table(spark, "events", SF_DIR).select(
        "event_id", "value", F.to_date("ts").alias("day")
    )
    days = sorted(
        r.day.isoformat()
        for r in ev.select("day").distinct().collect()
        if r.day is not None
    )
    assert len(days) >= 2
    d0, d1 = days[0], days[1]
    base = ev.where(F.col("day").isNotNull())
    write_manifest_table(spark, base, root, n_files=2, cluster_by=["day"])
    # the all-null-day batch (late/unparseable timestamps in production)
    null_batch = base.limit(50).withColumn("day", F.lit(None).cast("date"))
    append_manifest_table(spark, null_batch, root, n_files=1, cluster_by=["day"])
    m = current_manifest(root)
    null_files = [f for f in m["files"] if m["file_stats"][f].get("day") == _ALL_NULL]
    assert len(null_files) == 1, m["file_stats"]
    (nf,) = null_files
    nf_mtime = os.path.getmtime(os.path.join(root, nf))

    for probe in (d0, d1):
        assert nf not in files_for_values(current_manifest(root), "day", [probe])
        rec = compact_manifest_table(spark, root, only_values=("day", [probe]))
        assert rec["files_rewritten"] >= 1
        m2 = current_manifest(root)
        assert nf in set(m2["files"]), "all-null file must carry over verbatim"
        assert os.path.getmtime(os.path.join(root, nf)) == nf_mtime, (
            "scoped OPTIMIZE rewrote the all-null-day file (the forever-rewrite bug)"
        )
        # its stats entry carries forward too (still prunable next round)
        assert m2["file_stats"][nf].get("day") == _ALL_NULL

    # nothing lost: the table still digests to base + the null batch
    got = read_manifest_table(spark, root).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
    )
    want = base.unionByName(null_batch).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
    )
    assert _digest(got) == _digest(want)


def test_empty_prune_schema_deterministic_after_evolution(spark, tmp_path):
    """A fully-pruned scan must return the FULL table schema even with
    merge_schema=False: the old single-footer fallback picked the
    lexically-first uuid-named file, so after schema evolution the empty
    result's columns were nondeterministic (advice r16)."""
    root = str(tmp_path / "ep")
    orders = load_table(spark, "orders", SF_DIR).select("o_orderkey", "o_totalprice")
    write_manifest_table(spark, orders, root, n_files=2, cluster_by=["o_orderkey"])
    append_manifest_table(
        spark,
        orders.limit(5).withColumn("evolved_tag", F.lit("b2")),
        root,
        n_files=1,
    )
    hi = max(r.o_orderkey for r in read_manifest_table(spark, root).collect())
    empty = read_manifest_table(spark, root, prune=("o_orderkey", hi + 10, hi + 20))
    assert empty.count() == 0
    assert "evolved_tag" in empty.columns, (
        "empty-prune fallback dropped the evolved column (single-footer read)"
    )


def test_vacuum_reaps_aged_pointer_temps(spark, tmp_path):
    """A crash between _publish_pointer's temp write and its os.replace
    leaks '._latest.tmp.*' in the table root; vacuum now sweeps aged
    ones and leaves young ones (an in-flight publish) alone."""
    from dend_covid19_spark.operators.lakehouse import vacuum_manifest_table

    root = str(tmp_path / "vt")
    df = spark.createDataFrame([(1,), (2,)], "k int")
    write_manifest_table(spark, df, root, n_files=1)

    aged = os.path.join(root, "._latest.tmp.999.deadbeef")
    young = os.path.join(root, "._latest.tmp.999.cafecafe")
    for p in (aged, young):
        with open(p, "w") as fh:
            fh.write("m1.json")
    old = time.time() - 48 * 3600
    os.utime(aged, (old, old))

    deleted = vacuum_manifest_table(root, keep_last=2)
    assert not os.path.exists(aged), deleted
    assert os.path.exists(young), "young pointer temp must survive the grace window"
    assert os.path.basename(aged) in deleted
    # the table itself is untouched
    assert read_manifest_table(spark, root).count() == 2


def test_read_table_auto_merges_evolved_schema_and_guards_empty(spark, tmp_path):
    """The migration shim (sources/readers.py::read_table_auto) reads the
    manifest branch with mergeSchema — a column added by a schema-
    evolving append survives (advice r16 medium) — returns the full
    schema on a prune-to-empty filter, and fails loudly on a manifest
    referencing zero files instead of handing Spark a path-less read."""
    from dend_covid19_spark.operators.lakehouse import _commit
    from dend_covid19_spark.sources.readers import read_table_auto

    root = str(tmp_path / "ta")
    ev = load_table(spark, "events", SF_DIR).select(
        "event_id", "event_type", "value", F.to_date("ts").alias("day")
    ).where(F.col("day").isNotNull())
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    write_manifest_table(spark, ev, root, n_files=2, cluster_by=["day"])
    append_manifest_table(
        spark, ev.limit(7).withColumn("evolved_tag", F.lit("b2")), root, n_files=1
    )

    # evolved column survives an unfiltered read through the shim
    full = read_table_auto(spark, root)
    assert "evolved_tag" in full.columns
    assert full.count() == ev.count() + 7

    # pruned read: correct rows, evolved schema intact
    d0 = days[0]
    got = read_table_auto(spark, root, day=d0)
    assert "evolved_tag" in got.columns
    want_n = ev.where(F.col("day") == F.lit(d0)).count()
    assert got.where(F.col("evolved_tag").isNull()).count() == want_n

    # prune-to-empty: 0 rows, full schema (no lexically-first footer)
    import datetime

    far = days[-1] + datetime.timedelta(days=400)
    empty = read_table_auto(spark, root, day=far)
    assert empty.count() == 0 and "evolved_tag" in empty.columns

    # empty manifest fails loudly
    root2 = str(tmp_path / "ta_empty")
    os.makedirs(root2, exist_ok=True)
    _commit(root2, [], parent=0)
    with pytest.raises(FileNotFoundError):
        read_table_auto(spark, root2)


def test_migrated_compaction_row_exact_and_lossless(spark, duck):
    """The migrated compaction_incremental_events (manifest-commit build
    since r17): on the canonical single-month corpus the touched
    resolution is EXACTLY the six staged debris files (no healthy file
    widened in), the scoped OPTIMIZE left every healthy file
    mtime-stable (re-asserted inside the row each invocation), and the
    digest still matches the DuckDB oracle over the original parquet."""
    import json

    from conftest import assert_matches_oracle

    from dend_covid19_spark import plans
    from dend_covid19_spark.plans.ingest import (
        _manifest_compacted_events_root,
        compaction_incremental_events,
    )

    df = compaction_incremental_events(spark, SF_DIR)
    root = _manifest_compacted_events_root(spark, SF_DIR)
    with open(os.path.join(root, "_migration_audit.json")) as fh:
        audit = json.load(fh)
    assert sorted(audit["touched"]) == sorted(audit["debris_files"]), (
        "canonical corpus: touched must be exactly the debris files"
    )
    assert audit["untouched"], "no healthy files carried over"
    assert audit["rec"]["files_rewritten"] == 6

    assert_matches_oracle(
        df, duck,
        plans.all_oracles()["compaction_incremental_events"],
        name="compaction_incremental_events",
    )


def test_files_for_values_exact_on_clustered_table(spark, tmp_path):
    """Convergence-design stretch, first stage (r16 verdict item 7): on
    a day-CLUSTERED table, files_for_values' range-containment
    resolution is EXACT partition membership — for every distinct day it
    returns precisely the files that physically contain rows of that
    day, not a wider superset. This is what lets the manifest's footer
    stats double as Iceberg-style partition values without a separate
    partition spec (the explicit-spec evolution is r18's row)."""
    root = str(tmp_path / "ex")
    ev = load_table(spark, "events", SF_DIR).select(
        "event_id", F.to_date("ts").alias("day")
    ).where(F.col("day").isNotNull())
    write_manifest_table(spark, ev, root, n_files=6, cluster_by=["day"])
    m = current_manifest(root)

    # ground truth: which files actually hold rows of each day
    actual: dict[str, set[str]] = {}
    for f in m["files"]:
        for r in (
            spark.read.parquet(os.path.join(root, f)).select("day").distinct().collect()
        ):
            actual.setdefault(r.day.isoformat(), set()).add(f)

    for day, owners in actual.items():
        resolved = set(files_for_values(m, "day", [day]))
        assert resolved == owners, (
            f"day {day}: resolved {sorted(resolved)} != actual {sorted(owners)}"
        )


def test_prebuilt_asof_history_row_matches_batch(spark):
    """The r18 candidate row (prebuilt, unregistered — SURVEY §8 r17
    item 10a): AS-OF v2 + latest digests equal the directly-computed
    batch twins over the source slices, the DuckDB twin is
    syntactically ready, and re-entry (cache cleared) rebuilds the
    same digest."""
    import duckdb

    from dend_covid19_spark.plans.ingest import (
        _ASOF_CUTS,
        _ASOF_HISTORY_ORACLE,
        lakehouse_asof_history,
    )

    got = lakehouse_asof_history(spark, SF_DIR)
    ev = load_table(spark, "events", SF_DIR)
    d = F.to_date("ts")

    def twin(df, tag):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").cast("bigint").alias("n_distinct_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("bigint")
            .alias("total_cents"),
            F.min("event_id").cast("bigint").alias("min_event_id"),
            F.max("event_id").cast("bigint").alias("max_event_id"),
        ).select(F.lit(tag).alias("version_tag"), "*")

    asof2 = ev.where(
        F.coalesce(d < F.lit(_ASOF_CUTS[1]).cast("date"), F.lit(True))
    )
    want = twin(asof2, "v2").unionByName(twin(ev, "latest"))
    assert _digest(got) == _digest(want)

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    cols = ["version_tag", "event_type", "n_events", "n_distinct_events",
            "total_cents", "min_event_id", "max_event_id"]
    oracle = sorted(tuple(r) for r in con.execute(_ASOF_HISTORY_ORACLE).fetchall())
    spark_rows = sorted(tuple(r[c] for c in cols) for r in got.collect())
    assert spark_rows == oracle

    first = _digest(got)
    lakehouse_asof_history.cache_clear()
    assert _digest(lakehouse_asof_history(spark, SF_DIR)) == first


def test_partitioned_manifest_exact_membership_and_null_partition(spark, tmp_path):
    """Partition-aware manifests, stage 2 prebuild (r18 queue item b):
    write_manifest_table(partition_by=...) records ONE explicit
    partition value per data file plus the spec; files_for_values
    resolves by exact membership (the null-partition file matches no
    non-null probe), the real column stays IN the data files, and the
    round trip is lossless including null-key rows."""
    root = str(tmp_path / "pm")
    ev = load_table(spark, "events", SF_DIR).select(
        "event_id", "value", F.to_date("ts").alias("day")
    )
    base = ev.where(F.col("day").isNotNull())
    null_rows = base.limit(25).withColumn("day", F.lit(None).cast("date"))
    df = base.unionByName(null_rows)
    write_manifest_table(spark, df, root, partition_by="day")

    m = current_manifest(root)
    assert m["spec"] == [["day"]]
    assert set(m["partitions"]) == set(m["files"])
    vals = [e["day"] for e in m["partitions"].values()]
    assert sum(1 for v in vals if v is None) >= 1  # the null partition
    # one value per file, and each value maps to exactly one file here
    nonnull = [v for v in vals if v is not None]
    assert len(nonnull) == len(set(nonnull))

    # exact membership against physical ground truth, fallback ignored
    for f, ent in m["partitions"].items():
        got_day = (
            spark.read.parquet(os.path.join(root, f))
            .select("day").distinct().collect()
        )
        assert len(got_day) == 1  # one partition value per data file
        phys = got_day[0].day
        assert (ent["day"] is None) == (phys is None)
        if phys is not None:
            assert ent["day"] == phys.isoformat()
            import datetime
            assert files_for_values(m, "day", [phys]) == [f]
            assert files_for_values(m, "day", [phys.isoformat()]) == [f]

    got = read_manifest_table(spark, root).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
    )
    want = df.groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
    )
    assert _digest(got) == _digest(want)


def test_partitioned_append_upgrades_wide_file_on_compact(spark, tmp_path):
    """A stats-only append whose single file spans EVERY day widens into
    each probe (sound fallback); one scoped OPTIMIZE rewrites it through
    the partitioned stager — after which every probe resolves exactly
    one file and untouched explicit files carry over mtime-identical."""
    root = str(tmp_path / "pw")
    ev = load_table(spark, "events", SF_DIR).select(
        "event_id", "value", F.to_date("ts").alias("day")
    ).where(F.col("day").isNotNull())
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    assert len(days) >= 3
    write_manifest_table(spark, ev, root, partition_by="day")
    m0 = current_manifest(root)
    by_day = {e["day"]: f for f, e in m0["partitions"].items()}

    # the wide file: one unpartitioned append spanning all days
    append_manifest_table(spark, ev.limit(60), root, n_files=1)
    m1 = current_manifest(root)
    (wide,) = set(m1["files"]) - set(m0["files"])
    assert wide not in m1.get("partitions", {})
    probe = days[1]
    resolved = set(files_for_values(m1, "day", [probe]))
    assert resolved == {by_day[probe.isoformat()], wide}, (
        "wide file must widen in via stats fallback"
    )

    untouched = {
        f: os.path.getmtime(os.path.join(root, f))
        for f in m1["files"]
        if f not in resolved
    }
    rec = compact_manifest_table(spark, root, only_values=("day", [probe]))
    assert rec["files_rewritten"] == 2
    m2 = current_manifest(root)
    # the rewrite re-partitioned: every resulting file carries an
    # explicit entry, so every probe is now exactly one file...
    assert set(m2["partitions"]) == set(m2["files"])
    assert len(files_for_values(m2, "day", [probe])) == 1
    # ...including days the wide file covered but the probe didn't name
    other = days[2]
    assert all(
        m2["partitions"][f]["day"] == other.isoformat()
        for f in files_for_values(m2, "day", [other])
    )
    for f, mt in untouched.items():
        assert f in set(m2["files"])
        assert os.path.getmtime(os.path.join(root, f)) == mt

    got = read_manifest_table(spark, root).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
    )
    want = ev.unionByName(ev.limit(60)).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
    )
    assert _digest(got) == _digest(want)


def test_partitioned_full_compaction_preserves_spec_and_membership(spark, tmp_path):
    """Full-table OPTIMIZE of a spec'd table stages through the
    partitioned writer (a bare coalesce would merge values into one
    file and demote exact membership): fragments collapse to one file
    per value, every file keeps an explicit entry, the spec survives,
    and the digest is unchanged."""
    root = str(tmp_path / "pf")
    ev = load_table(spark, "events", SF_DIR).select(
        "event_id", "value", F.to_date("ts").alias("day")
    ).where(F.col("day").isNotNull())
    write_manifest_table(
        spark, ev.where(F.col("event_id") % 2 == 0), root, partition_by="day"
    )
    append_manifest_table(
        spark, ev.where(F.col("event_id") % 2 == 1), root, partition_by="day"
    )
    m1 = current_manifest(root)
    n_days = ev.select("day").distinct().count()
    assert len(m1["files"]) == 2 * n_days  # two fragments per value

    rec = compact_manifest_table(spark, root)
    assert rec["files_rewritten"] == 2 * n_days
    m2 = current_manifest(root)
    assert m2["spec"] == [["day"]]
    assert len(m2["files"]) == n_days
    assert set(m2["partitions"]) == set(m2["files"])
    for d in (r.day for r in ev.select("day").distinct().collect()):
        assert len(files_for_values(m2, "day", [d])) == 1

    got = read_manifest_table(spark, root).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
    )
    want = ev.groupBy().agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s"))
    assert _digest(got) == _digest(want)


def test_partition_spec_evolution_day_to_hour_resolves_soundly(spark, tmp_path):
    """Spec EVOLUTION (r18 design, provable on today's resolution
    rules): a table partitioned by day gains an hour-partitioned append
    — the spec list extends to [[day],[hour]] with zero data movement.
    Hour probes are EXACT over hour-era files and WIDEN over day-era
    files (the hour column doesn't exist there — missing stats must
    widen, never narrow); day probes stay exact over day-era files and
    fall back to stats over hour-era files that still carry day. Every
    resolution is sound: no file containing a probed row is ever
    skipped."""
    root = str(tmp_path / "se")
    ev = load_table(spark, "events", SF_DIR).select(
        "event_id", "value", F.to_date("ts").alias("day"),
        F.date_format("ts", "yyyy-MM-dd-HH").alias("hour"),
    ).where(F.col("day").isNotNull())
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    mid = days[len(days) // 2]
    old_era = ev.where(F.col("day") < mid).drop("hour")  # pre-evolution files
    new_era = ev.where(F.col("day") >= mid)

    write_manifest_table(spark, old_era, root, partition_by="day")
    m1 = current_manifest(root)
    append_manifest_table(spark, new_era, root, partition_by="hour")
    m2 = current_manifest(root)
    assert m2["spec"] == [["day"], ["hour"]]
    old_files = set(m1["files"])
    new_files = set(m2["files"]) - old_files

    # hour probe: exact over hour-era, widened over day-era (sound)
    an_hour = new_era.select("hour").distinct().limit(1).collect()[0].hour
    resolved = set(files_for_values(m2, "hour", [an_hour]))
    assert old_files <= resolved, "day-era files must widen into hour probes"
    exact_new = {
        f for f in new_files if m2["partitions"][f]["hour"] == an_hour
    }
    assert resolved & new_files == exact_new, "hour-era must resolve exactly"

    # day probe: exact over day-era; hour-era resolves by day stats
    an_old_day = days[0]
    got = set(files_for_values(m2, "day", [an_old_day]))
    assert got & old_files == {
        f for f in old_files if m2["partitions"][f]["day"] == an_old_day.isoformat()
    }
    # soundness end-to-end: pruned read + predicate == full read + predicate
    pruned = (
        spark.read.option("mergeSchema", "true")
        .parquet(*[os.path.join(root, f) for f in got])
        .where(F.col("day") == an_old_day)
    )
    full = read_manifest_table(spark, root, merge_schema=True).where(
        F.col("day") == an_old_day
    )
    assert sorted(r.event_id for r in pruned.collect()) == sorted(
        r.event_id for r in full.collect()
    )


def _duck_events(sql):
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF_DIR}/events.parquet')"
    )
    return sorted(tuple(r) for r in con.execute(sql).fetchall())


def test_prebuilt_partition_exact_scan_matches_duckdb(spark):
    """The r18 candidate row (prebuilt, unregistered — SURVEY §8 r17
    item 10b): lakehouse_partition_exact_scan's digest equals its
    DuckDB twin on the same parquet, and re-entry (cache cleared)
    rebuilds the same digest with every in-query resolution assert
    re-run against the committed audit."""
    from dend_covid19_spark.plans.ingest import (
        _PART_EXACT_ORACLE,
        lakehouse_partition_exact_scan,
    )

    got = lakehouse_partition_exact_scan(spark, SF_DIR)
    cols = ["day", "n_events", "n_distinct_events", "total_cents",
            "min_event_id", "max_event_id"]
    spark_rows = sorted(tuple(r[c] for c in cols) for r in got.collect())
    assert spark_rows == _duck_events(_PART_EXACT_ORACLE)
    assert len(spark_rows) >= 1

    first = _digest(got)
    lakehouse_partition_exact_scan.cache_clear()
    assert _digest(lakehouse_partition_exact_scan(spark, SF_DIR)) == first


def test_prebuilt_spec_evolution_scan_matches_duckdb(spark):
    """The r18 candidate row (prebuilt, unregistered — SURVEY §8 r17
    item 10c): lakehouse_spec_evolution_scan's two-probe digest equals
    its DuckDB twin, both probe slices are non-empty on real data, and
    re-entry rebuilds the same digest."""
    from dend_covid19_spark.plans.ingest import (
        _SPEC_EVO_ORACLE,
        lakehouse_spec_evolution_scan,
    )

    got = lakehouse_spec_evolution_scan(spark, SF_DIR)
    cols = ["probe", "event_type", "n_events", "n_distinct_events",
            "total_cents", "min_event_id", "max_event_id"]
    spark_rows = sorted(tuple(r[c] for c in cols) for r in got.collect())
    assert spark_rows == _duck_events(_SPEC_EVO_ORACLE)
    assert {r[0] for r in spark_rows} == {"day", "hour"}

    first = _digest(got)
    lakehouse_spec_evolution_scan.cache_clear()
    assert _digest(lakehouse_spec_evolution_scan(spark, SF_DIR)) == first


def test_spec_evolution_full_compaction_keeps_column_truth_sound(spark, tmp_path):
    """Full compaction of a TWO-SPEC table re-stages on the newest spec
    column (hour): day-era rows — whose files never held the hour
    column, so a mergeSchema read already served them hour=NULL — land
    in the hour NULL partition with an explicit {hour: None} entry.
    Under COLUMN-truth semantics this is lossless and sound: the spec
    list survives the rewrite, no row is lost, and for any hour probe
    the pruned plan + the hour-COLUMN predicate equals the full read +
    the same predicate both before and after the compaction (the null
    partition is correctly skipped because its rows' hour column IS
    null). r18 design note: probes derived from OTHER columns (e.g.
    recomputing hour from ts, the Iceberg hour(ts) transform) must not
    prune post-rewrite without manifest-recorded transforms — the
    library's contract today is explicit materialized columns."""
    root = str(tmp_path / "fc")
    ev = load_table(spark, "events", SF_DIR).select(
        "event_id", "value", F.to_date("ts").cast("string").alias("day"),
        F.date_format("ts", "yyyy-MM-dd-HH").alias("hour"),
    ).where(F.col("day").isNotNull())
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    mid = days[len(days) // 2]
    write_manifest_table(
        spark, ev.where(F.col("day") < mid).drop("hour"), root, partition_by="day"
    )
    append_manifest_table(
        spark, ev.where(F.col("day") >= mid), root, partition_by="hour"
    )
    an_hour = (
        ev.where(F.col("day") >= mid).select(F.min("hour")).collect()[0][0]
    )

    def probed(m):
        files = files_for_values(m, "hour", [an_hour])
        return read_manifest_table(
            spark, root, {**m, "files": files}, merge_schema=True
        ).where(F.col("hour") == an_hour)

    before = _digest(probed(current_manifest(root)).select("event_id"))
    rec = compact_manifest_table(spark, root)
    assert rec["files_rewritten"] >= 1, rec

    m2 = current_manifest(root)
    assert m2["spec"] == [["day"], ["hour"]], "spec must survive full compaction"
    parts = m2["partitions"]
    assert all(f in parts for f in m2["files"])
    null_part = [f for f in m2["files"] if parts[f].get("hour") is None]
    assert null_part, "day-era rows must land in the hour null partition"
    # lossless: every row survives the rewrite
    assert read_manifest_table(spark, root, merge_schema=True).count() == ev.count()
    # column-truth probes stay exact and identical across the rewrite
    after = _digest(probed(m2).select("event_id"))
    assert after == before
    full = read_manifest_table(spark, root, merge_schema=True).where(
        F.col("hour") == an_hour
    )
    assert after == _digest(full.select("event_id"))
    # and the null partition was correctly skipped from the probe plan
    assert not set(null_part) & set(files_for_values(m2, "hour", [an_hour]))


def test_declared_transform_migrates_pre_spec_rows_on_rewrite(spark, tmp_path):
    """Manifest-recorded partition TRANSFORMS (the r18 design note made
    library-real): declaring hour = date_format(ts, ...) at spec
    evolution lets the first full rewrite DERIVE the evolved column for
    rows whose files predate it — pre-spec data migrates into real
    hour partitions instead of null-landing, the transform declaration
    survives the commit, and a ts-derived hour probe becomes EXACT
    (pruned plan + derived predicate == full read + same predicate,
    every resolved file owning exactly the probed value). This closes
    the composition the column-truth pin documents as unprunable
    without transforms."""
    root = str(tmp_path / "tr")
    hour_expr = "date_format(ts, 'yyyy-MM-dd-HH')"
    ev = (
        load_table(spark, "events", SF_DIR)
        .select("event_id", "ts", "value", F.to_date("ts").cast("string").alias("day"))
        .where(F.col("day").isNotNull())
    )
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    mid = days[len(days) // 2]
    write_manifest_table(spark, ev.where(F.col("day") < mid), root, partition_by="day")
    append_manifest_table(
        spark, ev.where(F.col("day") >= mid), root,
        partition_by="hour", transform=hour_expr,
    )
    m = current_manifest(root)
    assert m["spec"] == [["day"], ["hour"]]
    assert m["transforms"] == {"hour": hour_expr}
    v1_files = {f for f in m["files"] if m["partitions"][f].get("hour") is None
                and "day" in m["partitions"][f]}
    assert v1_files, "day-era files must predate the hour spec"

    rec = compact_manifest_table(spark, root)
    assert rec["files_rewritten"] >= 1, rec
    m2 = current_manifest(root)
    parts = m2["partitions"]
    assert m2["transforms"] == {"hour": hour_expr}, "transform must survive rewrite"
    # every surviving row owns a REAL hour partition (no null-landing)
    assert all(parts[f].get("hour") is not None for f in m2["files"]), parts
    assert read_manifest_table(spark, root).count() == ev.count()

    # a ts-derived probe over an OLD-era hour is now exact and sound
    an_hour = (
        ev.where(F.col("day") < mid)
        .select(F.min(F.date_format("ts", "yyyy-MM-dd-HH")))
        .collect()[0][0]
    )
    files = files_for_values(m2, "hour", [an_hour])
    assert files and all(parts[f]["hour"] == an_hour for f in files)
    derived = F.date_format("ts", "yyyy-MM-dd-HH") == an_hour
    pruned = read_manifest_table(spark, root, {**m2, "files": files}).where(derived)
    full = read_manifest_table(spark, root).where(derived)
    got = _digest(pruned.select("event_id"))
    assert got == _digest(full.select("event_id")) and got


def test_declared_transform_keeps_genuine_nulls_in_null_partition(spark, tmp_path):
    """Derivation must never resurrect a genuinely-null key: a row
    whose transform SOURCE is null stays in the null partition through
    write-time materialization, and non-null probes exclude it while
    the round trip keeps both rows."""
    root = str(tmp_path / "nt")
    df = spark.createDataFrame(
        [(1, "2024-01-05 10:00:00"), (2, None)], "k int, ts_raw string"
    ).select("k", F.col("ts_raw").cast("timestamp").alias("ts"))
    write_manifest_table(
        spark, df, root,
        partition_by="hour", transform="date_format(ts, 'yyyy-MM-dd-HH')",
    )
    m = current_manifest(root)
    vals = {m["partitions"][f]["hour"] for f in m["files"]}
    assert vals == {"2024-01-05-10", None}, vals
    hit = files_for_values(m, "hour", ["2024-01-05-10"])
    assert [m["partitions"][f]["hour"] for f in hit] == ["2024-01-05-10"]
    assert read_manifest_table(spark, root, merge_schema=True).count() == 2


def test_prebuilt_transform_migration_scan_matches_duckdb(spark):
    """The r19 candidate row (prebuilt, unregistered): declared
    transforms end-to-end — lakehouse_transform_migration_scan's
    two-probe digest equals its DuckDB twin on the same parquet, the
    old-era probe (pre-migration unprunable) is non-empty, and
    re-entry rebuilds the same digest."""
    from dend_covid19_spark.plans.ingest import (
        _TRANSFORM_MIG_ORACLE,
        lakehouse_transform_migration_scan,
    )

    got = lakehouse_transform_migration_scan(spark, SF_DIR)
    cols = ["probe", "event_type", "n_events", "n_distinct_events",
            "total_cents", "min_event_id", "max_event_id"]
    spark_rows = sorted(tuple(r[c] for c in cols) for r in got.collect())
    assert spark_rows == _duck_events(_TRANSFORM_MIG_ORACLE)
    assert {r[0] for r in spark_rows} == {"old_era", "new_era"}

    first = _digest(got)
    lakehouse_transform_migration_scan.cache_clear()
    assert _digest(lakehouse_transform_migration_scan(spark, SF_DIR)) == first


def test_prebuilt_partition_exact_scan_plan_pushes_probe_to_scan(spark):
    """Plan-level pin for the r18 candidate: the probe-day membership
    predicate reaches the parquet scan as an In() pushdown and the
    ReadSchema prunes to exactly the digest's columns — so exact
    manifest-level file planning, row-group skipping, and column
    pruning compose on the same read."""
    import re

    from dend_covid19_spark.plans.ingest import lakehouse_partition_exact_scan

    df = lakehouse_partition_exact_scan(spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, f"no PushedFilters in plan\n{plan}"
    assert "In(day" in m.group(1), m.group(1)
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs, plan
    read_cols = {c.split(":")[0] for c in rs.group(1).split(",")}
    assert read_cols == {"event_id", "value", "day"}, read_cols
