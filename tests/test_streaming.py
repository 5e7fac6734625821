"""Streaming vs batch equivalence: the availableNow catch-up run over the
events table must produce exactly the batch tumbling-window result."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dend_covid19_spark.plans.timeseries import events_tumbling_daily
from dend_covid19_spark.streaming.daily import (
    run_available_now,
    run_dedup_available_now,
    run_enriched_available_now,
)
from tests.conftest import SF_DIR


def test_available_now_matches_batch(spark, tmp_path):
    # the file-stream source requires a directory; stage the events file
    import shutil

    src = tmp_path / "events_stream_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")
    run_available_now(
        spark,
        str(src),
        str(tmp_path / "ckpt"),
        sink_table="stream_daily",
    )
    streamed = {
        (str(r.day), r.event_type): (r.cnt, round(r.total_value, 2))
        for r in spark.table("stream_daily").collect()
    }
    batch = {
        (str(r.day), r.event_type): (r.cnt, round(r.total_value, 2))
        for r in events_tumbling_daily(spark, SF_DIR).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_stream_dedup_drops_replays(spark, tmp_path):
    """Feed the events file TWICE (an at-least-once replay); the
    watermark-bounded dedup must emit each event_id exactly once."""
    import shutil

    from dend_covid19_spark.catalog import load_table

    src = tmp_path / "replayed_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-1.parquet")
    run_dedup_available_now(
        spark, str(src), str(tmp_path / "ckpt_dedup"), sink_table="deduped"
    )
    n_unique = load_table(spark, "events", SF_DIR).select("event_id").distinct().count()
    out = spark.table("deduped")
    assert out.count() == n_unique
    assert out.select("event_id").distinct().count() == n_unique


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """Streamed stream-static broadcast join == the same join in batch."""
    import shutil

    from dend_covid19_spark.catalog import load_table

    src = tmp_path / "enrich_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")
    cust = load_table(spark, "customer", SF_DIR)
    run_enriched_available_now(
        spark, str(src), cust, str(tmp_path / "ckpt_enrich"), sink_table="enriched"
    )
    streamed = {
        (r.event_id, r.c_name, r.c_mktsegment)
        for r in spark.table("enriched").collect()
    }
    ev = load_table(spark, "events", SF_DIR)
    batch = {
        (r.event_id, r.c_name, r.c_mktsegment)
        for r in ev.join(cust, ev.user_id == cust.c_custkey)
        .select("event_id", "c_name", "c_mktsegment")
        .collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """Watermarked streaming session_window == the native batch session
    windows (every user session emitted exactly once, same bounds).

    Append mode only emits a session once the watermark passes its end,
    so the source gets one sentinel event 3 days past the real data (the
    standard flush trick for finite replays — in production the stream
    simply keeps running); the sentinel user is excluded from compare."""
    import shutil

    from dend_covid19_spark.plans.timeseries import events_session_window_native
    from dend_covid19_spark.streaming.daily import run_sessionize_available_now

    src = tmp_path / "sess_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # The sentinel part file must carry the SAME physical ts type as the
    # copied source part (the file source merges schemas by position) —
    # read the footer type and max value via pyarrow and reuse both.
    from datetime import timedelta

    ts_type = pq.read_schema(str(src / "part-0.parquet")).field("ts").type
    max_ts = pc.max(
        pq.read_table(str(src / "part-0.parquet"), columns=["ts"])["ts"]
    ).as_py()
    if ts_type == pa.int64():  # legacy ns-as-long layout
        flush_arr = pa.array([max_ts + 3 * 86400 * 10**9], pa.int64())
    else:
        flush_arr = pa.array([max_ts + timedelta(days=3)], ts_type)
    # single FILE (not a Spark output directory — the file source does
    # not recurse into subdirectories)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "ts": flush_arr,
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array(["flush"]),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array(["{}"]),
            }
        ),
        str(src / "part-1.parquet"),
    )
    run_sessionize_available_now(
        spark, str(src), str(tmp_path / "ckpt_sess"), sink_table="sessionized"
    )
    streamed = {
        (r.user_id, r.start_us, r.end_us, r.n_events)
        for r in spark.table("sessionized").collect()
        if r.user_id >= 0
    }
    batch = {
        (r.user_id, r.start_us, r.end_us, r.n_events)
        for r in events_session_window_native(spark, SF_DIR).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_stream_stream_attribution_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join == the batch interval
    self-join (every in-horizon pair emitted exactly once)."""
    import shutil

    from dend_covid19_spark.plans.timeseries import attribution_view_purchase
    from dend_covid19_spark.streaming.daily import run_attribution_available_now

    src = tmp_path / "attr_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")
    run_attribution_available_now(
        spark, str(src), str(tmp_path / "ckpt_attr"), sink_table="attributed"
    )
    streamed = {
        (r.view_id, r.purchase_id, r.user_id, r.seconds_to_purchase)
        for r in spark.table("attributed").collect()
    }
    batch = {
        (r.view_id, r.purchase_id, r.user_id, r.seconds_to_purchase)
        for r in attribution_view_purchase(spark, SF_DIR).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_parquet_file_sink_partitioned(spark, tmp_path):
    """Streaming dedup -> day-partitioned parquet file sink: feeding the
    events file twice (replay) must land each event exactly once, in
    day= partition directories, equal to the batch distinct set."""
    import shutil

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.streaming.daily import run_dedup_to_parquet

    src = tmp_path / "file_sink_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-1.parquet")
    out = tmp_path / "deduped_parquet"
    run_dedup_to_parquet(spark, str(src), str(out), str(tmp_path / "ckpt_fs"))

    ev = load_table(spark, "events", SF_DIR)
    n_unique = ev.select("event_id").distinct().count()
    written = spark.read.parquet(str(out))
    assert written.count() == n_unique
    assert written.select("event_id").distinct().count() == n_unique
    # partition layout: day=YYYY-MM-DD directories, prunable downstream
    day_dirs = [p.name for p in out.iterdir() if p.name.startswith("day=")]
    n_days = ev.select(F.to_date("ts")).distinct().count()
    assert len(day_dirs) == n_days


def test_foreach_batch_upsert_matches_batch_latest(spark, tmp_path):
    """foreachBatch MERGE over several micro-batches: the final snapshot
    must equal latest-per-user computed in one batch pass over the same
    data, regardless of how the stream was chopped into batches."""
    import shutil

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.streaming.daily import run_upsert_foreach_batch

    src = tmp_path / "upsert_src"
    src.mkdir()
    # two part files + maxFilesPerTrigger=1 => two micro-batches
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-1.parquet")
    final_path = run_upsert_foreach_batch(
        spark, str(src), str(tmp_path / "snapshots"), str(tmp_path / "ckpt_ub")
    )

    snapshot = {
        (r.user_id, r.ts, r.event_id, round(r.value, 2))
        for r in spark.read.parquet(final_path).collect()
    }
    ev = load_table(spark, "events", SF_DIR)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    expected = {
        (r.user_id, r.ts, r.event_id, round(r.value, 2))
        for r in ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "ts", "event_id", "value")
        .collect()
    }
    assert snapshot == expected
    assert len(snapshot) > 0


def test_file_sink_incremental_restart(spark, tmp_path):
    """Checkpoint recovery: a SECOND availableNow run over the same
    checkpoint must process only files that arrived since the first run
    — replayed old files add nothing (dedup state persisted), genuinely
    new events append exactly once."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.streaming.daily import run_dedup_to_parquet

    src = tmp_path / "restart_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")
    out, ckpt = tmp_path / "out", tmp_path / "ckpt_restart"
    run_dedup_to_parquet(spark, str(src), str(out), str(ckpt))
    n1 = spark.read.parquet(str(out)).count()
    n_unique = load_table(spark, "events", SF_DIR).select("event_id").distinct().count()
    assert n1 == n_unique

    # new file: 3 brand-new events. Their timestamps must sit AT/PAST
    # the checkpointed watermark (max ts - 1 day from run one) — events
    # behind it are correctly dropped as late data, which is itself part
    # of the semantics under test.
    import datetime
    import pyarrow.compute as pc

    tbl = pq.read_table(str(src / "part-0.parquet"))
    ts_type = tbl.schema.field("ts").type
    max_ts = pc.max(tbl["ts"]).as_py()
    fresh = [max_ts + datetime.timedelta(seconds=s) for s in (1, 2, 3)]
    new = pa.table(
        {
            "event_id": pa.array([10**9 + 1, 10**9 + 2, 10**9 + 3], pa.int64()),
            "ts": pa.array(fresh, ts_type),
            "user_id": pa.array([1, 2, 3], pa.int64()),
            "event_type": pa.array(["view", "click", "view"]),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(new, str(src / "part-1.parquet"))

    run_dedup_to_parquet(spark, str(src), str(out), str(ckpt))
    final = spark.read.parquet(str(out))
    assert final.count() == n_unique + 3
    assert final.select("event_id").distinct().count() == n_unique + 3


def test_upsert_snapshot_restart(spark, tmp_path):
    """Driver-restart recovery for the foreachBatch upsert: a second run
    over the same checkpoint (fresh closure = restarted driver) must
    resolve the prior run's committed snapshot from target_dir/v* and
    merge the new batch INTO it — not silently restart from scratch.
    A third run with no new input must return that snapshot unchanged
    instead of tripping the no-batch assert."""
    import datetime
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from dend_covid19_spark.streaming.daily import run_upsert_foreach_batch

    src = tmp_path / "upsert_restart_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")
    snaps, ckpt = tmp_path / "snaps", tmp_path / "ckpt_ur"
    p1 = run_upsert_foreach_batch(spark, str(src), str(snaps), str(ckpt))
    s1 = spark.read.parquet(p1)
    n1 = s1.count()
    assert n1 > 0

    # one UPDATE for an existing user (newer ts) + one brand-new user
    tbl = pq.read_table(str(src / "part-0.parquet"))
    ts_type = tbl.schema.field("ts").type
    max_ts = pc.max(tbl["ts"]).as_py()
    some_user = s1.select("user_id").orderBy("user_id").first().user_id
    fresh = [max_ts + datetime.timedelta(seconds=s) for s in (1, 2)]
    new = pa.table(
        {
            "event_id": pa.array([10**9 + 1, 10**9 + 2], pa.int64()),
            "ts": pa.array(fresh, ts_type),
            "user_id": pa.array([some_user, 10**9], pa.int64()),
            "event_type": pa.array(["view", "view"]),
            "value": pa.array([123.45, 67.89], pa.float64()),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(new, str(src / "part-new.parquet"))

    p2 = run_upsert_foreach_batch(spark, str(src), str(snaps), str(ckpt))
    s2 = spark.read.parquet(p2)
    assert s2.count() == n1 + 1  # prior users carried over, one new user
    updated = s2.where(F.col("user_id") == some_user).collect()
    assert len(updated) == 1 and updated[0].event_id == 10**9 + 1

    # restart with nothing new: same snapshot back, no assert trip
    p3 = run_upsert_foreach_batch(spark, str(src), str(snaps), str(ckpt))
    assert p3 == p2


def test_read_snapshot_time_travel(spark, tmp_path):
    """AS OF VERSION reads over the upsert sink's snapshots: latest and
    by-version must serve exactly the committed states (the old version
    stays readable after a newer one lands), and asking for a version
    that never committed raises instead of returning an empty frame."""
    import datetime
    import os
    import re
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pytest

    from dend_covid19_spark.streaming.daily import (
        read_snapshot,
        run_upsert_foreach_batch,
    )

    src = tmp_path / "tt_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")
    snaps, ckpt = tmp_path / "tt_snaps", tmp_path / "tt_ckpt"
    p1 = run_upsert_foreach_batch(spark, str(src), str(snaps), str(ckpt))
    v1 = int(re.fullmatch(r"v(\d+)", os.path.basename(p1)).group(1))
    n1 = read_snapshot(spark, str(snaps)).count()

    tbl = pq.read_table(str(src / "part-0.parquet"))
    max_ts = pc.max(tbl["ts"]).as_py()
    new = pa.table(
        {
            "event_id": pa.array([10**9 + 7], pa.int64()),
            "ts": pa.array(
                [max_ts + datetime.timedelta(seconds=5)], tbl.schema.field("ts").type
            ),
            "user_id": pa.array([10**9 + 7], pa.int64()),
            "event_type": pa.array(["view"]),
            "value": pa.array([1.0], pa.float64()),
            "props": pa.array(["{}"]),
        }
    )
    pq.write_table(new, str(src / "part-new.parquet"))
    p2 = run_upsert_foreach_batch(spark, str(src), str(snaps), str(ckpt))
    v2 = int(re.fullmatch(r"v(\d+)", os.path.basename(p2)).group(1))

    assert read_snapshot(spark, str(snaps)).count() == n1 + 1  # latest
    assert read_snapshot(spark, str(snaps), v1).count() == n1  # as-of old
    assert read_snapshot(spark, str(snaps), v2).count() == n1 + 1
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, str(snaps), v2 + 999)
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, str(tmp_path / "nowhere"))


def test_streaming_query_entries_repeat_stable(spark):
    """The two live-streaming registry entries must return identical
    aggregates when invoked repeatedly in one session (the driver
    re-runs each query for timing): the drained memory sink is cached
    per (session, scale), so the second call must not replay the
    stream — and must not change values."""
    from dend_covid19_spark.plans.ingest import (
        streaming_dedup_executed,
        streaming_enrich_executed,
    )
    from tests.conftest import SF_DIR

    for fn in (streaming_dedup_executed, streaming_enrich_executed):
        first = {tuple(r) for r in fn(spark, SF_DIR).collect()}
        second = {tuple(r) for r in fn(spark, SF_DIR).collect()}
        assert first == second and first


def test_counts_sink_replay_exactly_once(spark, tmp_path):
    """The additive counts sink's exactly-once drill: additive folds are
    not replay-idempotent, so the version arithmetic must absorb both
    replay cases — (a) replay of a COMMITTED batch is skipped, (b) a
    half-written (uncommitted) version is rebuilt from its deterministic
    predecessor, never from itself."""
    import os

    from pyspark.sql import functions as F

    from dend_covid19_spark.streaming.daily import apply_counts_batch

    target = str(tmp_path / "counts")
    b0 = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "click"), (2, "2024-01-01 11:00:00", "view")],
        "event_id long, ts string, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    b1 = spark.createDataFrame(
        [(3, "2024-01-02 10:00:00", "click")],
        "event_id long, ts string, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))

    apply_counts_batch(b0, 0, target)
    p1 = apply_counts_batch(b1, 1, target)
    snap = {
        (str(r.day), r.event_type): r.cnt
        for r in spark.read.parquet(p1).collect()
    }
    expected = {
        ("2024-01-01", "click"): 1,
        ("2024-01-01", "view"): 1,
        ("2024-01-02", "click"): 1,
    }
    assert snap == expected

    # (a) replay a committed batch: must be skipped, counts unchanged
    apply_counts_batch(b1, 1, target)
    snap2 = {
        (str(r.day), r.event_type): r.cnt
        for r in spark.read.parquet(p1).collect()
    }
    assert snap2 == expected

    # (b) half-written version (no _SUCCESS): replay rebuilds v1 from v0
    os.remove(os.path.join(p1, "_SUCCESS"))
    p1b = apply_counts_batch(b1, 1, target)
    snap3 = {
        (str(r.day), r.event_type): r.cnt
        for r in spark.read.parquet(p1b).collect()
    }
    assert snap3 == expected


def test_partitioned_sink_compaction_keeps_pace(spark, tmp_path):
    """Executed two-batch drain of the compaction-trigger sink
    (r15 candidate (b) proven at the library level): each micro-batch
    appends day-partitioned rows and immediately compacts EXACTLY the
    days it touched — per-batch manifests record the touched sets, the
    overlap day is re-compacted by the second batch, every day dir
    ends at one file (max_files=0 = always-compact-touched), and the
    final content equals a batch read of the same source."""
    import os

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.plans.ingest import _stage_chunks
    from dend_covid19_spark.streaming.daily import (
        run_partitioned_sink_with_compaction,
    )

    src = tmp_path / "cpc_src"
    src.mkdir()
    ev = load_table(spark, "events", SF_DIR)
    d = F.to_date("ts")
    cut_lo, cut_hi = "2024-01-14", "2024-01-16"
    # exact partition of the data where BOTH batches touch the overlap
    # days (split there by event_id parity): the second batch
    # re-touches — and re-compacts — partitions the first already
    # compacted, late-arrival style, with no row duplicated
    in_overlap = (d >= F.lit(cut_lo).cast("date")) & (d <= F.lit(cut_hi).cast("date"))
    chunks = [
        ev.where((d < F.lit(cut_lo).cast("date")) | (in_overlap & (F.col("event_id") % 2 == 0))),
        ev.where((d > F.lit(cut_hi).cast("date")) | (in_overlap & (F.col("event_id") % 2 == 1))),
    ]
    _stage_chunks(chunks, str(tmp_path), str(src))

    out, ckpt = tmp_path / "cpc_out", tmp_path / "cpc_ckpt"
    manifests: list = []
    run_partitioned_sink_with_compaction(
        spark,
        str(src),
        str(out),
        str(ckpt),
        max_files=0,
        manifests=manifests,
        max_files_per_trigger=1,
    )

    assert len(manifests) == 2, [m[0] for m in manifests]
    touched_sets = [set(m) for _bid, m in manifests]
    # batch 2 re-touched the overlap days batch 1 already compacted
    overlap = touched_sets[0] & touched_sets[1]
    assert {f"day={cut_lo}", f"day={cut_hi}"} <= overlap
    for _bid, m in manifests:
        assert all(rec["rewritten"] for rec in m.values())
        assert all(rec["files_after"] == 1 for rec in m.values())

    # layout: every day dir holds exactly one data file
    day_dirs = [p for p in out.iterdir() if p.name.startswith("day=")]
    n_days = ev.select(d).distinct().count()
    assert len(day_dirs) == n_days
    for dd in day_dirs:
        files = [f for f in os.listdir(dd) if not f.startswith(("_", "."))]
        assert len(files) == 1, (dd.name, files)

    # content parity with a batch read — the chunks partition exactly
    got = spark.read.parquet(str(out)).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
    ).collect()[0]
    want = ev.groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
    ).collect()[0]
    assert (got.n, got.s) == (want.n, want.s)


def test_snapshot_compaction_preserves_time_travel(spark, tmp_path):
    """r15 candidate (c) proven at the library level: compacting a
    committed snapshot version in place must not disturb AS-OF reads —
    the latest read returns identical content through fewer files, a
    pinned read of an untouched earlier version is byte-identical, and
    vacuum still resolves versions normally afterwards."""
    import os
    import shutil

    from dend_covid19_spark.operators.maintenance import (
        compact_snapshot_version,
        vacuum_snapshot_versions,
    )
    from dend_covid19_spark.streaming.daily import (
        read_snapshot,
        run_upsert_foreach_batch,
    )

    src = tmp_path / "snapc_src"
    src.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-0.parquet")
    shutil.copy(f"{SF_DIR}/events.parquet", src / "part-1.parquet")
    snaps = tmp_path / "snapc_snaps"
    run_upsert_foreach_batch(
        spark, str(src), str(snaps), str(tmp_path / "snapc_ckpt")
    )
    versions = sorted(
        int(p.name[1:]) for p in snaps.iterdir() if p.name.startswith("v")
    )
    assert len(versions) >= 2
    v_old, v_new = versions[0], versions[-1]

    def digest(df):
        return sorted(
            (r.user_id, r.ts, r.event_id, round(r.value, 2)) for r in df.collect()
        )

    before_new = digest(read_snapshot(spark, str(snaps)))
    before_old = digest(read_snapshot(spark, str(snaps), version=v_old))
    old_dir = snaps / f"v{v_old}"
    old_files = sorted(
        (f, os.path.getmtime(old_dir / f))
        for f in os.listdir(old_dir)
        if not f.startswith(("_", "."))
    )

    compact_snapshot_version(spark, str(snaps), v_new)

    # latest read: identical content, exactly one data file now
    assert digest(read_snapshot(spark, str(snaps))) == before_new
    new_files = [
        f for f in os.listdir(snaps / f"v{v_new}") if not f.startswith(("_", "."))
    ]
    assert len(new_files) == 1
    # pinned earlier version: byte-untouched
    assert old_files == sorted(
        (f, os.path.getmtime(old_dir / f))
        for f in os.listdir(old_dir)
        if not f.startswith(("_", "."))
    )
    assert digest(read_snapshot(spark, str(snaps), version=v_old)) == before_old
    # retention still resolves versions normally
    deleted = vacuum_snapshot_versions(str(snaps), keep_last=1)
    assert [os.path.basename(p) for p in deleted] == [f"v{v_old}"]
    # an uncommitted version is still refused
    import pytest

    with pytest.raises(FileNotFoundError):
        compact_snapshot_version(spark, str(snaps), 9999)


def test_partitioned_sink_compaction_resumes_incrementally(spark, tmp_path):
    """Maintenance keeps pace ACROSS A RESTART (r16 candidate proven at
    the library level): after a two-batch drain compacts its days, a
    third source file arrives and a NEW streaming query on the SAME
    checkpoint drains exactly one more micro-batch — its manifest's
    touched set is only the late file's days (already-maintained
    history is never re-listed, O(touched) holds across restarts), the
    re-touched days re-compact to one file, and the sink equals a
    batch read of everything."""
    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.plans.ingest import _stage_chunks
    from dend_covid19_spark.streaming.daily import (
        run_partitioned_sink_with_compaction,
    )

    src = tmp_path / "cpr_src"
    src.mkdir()
    ev = load_table(spark, "events", SF_DIR)
    d = F.to_date("ts")
    cut1, cut2 = "2024-01-11", "2024-01-21"
    chunks = [
        ev.where(d < cut1),
        ev.where((d >= cut1) & (d < cut2)),
        ev.where(d >= cut2),  # the late arrival, staged after drain one
    ]
    _stage_chunks(chunks[:2], str(tmp_path), str(src))

    out, ckpt = tmp_path / "cpr_out", tmp_path / "cpr_ckpt"
    manifests: list = []
    run_partitioned_sink_with_compaction(
        spark, str(src), str(out), str(ckpt),
        max_files=0, manifests=manifests, max_files_per_trigger=1,
    )
    assert len(manifests) == 2

    # the late file arrives; a NEW query on the SAME checkpoint
    _stage_chunks(chunks[2:], str(tmp_path), str(src), first=2)
    run_partitioned_sink_with_compaction(
        spark, str(src), str(out), str(ckpt),
        max_files=0, manifests=manifests, max_files_per_trigger=1,
    )

    assert len(manifests) == 3, [m[0] for m in manifests]
    late_days = {
        f"day={r.d}" for r in chunks[2].select(d.alias("d")).distinct().collect()
    }
    _bid, late_manifest = manifests[-1]
    assert set(late_manifest) == late_days
    assert all(rec["rewritten"] and rec["files_after"] == 1
               for rec in late_manifest.values())
    # history days were not re-listed by the restart batch
    early_days = {
        f"day={r.d}"
        for c in chunks[:2]
        for r in c.select(d.alias("d")).distinct().collect()
    }
    assert not (set(late_manifest) & early_days)

    got = spark.read.parquet(str(out)).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
    ).collect()[0]
    want = ev.groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
    ).collect()[0]
    assert (got.n, got.s) == (want.n, want.s)


def test_manifest_sink_exactly_once_and_scoped_optimize(spark, tmp_path):
    """The convergence sink (r16 design note): micro-batches commit
    through the manifest protocol — each batch appends with a
    txn=(app, batch_id) watermark and runs the incremental OPTIMIZE
    scoped to its touched days. Proven here: (a) sink == batch read;
    (b) bootstrap files never rewritten by batch maintenance (their
    days are untouched); (c) a FULL replay — same source, fresh
    checkpoint, so foreachBatch re-delivers every batch — commits
    NOTHING (the txn watermarks survive in the manifest): the
    exactly-once property foreachBatch alone cannot give."""
    import os

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.operators.lakehouse import (
        current_manifest,
        read_manifest_table,
        write_manifest_table,
    )
    from dend_covid19_spark.plans.ingest import _stage_chunks
    from dend_covid19_spark.streaming.daily import (
        run_manifest_sink_with_compaction,
    )

    src = tmp_path / "ms_src"
    src.mkdir()
    root = str(tmp_path / "ms_table")
    ev = load_table(spark, "events", SF_DIR).select(
        "event_id", "user_id", "event_type", "value", F.to_date("ts").alias("day")
    )
    cut0, cut1 = "2024-01-08", "2024-01-15"
    d = F.col("day")
    bootstrap = ev.where(d < cut0)
    chunks = [
        ev.where((d >= cut0) & (d < cut1)),
        ev.where(d >= cut1),
    ]
    write_manifest_table(spark, bootstrap, root, n_files=2, cluster_by=["day"])
    boot_files = {
        f: os.path.getmtime(os.path.join(root, f))
        for f in current_manifest(root)["files"]
    }

    src_ev = tmp_path / "ms_src_ev"
    src_ev.mkdir()
    evraw = load_table(spark, "events", SF_DIR)
    draw = F.to_date("ts")
    raw_chunks = [
        evraw.where((draw >= cut0) & (draw < cut1)),
        evraw.where(draw >= cut1),
    ]
    _stage_chunks(raw_chunks, str(tmp_path), str(src_ev))

    manifests: list = []
    run_manifest_sink_with_compaction(
        spark, str(src_ev), root, str(tmp_path / "ms_ckpt"),
        manifests=manifests, max_files_per_trigger=1,
    )

    assert len(manifests) == 2
    assert all(rec is not None and rec["files_rewritten"] >= 1 for _, rec in manifests)

    def digest(df):
        return sorted(map(tuple, df.select(ev.columns).collect()))

    want = digest(ev)
    assert digest(read_manifest_table(spark, root)) == want
    # bootstrap files: carried through every batch's scoped OPTIMIZE
    m = current_manifest(root)
    for f, mt in boot_files.items():
        assert f in set(m["files"]) and os.path.getmtime(
            os.path.join(root, f)
        ) == mt, f"bootstrap file rewritten by scoped maintenance: {f}"
    assert m["txns"] == {"manifest_sink": 1}

    # FULL replay: fresh checkpoint re-delivers batches 0 and 1; the
    # committed watermarks make both appends no-ops — nothing commits
    v_before = m["version"]
    run_manifest_sink_with_compaction(
        spark, str(src_ev), root, str(tmp_path / "ms_ckpt_replay"),
        manifests=manifests, max_files_per_trigger=1,
    )
    assert current_manifest(root)["version"] == v_before
    assert digest(read_manifest_table(spark, root)) == want


def test_manifest_sink_inband_retention(spark, tmp_path):
    """vacuum_keep_last closes the sink lifecycle: superseded data
    files are reaped in-band after each batch's OPTIMIZE (with
    grace_seconds=0 here — no external writers in the test), the
    manifest log trims to the retention horizon, and the final read is
    untouched."""
    import os

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.operators.lakehouse import (
        manifest_table_history,
        read_manifest_table,
        write_manifest_table,
    )
    from dend_covid19_spark.plans.ingest import _stage_chunks
    from dend_covid19_spark.streaming.daily import (
        run_manifest_sink_with_compaction,
    )

    root = str(tmp_path / "mr_table")
    ev = load_table(spark, "events", SF_DIR)
    d = F.to_date("ts")
    cut0, cut1 = "2024-01-08", "2024-01-15"
    sel = ["event_id", "user_id", "event_type", "value"]
    write_manifest_table(
        spark,
        ev.where(d < cut0).select(*sel, d.alias("day")),
        root, n_files=2, cluster_by=["day"],
    )
    src = tmp_path / "mr_src"
    src.mkdir()
    chunks = [ev.where((d >= cut0) & (d < cut1)), ev.where(d >= cut1)]
    _stage_chunks(chunks, str(tmp_path), str(src))

    run_manifest_sink_with_compaction(
        spark, str(src), root, str(tmp_path / "mr_ckpt"),
        max_files_per_trigger=1,
        vacuum_keep_last=2, vacuum_grace_seconds=0,
    )

    hist = manifest_table_history(root)
    assert len(hist) == 2  # retention trimmed the 5-version chain
    assert all(r["bytes"] is not None for r in hist)  # kept pins servable
    # only files referenced by a RETAINED manifest remain on disk
    # (superseded ingest files reaped)
    from dend_covid19_spark.operators.lakehouse import manifest_at_version

    live = set()
    for r in hist:
        live |= set(manifest_at_version(root, r["version"])["files"])
    on_disk = {f"data/{f}" for f in os.listdir(os.path.join(root, "data"))}
    assert on_disk == live
    got = sorted(r.event_id for r in read_manifest_table(spark, root).collect())
    want = sorted(r.event_id for r in ev.collect())
    assert got == want


def test_manifest_sink_superset_replay_is_skipped_whole(spark, tmp_path):
    """Boundary class (r16 verdict item 4a): a replayed micro-batch that
    carries a SUPERSET of the originally committed rows (a
    non-deterministic source re-delivering batch N with extra rows)
    must be skipped WHOLE by its txn watermark — never merged, never
    partially appended. Exactly-once means the first delivery wins;
    the superset's extra rows belong to a later batch id or nowhere."""
    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.operators.lakehouse import (
        append_manifest_table,
        current_manifest,
        read_manifest_table,
        write_manifest_table,
    )
    from dend_covid19_spark.plans.ingest import _stage_chunks
    from dend_covid19_spark.streaming.daily import run_manifest_sink_with_compaction

    root = str(tmp_path / "sr_table")
    ev = load_table(spark, "events", SF_DIR)
    d = F.to_date("ts")
    cut = "2024-01-10"
    sel = ["event_id", "user_id", "event_type", "value"]
    write_manifest_table(
        spark, ev.where(d < cut).select(*sel, d.alias("day")),
        root, n_files=2, cluster_by=["day"],
    )
    src = tmp_path / "sr_src"
    src.mkdir()
    batch = ev.where((d >= cut) & (d < "2024-01-15"))
    _stage_chunks([batch], str(tmp_path), str(src))

    run_manifest_sink_with_compaction(spark, str(src), root, str(tmp_path / "sr_ckpt"))

    m = current_manifest(root)
    assert m["txns"] == {"manifest_sink": 0}
    want = sorted(r.event_id for r in read_manifest_table(spark, root).collect())

    # the superset replay: same txn (app, batch 0), MORE rows
    superset = ev.where((d >= cut) & (d < "2024-01-18")).select(
        *sel, d.alias("day")
    )
    assert superset.count() > batch.count()
    name = append_manifest_table(
        spark, superset, root, n_files=1, txn=("manifest_sink", 0)
    )
    assert name == f"m{m['version']}.json", "superset replay committed a manifest"
    m2 = current_manifest(root)
    assert m2["version"] == m["version"] and set(m2["files"]) == set(m["files"])
    got = sorted(r.event_id for r in read_manifest_table(spark, root).collect())
    assert got == want, "superset replay changed table content"


def test_manifest_sink_allnull_day_batch_appends_without_optimize(spark, tmp_path):
    """Boundary class (r16 verdict item 4b): a batch whose touched-day
    set is EMPTY after null filtering (every ts unparseable/null) must
    append its rows exactly once, run NO maintenance (rec is None, one
    version bump), record the _ALL_NULL day marker — and a later
    real-day batch's scoped OPTIMIZE must leave the null file
    byte-untouched instead of rewriting it forever."""
    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.operators.lakehouse import (
        _ALL_NULL,
        current_manifest,
        read_manifest_table,
        write_manifest_table,
    )
    from dend_covid19_spark.plans.ingest import _stage_chunks
    from dend_covid19_spark.streaming.daily import run_manifest_sink_with_compaction

    root = str(tmp_path / "nn_table")
    ev = load_table(spark, "events", SF_DIR)
    d = F.to_date("ts")
    cut = "2024-01-10"
    sel = ["event_id", "user_id", "event_type", "value"]
    write_manifest_table(
        spark, ev.where(d < cut).select(*sel, d.alias("day")),
        root, n_files=2, cluster_by=["day"],
    )
    src = tmp_path / "nn_src"
    src.mkdir()
    null_batch = ev.where(d >= cut).limit(40).withColumn(
        "ts", F.lit(None).cast("timestamp")
    )
    real_batch = ev.where((d >= cut) & (d < "2024-01-15"))
    _stage_chunks([null_batch, real_batch], str(tmp_path), str(src))

    v0 = current_manifest(root)["version"]
    manifests: list = []
    run_manifest_sink_with_compaction(
        spark, str(src), root, str(tmp_path / "nn_ckpt"),
        manifests=manifests, max_files_per_trigger=1,
    )

    # batch 0 (all-null days): append only — rec None, ONE version bump
    assert manifests[0][0] == 0 and manifests[0][1] is None, manifests
    # batch 1 (real days): append + scoped OPTIMIZE
    assert manifests[1][1] is not None and manifests[1][1]["files_rewritten"] >= 1
    m = current_manifest(root)
    null_files = [
        f for f in m["files"] if m["file_stats"].get(f, {}).get("day") == _ALL_NULL
    ]
    assert len(null_files) == 1, "all-null-day file must record the _ALL_NULL marker"
    # version chain: v0 + append(b0) + append(b1) + optimize(b1) = v0+3
    assert m["version"] == v0 + 3, (v0, m["version"])
    # the null file survived batch 1's scoped OPTIMIZE untouched
    assert null_files[0] in set(m["files"])
    got = read_manifest_table(spark, root)
    assert got.where(F.col("day").isNull()).count() == 40
    n_want = ev.where(d < cut).count() + 40 + real_batch.count()
    assert got.count() == n_want


def test_manifest_sink_restart_reoptimizes_already_clustered_day(spark, tmp_path):
    """Boundary class (r16 verdict item 4c): a restart whose late batch
    re-touches a day the first drain already compacted to ONE clustered
    file must re-OPTIMIZE that day — rewriting exactly the clustered
    file plus the late append back into one file — while every other
    day's files carry over byte-identical."""
    import os

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.operators.lakehouse import (
        current_manifest,
        files_for_values,
        read_manifest_table,
        write_manifest_table,
    )
    from dend_covid19_spark.plans.ingest import _stage_chunks
    from dend_covid19_spark.streaming.daily import run_manifest_sink_with_compaction

    root = str(tmp_path / "rc_table")
    ev = load_table(spark, "events", SF_DIR)
    d = F.to_date("ts")
    day_x = "2024-01-12"
    sel = ["event_id", "user_id", "event_type", "value"]
    write_manifest_table(
        spark, ev.where(d < "2024-01-10").select(*sel, d.alias("day")),
        root, n_files=2, cluster_by=["day"],
    )
    src = tmp_path / "rc_src"
    src.mkdir()
    on_x = ev.where(d == day_x)
    first = on_x.where(F.col("event_id") % 2 == 0)
    late = on_x.where(F.col("event_id") % 2 == 1)
    assert first.count() > 0 and late.count() > 0
    _stage_chunks([first], str(tmp_path), str(src))

    manifests: list = []
    run_manifest_sink_with_compaction(
        spark, str(src), root, str(tmp_path / "rc_ckpt"), manifests=manifests
    )
    m1 = current_manifest(root)
    assert len(files_for_values(m1, "day", [day_x])) == 1, (
        "first drain must leave day X as one clustered file"
    )
    other_files = {
        f: os.path.getmtime(os.path.join(root, f))
        for f in m1["files"]
        if f not in set(files_for_values(m1, "day", [day_x]))
    }
    # the late file arrives after the drain; restart on the SAME ckpt
    _stage_chunks([late], str(tmp_path), str(src), first=1)
    run_manifest_sink_with_compaction(
        spark, str(src), root, str(tmp_path / "rc_ckpt"), manifests=manifests
    )

    assert len(manifests) == 2
    rec = manifests[-1][1]
    assert rec["files_rewritten"] == 2, (
        f"restart must rewrite exactly the clustered file + the late append: {rec}"
    )
    m2 = current_manifest(root)
    assert len(files_for_values(m2, "day", [day_x])) == 1, (
        "re-touched day must re-compact to one file"
    )
    for f, mt in other_files.items():
        assert f in set(m2["files"])
        assert os.path.getmtime(os.path.join(root, f)) == mt, (
            f"unrelated file rewritten across the restart: {f}"
        )
    got = sorted(
        r.event_id
        for r in read_manifest_table(spark, root)
        .where(F.col("day") == day_x)
        .collect()
    )
    want = sorted(r.event_id for r in on_x.collect())
    assert got == want
