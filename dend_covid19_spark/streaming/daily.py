"""Structured Streaming re-expression of the daily batch (SURVEY.md §2.7).

The reference is batch re-run daily by Airflow; the engine declares the
same tumbling-window aggregation once (plans/timeseries.py) and can run
it either as a batch query (oracle-checked) or incrementally under
``readStream`` with a watermark — this module is the streaming entry.

Scale posture: file-source streaming with ``availableNow`` gives
Airflow-style catch-up batches with exactly-once sink semantics and
bounded state (watermark evicts windows older than the allowed
lateness); swap the source for Kafka without touching the aggregation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..catalog import EVENTS_SCHEMA_NS_LONG, SCHEMAS, events_ts_is_nanos
from ..catalog import _bytes_width, _part_files
from ..session import session_conf


def read_events_stream(
    spark: SparkSession,
    src_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of the events table. The ts physical layout is
    footer-sniffed exactly like the batch catalog: timestamp[us] reads
    natively as TimestampType; legacy TIMESTAMP(NANOS) part files read
    as ns-longs (nanosAsLong) + integer DIV.

    Source-dir contract: ONE physical ts unit per directory (the sniff
    reads one footer and applies it to all files — don't accumulate
    mixed-unit files from different driver rounds into one source). A
    still-EMPTY source dir is legitimate for a stream defined before
    its first file arrives: the sniff falls back to the current
    timestamp[us] layout (uncached, so a later ns file in a fresh dir
    still sniffs correctly).

    ``max_files_per_trigger`` caps each micro-batch's file intake
    (availableNow honors it, yielding several catch-up batches instead
    of one — how a backfill bounds per-batch memory)."""
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if events_ts_is_nanos(src_dir, default=False):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return (
            reader.schema(EVENTS_SCHEMA_NS_LONG)
            .parquet(src_dir)
            .withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        )
    return reader.schema(SCHEMAS["events"]).parquet(src_dir)


def stream_width(spark: SparkSession, src_dir: str) -> str:
    """State/shuffle width of a drain over ``src_dir``: the lineage-cut
    rule ``catalog._bytes_width`` over the bytes under the dir, read at
    each drain start since a source grows between drains (a missing or
    empty dir gives 1). Each state partition pays a per-batch floor (a
    task, a state-store delta file, a Python runner) whatever its rows."""
    try:
        nbytes = sum(os.path.getsize(p) for p in _part_files(src_dir))
    except FileNotFoundError:
        nbytes = 0
    return str(_bytes_width(spark, nbytes))


def drain(
    spark: SparkSession, writer: DataStreamWriter, checkpoint_dir: str, src_dir: str
) -> StreamingQuery:
    """Run ``writer`` (a sink over a stream of ``src_dir``) as one
    availableNow catch-up on ``checkpoint_dir`` and block until it ends,
    with the session at ``stream_width`` throughout; its own width comes
    back also when the stream fails (``StreamingQueryException``). A
    resumed checkpoint keeps its first width: Spark restores it from the
    offset log. The scope holds session_conf's lock, so a foreachBatch
    callback must not enter session_conf. Returns the finished query."""
    width = stream_width(spark, src_dir)
    with session_conf(spark, {"spark.sql.shuffle.partitions": width}):
        q = (
            writer.option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def daily_counts_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """The tumbling 1-day count/value aggregation with late-data handling.

    Same logical aggregation as plans/timeseries.py::events_tumbling_daily
    — watermark bounds the state store; 'update'/'append' output modes
    both work downstream.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.to_date("w.start").alias("day"), "event_type", "cnt", "total_value"
        )
    )


def dedup_events_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming exact dedup: drop event_id replays within the watermark
    horizon (``dropDuplicatesWithinWatermark``) — the at-least-once ->
    effectively-once repair stage in front of any streaming aggregate.

    Scale: state is one entry per event_id seen inside the watermark
    window, evicted as the watermark advances — bounded by arrival rate x
    lateness, not by stream history. Plain ``dropDuplicates`` on a stream
    would keep every key forever."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_dedup_available_now(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    sink_table: str = "deduped_events_stream",
) -> None:
    """availableNow catch-up of the streaming dedup into a memory sink."""
    events = read_events_stream(spark, src_dir)
    out = dedup_events_stream(events).select("event_id", "user_id", "event_type")
    writer = out.writeStream.format("memory").queryName(sink_table)
    drain(spark, writer.outputMode("append"), checkpoint_dir, src_dir)


def enrich_events_stream(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch of events joins the static
    customer dimension. Spark re-plans the static side per batch, and a
    broadcast hint keeps it a broadcast hash join — no stream-side
    shuffle, no state store (unlike stream-stream joins). The standard
    enrichment shape in front of a streaming aggregate."""
    dim = F.broadcast(customers.select("c_custkey", "c_name", "c_mktsegment"))
    return events.join(dim, events.user_id == dim.c_custkey).select(
        "event_id", "user_id", "event_type", "c_name", "c_mktsegment", "value"
    )


def run_enriched_available_now(
    spark: SparkSession,
    src_dir: str,
    customers: DataFrame,
    checkpoint_dir: str,
    sink_table: str = "enriched_events_stream",
) -> None:
    events = read_events_stream(spark, src_dir)
    writer = enrich_events_stream(events, customers).writeStream.queryName(sink_table)
    drain(spark, writer.format("memory").outputMode("append"), checkpoint_dir, src_dir)


def run_available_now(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    sink_table: str = "daily_counts_stream",
) -> None:
    """Process everything currently in ``src_dir`` as one incremental
    catch-up (the streaming equivalent of an Airflow backfill), into an
    in-memory sink table, then stop. Blocks until complete."""
    events = read_events_stream(spark, src_dir)
    writer = daily_counts_stream(events).writeStream.outputMode("complete")
    drain(spark, writer.format("memory").queryName(sink_table), checkpoint_dir, src_dir)


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 day"
) -> DataFrame:
    """Streaming sessionization: the native ``session_window`` operator
    under a watermark — the incremental twin of
    plans/timeseries.py::events_session_window_native (same gap, same
    epoch-micros output; the equality test in tests/test_streaming.py
    pins streamed == batch).

    Scale: state is one open session per active user, merged in place as
    events arrive and EMITTED+EVICTED once the watermark passes the
    session's end (append mode) — so state is O(active users), not
    O(history), and late events inside the watermark still merge into
    their session instead of fragmenting it.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("start_us"),
            F.unix_micros("sw.end").alias("end_us"),
            "n_events",
        )
    )


def run_sessionize_available_now(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    sink_table: str = "sessionized_stream",
) -> None:
    """availableNow catch-up of the streaming sessionization (append mode:
    only watermark-closed sessions emit — with availableNow over a finite
    source, that is every session)."""
    events = read_events_stream(spark, src_dir)
    writer = sessionize_stream(events).writeStream.queryName(sink_table)
    drain(spark, writer.format("memory").outputMode("append"), checkpoint_dir, src_dir)


def attribution_stream(events: DataFrame, horizon: str = "1 hour") -> DataFrame:
    """Stream-stream interval join: views matched to same-user purchases
    within the conversion horizon. Both sides carry watermarks, and the
    time-range condition bounds the join state — Spark evicts buffered
    views once the purchase-side watermark passes view_ts + horizon, so
    state is O(traffic × horizon), not unbounded.

    Same logical join as plans/timeseries.py::attribution_view_purchase
    (the oracle-checked batch twin); the equality test in
    tests/test_streaming.py pins streamed == batch.
    """
    views = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    return views.join(
        purchases,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        F.expr(
            "(unix_micros(purchase_ts) - unix_micros(view_ts)) div 1000000"
        ).alias("seconds_to_purchase"),
    )


def run_attribution_available_now(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    sink_table: str = "attribution_stream",
) -> None:
    events = read_events_stream(spark, src_dir)
    writer = attribution_stream(events).writeStream.queryName(sink_table)
    drain(spark, writer.format("memory").outputMode("append"), checkpoint_dir, src_dir)


def run_dedup_to_parquet(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming dedup into a day-partitioned PARQUET file sink — the
    production shape of the pipeline (the memory sinks above exist for
    tests): exactly-once via the sink's commit log (files written by a
    failed batch are not listed, a restarted batch rewrites them), and
    ``partitionBy(day)`` lays files out for downstream partition
    pruning exactly like the batch writer.

    Scale: the file sink appends per-partition files per micro-batch —
    no global coordination beyond the driver's commit-log append; at
    100 TB compaction of small files is the follow-up job
    (operators/maintenance.py::compact_small_files)."""
    events = read_events_stream(spark, src_dir)
    deduped = dedup_events_stream(events).withColumn("day", F.to_date("ts"))
    out = deduped.select("event_id", "user_id", "event_type", "value", "day")
    writer = out.writeStream.format("parquet").option("path", out_dir).partitionBy("day")
    drain(spark, writer.outputMode("append"), checkpoint_dir, src_dir)


def run_partitioned_sink_with_compaction(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files: int = 4,
    manifests: list | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Day-partitioned foreachBatch sink whose MAINTENANCE KEEPS PACE
    WITH INGEST: each micro-batch appends its rows partitioned by day,
    computes the set of days it touched (a tiny distinct over the
    batch), and immediately runs the stats-driven selective compaction
    scoped to exactly that set (operators/maintenance.py::
    compact_partitions(only_partitions=...)) — per batch the
    maintenance cost is O(touched fragmented bytes), never O(table),
    so the small-file debt can never accumulate past one trigger.

    Why foreachBatch and not the parquet file sink: the file sink's
    exactly-once commit log records the files each batch wrote, and a
    compactor rewriting those files behind the log would desynchronize
    it — with foreachBatch the DIRECTORY is the source of truth, at
    the standard foreachBatch cost (a retried batch can re-append:
    at-least-once; dedupe downstream or key the batch write by
    batch_id as run_upsert_foreach_batch does). ``manifests``, when
    provided, collects (batch_id, manifest) per batch for audits/tests.
    """
    from ..operators.maintenance import compact_partitions

    events = read_events_stream(spark, src_dir, max_files_per_trigger)
    with_day = events.withColumn("day", F.to_date("ts")).select(
        "event_id", "user_id", "event_type", "value", "day"
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            batch_df.write.mode("append").partitionBy("day").parquet(out_dir)
            touched = {
                f"day={r.day}"
                for r in batch_df.select("day").distinct().collect()
                if r.day is not None
            }
            m = compact_partitions(
                spark, out_dir, max_files=max_files, only_partitions=touched
            )
            if manifests is not None:
                manifests.append((batch_id, m))
        finally:
            batch_df.unpersist()

    writer = with_day.writeStream.foreachBatch(_sink)
    drain(spark, writer.outputMode("append"), checkpoint_dir, src_dir)


def run_manifest_sink_with_compaction(
    spark: SparkSession,
    src_dir: str,
    table_root: str,
    checkpoint_dir: str,
    app_id: str = "manifest_sink",
    target_file_bytes: int = 128 * 1024 * 1024,
    manifests: list | None = None,
    max_files_per_trigger: int | None = None,
    vacuum_keep_last: int | None = None,
    vacuum_grace_seconds: float = 24 * 3600,
) -> None:
    """The convergence sink (r16 design note, r17 candidate): the
    day-partitioned ingest committed through the MANIFEST protocol
    instead of the directory swap — one maintenance story, plus the
    two guarantees foreachBatch alone cannot give:

    - EXACTLY-ONCE: each batch appends via ``append_manifest_table``
      with ``txn=(app_id, batch_id)``; a replayed batch (foreachBatch
      is at-least-once) finds its own committed watermark and skips —
      the Delta txnAppId/txnVersion move, so no downstream dedup and
      no batch_id-keyed directory convention.
    - MAINTENANCE DURING READS: each batch then runs the incremental
      OPTIMIZE scoped to exactly the day values it touched
      (``compact_manifest_table(only_values=("day", touched))``) —
      O(touched bytes) data work like the swap sink, but committed as
      a pointer flip: pinned readers keep their files, no per-dir
      single-writer window.

    Ingest clusters each batch's files by ``day`` so the recorded
    footer stats double as partition metadata (files_for_values
    resolves touched membership from the manifest alone). ``manifests``
    collects (batch_id, optimize-record) per batch for audits/tests.
    The table must exist (write_manifest_table) — the streaming query
    only ever appends and compacts.

    Crash window, documented honestly: a death AFTER the append commit
    but BEFORE its OPTIMIZE leaves that batch's days fragmented — the
    redelivered batch detects its committed watermark and (correctly)
    skips the append, and the early return also skips the OPTIMIZE.
    Correctness is unaffected (reads serve the appended files); the
    small-file debt is bounded at ONE batch's files and clears when a
    later batch touches those days or a manual compact_manifest_table
    runs. Rows are never doubled.

    ``vacuum_keep_last`` (off by default) closes the lifecycle: after
    each batch's OPTIMIZE, retention reaps data files referenced by
    none of the newest N manifests — so a long-lived ingest doesn't
    accumulate superseded files without bound. The age grace
    (``vacuum_grace_seconds``) stays on its safe default: this sink is
    single-writer by checkpoint, but grace also protects any EXTERNAL
    ad-hoc writer racing the sink's vacuum. Retention must outlive the
    longest reader scan (the vacuum contract)."""
    from ..operators.lakehouse import (
        append_manifest_table,
        compact_manifest_table,
        vacuum_manifest_table,
    )

    events = read_events_stream(spark, src_dir, max_files_per_trigger)
    with_day = events.withColumn("day", F.to_date("ts")).select(
        "event_id", "user_id", "event_type", "value", "day"
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            before = _lh_current_version(table_root)
            append_manifest_table(
                spark,
                batch_df,
                table_root,
                n_files=1,
                cluster_by=["day"],
                txn=(app_id, batch_id),
            )
            if _lh_current_version(table_root) == before:
                return  # replayed batch: its append already committed
            touched = sorted(
                r.day.isoformat()
                for r in batch_df.select("day").distinct().collect()
                if r.day is not None
            )
            # an all-null-day batch touched no day value: nothing to
            # maintain (a bare only_values=None would compact the TABLE)
            rec = (
                compact_manifest_table(
                    spark,
                    table_root,
                    target_file_bytes=target_file_bytes,
                    only_values=("day", touched),
                )
                if touched
                else None
            )
            if manifests is not None:
                manifests.append((batch_id, rec))
            if vacuum_keep_last is not None:
                vacuum_manifest_table(
                    table_root,
                    keep_last=vacuum_keep_last,
                    grace_seconds=vacuum_grace_seconds,
                )
        finally:
            batch_df.unpersist()

    writer = with_day.writeStream.foreachBatch(_sink)
    drain(spark, writer.outputMode("append"), checkpoint_dir, src_dir)


def _lh_current_version(root: str) -> int:
    from ..operators.lakehouse import current_manifest

    return current_manifest(root)["version"]


def _latest_snapshot(target_dir: str) -> str | None:
    """Newest COMMITTED snapshot version under ``target_dir`` (highest
    v{batch_id} carrying a _SUCCESS marker), or None before the first
    micro-batch ever ran. This is the restart pointer for
    run_upsert_foreach_batch — state must come from the filesystem, not
    a closure, to survive a driver restart."""
    import glob
    import re

    best, best_id = None, -1
    for p in glob.glob(os.path.join(target_dir, "v*")):
        m = re.fullmatch(r"v(\d+)", os.path.basename(p))
        if m and int(m.group(1)) > best_id and os.path.exists(
            os.path.join(p, "_SUCCESS")
        ):
            best_id, best = int(m.group(1)), p
    return best


def read_snapshot(
    spark: SparkSession, target_dir: str, version: int | None = None
) -> DataFrame:
    """Time-travel read over the versioned snapshots
    run_upsert_foreach_batch maintains: ``version=None`` returns the
    newest committed snapshot, ``version=n`` returns ``v{n}`` as of that
    micro-batch — the AS OF VERSION read the table-format engines
    (Delta/Iceberg) expose, over plain parquet + _SUCCESS markers.
    Uncommitted (crashed mid-write) version dirs are never served.

    Raises FileNotFoundError when no committed snapshot (or the named
    one) exists, rather than returning an empty frame that would read as
    an empty table."""
    import os

    if version is None:
        path = _latest_snapshot(target_dir)
        if path is None:
            raise FileNotFoundError(f"no committed snapshot under {target_dir}")
    else:
        path = os.path.join(target_dir, f"v{version}")
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            raise FileNotFoundError(f"snapshot v{version} not committed in {target_dir}")
    return spark.read.parquet(path)


def run_upsert_foreach_batch(
    spark: SparkSession,
    src_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> str:
    """Streaming MERGE INTO without Delta: each micro-batch compacts to
    latest-per-user and upserts into a parquet snapshot via
    ``plans.cdc.merge_upsert`` (foreachBatch is the escape hatch Spark
    provides for sinks with update semantics). Snapshots are VERSIONED
    (``target_dir/v{batch_id}``) so each write is an atomic new
    directory, never an in-place overwrite of the snapshot being read —
    the no-Delta equivalent of transactional MERGE. Returns the final
    snapshot path.

    Restart semantics: foreachBatch batch_ids are stable under replay,
    and the snapshot pointer is RE-RESOLVED from the newest committed
    ``target_dir/v*`` on every start — a restart from an existing
    checkpoint merges into the prior run's snapshot instead of silently
    starting from scratch, and a restart with no new input returns that
    snapshot unchanged (both restart shapes are pinned by
    tests/test_streaming.py). Only directories with a ``_SUCCESS``
    marker count: a version dir from a crashed mid-write overwrite is
    never resumed into.

    Scale: the update batch is tiny next to the snapshot, so
    merge_upsert's anti join broadcasts the compacted batch and the
    snapshot streams through map-side; the per-batch cost is one
    snapshot rewrite (amortize with partition-scoped rewrites when keys
    are date-clustered)."""
    from ..plans.cdc import merge_upsert

    state: dict[str, str | None] = {"path": _latest_snapshot(target_dir)}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        compacted = (
            batch_df.select("user_id", "ts", "event_id", "value")
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        if state["path"] is None:
            merged = compacted
        else:
            current = s.read.parquet(state["path"])
            merged = merge_upsert(current, compacted, key="user_id", ts_col="ts")
        new_path = f"{target_dir}/v{batch_id}"
        merged.write.mode("overwrite").parquet(new_path)
        state["path"] = new_path

    events = read_events_stream(
        spark, src_dir, max_files_per_trigger=max_files_per_trigger
    )
    writer = events.writeStream.foreachBatch(apply_batch)
    drain(spark, writer.outputMode("update"), checkpoint_dir, src_dir)
    assert state["path"] is not None, (
        "no micro-batch was processed and no prior committed snapshot exists"
    )
    return state["path"]


def run_conditional_upsert_available_now(
    spark: SparkSession,
    src_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> str:
    """foreachBatch idempotent-UPSERT sink — the production glue between
    this module and the serving tables: each micro-batch MERGEs into the
    snapshot via ``plans.cdc.merge_upsert_conditional`` (per user keep
    the greater ``(ts, event_id)`` row — Delta's ``WHEN MATCHED AND
    s.ts > t.ts`` guard). Because the conditional merge is
    order-independent and idempotent, the FINAL snapshot equals the
    global latest-per-user regardless of how files split into batches,
    batch replay after a crash, or a full RE-DRAIN from a fresh
    checkpoint over the same input — which is what puts this sink under
    a value hash (run_upsert_foreach_batch's last-batch-wins merge is
    deliberately weaker: batch-order-dependent).

    Snapshot versions are globally increasing across drains
    (``v{base+batch_id}`` with base = newest committed version + 1), so
    a re-drain with a fresh checkpoint never overwrites a committed
    snapshot in place and the restart pointer never goes stale.

    Scale: per batch, one compaction shuffle of the (small) batch + one
    broadcast-able full-outer join; the snapshot streams map-side. The
    snapshot rewrite per batch is the no-Delta cost — with a table
    format the same merge is a metadata-transactional MERGE INTO.
    Returns the final snapshot path."""
    from ..plans.cdc import _merge_total_order, merge_upsert_conditional

    prior = _latest_snapshot(target_dir)
    base = int(os.path.basename(prior)[1:]) + 1 if prior is not None else 0
    state: dict[str, str | None] = {"path": prior}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch = batch_df.select("user_id", "ts", "event_id", "value")
        if state["path"] is None:
            # bootstrap compaction over the SAME total order the
            # conditional merge uses (order cols + payload tiebreak), so
            # a first batch carrying an order-key tie picks the same
            # winner a later merge of the same rows would
            total = _merge_total_order(
                batch.columns, "user_id", ["ts", "event_id"]
            )
            w = Window.partitionBy("user_id").orderBy(
                *[F.col(c).desc() for c in total]
            )
            merged = (
                batch.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            current = s.read.parquet(state["path"])
            merged = merge_upsert_conditional(
                current, batch, key="user_id", order_cols=["ts", "event_id"]
            )
        new_path = f"{target_dir}/v{base + batch_id}"
        merged.write.mode("overwrite").parquet(new_path)
        state["path"] = new_path

    events = read_events_stream(
        spark, src_dir, max_files_per_trigger=max_files_per_trigger
    )
    writer = events.writeStream.foreachBatch(apply_batch)
    drain(spark, writer.outputMode("update"), checkpoint_dir, src_dir)
    assert state["path"] is not None, (
        "no micro-batch was processed and no prior committed snapshot exists"
    )
    return state["path"]


def apply_counts_batch(
    batch_df: DataFrame, batch_id: int, target_dir: str
) -> str:
    """EXACTLY-ONCE additive fold of one micro-batch into the versioned
    per-(day, event_type) counts snapshot: version v{batch_id} is a pure
    function of the batch PREFIX — it is always rebuilt from its
    deterministic predecessor v{batch_id - 1} (never from "latest", which
    a half-written replay could have advanced), and a replay of an
    already-COMMITTED batch is skipped outright. Additive aggregation is
    NOT naturally idempotent (replaying a batch into "latest" would
    double-count — unlike the conditional upsert sink, whose merge
    absorbs replays), so exactly-once must come from this version
    arithmetic; that contrast is the point of having both sinks.

    Returns the path of v{batch_id} (written or already committed)."""
    new_path = f"{target_dir}/v{batch_id}"
    if os.path.exists(os.path.join(new_path, "_SUCCESS")):
        return new_path  # replay of a committed batch: already applied
    s = batch_df.sparkSession
    delta = batch_df.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    if batch_id > 0:
        prior = s.read.parquet(f"{target_dir}/v{batch_id - 1}")
        delta = (
            prior.unionByName(delta)
            .groupBy("day", "event_type")
            .agg(F.sum("cnt").alias("cnt"))
        )
    delta.write.mode("overwrite").parquet(new_path)
    return new_path


def run_counts_merge_available_now(
    spark: SparkSession,
    src_dir: str,
    target_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> str:
    """foreachBatch ADDITIVE-AGGREGATE sink: maintain the
    (day, event_type, cnt) monitoring table incrementally as events
    stream in — the counts side of the streaming drift monitor. Each
    micro-batch folds via apply_counts_batch (deterministic-predecessor
    versioning, replay-safe); the final snapshot equals the batch
    aggregate over the whole corpus because per-(day, type) counts are
    additive under ANY split of the input into batches.

    Scale: the per-batch delta aggregates map-side to monitoring
    cardinality (|days| x |types|); the fold joins two tiny tables. The
    snapshot rewrite per batch is the no-Delta cost, trivial at this
    cardinality. Returns the final snapshot path."""
    state: dict[str, str | None] = {"path": None}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        state["path"] = apply_counts_batch(batch_df, batch_id, target_dir)

    events = read_events_stream(
        spark, src_dir, max_files_per_trigger=max_files_per_trigger
    )
    writer = events.writeStream.foreachBatch(apply_batch)
    drain(spark, writer.outputMode("update"), checkpoint_dir, src_dir)
    assert state["path"] is not None, "no micro-batch was processed"
    return state["path"]
