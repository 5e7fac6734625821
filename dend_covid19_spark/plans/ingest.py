"""Ingest/sink round-trip queries — driver-visible correctness for the
reference's primary ingest paths (SURVEY.md §2.1 S1/S2/S6).

The reference's ingest is a gzipped-JSONL glob scan
(/root/reference/airflow/dags/tasks/tweets.py:44,48) over a
date-templated directory tree (tweets.py:41-45), and its sink is a JSONL
hand-off file (tweets.py:82). These queries exercise the engine's
equivalents END TO END inside a registered query: write the documents
table out through the sink under test into a temp dir, read it back
through the source under test, and aggregate to a deterministic digest.
The DuckDB oracle computes the same digest from the ORIGINAL parquet —
so a hash match proves the sink+source pair is lossless, not just that
both sides ran.

Digest design: group-by-lang aggregates that are order-independent and
engine-stable — count, exact integer sums, min/max ids, and min/max
md5(text) (both engines emit lowercase hex) as a content fingerprint.

Scale note: the round-trip writes happen at driver-test scale only; the
operators under test (read_jsonl / write_jsonl / write_partitioned /
read_partitioned) are the production surface and are partition-parallel
distributed reads/writes with no driver data path.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import SCHEMAS, load_table
from ..scratch import keyed_dir, link_or_copy, materialize_once
from ..session import session_conf, session_memo
from ..sources.readers import (
    from_rows,
    read_csv,
    read_jsonl,
    read_orc,
    read_partitioned,
    write_csv,
    write_jsonl,
    write_orc,
    write_partitioned,
)
from ..streaming.daily import (
    attribution_stream,
    drain,
    read_events_stream,
    read_snapshot,
    run_conditional_upsert_available_now,
    run_counts_merge_available_now,
    run_manifest_sink_with_compaction,
    run_partitioned_sink_with_compaction,
)
from .registry import query

# Digest shared by both round-trips: lossless iff every (doc_id, text,
# lang, source, n_chars) survives the sink+source pair byte-identically.
_DIGEST_SQL = """
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id,
       min(md5(text)) AS min_md5,
       max(md5(text)) AS max_md5
FROM documents
{where}
GROUP BY lang
"""


def _digest(df: DataFrame) -> DataFrame:
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.min(F.md5(F.col("text").cast("binary"))).alias("min_md5"),
        F.max(F.md5(F.col("text").cast("binary"))).alias("max_md5"),
    )


# The events digest of the sink and lakehouse rows: order-independent,
# engine-exact aggregates over an events slice (value in integer cents);
# n_events == n_distinct_events catches a replayed or doubled row.
_EVENTS_DIGEST_SQL = """count(*) AS n_events,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(min(event_id) AS BIGINT) AS min_event_id,
       CAST(max(event_id) AS BIGINT) AS max_event_id"""


def _events_digest(df: DataFrame, *keys) -> DataFrame:
    """``df`` grouped by ``keys`` into the columns of _EVENTS_DIGEST_SQL."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_id").cast("bigint").alias("n_distinct_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("bigint")
        .alias("total_cents"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )


@query("ingest_jsonl_roundtrip", oracle=_DIGEST_SQL.format(where=""))
def ingest_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 + S6: documents -> gzipped-JSONL sink -> glob scan -> digest.

    Mirrors the reference's ingest exactly: ``write_jsonl`` with gzip
    produces ``part-*.json.gz`` shards and ``read_jsonl`` scans them via
    a ``*.json.gz`` glob with an EXPLICIT schema (no inference pass —
    the reference double-reads to infer, SURVEY.md §4.2). The oracle
    digests the original parquet, so the hash match certifies the whole
    JSON encode/decode loop is lossless.
    """
    docs = load_table(spark, "documents", sf_dir)
    path = os.path.join(keyed_dir(spark, "jsonl", sf_dir, ("documents",)), "docs")
    write_jsonl(docs, path, compression="gzip")
    back = read_jsonl(spark, os.path.join(path, "*.json.gz"), SCHEMAS["documents"])
    return _digest(back)


_PRUNE_LANG = "en"


@query(
    "ingest_partitioned_roundtrip",
    oracle=_DIGEST_SQL.format(where=f"WHERE lang = '{_PRUNE_LANG}'"),
)
def ingest_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 + S7/S8: documents -> partitioned-parquet sink -> partition-
    pruned scan -> digest.

    ``write_partitioned`` lays out ``lang=<v>/`` directories (the
    distributed replacement for the reference's row INSERT / COPY
    sinks); ``read_partitioned(lang='en')`` turns the equality filter
    into a planning-time directory prune — the moral equivalent of the
    reference's ``{y}/{m}/{d}/*.jsonl.gz`` path templating. The oracle
    digests the original parquet WHERE lang='en', so the match certifies
    both the write layout and the pruned read.
    """
    docs = load_table(spark, "documents", sf_dir)
    scratch = keyed_dir(spark, "partitioned", sf_dir, ("documents",))
    path = os.path.join(scratch, "docs_by_lang")
    write_partitioned(docs, path, ["lang"])
    back = read_partitioned(spark, path, lang=_PRUNE_LANG)
    return _digest(back).select(
        "lang", "n_docs", "total_chars", "min_doc_id", "max_doc_id", "min_md5", "max_md5"
    )


# S5 fixture: a hand-declared event-type dimension (the reference's
# in-memory single-record hand-off, tweets.py:81, as typed rows).
_TYPE_DIM = [
    ("view", "engagement", 1),
    ("click", "engagement", 2),
    ("signup", "conversion", 5),
    ("purchase", "conversion", 10),
    ("error", "ops", 0),
]


@query(
    "ingest_inmemory_dim_join",
    oracle=f"""
WITH dim(event_type, category, weight) AS (
    VALUES {", ".join(f"('{t}', '{c}', {w})" for t, c, w in _TYPE_DIM)}
)
SELECT d.category,
       count(*) AS n_events,
       CAST(sum(d.weight) AS BIGINT) AS weighted_events
FROM events e JOIN dim d USING (event_type)
GROUP BY d.category
""",
)
def ingest_inmemory_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 driver-visible: an in-memory rows source (``from_rows`` with an
    explicit schema — the reference's dict hand-off without shape
    inference) used as a broadcast dimension against the events fact
    table. The oracle declares the same dimension as a VALUES list, so
    the hash match certifies the createDataFrame path end to end.

    Scale: the literal dim is driver-built but tiny (it broadcasts);
    the fact side streams through one hash aggregate — the standard
    config-table enrichment shape."""
    dim = F.broadcast(
        from_rows(
            spark, _TYPE_DIM, "event_type string, category string, weight int"
        )
    )
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.join(dim, "event_type")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("weight").alias("weighted_events"),
        )
    )


@query("ingest_csv_roundtrip", oracle=_DIGEST_SQL.format(where=""))
def ingest_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV interchange round-trip: documents -> headered CSV sink ->
    explicit-schema CSV scan -> digest vs the original parquet. CSV is
    the lossy-prone interchange format (quoting, newlines, type
    erasure); the value-hash match certifies the writer's quoting and
    the reader's parsing are mutually lossless for real text data."""
    docs = load_table(spark, "documents", sf_dir)
    path = os.path.join(keyed_dir(spark, "csv", sf_dir, ("documents",)), "docs_csv")
    write_csv(docs, path)
    back = read_csv(spark, path, SCHEMAS["documents"])
    return _digest(back)


@query("ingest_orc_roundtrip", oracle=_DIGEST_SQL.format(where=""))
def ingest_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar round-trip: documents -> ORC sink -> ORC scan ->
    digest vs the original parquet — the interchange path for
    Hive/Trino ORC-first lakes, on the same columnar footing (pushdown,
    pruning) as parquet."""
    docs = load_table(spark, "documents", sf_dir)
    path = os.path.join(keyed_dir(spark, "orc", sf_dir, ("documents",)), "docs_orc")
    write_orc(docs, path)
    back = read_orc(spark, path, SCHEMAS["documents"])
    return _digest(back)


@query(
    "ingest_schema_evolution",
    oracle="""
SELECT
    CASE WHEN doc_id % 2 = 1 THEN lang END AS lang,
    count(*) AS n_docs,
    CAST(sum(n_chars) AS BIGINT) AS total_chars,
    min(doc_id) AS min_doc_id,
    max(doc_id) AS max_doc_id
FROM documents
GROUP BY 1
""",
)
def ingest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: generation 1 files carry
    (doc_id, text, n_chars), generation 2 adds the ``lang`` column —
    the normal life of a long-lived dataset directory. A
    ``mergeSchema`` scan reconciles the footers by NAME (never by
    position) and fills the missing column with NULLs for gen-1 rows;
    the oracle simulates the same null pattern from the original table,
    so the hash match certifies exactly which rows lost which columns.

    Scale: mergeSchema's footer reconciliation is a planning-time cost
    over file metadata (distributed footer read), not a data pass —
    but at millions of files pin the merged schema explicitly
    (``.schema(...)``) and keep evolution additive-nullable-only, the
    same contract Delta/Iceberg enforce. Gen-2 is written with
    unionByName-compatible columns; position-based readers would
    silently mis-bind, which is why every reader in this package binds
    by name."""
    docs = load_table(spark, "documents", sf_dir)
    scratch = keyed_dir(spark, "evolution", sf_dir, ("documents",))
    base = os.path.join(scratch, "docs_gen")
    gen1 = docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "text", "n_chars")
    gen2 = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "n_chars", "lang"
    )
    gen1.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    gen2.write.mode("overwrite").parquet(os.path.join(base, "gen=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# --- VARIANT semi-structured decode (Spark 4 open variant type) -------------


@query(
    "events_props_variant",
    oracle="""
SELECT CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_decile,
       count(*) AS n_events,
       CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
FROM events
GROUP BY 1
""",
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured decode through Spark 4's open VARIANT type:
    ``parse_json`` ingests the props payload ONCE into the binary
    variant encoding, ``variant_get`` path-extracts with a target type
    — the schema-on-read path for payloads whose shape drifts too fast
    for a fixed ``from_json`` schema (events_nested_json covers the
    fixed-schema form; this is its flexible twin, and the variant
    binary encoding is what Delta/Iceberg shred into columns at rest).
    The oracle is DuckDB's JSON path extraction over the same payload.

    Plan/scale: parse + extract are JVM-side codegen expressions (no
    UDF) fused into the scan stage; the aggregate partial-combines to
    <= 11 decile groups. A real pipeline would parse_json at ingest
    and persist the variant column; re-parsing per query (as here) is
    the stateless-demo shape."""
    ev = load_table(spark, "events", sf_dir)
    k = "variant_get(parse_json(props), '$.k', 'bigint')"
    return (
        ev.select(F.expr(k).alias("k"))
        .groupBy(F.expr("k DIV 10").alias("k_decile"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("k").cast("bigint").alias("k_min"),
            F.max("k").cast("bigint").alias("k_max"),
        )
    )


# --- custom Python DataSource read (Spark 4 datasource API) -----------------


@query(
    "python_datasource_spine",
    oracle=f"""
WITH spine AS (
    SELECT seq,
           DATE '1992-01-01' + CAST(seq AS INTEGER) AS day,
           CAST(seq % 7 AS INTEGER) AS dow
    FROM (SELECT unnest(generate_series(0, 363)) AS seq)
)
SELECT dow,
       count(*) AS n_days,
       CAST(min(day) AS DATE) AS first_day,
       CAST(max(day) AS DATE) AS last_day,
       CAST(sum(seq) AS BIGINT) AS seq_sum
FROM spine
GROUP BY dow
""",
)
def python_datasource_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4's engine-surface twin done the Spark 4 way: a custom PYTHON
    DataSource (sources/pyds.py) registered under a format name and
    read like any table — ``spark.read.format("graft_spine")`` — with
    a partition planner fanning the generate out across executor
    tasks (8 seq-range partitions; the plan shows a parallel
    BatchScan, not a driver-side collect). This is the wrapper shape
    for the reference's HTTP feed (market.py:21-27) or any external
    API at scale: schema + partitions + per-partition reader, no
    driver bottleneck, no RDD.

    The source is a deterministic calendar spine, so the oracle
    regenerates it from pure SQL arithmetic and the whole
    Python-reader path (pickling, worker import, Arrow conversion,
    date handling) sits under the value hash — `sf_dir` is unused by
    design (the source IS the data)."""
    from ..sources.pyds import SPINE_FORMAT, register_spine_source

    register_spine_source(spark)
    spine = (
        spark.read.format(SPINE_FORMAT)
        .option("start", "1992-01-01")
        .option("days", 364)
        .load()
    )
    return spine.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
        F.sum("seq").cast("bigint").alias("seq_sum"),
    )


# --- Structured Streaming execution under the driver hash -------------------


def _events_src(
    spark: SparkSession, name: str, sf_dir: str, inputs: tuple = ("events",)
) -> tuple[str, str]:
    """(scratch, src): a keyed scratch dir for a drain and its ``src``
    subdir holding the dataset's events.parquet, the file source the
    drain streams."""
    scratch = keyed_dir(spark, name, sf_dir, inputs)
    src = os.path.join(scratch, "src")
    os.makedirs(src, exist_ok=True)
    link_or_copy(
        os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet")
    )
    return scratch, src


def _stage_chunks(chunks: list, scratch: str, src: str, first: int = 0) -> None:
    """Stage each chunk DataFrame as one parquet file
    ``src/p{first+i}.parquet``: the one way a drain's source file is
    written. ts is written as TIMESTAMP_MICROS, because Spark's default
    INT96 would break the source dir's one-physical-unit contract
    (read_events_stream sniffs ONE footer for the whole dir). Each
    file's mtime is pinned to ``now - 1000 + (first+i) * 100``: the file
    source admits files oldest first at ms granularity, so the files
    drain in list order, also when ``first`` stages a later file after
    a drain. A file that already exists is kept (re-entry).

    The writes overlap in a bounded driver pool (the per-chunk
    coalesce(1) jobs are tiny and independent; measured at sf0.1 on the
    4-way events split: 1.3-3.7 s sequential -> 0.4-0.7 s pooled). The
    calling thread scopes the outputTimestampType conf once around the
    pool, and session_conf's lock keeps any other thread's scope from
    restoring it under the writers. Links happen after every write
    completes, so a source file only appears with its full content."""
    import glob as _glob
    import time
    from concurrent.futures import ThreadPoolExecutor

    dests = [os.path.join(src, f"p{first + i}.parquet") for i in range(len(chunks))]
    stages = [os.path.join(scratch, f"stage{first + i}") for i in range(len(chunks))]
    todo = [i for i, dest in enumerate(dests) if not os.path.exists(dest)]
    if todo:

        def write(i: int) -> None:
            chunks[i].coalesce(1).write.mode("overwrite").parquet(stages[i])

        micros = {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}
        with session_conf(chunks[0].sparkSession, micros):
            with ThreadPoolExecutor(max_workers=min(4, len(todo))) as pool:
                list(pool.map(write, todo))
        for i in todo:
            link_or_copy(_glob.glob(os.path.join(stages[i], "part-*.parquet"))[0], dests[i])
    now = time.time()
    for i, dest in enumerate(dests):
        t = now - 1000 + (first + i) * 100
        os.utime(dest, (t, t))


# the 4-way chronological split of the multi-batch drains
_UPSERT_SPLIT_DAYS = ("2024-01-08", "2024-01-15", "2024-01-22")


def _day_chunks(ev: DataFrame, days: tuple) -> list:
    """``ev`` cut at the ``days`` boundaries into len(days) + 1
    chronological chunks (a null-ts row lands in none)."""
    d = F.to_date("ts")
    inner = [ev.where((d >= lo) & (d < hi)) for lo, hi in zip(days, days[1:])]
    return [ev.where(d < days[0]), *inner, ev.where(d >= days[-1])]


@query(
    "streaming_dedup_executed",
    oracle="""
SELECT event_type,
       count(*) AS n_unique_pairs,
       count(DISTINCT user_id) AS n_users
FROM (SELECT DISTINCT user_id, event_type FROM events)
GROUP BY event_type
""",
)
@session_memo
def streaming_dedup_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming EXECUTION under the value hash — not a batch
    twin: the events table streams through the file source
    (footer-sniffed like every other read), deduplicates per
    (user_id, event_type) with ``dropDuplicatesWithinWatermark``, and
    drains via an availableNow trigger into a memory sink; the
    registered result aggregates that sink. Exactly-one-row-per-key is
    ORDER-INDEPENDENT (which duplicate survives varies with micro-batch
    order; how many rows survive does not), and the 60-day watermark
    exceeds the corpus span so no state evicts mid-run and no file-order
    arrival counts as late — which is what makes a streaming run
    hash-comparable to batch DISTINCT.

    Plan/scale: streaming state is one entry per (user, type) inside
    the watermark horizon (bounded by arrival rate x lateness in
    production; here by key cardinality); the memory sink holds
    key-cardinality rows, not the stream."""
    scratch, src = _events_src(spark, "streamdedup", sf_dir)

    sink = os.path.basename(scratch)
    out = (
        read_events_stream(spark, src)
        .withWatermark("ts", "60 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    writer = out.writeStream.format("memory").queryName(sink).outputMode("append")
    drain(spark, writer, os.path.join(scratch, "ckpt"), src)
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_unique_pairs"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "streaming_enrich_executed",
    oracle="""
SELECT c.c_mktsegment,
       count(*) AS n_purchases,
       count(DISTINCT e.user_id) AS n_buyers
FROM events e JOIN customer c ON c.c_custkey = e.user_id
WHERE e.event_type = 'purchase'
GROUP BY c.c_mktsegment
""",
)
@session_memo
def streaming_enrich_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join EXECUTION under the value hash (the second
    live-streaming row beside streaming_dedup_executed): purchase
    events stream through the file source and join the STATIC customer
    dimension per micro-batch — the canonical streaming enrichment
    (Spark broadcasts the static side into each batch; no state, no
    watermark needed for an inner stream-static join) — then drain via
    availableNow into a memory sink whose per-segment aggregate is
    hash-compared against the batch join. Row-level join results are
    micro-batch-order independent, so the aggregate is deterministic.

    Plan/scale: the static side is dimension-sized and broadcast once
    per batch; the stream side filters to purchases AT THE SOURCE
    (pushdown applies to file-source streams too), so per-batch work is
    selective-scan + broadcast-probe."""
    scratch, src = _events_src(spark, "streamenrich", sf_dir, ("events", "customer"))

    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_mktsegment"
    )
    sink = os.path.basename(scratch)
    out = (
        read_events_stream(spark, src)
        .where(F.col("event_type") == "purchase")
        .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
        .select("user_id", "c_mktsegment")
    )
    writer = out.writeStream.format("memory").queryName(sink).outputMode("append")
    drain(spark, writer, os.path.join(scratch, "ckpt"), src)
    return (
        spark.table(sink)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.countDistinct("user_id").alias("n_buyers"),
        )
    )


# --- idempotent daily re-run (dynamic partition overwrite) ------------------

_OVR_DAYS = ("2024-01-05", "2024-01-07")  # inclusive window
_OVR_RERUN_DAY = "2024-01-06"


def _ovr_scratch(spark: SparkSession, sf_dir: str) -> str:
    """Overwrite-store scratch, keyed like every derived dir (see
    ``scratch.keyed_dir``). Dynamic partition overwrite replaces ONLY
    partitions present in the incoming frame, so a path shared across
    datasets would carry stale partitions of a previously-run sf_dir
    whenever a window day is absent at the new scale (hash mismatch);
    shared across processes, two concurrent runs would race (overwrite
    deletes files a live reader is scanning)."""
    return keyed_dir(spark, "ovr", sf_dir, ("events",))


@query(
    "ingest_overwrite_idempotent",
    oracle=f"""
SELECT CAST(ts AS DATE) AS day,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       min(event_id) AS min_event_id,
       max(event_id) AS max_event_id,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS value_sum
FROM events
WHERE CAST(ts AS DATE) BETWEEN '{_OVR_DAYS[0]}' AND '{_OVR_DAYS[1]}'
GROUP BY 1
""",
)
def ingest_overwrite_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent daily re-run semantics under the value hash — the
    backfill-retry pattern every production daily pipeline hits first.
    The reference re-runs execution dates freely (its Airflow window,
    tweets_and_market.py:15-17) but its INSERT loads would double-rows
    on retry; the engine-side fix is dynamic partition overwrite:
    ``mode("overwrite")`` with ``partitionOverwriteMode=dynamic``
    replaces ONLY the date partitions present in the incoming frame.

    Execution: load a 3-day events window into a day-partitioned store,
    then RE-RUN the middle day (same write, same data). The digest read
    back matches the source digest iff (a) the re-run replaced rather
    than appended its partition — no double-load — and (b) dynamic mode
    left the sibling partitions untouched (static overwrite would have
    deleted them; append mode would have doubled day two: either failure
    flips the hash).

    Plan/scale: the write shuffles once on the partition key; a re-run
    of one day rewrites one partition's files regardless of table size —
    O(day), not O(table) — which is exactly why this is the idempotency
    mechanism that survives 100 TB while DELETE+INSERT or full rewrites
    don't. The conf is set per-write and restored (it's a session conf;
    the driver's other queries must not inherit it)."""
    ev = load_table(spark, "events", sf_dir).withColumn(
        "day", F.to_date("ts")
    )
    win = ev.where(F.col("day").between(*_OVR_DAYS))
    path = os.path.join(_ovr_scratch(spark, sf_dir), "events_by_day")

    with session_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        win.write.partitionBy("day").mode("overwrite").parquet(path)
        # the daily re-run: same day loaded again (retry / backfill)
        ev.where(F.col("day") == _OVR_RERUN_DAY).write.partitionBy(
            "day"
        ).mode("overwrite").parquet(path)

    back = spark.read.parquet(path)
    return back.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("value_sum"),
    )


# --- streaming session-window aggregation (executed) ------------------------

# Imported here, not at the top: the batch twins' rows then register at
# this point of the registry, whose order decides the driver's window.
from .timeseries import (  # noqa: E402
    ATTRIBUTION_ORACLE,
    SESSION_WINDOW_ORACLE,
    SESSIONIZE_ORACLE,
)


def _session_window_closed_oracle() -> str:
    """The batch twin's oracle restricted to sessions CLOSED by the
    final watermark: append-mode streaming aggregation emits a session
    only once the watermark (here: corpus max ts, delay 0) passes its
    end, so sessions whose last event lies within one gap of the corpus
    end are still open state at drain time — by definition, not by
    defect. The filter states that emission contract in SQL."""
    return f"""
SELECT * FROM ({SESSION_WINDOW_ORACLE})
WHERE end_us <= (SELECT epoch_us(max(ts)) FROM events)
"""


@query("streaming_session_window_executed", oracle=_session_window_closed_oracle())
@session_memo
def streaming_session_window_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful WINDOWED aggregation executed as a live stream under the
    value hash — the third Structured-Streaming execution row (after
    dedup and stream-static join): events stream through the file
    source, aggregate per (user, 30-min session_window), and drain via
    availableNow into a memory sink in APPEND mode with a ZERO-delay
    watermark. Spark only supports append output for streaming session
    windows (update raises STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION),
    and append emits a session exactly once — when the watermark passes
    its end. A zero delay puts the final watermark at the corpus max
    event time, so every session except those still within one gap of
    the stream head is emitted finalized; the oracle is the batch
    twin's SQL (events_session_window_native) restricted to exactly
    those closed sessions. A hash match therefore proves the streaming
    operator's merge/emit logic equals the batch operator on all
    watermark-closed state.

    Correctness precondition (same as streaming_dedup_executed): the
    source dir holds ONE parquet file, so availableNow processes one
    data micro-batch and no event can arrive behind an already-advanced
    watermark — zero late drops. The emitting pass is the no-data
    finalization batch availableNow runs after the last data batch.

    Plan/scale: state is one open session per active user inside the
    gap horizon (bounded by arrival rate x gap in production); the sink
    holds session-cardinality rows, not events. In production the delay
    is tuned to tolerated lateness and sessions emit continuously as
    the watermark flows — the drain-at-end shape here is the bounded
    projection of that."""
    scratch, src = _events_src(spark, "streamsesswin", sf_dir)

    sink = os.path.basename(scratch)
    out = (
        read_events_stream(spark, src)
        .withWatermark("ts", "0 seconds")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("start_us"),
            F.unix_micros("sw.end").alias("end_us"),
            "n_events",
        )
    )
    writer = out.writeStream.format("memory").queryName(sink).outputMode("append")
    drain(spark, writer, os.path.join(scratch, "ckpt"), src)
    return spark.table(sink).select("user_id", "start_us", "end_us", "n_events")


# --- streaming interval join (executed) -------------------------------------


@query("streaming_interval_join_executed", oracle=ATTRIBUTION_ORACLE)
@session_memo
def streaming_interval_join_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join executed live under the value hash —
    the fourth Structured-Streaming execution row (dedup, stream-static
    join, session windows, and now the hardest shape): views and
    purchases stream as two watermarked sides of a self-joining event
    stream, matched per user within the 1-hour conversion horizon
    (streaming/daily.py::attribution_stream), drained via availableNow
    into a memory sink. The oracle is the batch twin's SQL
    (attribution_view_purchase) verbatim: an inner stream-stream join
    emits each matched pair exactly once as it forms (emission is not
    watermark-gated; the watermark only bounds state eviction and
    late-arrival tolerance), so with the corpus in one micro-batch and
    the watermark starting at zero, the streamed pair SET equals the
    batch join — and the driver hash is order-insensitive.

    Plan/scale: join state is O(traffic x horizon) per side — Spark
    evicts buffered views once the purchase-side watermark passes
    view_ts + horizon — so the join runs indefinitely on unbounded
    streams with bounded memory. Same single-file/single-batch
    precondition as the other streaming rows."""
    scratch, src = _events_src(spark, "streamattr", sf_dir)

    sink = os.path.basename(scratch)
    events = read_events_stream(spark, src)
    writer = attribution_stream(events).writeStream.format("memory").queryName(sink)
    drain(spark, writer.outputMode("append"), os.path.join(scratch, "ckpt"), src)
    return spark.table(sink).select(
        "view_id", "purchase_id", "user_id", "seconds_to_purchase"
    )


# --- stream-stream join state EVICTION proof (executed) ----------------------

# per-sf state-store metrics captured from the latest drain's progress
# events, for the pytest eviction assertions (engine metrics can't ride
# the oracle-hashed DataFrame)
_STREAM_EVICT_METRICS: dict[str, list] = {}


@query("streaming_join_state_eviction_executed", oracle=ATTRIBUTION_ORACLE)
@session_memo
def streaming_join_state_eviction_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join drained over FOUR chronological
    micro-batches with the state-store metrics captured — the bounded-
    state claim of streaming_interval_join_executed made EXECUTABLE
    (r13 verdict item 5: "streaming join with state TTL eviction
    proof"). The single-batch row proves the join semantics; this row
    proves the part that makes it runnable forever: as the watermark
    advances batch over batch, Spark EVICTS buffered views once the
    watermark passes view_ts + horizon (and purchases once it passes
    purchase_ts), so join state is O(traffic x horizon) rather than
    O(stream so far). tests/test_round14_ops.py asserts, from the
    drain's own progress events, that rows were removed from the state
    store and the final state row count is a small fraction of the
    rows that passed through it.

    Correctness across batch cuts: files are day-split and
    mtime-ordered, so nothing arrives behind the watermark; an inner
    stream-stream join emits pairs as they match (emission is not
    watermark-gated), and eviction (which lags one batch behind the
    displayed watermark) only drops views whose entire 1-hour horizon
    is already behind the watermark — whose purchases, living in the
    same or an earlier day file, have all been seen. Hence the streamed
    pair set equals the batch join, and the oracle is the batch twin's
    SQL verbatim.

    Plan/scale: the eviction proof depends on chronological batch
    order, which the staged files' pinned mtimes give."""
    scratch = keyed_dir(spark, "streamevict", sf_dir, ("events",))
    src = os.path.join(scratch, "src")
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, "events", sf_dir)
    _stage_chunks(_day_chunks(ev, _UPSERT_SPLIT_DAYS), scratch, src)

    sink = os.path.basename(scratch)
    events = read_events_stream(spark, src, max_files_per_trigger=1)
    writer = attribution_stream(events).writeStream.format("memory").queryName(sink)
    q = drain(spark, writer.outputMode("append"), os.path.join(scratch, "ckpt"), src)
    _STREAM_EVICT_METRICS[sf_dir] = [
        {
            "batch": p["batchId"],
            "numRowsTotal": p["stateOperators"][0]["numRowsTotal"],
            "numRowsUpdated": p["stateOperators"][0]["numRowsUpdated"],
            "numRowsRemoved": p["stateOperators"][0]["numRowsRemoved"],
        }
        for p in (json.loads(x.json) for x in q.recentProgress)
        if p.get("stateOperators")
    ]
    return spark.table(sink).select(
        "view_id", "purchase_id", "user_id", "seconds_to_purchase"
    )


# --- watermark late-data DROP accounting (executed) --------------------------

LATE_WATERMARK = "5 days"
LATE_REPLAY_LAST_DAY = "2024-01-10"  # days 1..10 re-delivered late


@query(
    "streaming_late_drop_executed",
    oracle="""
WITH wm AS (SELECT max(ts) - INTERVAL 5 DAY AS w FROM events)
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS value_sum
FROM events, wm
WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm.w
GROUP BY 1
""",
)
@session_memo
def streaming_late_drop_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA DROP executed live under the value hash — the
    streaming-family row the single-file drains can't exercise (their
    one data micro-batch means nothing can arrive behind an advanced
    watermark). Three source files force three micro-batches
    (maxFilesPerTrigger=1, mtime-ordered), because Spark's late filter
    runs one batch BEHIND the displayed watermark (measured here:
    batch N filters input with the watermark committed entering batch
    N-1, so a replay in the very next batch after the corpus still
    MERGES — numRowsDroppedByWatermark 0 — before eviction emits at
    that batch's end):

      batch 0 — the full corpus; its stats set the watermark to
        max(ts) - 5 days (~Jan 25).
      batch 1 — a clock tick: a re-delivery of the max-ts event(s)
        only. It merges into the stream-head window, which lies beyond
        the final watermark and is therefore never emitted — invisible
        in append output, but it advances the query one batch so the
        Jan-25 watermark becomes the ACTIVE input filter.
      batch 2 — the late replay: every day-1..10 event re-delivered
        weeks behind the watermark. Their windows were evicted at the
        end of batch 1, and the now-active filter DROPS every row
        (this run's numRowsDroppedByWatermark accounts for them).

    The oracle counts each event ONCE from the events table, restricted
    to windows the final watermark closed. A hash match therefore
    proves BOTH late-data semantics at once: the replays were dropped
    (else days 1-10 double-count), and append mode emitted exactly the
    watermark-closed windows (else days 25+ appear, or the clock tick
    surfaces). Margins are hours wide on every comparison — no midnight
    tie decides the result.

    Plan/scale: the aggregation state is one row per (day window) —
    bounded by the watermark horizon, not stream history; a dropped
    late row costs one filter, which is the point: replay storms at
    100 TB hit the watermark gate, not the state store."""
    scratch = keyed_dir(spark, "streamlate", sf_dir, ("events",))
    src = os.path.join(scratch, "src")
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, "events", sf_dir)
    # clock tick: the max-ts event(s) — beyond the final watermark,
    # never emitted, exists only to activate the input filter
    mx = ev.agg(F.max("ts").alias("m"))
    tick = ev.join(F.broadcast(mx), ev.ts == F.col("m")).drop("m")
    replay = ev.where(F.to_date("ts") <= F.lit(LATE_REPLAY_LAST_DAY).cast("date"))
    _stage_chunks([ev, tick, replay], scratch, src)

    sink = os.path.basename(scratch)
    out = (
        read_events_stream(spark, src, max_files_per_trigger=1)
        .withWatermark("ts", LATE_WATERMARK)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("value_sum"),
        )
        .select(F.to_date("w.start").alias("day"), "n_events", "value_sum")
    )
    writer = out.writeStream.format("memory").queryName(sink).outputMode("append")
    drain(spark, writer, os.path.join(scratch, "ckpt"), src)
    return spark.table(sink).select("day", "n_events", "value_sum")


# --- UPDATE / COMPLETE output modes (executed) -------------------------------
# The drains above cover append mode and foreachBatch sinks; these two
# rows close the output-mode matrix. A deterministic two-batch
# choreography (events split at a day boundary, maxFilesPerTrigger=1,
# mtime-ordered) makes each mode's EMISSION CONTRACT the thing under
# the value hash:
#   update   — a batch emits exactly the keys it changed, so the sink
#              accumulates prefix counts for batch-1 types plus final
#              totals for types batch 2 touched;
#   complete — every batch re-emits the full aggregate and the memory
#              sink REPLACES its contents, so only the final totals
#              survive (an append-semantics bug would double rows).

MODE_SPLIT_DAY = "2024-01-15"  # batch 1: day <= this; batch 2: the rest


@session_memo
def _drain_mode(
    spark: SparkSession, sf_dir: str, mode: str
) -> DataFrame:
    """Run the per-type count aggregate through a two-batch stream (the
    events table split at MODE_SPLIT_DAY, one micro-batch per file) in
    the given output mode and return the memory sink's final contents."""
    scratch = keyed_dir(spark, f"streammode_{mode}", sf_dir, ("events",))
    src = os.path.join(scratch, "src")
    os.makedirs(src, exist_ok=True)
    ev = load_table(spark, "events", sf_dir)
    split = F.lit(MODE_SPLIT_DAY).cast("date")
    chunks = [ev.where(F.to_date("ts") <= split), ev.where(F.to_date("ts") > split)]
    _stage_chunks(chunks, scratch, src)
    sink = os.path.basename(scratch)
    out = (
        read_events_stream(spark, src, max_files_per_trigger=1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    writer = out.writeStream.format("memory").queryName(sink).outputMode(mode)
    drain(spark, writer, os.path.join(scratch, "ckpt"), src)
    return spark.table(sink).select("event_type", "n_events")


@query(
    "streaming_update_mode_executed",
    oracle=f"""
WITH early AS (
    SELECT event_type, count(*) AS n_events FROM events
    WHERE CAST(date_trunc('day', ts) AS DATE) <= DATE '{MODE_SPLIT_DAY}'
    GROUP BY 1
),
total AS (SELECT event_type, count(*) AS n_events FROM events GROUP BY 1),
late_types AS (
    SELECT DISTINCT event_type FROM events
    WHERE CAST(date_trunc('day', ts) AS DATE) > DATE '{MODE_SPLIT_DAY}'
)
SELECT event_type, n_events FROM early
UNION ALL
SELECT t.event_type, t.n_events FROM total t JOIN late_types USING (event_type)
""",
)
def streaming_update_mode_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode executed under the value hash: a running
    per-type count over two micro-batches emits, per batch, exactly the
    keys that batch CHANGED — so the memory sink's final contents are
    the batch-1 prefix counts (for types the early file carries) plus
    the final totals (for types the late file touched), and nothing
    else. The oracle states both emission sets in SQL; a mode bug in
    either direction (re-emitting unchanged keys, or emitting only
    final state) changes the row multiset and fails the hash. No
    watermark: a running total's state is key-cardinality-bounded here;
    production puts windows + watermarks in front (the tumbling rows),
    this row isolates the MODE contract.

    Plan/scale: state is |types| rows; the sink accumulates one row per
    (batch, changed key)."""
    return _drain_mode(spark, sf_dir, "update")


@query(
    "streaming_complete_mode_executed",
    oracle="""
SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type
""",
)
def streaming_complete_mode_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE output mode executed under the value hash: every batch
    re-emits the FULL aggregate and the memory sink REPLACES its
    contents, so after the two-batch drain exactly the final totals
    survive — the oracle is the plain batch aggregate. The mode
    semantics are what's checked: if the sink appended instead of
    replacing (or a batch emitted a partial aggregate), the multiset
    gains prefix rows and the hash fails. Complete mode is the
    dashboard-refresh shape — viable only while the aggregate stays
    small, which |event types| is; the update row is the incremental
    alternative when it isn't.

    Plan/scale: identical two-batch choreography and caching as the
    update row; the re-emission cost of complete mode is |keys| per
    batch, the reason production bounds it to monitoring-cardinality
    aggregates."""
    return _drain_mode(spark, sf_dir, "complete")


# --- custom stateful operator (applyInPandasWithState) executed -------------


@query(
    "streaming_stateful_sessionize_executed",
    oracle=f"""
WITH agg AS ({SESSIONIZE_ORACLE})
SELECT user_id, session_seq, n_events, session_date
FROM agg
WHERE session_seq < (SELECT max(a2.session_seq) FROM agg a2
                     WHERE a2.user_id = agg.user_id)
""",
)
@session_memo
def streaming_stateful_sessionize_executed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CUSTOM stateful streaming operator executed live under the
    value hash — the fifth streaming row, and the one that exercises
    the applyInPandasWithState surface (per-key Python state machine,
    Arrow-batched; the operator class SURVEY §2.7 maps to
    'applyInPandasWithState for custom stateful operators'): the
    gap-based sessionizer in streaming/stateful.py folds each user's
    events through keyed state and EMITS a session when the next one
    opens. A session still open at stream end stays in state
    (NoTimeout, nothing closes it), so the drained sink holds exactly
    every session except each user's LAST — and the oracle states that
    contract: the batch sessionize SQL (events_sessionize's oracle
    verbatim) minus each user's max session_seq. The hash match proves
    the Python state machine's fold (order, gap compare, seq
    numbering, date labeling) equals the batch islands operator on all
    closed state.

    Correctness precondition: one parquet file -> one data micro-batch,
    so each user's events arrive as one sorted group (the in-batch
    (ts, event_id) sort is the same total order the batch window
    uses). Plan/scale: state is one 4-field tuple per user; emission
    is session-cardinality; the Python stage is Arrow-batched per
    micro-batch group, not per row."""
    scratch, src = _events_src(spark, "streamstateful", sf_dir)

    from ..streaming.stateful import run_sessionize_available_now

    sink = os.path.basename(scratch)
    run_sessionize_available_now(spark, src, os.path.join(scratch, "ckpt"), sink_table=sink)
    return spark.table(sink).select(
        "user_id", "session_seq", "n_events", "session_date"
    )


# --- checkpointed restart/resume (executed) ---------------------------------

_RESUME_SPLIT_DAY = "2024-01-15"


@query(
    "streaming_restart_resume_executed",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT event_id) AS n_distinct_events,
       min(event_id) AS min_event_id,
       max(event_id) AS max_event_id
FROM events
GROUP BY event_type
""",
)
@session_memo
def streaming_restart_resume_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed RESTART/RESUME executed under the value hash — the
    exactly-once property that makes streaming pipelines operable: the
    events corpus is split into two source files; drain one runs with
    only the first file present (availableNow -> parquet sink +
    checkpoint), the second file then "arrives", and drain two is a NEW
    streaming query on the SAME checkpoint and sink. The file source's
    seen-files log makes the restarted query process ONLY the new file,
    and the sink's _spark_metadata commits each batch's files exactly
    once. The digest over the sink equals the batch digest over the
    full corpus iff the restart neither reprocessed (n_events ==
    n_distinct_events — any replay doubles rows of file one) nor lost
    data (both halves' ids present). pytest pins the same property
    in-engine (tests/test_streaming.py::test_file_sink_incremental_
    restart); this row puts it under the cross-engine hash.

    Plan/scale: pure source->sink passthrough, no state; checkpoint
    cost is the seen-file log and per-batch sink manifest — the
    mechanism is O(files), independent of data volume, which is why
    the same resume works after a 100 TB backfill."""
    scratch = keyed_dir(spark, "streamresume", sf_dir, ("events",))
    src = os.path.join(scratch, "src")
    os.makedirs(src, exist_ok=True)
    sink = os.path.join(scratch, "sink")

    ev = load_table(spark, "events", sf_dir)
    half1 = ev.where(F.to_date("ts") <= _RESUME_SPLIT_DAY)
    half2 = ev.where(F.to_date("ts") > _RESUME_SPLIT_DAY)

    def _drain() -> None:
        out = read_events_stream(spark, src).select(
            "event_id", "user_id", "event_type", "value", "ts"
        )
        writer = out.writeStream.format("parquet").option("path", sink)
        drain(spark, writer, os.path.join(scratch, "ckpt"), src)

    _stage_chunks([half1], scratch, src)
    _drain()
    _stage_chunks([half2], scratch, src, first=1)
    _drain()  # the restart: same checkpoint, same sink, new file only

    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_id").alias("n_distinct_events"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
    )


# --- streaming foreachBatch idempotent-upsert sink (executed) ---------------


@query(
    "streaming_upsert_sink_executed",
    oracle="""
SELECT user_id,
       CAST(ts AS DATE) AS last_day,
       event_id AS last_event_id,
       value AS last_value
FROM (
    SELECT user_id, ts, event_id, value,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
) WHERE rn = 1
""",
)
@session_memo
def streaming_upsert_sink_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch idempotent-UPSERT sink executed under the value
    hash — the production glue between streaming/daily.py and the
    serving tables that no prior row exercised: the events corpus is
    split into four chronological source files; availableNow with
    maxFilesPerTrigger=1 drains them as four micro-batches, each
    MERGEd into a versioned parquet snapshot via
    merge_upsert_conditional (per user keep the greater
    (ts, event_id) row — Delta's WHEN MATCHED AND s.ts > t.ts guard,
    order-independent and idempotent). The corpus is then RE-DRAINED
    from a FRESH checkpoint into the same store — the full-backfill
    retry — and the query asserts the snapshot is bit-identical
    before returning it: exactly-once AT THE SINK, complementing the
    source-side restart/resume row. The digest equals batch
    latest-per-user iff no batch double-applied, no replay shifted a
    row, and the conditional guard never let an older row clobber a
    newer one.

    Plan/scale: per batch one compaction shuffle of the small batch +
    one broadcast-able full-outer join; the snapshot streams
    map-side. Versions grow monotonically across drains so a re-drain
    never overwrites a committed snapshot in place."""
    scratch = keyed_dir(spark, "streamupsert", sf_dir, ("events",))
    src = os.path.join(scratch, "src")
    os.makedirs(src, exist_ok=True)
    store = os.path.join(scratch, "store")

    ev = load_table(spark, "events", sf_dir)
    _stage_chunks(_day_chunks(ev, _UPSERT_SPLIT_DAYS), scratch, src)

    first_path = run_conditional_upsert_available_now(
        spark, src, store, os.path.join(scratch, "ckpt1"), max_files_per_trigger=1
    )
    first = spark.read.parquet(first_path)
    # the full-backfill retry: fresh checkpoint, same input, same store
    final_path = run_conditional_upsert_available_now(
        spark, src, store, os.path.join(scratch, "ckpt2"), max_files_per_trigger=1
    )
    assert final_path != first_path, "re-drain must write new versions"
    final = read_snapshot(spark, store)
    diff = (
        first.exceptAll(final).count() + final.exceptAll(first).count()
    )
    assert diff == 0, f"re-drain changed the snapshot: {diff} differing rows"

    return final.select(
        "user_id",
        F.to_date("ts").alias("last_day"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


# --- streaming drift monitor (executed) --------------------------------------


def _drift_oracle() -> str:
    from .timeseries import DRIFT_TV_ORACLE

    return DRIFT_TV_ORACLE


@query("streaming_drift_monitor_executed", oracle=_drift_oracle())
@session_memo
def streaming_drift_monitor_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift MONITOR in its production form, executed under the
    value hash: events stream in four chronological micro-batches
    (availableNow, maxFilesPerTrigger=1), a foreachBatch sink maintains
    the per-(day, event_type) counts table incrementally with
    deterministic-predecessor versioning (streaming/daily.py::
    apply_counts_batch — additive folds are NOT replay-idempotent, so
    exactly-once comes from version arithmetic: v{n} is always rebuilt
    from v{n-1} and committed replays are skipped; the pytest drill
    replays a batch and asserts no double-count), and the day-over-day
    total-variation drift derives from the FINAL maintained snapshot via
    the same arithmetic as the batch row (timeseries.py::
    drift_tv_from_daily). The oracle is the batch row's SQL verbatim:
    streamed-incremental == batch because per-(day, type) counts are
    additive under any batching of the input — the identity the hash
    pins.

    Plan/scale: each micro-batch aggregates map-side to monitoring
    cardinality before touching the snapshot; the fold joins two
    |days| x |types| tables. This is the O(batch) daily-monitoring path
    — the full-corpus recompute (events_type_drift_tv) is the audit
    twin."""
    from .timeseries import drift_tv_from_daily

    scratch = keyed_dir(spark, "streamdrift", sf_dir, ("events",))
    src = os.path.join(scratch, "src")
    os.makedirs(src, exist_ok=True)
    store = os.path.join(scratch, "store")

    ev = load_table(spark, "events", sf_dir)
    _stage_chunks(_day_chunks(ev, _UPSERT_SPLIT_DAYS), scratch, src)

    final_path = run_counts_merge_available_now(
        spark, src, store, os.path.join(scratch, "ckpt"), max_files_per_trigger=1
    )
    daily = spark.read.parquet(final_path)
    return drift_tv_from_daily(daily)


# --- stateful streaming funnel (executed, round 13) ---------------------------


def _funnel_executed_oracle() -> str:
    from .timeseries import FUNNEL_STAGES, FUNNEL_WINDOW_MIN

    return f"""
WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
v AS (
    SELECT user_id, min(struct_pack(ts := ts, eid := event_id)) AS s1
    FROM e WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(struct_pack(ts := e.ts, eid := e.event_id)) AS s2
    FROM e JOIN v ON v.user_id = e.user_id
    WHERE e.event_type = '{FUNNEL_STAGES[1]}'
      AND struct_pack(ts := e.ts, eid := e.event_id) > v.s1
      AND e.ts <= v.s1['ts'] + INTERVAL '{FUNNEL_WINDOW_MIN} minutes'
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, min(struct_pack(ts := e.ts, eid := e.event_id)) AS s3
    FROM e JOIN c ON c.user_id = e.user_id
    WHERE e.event_type = '{FUNNEL_STAGES[2]}'
      AND struct_pack(ts := e.ts, eid := e.event_id) > c.s2
      AND e.ts <= c.s2['ts'] + INTERVAL '{FUNNEL_WINDOW_MIN} minutes'
    GROUP BY e.user_id
),
stages AS (
    SELECT v.user_id,
           CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN c.user_id IS NOT NULL THEN 2
                ELSE 1 END AS deepest_stage
    FROM v
    LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
)
SELECT CAST(deepest_stage AS INT) AS deepest_stage,
       CAST(count(*) AS BIGINT) AS n_users
FROM stages GROUP BY deepest_stage
"""


@query("streaming_funnel_executed", oracle=_funnel_executed_oracle())
@session_memo
def streaming_funnel_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered-sequence FUNNEL as a custom stateful streaming
    operator, executed under the value hash (the 12th executed
    streaming row; r12 verdict item 4): events drain in four
    chronological micro-batches (availableNow, maxFilesPerTrigger=1 —
    the drift/upsert rows' choreography) through
    streaming/stateful.py::funnel_stateful — applyInPandasWithState
    with per-user state of ONE (stage, stage_ts) pair, the state-store
    bound the batch row's docstring promises: the batch fold
    collect_lists a user's whole history per run; the streaming form
    carries 12 bytes per user forever, which is why it exists (the r12
    skew probe measured the batch fold at exponent 1.28 under a
    one-user-holds-10% corpus — this operator is flat in history
    length by construction).

    The sink holds a row per stage TRANSITION; the query derives each
    funnel-entered user's deepest stage (max over transitions) and
    returns the (deepest_stage, n_users) histogram for stages 1-3. The
    oracle is the batch funnel's min-struct chain restricted to users
    who viewed — streamed == batch because micro-batches split on day
    boundaries (no (ts, event_id) order crosses a batch cut) and the
    in-batch sort is the batch fold's total order; the hash match
    proves the Python state machine (window gate, first-touch anchor,
    no-revive expiry) equals the codegen fold and the relational chain
    on every user.

    Plan/scale: state per user is (int, long) — |active users| bound,
    never history bound; emission is transition-cardinality; the
    Python stage is Arrow-batched. The deepest-stage derivation is one
    user-keyed aggregate over the (tiny) transition log."""
    from ..streaming.stateful import run_funnel_available_now
    from .timeseries import FUNNEL_STAGES, FUNNEL_WINDOW_MIN

    scratch = keyed_dir(spark, "streamfunnel", sf_dir, ("events",))
    src = os.path.join(scratch, "src")
    os.makedirs(src, exist_ok=True)

    ev = load_table(spark, "events", sf_dir)
    # the stateful funnel is order-sensitive: the staged files' pinned
    # mtimes keep the batches chronological
    _stage_chunks(_day_chunks(ev, _UPSERT_SPLIT_DAYS), scratch, src)

    sink = os.path.basename(scratch)
    run_funnel_available_now(
        spark,
        src,
        os.path.join(scratch, "ckpt"),
        FUNNEL_STAGES,
        FUNNEL_WINDOW_MIN * 60 * 1_000_000,
        sink_table=sink,
        max_files_per_trigger=1,
    )

    return (
        spark.table(sink)
        .groupBy("user_id")
        .agg(F.max("stage").alias("deepest_stage"))
        .groupBy(F.col("deepest_stage").cast("int").alias("deepest_stage"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


# --- streaming compaction-trigger sink (executed, round 15) ------------------

# overlap window both micro-batches touch (split inside it by event_id
# parity): the second batch re-touches — and re-compacts — days the
# first already compacted, the late-arrival pattern that makes
# "maintenance keeps pace with ingest" a real property, not a one-shot
_COMPACT_SINK_OVERLAP = ("2024-01-14", "2024-01-16")


@query(
    "streaming_compaction_sink_executed",
    oracle=f"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       {_EVENTS_DIGEST_SQL}
FROM events
GROUP BY 1
""",
)
@session_memo
def streaming_compaction_sink_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compaction-trigger SINK executed under the value hash (the
    14th executed streaming row; r14 verdict item 1b): two
    chronologically staged micro-batches drain through
    streaming/daily.py::run_partitioned_sink_with_compaction — each
    batch appends day-partitioned rows and immediately runs the
    stats-driven selective compaction scoped to EXACTLY the days it
    touched (compact_partitions(only_partitions=...), O(touched)
    listing since r15). The batches split an overlap window by
    event_id parity, so batch two re-touches and re-compacts days
    batch one already compacted — late-arrival maintenance keeping
    pace with ingest, with per-batch manifests asserted in-query
    (every touched day rewritten to one file) and the overlap
    choreography pinned on the fixture corpus in
    tests/test_streaming.py::test_partitioned_sink_compaction_keeps_pace.
    The digest over the twice-compacted sink hashing equal to the
    batch oracle over the ORIGINAL events is the point: ingest +
    in-band maintenance is lossless and duplicate-free
    (n_events == n_distinct_events catches any foreachBatch replay).

    Plan/scale: per batch the append is a map-side partitioned write,
    the touched set is a tiny distinct, and compaction costs O(that
    batch's fragmented bytes) — never O(table): the small-file debt of
    a 100 TB streaming table can never accumulate past one trigger.
    NULL-ts rows route to the hive default partition (never compacted,
    never lost — the digest covers them)."""
    scratch = keyed_dir(spark, "streamcompact", sf_dir, ("events",))
    src = os.path.join(scratch, "src")
    os.makedirs(src, exist_ok=True)
    out = os.path.join(scratch, "sink")

    ev = load_table(spark, "events", sf_dir)
    d = F.to_date("ts")
    lo, hi = _COMPACT_SINK_OVERLAP
    in_overlap = (d >= F.lit(lo).cast("date")) & (d <= F.lit(hi).cast("date"))
    # c1 NULL (null ts) coalesces to chunk one: the two chunks PARTITION
    # the corpus exactly — no row dropped, none duplicated, even on
    # adversarial null-ts data (the fuzz corpus plants it)
    c1 = (d < F.lit(lo).cast("date")) | (in_overlap & (F.col("event_id") % 2 == 0))
    chunk1 = F.coalesce(c1, F.lit(True))
    _stage_chunks([ev.where(chunk1), ev.where(~chunk1)], scratch, src)

    manifests: list = []
    ckpt = os.path.join(scratch, "ckpt")
    # re-entry in the same process (appId changed, cache evicted): the
    # checkpoint has committed both batches, so the drain below is a
    # no-op against a complete sink — the manifest asserts only apply
    # to a FRESH drain (the funnel/resume rows' idempotent-re-entry
    # discipline)
    fresh = not os.path.exists(ckpt)
    run_partitioned_sink_with_compaction(
        spark,
        src,
        out,
        ckpt,
        max_files=0,  # always-compact-touched: every batch maintains
        manifests=manifests,
        max_files_per_trigger=1,
    )

    if fresh:
        assert len(manifests) == 2, f"expected 2 micro-batches, got {len(manifests)}"
        for _bid, m in manifests:
            assert all(rec["rewritten"] for rec in m.values()), m
            assert all(rec["files_after"] == 1 for rec in m.values()), m

    return _events_digest(
        spark.read.parquet(out), F.col("day").cast("string").alias("day")
    )


# --- snapshot time travel under compaction (round 15) ------------------------

_SNAP_TT_CUT = "2024-01-16"  # chronological batch cut for the version chain


@query(
    "snapshot_time_travel_compacted",
    oracle=f"""
WITH first_latest AS (
    SELECT user_id, ts, event_id, value,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
    WHERE CAST(ts AS DATE) < DATE '{_SNAP_TT_CUT}' OR ts IS NULL
),
all_latest AS (
    SELECT user_id, ts, event_id, value,
           row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT 'v_first' AS version_tag, user_id,
       CAST(ts AS DATE) AS last_day,
       event_id AS last_event_id, value AS last_value
FROM first_latest WHERE rn = 1
UNION ALL
SELECT 'latest' AS version_tag, user_id,
       CAST(ts AS DATE) AS last_day,
       event_id AS last_event_id, value AS last_value
FROM all_latest WHERE rn = 1
""",
)
@session_memo
def snapshot_time_travel_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF reads SURVIVE layout repair, executed under the value hash
    (r14 verdict item 1c): two chronological micro-batches build a
    versioned MERGE snapshot chain (run_conditional_upsert_available_now
    — v_first = latest-per-user over the pre-cut slice, latest = over
    everything), then compact_snapshot_version rewrites BOTH committed
    versions in place (per-version hidden-sibling swap, entry-time
    crash recovery since r15), and the query returns the pinned v_first
    read UNION the latest read — each tagged — hashed against the batch
    oracle's two row_number() slices. A hash match means compaction
    changed file counts (asserted in-query: one data file per version)
    while every version's CONTENT — not just the newest — stayed
    byte-equal: the time-travel contract a lakehouse VACUUM/OPTIMIZE
    must keep.

    Determinism: the conditional merge keeps the greater (ts,
    event_id) row per user — order-independent and idempotent (the
    upsert row's fuzz-proven semantics), so both versions are exact
    row_number() slices of the source. Null-ts rows route to the first
    batch on both sides.

    Plan/scale: snapshot versions are immutable after commit, so
    per-version compaction never races the writer — safe beside live
    ingest; each rewrite costs O(that version's bytes), a coalesce
    with no shuffle."""
    import re as _re

    from ..operators.maintenance import compact_snapshot_version

    scratch = keyed_dir(spark, "snaptt", sf_dir, ("events",))
    src = os.path.join(scratch, "src")
    os.makedirs(src, exist_ok=True)
    store = os.path.join(scratch, "store")

    ev = load_table(spark, "events", sf_dir)
    d = F.to_date("ts")
    # null-ts rows coalesce into batch one: the chunks partition exactly
    c1 = F.coalesce(d < F.lit(_SNAP_TT_CUT).cast("date"), F.lit(True))
    _stage_chunks([ev.where(c1), ev.where(~c1)], scratch, src)
    run_conditional_upsert_available_now(
        spark, src, store, os.path.join(scratch, "ckpt"), max_files_per_trigger=1
    )

    versions = sorted(
        int(m.group(1))
        for p in os.listdir(store)
        if (m := _re.fullmatch(r"v(\d+)", p))
    )
    assert len(versions) == 2, f"expected a 2-version chain, got {versions}"
    v_first, v_latest = versions[0], versions[-1]

    # layout repair across the WHOLE chain: every committed version
    # compacts in place; AS-OF reads must come back identical
    for v in (v_first, v_latest):
        compact_snapshot_version(spark, store, v)
        files = [
            f
            for f in os.listdir(os.path.join(store, f"v{v}"))
            if not f.startswith(("_", "."))
        ]
        assert len(files) == 1, f"v{v} not compacted to one file: {files}"

    def tagged(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.lit(tag).alias("version_tag"),
            "user_id",
            F.to_date("ts").alias("last_day"),
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )

    return tagged(read_snapshot(spark, store, version=v_first), "v_first").unionByName(
        tagged(read_snapshot(spark, store), "latest")
    )


# --- manifest-commit table round-trip (round 15) -----------------------------

_LAKEHOUSE_CUT = "2024-01-16"  # append boundary for the two commits


@query(
    "lakehouse_manifest_roundtrip",
    oracle=f"""
WITH pre AS (
    SELECT * FROM events
    WHERE CAST(ts AS DATE) < DATE '{_LAKEHOUSE_CUT}' OR ts IS NULL
)
SELECT 'v1' AS version_tag, event_type,
       {_EVENTS_DIGEST_SQL}
FROM pre GROUP BY event_type
UNION ALL
SELECT 'latest' AS version_tag, event_type,
       {_EVENTS_DIGEST_SQL}
FROM events GROUP BY event_type
""",
)
@session_memo
def lakehouse_manifest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The manifest-commit protocol executed under the value hash: the
    events corpus lands in a manifest table (operators/lakehouse.py) as
    two commits — initial write (pre-cut slice) then append — a reader
    PINS the v1 manifest, compaction commits a new manifest over the
    fragmented file set, and the query returns the pinned-v1 read UNION
    the post-compaction latest read, hashed against the batch oracle's
    two slices. The hash match certifies the protocol's whole contract
    at once: appends never touched v1's files (the pinned read still
    serves the pre-append slice), the compaction rewrite was lossless,
    and — asserted in-query — every v1 file still exists AFTER the
    compaction commit, the concurrent-reader guarantee the directory-
    swap operators document as out of scope (their single-writer
    window). Null-ts rows route to the first commit on both sides.

    Plan/scale: this is Delta/Iceberg's commit shape reduced to its
    minimum on plain parquet — file listing moves into an immutable
    manifest, "commit" is an atomic pointer flip, so maintenance can
    run DURING reads with zero coordination; at 100 TB the flip
    becomes a conditional PUT / catalog swap and the manifest gains
    file stats for pruning (the protocol is unchanged). Reads plan
    from the pinned file list — no directory listing at all."""
    from ..operators.lakehouse import (
        append_manifest_table,
        compact_manifest_table,
        current_manifest,
        read_manifest_table,
        write_manifest_table,
    )

    scratch = keyed_dir(spark, "lakehouse", sf_dir, ("events",))
    root = os.path.join(scratch, "table")

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    d = F.to_date("ts")
    c1 = F.coalesce(d < F.lit(_LAKEHOUSE_CUT).cast("date"), F.lit(True))

    if not os.path.exists(os.path.join(root, "_latest")):
        write_manifest_table(spark, ev.where(c1), root, n_files=4)
        append_manifest_table(spark, ev.where(~c1), root, n_files=4)
        rec = compact_manifest_table(spark, root)
        assert rec["files_after"] < rec["files_before"], rec
    # pin v1 by NAME from the immutable manifest log (not the current
    # pointer), so re-entry in the same process — appId changed, cache
    # evicted, scratch already built — pins the same version it always
    # did; manifests are immutable and vacuum never runs here
    with open(os.path.join(root, "_manifests", "m1.json")) as fh:
        pin_v1 = json.load(fh)
    assert current_manifest(root)["version"] == 3
    # the concurrent-reader property: v1's files survive the commits
    assert all(
        os.path.exists(os.path.join(root, f)) for f in pin_v1["files"]
    ), "append/compaction touched a pinned manifest's files"

    def digest(df: DataFrame, tag: str) -> DataFrame:
        return _events_digest(df, "event_type").select(
            F.lit(tag).alias("version_tag"), "*"
        )

    return digest(read_manifest_table(spark, root, pin_v1), "v1").unionByName(
        digest(read_manifest_table(spark, root), "latest")
    )


# --- stats-driven selective partition compaction (round 14) ------------------
# The maintenance half of the S2 partitioned layout: streaming/micro-
# batch ingest fragments the partitions it touches into many small
# files (each an open + a task per scan), and the fix at 100 TB must be
# INCREMENTAL — rewrite only the partitions whose file stats breach a
# threshold, leave compact history byte-untouched. The reference never
# compacts (its daily output is ~1 row, tweets.py:81-82); any engine
# serving its ingest pattern at scale compacts daily.

# bump whenever the staging/compaction arithmetic changes (the r14
# CODEBOOK_VERSION discipline): the scratch key must never serve a
# pre-change artifact to post-change code
_COMPACT_DEMO_VERSION = 2
_COMPACT_FRAG_FILES = 6  # debris width staged for the fragmented dates
_COMPACT_FRAG_DOM = 10  # day-of-month <= this -> staged fragmented
_COMPACT_MAX_FILES = 3  # breach rule: compact partitions with more files


def _compacted_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Keyed scratch build: the events table laid out by
    ``event_date`` with planted small-file debris (dates with
    day-of-month <= _COMPACT_FRAG_DOM written via round-robin
    ``repartition(6)`` -> ~6 files each, the rest one file each), then
    compacted IN PLACE by ``compact_partitions``. ``_pre_stats.json`` /
    ``_post_stats.json`` / ``_compact_manifest.json`` (underscore-
    prefixed: invisible to scans) snapshot the file inventory around the
    rewrite so pytest can prove selectivity — breaching partitions
    collapse, healthy partitions keep identical (name, size, mtime)
    files — instead of asserting it.

    Since r17 this build backs only the PYTEST pins of the swap
    compactor's selective/lossless contract (test_round14_ops.py) — the
    registered row migrated to the manifest-commit build below
    (_manifest_compacted_events_root), one maintenance story."""
    from ..operators.maintenance import compact_partitions, partition_file_stats

    parent = keyed_dir(
        spark, "compactev", sf_dir, ("events",),
        (_COMPACT_DEMO_VERSION, _COMPACT_FRAG_FILES, _COMPACT_FRAG_DOM, _COMPACT_MAX_FILES),
    )
    path = os.path.join(parent, "data")

    def _write(tmp: str) -> None:
        ev = load_table(spark, "events", sf_dir).withColumn(
            "event_date", F.to_date("ts")
        )
        # coalesce(False): a NULL event_date must land in exactly one
        # slice (a bare ~frag is NULL for NULL dates and would silently
        # drop the row from the staged table)
        frag = F.coalesce(
            F.dayofmonth("event_date") <= _COMPACT_FRAG_DOM, F.lit(False)
        )
        # round-robin repartition spreads every date over all tasks ->
        # each fragmented date dir gets ~_COMPACT_FRAG_FILES files (the
        # micro-batch debris shape); the healthy slice hash-partitions
        # on the date -> exactly one file per date dir
        ev.where(frag).repartition(_COMPACT_FRAG_FILES).write.partitionBy(
            "event_date"
        ).parquet(tmp)
        ev.where(~frag).repartition("event_date").write.mode("append").partitionBy(
            "event_date"
        ).parquet(tmp)
        with open(os.path.join(tmp, "_pre_stats.json"), "w") as fh:
            json.dump(partition_file_stats(tmp), fh)
        manifest = compact_partitions(
            spark, tmp, max_files=_COMPACT_MAX_FILES
        )
        with open(os.path.join(tmp, "_compact_manifest.json"), "w") as fh:
            json.dump(manifest, fh)
        with open(os.path.join(tmp, "_post_stats.json"), "w") as fh:
            json.dump(partition_file_stats(tmp), fh)

    materialize_once(path, _write)
    return path


def _manifest_compacted_events_root(spark: SparkSession, sf_dir: str) -> str:
    """Keyed scratch build: the compaction_incremental_events
    scenario rebuilt through the MANIFEST-COMMIT path (the r16->r17
    swap->manifest migration; equivalence pinned first in
    tests/test_round16_ops.py::test_migration_equivalence_swap_scenario_
    through_manifest): the healthy slice (day-of-month >
    _COMPACT_FRAG_DOM, plus null dates) commits as version 1 CLUSTERED
    by event_date, six disjoint micro-batch debris appends plant the
    fragmented dates, and ONE incremental OPTIMIZE scoped to exactly the
    fragmented day values (``only_values`` -> files_for_values over the
    manifest stats) repairs them — committed as a pointer flip, no
    per-directory swap window, untouched files carried verbatim.

    ``_migration_audit.json`` (root-level, underscore-prefixed:
    invisible to the manifest protocol) snapshots the build — untouched
    files with mtimes, staged debris files, fragmented days, the
    OPTIMIZE record and the pre-compact touched resolution — so the
    registered row re-proves selectivity on every invocation (driver-
    side metadata asserts) instead of trusting the build."""
    from ..operators.lakehouse import (
        append_manifest_table,
        compact_manifest_table,
        current_manifest,
        files_for_values,
        write_manifest_table,
    )

    parent = keyed_dir(
        spark, "mcompactev", sf_dir, ("events",),
        (_COMPACT_DEMO_VERSION, _COMPACT_FRAG_FILES, _COMPACT_FRAG_DOM),
    )
    path = os.path.join(parent, "table")

    def _write(tmp: str) -> None:
        ev = load_table(spark, "events", sf_dir).select(
            "event_id", "user_id", "event_type", "value",
            F.to_date("ts").alias("event_date"),
        )
        # coalesce(False): NULL dates ride the healthy slice so the two
        # slices PARTITION the corpus exactly (same rule as the swap
        # build); an all-null-date healthy file records the _ALL_NULL
        # stats marker and prunes out of every scoped OPTIMIZE.
        frag = F.coalesce(
            F.dayofmonth("event_date") <= _COMPACT_FRAG_DOM, F.lit(False)
        )
        write_manifest_table(
            spark, ev.where(~frag), tmp, n_files=4, cluster_by=["event_date"]
        )
        untouched_candidates = {
            f: os.path.getmtime(os.path.join(tmp, f))
            for f in current_manifest(tmp)["files"]
        }
        debris = ev.where(frag)
        for i in range(_COMPACT_FRAG_FILES):  # six disjoint full-span appends
            append_manifest_table(
                spark, debris.where(F.col("event_id") % _COMPACT_FRAG_FILES == i),
                tmp, n_files=1,
            )
        m = current_manifest(tmp)
        debris_files = sorted(set(m["files"]) - set(untouched_candidates))
        frag_days = sorted(
            r.event_date.isoformat()
            for r in debris.select("event_date").distinct().collect()
            if r.event_date is not None
        )
        touched = files_for_values(m, "event_date", frag_days) if frag_days else []
        rec = (
            compact_manifest_table(
                spark, tmp, only_values=("event_date", frag_days)
            )
            if frag_days
            else None
        )
        untouched = {
            f: mt for f, mt in untouched_candidates.items() if f not in set(touched)
        }
        with open(os.path.join(tmp, "_migration_audit.json"), "w") as fh:
            json.dump(
                {
                    "untouched": untouched,
                    "debris_files": debris_files,
                    "frag_days": frag_days,
                    "touched": touched,
                    "rec": rec,
                    "final_version": current_manifest(tmp)["version"],
                },
                fh,
            )
        with open(os.path.join(tmp, "_SUCCESS"), "w"):
            pass

    materialize_once(path, _write)
    return path


@query(
    "compaction_incremental_events",
    oracle="""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
       count(*) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(min(event_id) AS BIGINT) AS min_event_id,
       CAST(max(event_id) AS BIGINT) AS max_event_id
FROM events
GROUP BY 1
""",
)
def compaction_incremental_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side proof of the SELECTIVE small-file compaction, committed
    through the MANIFEST protocol since r17 (the swap->manifest
    migration, r16 verdict item 3; the swap twin of this scenario stays
    pinned in tests/test_round14_ops.py as compact_partitions' library
    contract): the events table commits clustered by event_date, six
    micro-batch debris appends fragment the early dates, and ONE
    incremental OPTIMIZE scoped to those day values repairs them —
    old files carried verbatim, commit is a pointer flip (no
    single-writer window), pinned readers unaffected. This query
    digests the final manifest read per date against an oracle over the
    ORIGINAL parquet — the hash match certifies append + scoped rewrite
    is lossless — and re-proves selectivity from the build audit on
    every invocation: every staged debris file resolved into the
    touched set, every untouched file is still referenced byte-
    identical (mtime-stable), and the OPTIMIZE rewrote exactly the
    touched resolution.

    Scale: membership resolution is O(manifest) driver metadata
    (files_for_values over write-time footer stats — no directory
    listing), the rewrite costs O(fragmented bytes) re-clustered on
    event_date so the repaired files stay prunable — daily maintenance
    of a 100 TB table costs O(yesterday's fragmented partitions), not
    O(table), and unlike the swap it is concurrency-safe under MVCC.

    Sibling of ann_ivf_delta_append (round 14's incremental-maintenance
    pair: index append without base rewrite / layout repair without
    table rewrite)."""
    from ..operators.lakehouse import current_manifest, read_manifest_table

    root = _manifest_compacted_events_root(spark, sf_dir)
    with open(os.path.join(root, "_migration_audit.json")) as fh:
        audit = json.load(fh)
    m = current_manifest(root)
    assert m["version"] == audit["final_version"], (m["version"], audit)
    live = set(m["files"])
    for f in audit["debris_files"]:
        assert f in set(audit["touched"]), (
            f"debris file escaped the touched resolution: {f}"
        )
        assert f not in live, f"debris file survived the scoped OPTIMIZE: {f}"
    for f, mt in audit["untouched"].items():
        assert f in live, f"untouched file dropped by the OPTIMIZE commit: {f}"
        assert os.path.getmtime(os.path.join(root, f)) == mt, (
            f"untouched file rewritten: {f}"
        )
    if audit["rec"] is not None:
        assert audit["rec"]["files_rewritten"] == len(audit["touched"]), audit["rec"]

    df = read_manifest_table(spark, root)
    return df.groupBy(F.col("event_date").cast("string").alias("event_date")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("bigint")
        .alias("total_cents"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )


# --- lakehouse round 16: pruned scan / racing commit / schema evolution ------
# The r15 verdict's owed oracle rows on the manifest-commit protocol
# (operators/lakehouse.py), each proven at the library level in r15
# (tests/test_lakehouse.py) and put under the cross-engine value hash
# here. Each table builds once into a keyed scratch dir, every build
# re-runs the metadata asserts (driver-side, cheap), and the digest
# hashes against a DuckDB oracle over the ORIGINAL events parquet.

_LH_PRUNE_FILES = 8  # clustered width: disjoint event_id ranges


@query(
    "lakehouse_pruned_scan",
    oracle=f"""
WITH b AS (SELECT min(event_id) AS mn, max(event_id) AS mx FROM events)
SELECT event_type,
       {_EVENTS_DIGEST_SQL}
FROM events, b
WHERE event_id BETWEEN b.mn + (b.mx - b.mn) // 10
                   AND b.mn + (3 * (b.mx - b.mn)) // 10
GROUP BY event_type
""",
)
@session_memo
def lakehouse_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stats-pruned manifest SCAN under the value hash (r15 verdict
    item a — the Iceberg/Delta file-skipping read path, the single
    biggest 100 TB read lever): the events corpus commits into a
    manifest table CLUSTERED by event_id (repartitionByRange + sort, so
    each of the 8 files owns a disjoint key range and the write-time
    parquet-footer min/max stats recorded in the manifest are
    selective), and a range query over ~20% of the key span plans via
    ``read_manifest_table(prune=("event_id", lo, hi))`` — ONLY the
    files whose recorded stats can match, asserted in-query to be a
    STRICT subset of the manifest (0 < planned < total). The exact
    predicate applies on top (pruning is an optimization, never a
    filter; missing stats widen, never narrow — property-tested in
    tests/test_lakehouse.py), and the digest hashes against the DuckDB
    oracle over the FULL original table with the same predicate: a
    match proves the skipped files contained no matching rows.

    The prune bounds derive from the manifest's own stats (driver-side
    metadata, no data scan): lo/hi = min + 10%/30% of the recorded key
    span, integer arithmetic identical on both engines (// floor div).

    Plan/scale: at 10^6 files this is the manifest pruning pass a
    table format runs before planning — O(manifest) driver metadata
    buys an O(selectivity) scan; the clustered write is what makes
    stats disjoint (Delta OPTIMIZE ZORDER / Iceberg sort orders), and
    the planned-file assertion is the regression guard that the stats
    actually prune."""
    from ..operators.lakehouse import (
        current_manifest,
        prune_files,
        read_manifest_table,
        write_manifest_table,
    )

    scratch = keyed_dir(spark, "lhprune", sf_dir, ("events",))
    root = os.path.join(scratch, "table")

    if not os.path.exists(os.path.join(root, "_manifests", "m1.json")):
        ev = load_table(spark, "events", sf_dir).select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        write_manifest_table(
            spark, ev, root, n_files=_LH_PRUNE_FILES, cluster_by=["event_id"]
        )

    m = current_manifest(root)
    stats = m["file_stats"]
    assert all(
        "event_id" in stats.get(f, {}) for f in m["files"]
    ), "clustered write must record event_id stats for every file"
    mn = min(stats[f]["event_id"][0] for f in m["files"])
    mx = max(stats[f]["event_id"][1] for f in m["files"])
    span = mx - mn
    lo = mn + span // 10
    hi = mn + (3 * span) // 10

    planned = prune_files(m, "event_id", lo, hi)
    assert 0 < len(planned) < len(m["files"]), (
        f"stats did not prune: planned {len(planned)} of {len(m['files'])} files"
    )

    return _events_digest(
        read_manifest_table(spark, root, m, prune=("event_id", lo, hi)).where(
            F.col("event_id").between(lo, hi)
        ),
        "event_type",
    )


@query(
    "lakehouse_concurrent_commit",
    oracle=f"""
SELECT event_type,
       {_EVENTS_DIGEST_SQL}
FROM events
GROUP BY event_type
""",
)
@session_memo
def lakehouse_concurrent_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic-concurrency COMMIT race under the value hash (r15
    verdict item c): two writers race one manifest version and the
    table still ends exactly-once. The choreography is deterministic
    at the commit layer: the table starts as v1 (event_id % 3 == 0),
    writer B stages its files (% 3 == 2) and resolves parent v1, then
    writer A lands a full append (% 3 == 1) winning v2 — B's commit
    against the stale parent MUST raise CommitConflict (manifest
    creation is exclusive: os.link onto the final name), asserted
    in-query, and B retries COMMIT-ONLY against the winner: its staged
    files are immutable and verified byte-unchanged between attempts
    (no data work redone — the append-retry asymmetry vs compaction,
    whose rewrite is stale on conflict and must redo). The final read
    hashing equal to the whole corpus proves one winner + retry lost
    no row and doubled none; resolution authority is the highest
    committed manifest in the log, so racing pointer writes can never
    regress the read (tests/test_lakehouse.py pins the library
    properties).

    Plan/scale: this is the MVCC loop every table format runs — at
    100 TB the exclusive create becomes a conditional PUT / catalog
    CAS and a lost append race costs one metadata round-trip, never a
    data rewrite."""
    from ..operators.lakehouse import (
        CommitConflict,
        _commit,
        _stage_files,
        append_manifest_table,
        current_manifest,
        read_manifest_table,
        write_manifest_table,
    )

    scratch = keyed_dir(spark, "lhrace", sf_dir, ("events",))
    root = os.path.join(scratch, "table")

    if not os.path.exists(os.path.join(root, "_manifests", "m1.json")):
        ev = load_table(spark, "events", sf_dir).select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        base = ev.where(F.col("event_id") % 3 == 0)
        slice_a = ev.where(F.col("event_id") % 3 == 1)
        slice_b = ev.where(F.col("event_id") % 3 == 2)

        write_manifest_table(spark, base, root, n_files=2)  # v1
        # writer B: data work done, parent resolved — then it stalls
        parent_b = current_manifest(root)
        files_b, stats_b = _stage_files(spark, slice_b, root, 1)
        sizes_b = {
            f: os.path.getsize(os.path.join(root, f)) for f in files_b
        }
        # writer A: full append wins v2 while B is stalled
        append_manifest_table(spark, slice_a, root, n_files=1)
        # writer B: commit against the stale parent -> MUST conflict
        saw_conflict = False
        try:
            _commit(
                root,
                parent_b["files"] + files_b,
                parent=parent_b["version"],
                file_stats={**parent_b.get("file_stats", {}), **stats_b},
            )
        except CommitConflict:
            saw_conflict = True
        assert saw_conflict, "racing commit against a taken version must conflict"
        # retry is COMMIT-only: staged files byte-unchanged, no re-stage
        assert sizes_b == {
            f: os.path.getsize(os.path.join(root, f)) for f in files_b
        }, "conflict retry must not redo the append's data work"
        winner = current_manifest(root)
        assert winner["version"] == 2
        _commit(
            root,
            winner["files"] + files_b,
            parent=winner["version"],
            file_stats={**winner.get("file_stats", {}), **stats_b},
        )

    assert current_manifest(root)["version"] == 3, (
        "race choreography must end at v3 (v1 + winner's append + retried append)"
    )

    return _events_digest(read_manifest_table(spark, root), "event_type")


_LH_EVOLVE_CUT = "2024-01-16"  # schema-evolving append boundary


@query(
    "lakehouse_schema_evolution",
    oracle=f"""
SELECT CASE WHEN ts IS NOT NULL AND CAST(ts AS DATE) >= DATE '{_LH_EVOLVE_CUT}'
            THEN 'b2' ELSE 'v1' END AS batch_tag,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(min(event_id) AS BIGINT) AS min_event_id,
       CAST(max(event_id) AS BIGINT) AS max_event_id
FROM events
GROUP BY 1, 2
""",
)
@session_memo
def lakehouse_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema EVOLUTION survives compaction, under the value hash (the
    r16 advice's lossy-'lossless' hazard made executable): the pre-cut
    events slice commits as v1, the post-cut slice appends WITH a new
    ``ingest_batch`` column the v1 files don't have (evolving the table
    schema in place — no rewrite of old files), and compaction rewrites
    the mixed-schema file set reading with mergeSchema, so the evolved
    column lands NULL-filled for pre-evolution rows instead of being
    silently dropped by a single-footer read. The digest groups by
    ``coalesce(ingest_batch, 'v1')`` — the hash match against the
    oracle's ts-derived CASE proves every post-cut row kept its tag
    THROUGH the compaction rewrite and every pre-cut row surfaced as
    NULL: exactly the column a lossy compaction would zero out.
    Null-ts rows route to v1 on both sides. Asserted in-query: the
    chain is v3 (write, evolving append, compaction) and compaction
    reduced the file count.

    Plan/scale: schema evolution by metadata is how a 100 TB table
    adds a column (rewriting history is off the table); the mergeSchema
    read costs one footer per planned file of the compaction input —
    driver metadata — and nothing for steady-state reads of compacted
    files, which carry the full schema in one footer. Library pin:
    tests/test_lakehouse.py::test_compaction_preserves_evolved_schema."""
    from ..operators.lakehouse import (
        compact_manifest_table,
        current_manifest,
        read_manifest_table,
        write_manifest_table,
        append_manifest_table,
    )

    scratch = keyed_dir(spark, "lhevolve", sf_dir, ("events",))
    root = os.path.join(scratch, "table")

    if not os.path.exists(os.path.join(root, "_manifests", "m1.json")):
        ev = load_table(spark, "events", sf_dir).select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        d = F.to_date("ts")
        c1 = F.coalesce(d < F.lit(_LH_EVOLVE_CUT).cast("date"), F.lit(True))
        write_manifest_table(spark, ev.where(c1), root, n_files=3)
        append_manifest_table(
            spark,
            ev.where(~c1).withColumn("ingest_batch", F.lit("b2")),
            root,
            n_files=3,
        )
        rec = compact_manifest_table(spark, root)
        assert rec["files_after"] < rec["files_before"], rec

    assert current_manifest(root)["version"] == 3

    latest = read_manifest_table(spark, root)
    assert "ingest_batch" in latest.columns, (
        "compaction dropped the evolved column (single-footer read?)"
    )
    return latest.groupBy(
        F.coalesce(F.col("ingest_batch"), F.lit("v1")).alias("batch_tag"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("bigint")
        .alias("total_cents"),
        F.min("event_id").cast("bigint").alias("min_event_id"),
        F.max("event_id").cast("bigint").alias("max_event_id"),
    )


# --- streaming compaction sink restart (round 16) -----------------------------

# restart choreography boundaries: two chronological batches drain and
# compact, then a LATE file (everything >= _RESTART_CUT2 plus the odd
# half of _RESTART_OVERLAP_DAY, a day the first drain already
# compacted) arrives and a NEW query on the SAME checkpoint resumes
_RESTART_CUT1 = "2024-01-11"
_RESTART_CUT2 = "2024-01-21"
_RESTART_OVERLAP_DAY = "2024-01-20"


@query(
    "streaming_compaction_restart_executed",
    oracle=f"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       {_EVENTS_DIGEST_SQL}
FROM events
GROUP BY 1
""",
)
@session_memo
def streaming_compaction_restart_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance keeps pace ACROSS A RESTART, executed under the
    value hash (r15 verdict item b; the 15th executed streaming row):
    two chronologically staged micro-batches drain through
    run_partitioned_sink_with_compaction and compact their days, the
    drain COMPLETES, then a late file arrives — everything past
    2024-01-21 plus the odd-event_id half of 2024-01-20, a day the
    first drain already compacted — and a NEW streaming query on the
    SAME checkpoint resumes with exactly one more micro-batch.
    Asserted in-query on a fresh drain: the restart batch's compaction
    manifest names ONLY the late file's days (already-maintained
    history is never re-listed — the O(touched) listing holds across
    restarts, not just within one query), every touched day rewrites
    to one file, and the re-touched overlap day re-compacts. The
    digest over the restarted sink hashing equal to the batch oracle
    over the ORIGINAL events proves resume-from-checkpoint ingested
    the late file exactly once (n_events == n_distinct_events catches
    both replay and loss).

    Foundation: tests/test_streaming.py::
    test_partitioned_sink_compaction_resumes_incrementally (the r15
    library pin). Null-ts rows route to the first batch (coalesce) so
    the three staged files PARTITION the corpus exactly on adversarial
    data.

    Plan/scale: restart is the normal state of a long-lived ingest
    (deploys, failures) — checkpoint resume plus touched-day-scoped
    maintenance means a 100 TB sink's compaction debt stays O(one
    trigger) through any number of restarts; nothing in the resume
    path lists history."""
    scratch = keyed_dir(spark, "streamcres", sf_dir, ("events",))
    src = os.path.join(scratch, "src")
    os.makedirs(src, exist_ok=True)
    out = os.path.join(scratch, "sink")
    ckpt = os.path.join(scratch, "ckpt")

    ev = load_table(spark, "events", sf_dir)
    d = F.to_date("ts")
    late = F.coalesce(
        (d >= F.lit(_RESTART_CUT2).cast("date"))
        | (
            (d == F.lit(_RESTART_OVERLAP_DAY).cast("date"))
            & (F.col("event_id") % 2 == 1)
        ),
        F.lit(False),
    )
    early1 = ~late & F.coalesce(d < F.lit(_RESTART_CUT1).cast("date"), F.lit(True))
    chunks = [ev.where(early1), ev.where(~late & ~early1), ev.where(late)]

    fresh = not os.path.exists(ckpt)
    # batches one and two stage BEFORE the first drain; the late file
    # only after it completes (that is the restart under test)
    _stage_chunks(chunks[:2], scratch, src)

    manifests: list = []
    run_partitioned_sink_with_compaction(
        spark, src, out, ckpt,
        max_files=0, manifests=manifests, max_files_per_trigger=1,
    )
    if fresh:
        assert len(manifests) == 2, f"first drain: {len(manifests)} batches"
    # the late file arrives AFTER the completed drain; a NEW query
    # on the SAME checkpoint resumes (re-entry with a committed
    # checkpoint stages it too, then both drains are no-ops)
    _stage_chunks(chunks[2:], scratch, src, first=2)
    run_partitioned_sink_with_compaction(
        spark, src, out, ckpt,
        max_files=0, manifests=manifests, max_files_per_trigger=1,
    )

    if fresh:
        assert len(manifests) == 3, f"restart must add exactly one batch: {manifests}"
        late_days = {
            f"day={r.d}"
            for r in chunks[2].select(d.alias("d")).distinct().collect()
            if r.d is not None
        }
        _bid, late_manifest = manifests[-1]
        assert set(late_manifest) == late_days, (
            "restart batch re-listed maintained history: "
            f"{sorted(set(late_manifest) ^ late_days)}"
        )
        assert all(
            rec["rewritten"] and rec["files_after"] == 1
            for rec in late_manifest.values()
        ), late_manifest
        assert f"day={_RESTART_OVERLAP_DAY}" in late_manifest, (
            "the re-touched overlap day must re-compact after the restart"
        )

    return _events_digest(
        spark.read.parquet(out), F.col("day").cast("string").alias("day")
    )


# --- manifest-commit sink (prebuilt r16, REGISTERED r17) ----------------------
# The convergence sink under the value hash, registered into r17's one
# open window slot (r16 verdict item 1). Library foundations:
# streaming/daily.py::run_manifest_sink_with_compaction (exactly-once
# via txn watermarks + touched-day OPTIMIZE), proven in
# tests/test_streaming.py::test_manifest_sink_exactly_once_and_scoped_
# optimize; digest parity pinned in tests/test_round16_ops.py.

_MANIFEST_SINK_CUTS = ("2024-01-08", "2024-01-15")  # bootstrap | b0 | b1

_MANIFEST_SINK_ORACLE = f"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       {_EVENTS_DIGEST_SQL}
FROM events
GROUP BY 1
"""


@query("streaming_manifest_sink_executed", oracle=_MANIFEST_SINK_ORACLE)
@session_memo
def streaming_manifest_sink_executed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The convergence SINK executed under the value hash (the r16
    design's stage (c) made end-to-end): a bootstrap
    slice commits a manifest table clustered by day, then two
    chronological micro-batches drain through
    run_partitioned_sink_with_compaction's manifest twin
    (run_manifest_sink_with_compaction) — each batch is an IDEMPOTENT
    clustered append (txn=(app, batch_id): foreachBatch replays commit
    nothing) followed by an incremental OPTIMIZE scoped to exactly the
    day values it touched (files_for_values over the manifest stats —
    O(touched bytes) data work, carried files verbatim). The digest
    over the final manifest read hashing equal to the batch oracle
    over the ORIGINAL events proves ingest + exactly-once + in-band
    manifest maintenance is lossless and duplicate-free
    (n_events == n_distinct_events catches replay). Exactly-once is
    ALSO asserted in-band: after the drain, a FULL source replay on a
    fresh checkpoint re-delivers every batch, and the committed txn
    watermarks must make every append a no-op — no new manifest
    version, no maintenance runs (the Delta txnAppId/txnVersion
    contract, exercised end-to-end each invocation).

    vs streaming_compaction_sink_executed (the swap sink): same
    keeps-pace maintenance cost model, but commits are pointer flips —
    readers pinned mid-scan are unaffected and a replayed batch is
    detected by its committed watermark instead of relying on
    availableNow never re-delivering. Null-ts rows ride the bootstrap
    slice (coalesce) so the staged files PARTITION the corpus exactly.

    Plan/scale: per batch one clustered append (stats double as
    partition metadata) + one scoped OPTIMIZE; planning is O(manifest)
    driver metadata; the table serves pruned scans THROUGH ingest and
    maintenance."""
    from ..operators.lakehouse import (
        current_manifest,
        read_manifest_table,
        write_manifest_table,
    )
    scratch = keyed_dir(spark, "manifestsink", sf_dir, ("events",))
    src = os.path.join(scratch, "src")
    os.makedirs(src, exist_ok=True)
    root = os.path.join(scratch, "table")
    ckpt = os.path.join(scratch, "ckpt")

    ev = load_table(spark, "events", sf_dir)
    d = F.to_date("ts")
    cut0, cut1 = _MANIFEST_SINK_CUTS
    boot = F.coalesce(d < F.lit(cut0).cast("date"), F.lit(True))
    mid = ~boot & (d < F.lit(cut1).cast("date"))
    sel = ["event_id", "user_id", "event_type", "value"]

    if not os.path.exists(os.path.join(root, "_manifests", "m1.json")):
        write_manifest_table(
            spark,
            ev.where(boot).select(*sel, d.alias("day")),
            root,
            n_files=2,
            cluster_by=["day"],
        )
    _stage_chunks([ev.where(mid), ev.where(~boot & ~mid)], scratch, src)

    fresh = not os.path.exists(ckpt)
    manifests: list = []
    replayed: list = []
    run_manifest_sink_with_compaction(
        spark, src, root, ckpt,
        manifests=manifests, max_files_per_trigger=1,
    )
    # FULL source replay on a FRESH checkpoint: foreachBatch
    # re-delivers every batch, and every append must detect its own
    # committed txn watermark and skip — the exactly-once property
    # asserted in-band (no new manifest version, no OPTIMIZE runs)
    v_drained = current_manifest(root)["version"]
    run_manifest_sink_with_compaction(
        spark, src, root, os.path.join(scratch, "ckpt_replay"),
        manifests=replayed, max_files_per_trigger=1,
    )

    if fresh:
        assert len(manifests) == 2, f"expected 2 micro-batches, got {len(manifests)}"
        assert all(
            rec is not None and rec["files_rewritten"] >= 1 for _, rec in manifests
        ), manifests
    assert current_manifest(root)["version"] == v_drained, (
        "full replay on a fresh checkpoint committed a manifest (replayed append)"
    )
    assert not replayed, f"replayed batches ran maintenance: {replayed}"
    m = current_manifest(root)
    assert m["txns"].get("manifest_sink") == 1, m.get("txns")

    return _events_digest(
        read_manifest_table(spark, root), F.col("day").cast("string").alias("day")
    )


# --- r18 candidate (PREBUILT, NOT REGISTERED): AS-OF version + history --------
# The time-travel surface of the manifest protocol under the value hash
# (r16 verdict missing item 3). manifest_at_version / manifest_table_
# history are pytest-only today (tests/test_lakehouse.py); this row puts
# the AS-OF pin itself under the cross-engine hash. r17's window had
# exactly one slot (spent on the manifest sink), so the function body,
# oracle twin, and pytest pin land now and r18's registration is one
# @query decorator:
#
#   @query("lakehouse_asof_history", oracle=_ASOF_HISTORY_ORACLE)

_ASOF_CUTS = ("2024-01-11", "2024-01-21")  # v1 | v2 append | v3 append

_ASOF_HISTORY_ORACLE = f"""
WITH asof2 AS (
    SELECT * FROM events
    WHERE CAST(ts AS DATE) < DATE '{_ASOF_CUTS[1]}' OR ts IS NULL
)
SELECT 'v2' AS version_tag, event_type,
       {_EVENTS_DIGEST_SQL}
FROM asof2 GROUP BY event_type
UNION ALL
SELECT 'latest' AS version_tag, event_type,
       {_EVENTS_DIGEST_SQL}
FROM events GROUP BY event_type
"""


@session_memo
def lakehouse_asof_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF-VERSION time travel + DESCRIBE HISTORY under the value hash
    (r18 candidate): a four-commit chain — v1 write (pre-2024-01-11 +
    null-ts), v2 append ([01-11, 01-21)), v3 append (>= 01-21), v4
    compaction — is read back MID-CHAIN via ``manifest_at_version(2)``
    (not the v1 floor, not the latest: the pin must reconstruct an
    interior state that no pointer names) and at latest, and the two
    digests hash against the batch oracle's two slices. A match proves
    version pinning reconstructs exactly the rows that existed at v2 —
    through a later append AND a compaction that rewrote the files v2
    references (invariant 1: they stay on disk untouched until vacuum).

    DESCRIBE HISTORY is asserted in-query (driver-side metadata):
    manifest_table_history returns exactly versions [1,2,3,4] with
    every retained version still fully servable (bytes non-null — no
    file referenced by a retained manifest has been vacuumed),
    monotone file-count growth across the appends, and the compaction
    shrinking v4 below v3.

    vs lakehouse_manifest_roundtrip (same protocol family): that row
    pins v1 BEFORE maintenance runs — the concurrent-reader contract;
    this row reconstructs an interior version AFTER the chain is fully
    committed — the audit/rollback contract (Delta VERSION AS OF /
    Iceberg snapshot-id reads). Null-ts rows route to v1 on both sides.

    Plan/scale: time travel is O(1) manifest reads + a scan of the
    pinned file list; history is one JSON read per retained version —
    driver metadata, no data touched until the digest scan. Retention
    (vacuum keep_last/grace) bounds how far back pins reach; a
    vacuumed pin fails loudly (manifest_at_version raises), never
    serves partial data."""
    from ..operators.lakehouse import (
        append_manifest_table,
        compact_manifest_table,
        manifest_at_version,
        manifest_table_history,
        read_manifest_table,
        write_manifest_table,
    )

    scratch = keyed_dir(spark, "asofhist", sf_dir, ("events",))
    root = os.path.join(scratch, "table")

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    d = F.to_date("ts")
    c1, c2 = _ASOF_CUTS
    in_v1 = F.coalesce(d < F.lit(c1).cast("date"), F.lit(True))
    in_v2 = ~in_v1 & (d < F.lit(c2).cast("date"))

    if not os.path.exists(os.path.join(root, "_manifests", "m1.json")):
        write_manifest_table(spark, ev.where(in_v1), root, n_files=3)
        append_manifest_table(spark, ev.where(in_v2), root, n_files=3)
        append_manifest_table(spark, ev.where(~in_v1 & ~in_v2), root, n_files=3)
        rec = compact_manifest_table(spark, root)
        assert rec["files_after"] < rec["files_before"], rec

    hist = manifest_table_history(root)
    assert [h["version"] for h in hist] == [1, 2, 3, 4], hist
    assert all(h["bytes"] is not None for h in hist), (
        "a retained version lost a data file (vacuum never ran here)"
    )
    assert hist[0]["n_files"] < hist[1]["n_files"] < hist[2]["n_files"], hist
    assert hist[3]["n_files"] < hist[2]["n_files"], hist  # the compaction
    pin2 = manifest_at_version(root, 2)
    assert all(os.path.exists(os.path.join(root, f)) for f in pin2["files"]), (
        "compaction deleted files a retained version references"
    )

    def digest(df: DataFrame, tag: str) -> DataFrame:
        return _events_digest(df, "event_type").select(
            F.lit(tag).alias("version_tag"), "*"
        )

    return digest(read_manifest_table(spark, root, pin2), "v2").unionByName(
        digest(read_manifest_table(spark, root), "latest")
    )


# --- r18 candidate (PREBUILT, NOT REGISTERED): partition-exact scan ----------
# The end-to-end oracle row over the stage-2 partition-aware manifest
# library (SURVEY §8 r17 item 10b): explicit per-file partition values
# under the value hash — exact membership resolution, the null
# partition, the stats-only wide file, and its UPGRADE to explicit
# entries by the first scoped OPTIMIZE that touches it. r18's
# registration is one @query decorator:
#
#   @query("lakehouse_partition_exact_scan", oracle=_PART_EXACT_ORACLE)

# Probe-day selection is pure rank arithmetic over the sorted distinct
# non-null days so both engines derive the identical set at any SF:
# ranks {min(2,n), n//2+1, max(n-1,1)} (1-indexed, deduped).
_PART_EXACT_ORACLE = f"""
WITH d AS (
    SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS day
    FROM events WHERE ts IS NOT NULL
),
r AS (
    SELECT day, row_number() OVER (ORDER BY day) AS rk,
           count(*) OVER () AS n
    FROM d
),
probe AS (
    SELECT DISTINCT day FROM r
    WHERE rk IN (LEAST(2, n), n // 2 + 1, GREATEST(n - 1, 1))
)
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       {_EVENTS_DIGEST_SQL}
FROM events
WHERE CAST(CAST(ts AS DATE) AS VARCHAR) IN (SELECT day FROM probe)
GROUP BY 1
"""


@session_memo
def lakehouse_partition_exact_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT partition-membership scan planning under the value hash
    (r18 candidate, stage-2 partition-aware manifests end-to-end): the
    events table commits partition-aware on day — a base write plus a
    clustered append (two explicit one-value files per day) plus one
    STATS-ONLY wide append (no explicit entries, the pre-spec legacy
    shape) — and a three-day probe set resolves through
    ``files_for_values``. In-query asserts pin the resolution law file
    by file: every explicit file owning a probed day is in the touched
    set, every explicit file owning any OTHER value — including the
    null partition — is skipped (exact membership, not range
    containment), and the wide file resolves by sound stats fallback.
    A scoped OPTIMIZE over exactly the probed values then rewrites the
    touched resolution; afterwards every rewritten file carries an
    explicit entry (the wide file is UPGRADED the first time
    maintenance touches it — pre-spec tables heal incrementally, no
    table-wide migration job), carried files keep their entries
    verbatim, and each probed day resolves to exactly ONE file. The
    digest reads the post-OPTIMIZE probe plan + the exact predicate
    and hashes against the oracle over the ORIGINAL parquet — the
    match proves exact planning skipped no matching row through the
    append + upgrade + rewrite chain.

    vs lakehouse_pruned_scan (r16): that row prunes by RANGE
    containment over write-time footer stats — sound but widened by
    any wide-range file; this row pins the Iceberg manifest-entry
    rule (one explicit partition value per file) where probe planning
    is exact string membership regardless of what other appends wrote.

    Plan/scale: resolution is O(manifest) driver metadata; at 10^6
    files a day-probe plans |files(day)| scans with zero false
    positives, the null partition never pollutes non-null probes, and
    the upgrade path means a 100 TB pre-spec table converts to exact
    membership at OPTIMIZE pace without a rewrite-the-world migration.
    Probe days derive from rank arithmetic both engines compute
    identically (no driver->oracle value smuggling)."""
    from ..operators.lakehouse import (
        append_manifest_table,
        compact_manifest_table,
        current_manifest,
        files_for_values,
        read_manifest_table,
        write_manifest_table,
    )

    scratch = keyed_dir(spark, "pexact", sf_dir, ("events",))
    root = os.path.join(scratch, "table")
    audit_path = os.path.join(scratch, "_build_audit.json")

    ev = (
        load_table(spark, "events", sf_dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("day", F.to_date("ts").cast("string"))
    )
    days = sorted(
        r.day
        for r in ev.where(F.col("day").isNotNull()).select("day").distinct().collect()
    )
    n = len(days)
    ranks = sorted({min(2, n), n // 2 + 1, max(n - 1, 1)}) if n else []
    probe_days = [days[rk - 1] for rk in ranks]

    if not os.path.exists(audit_path):
        base = ev.where(F.col("event_id") % 2 == 0)
        second = ev.where((F.col("event_id") % 2 == 1) & (F.col("event_id") % 7 != 3))
        wide = ev.where((F.col("event_id") % 2 == 1) & (F.col("event_id") % 7 == 3))
        write_manifest_table(spark, base, root, partition_by="day")
        append_manifest_table(spark, second, root, partition_by="day")
        has_wide = bool(wide.take(1))
        if has_wide:
            append_manifest_table(spark, wide, root, n_files=1)
        pre = current_manifest(root)
        touched = files_for_values(pre, "day", probe_days) if probe_days else []
        rec = (
            compact_manifest_table(spark, root, only_values=("day", probe_days))
            if probe_days
            else None
        )
        with open(audit_path, "w") as fh:
            json.dump(
                {
                    "has_wide": has_wide,
                    "probe_days": probe_days,
                    "pre_files": pre["files"],
                    "pre_partitions": pre.get("partitions", {}),
                    "touched": touched,
                    "rec": rec,
                },
                fh,
            )

    with open(audit_path) as fh:
        audit = json.load(fh)
    assert audit["probe_days"] == probe_days, "probe derivation not deterministic"

    m = current_manifest(root)
    parts = m.get("partitions", {})
    assert m.get("spec") == [["day"]], m.get("spec")

    # Pre-OPTIMIZE resolution law, file by file: explicit entries are
    # EXACT membership (other values and the null partition skip);
    # stats-only files resolve by sound containment fallback.
    pre_parts = audit["pre_partitions"]
    pset = set(probe_days)
    touched = set(audit["touched"])
    for f, ent in pre_parts.items():
        v = ent.get("day")
        if v is not None and v in pset:
            assert f in touched, f"explicit probed-day owner skipped: {f}"
        else:
            assert f not in touched, f"exact membership leaked {v!r}: {f}"
    if audit["has_wide"]:
        assert any(f not in pre_parts for f in audit["pre_files"]), (
            "stats-only wide file missing from the pre state"
        )
    if audit["rec"] is not None:
        assert audit["rec"]["files_rewritten"] == len(touched), audit["rec"]

    # Post-OPTIMIZE: rewrites carry explicit entries (the wide-file
    # UPGRADE), carried entries are verbatim, and each probed day owns
    # exactly ONE file — the probe plan is one file per touched value.
    pre_set = set(audit["pre_files"])
    for f in m["files"]:
        if f not in pre_set:
            assert f in parts, f"rewritten file demoted to stats-only: {f}"
        elif f in pre_parts:
            assert parts.get(f) == pre_parts[f], f"carried entry mutated: {f}"
    if probe_days:
        owners: dict = {}
        for f in files_for_values(m, "day", probe_days):
            owners.setdefault(parts.get(f, {}).get("day"), []).append(f)
        assert set(owners) == pset, (set(owners), pset)
        assert all(len(v) == 1 for v in owners.values()), owners
        resolved = files_for_values(m, "day", probe_days)
        src = read_manifest_table(spark, root, {**m, "files": resolved}).where(
            F.col("day").isin(probe_days)
        )
    else:
        src = read_manifest_table(spark, root).where(F.lit(False))

    return _events_digest(src, "day")


# --- r18 candidate (PREBUILT, NOT REGISTERED): spec evolution scan -----------
# Partition-spec EVOLUTION (day -> hour) under the value hash (SURVEY
# §8 r17 item 10c): a day-partitioned table gains an hour-partitioned
# append with ZERO data movement, and probes at BOTH granularities
# resolve soundly across the era boundary. Registration is one
# decorator:
#
#   @query("lakehouse_spec_evolution_scan", oracle=_SPEC_EVO_ORACLE)

# The probe hour is rank n//2+1 over sorted distinct hours (the first
# new-era hour by construction); the probe day is the global min day —
# both pure arithmetic either engine computes identically.
_SPEC_EVO_ORACLE = f"""
WITH h AS (
    SELECT DISTINCT strftime(ts, '%Y-%m-%d-%H') AS hr
    FROM events WHERE ts IS NOT NULL
),
r AS (
    SELECT hr, row_number() OVER (ORDER BY hr) AS rk,
           count(*) OVER () AS n
    FROM h
),
ph AS (SELECT hr FROM r WHERE rk = n // 2 + 1)
SELECT 'hour' AS probe, event_type,
       {_EVENTS_DIGEST_SQL}
FROM events
WHERE strftime(ts, '%Y-%m-%d-%H') = (SELECT hr FROM ph)
GROUP BY 2
UNION ALL
SELECT 'day' AS probe, event_type,
       {_EVENTS_DIGEST_SQL}
FROM events
WHERE CAST(ts AS DATE) = (
    SELECT min(CAST(ts AS DATE)) FROM events WHERE ts IS NOT NULL
)
GROUP BY 2
"""


@session_memo
def lakehouse_spec_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec EVOLUTION under the value hash (r18 candidate):
    the day era of the events table commits partition-aware on day
    (null-ts rows included — they land in the day-era null partition),
    then the hour era appends partition-aware on HOUR — the spec list
    extends to [[day],[hour]] and not one existing byte moves (the
    Iceberg spec-evolution contract: old files keep old-granularity
    metadata forever). Probes then resolve across the era boundary
    under asserted laws: an HOUR probe is exact membership over
    hour-era files and WIDENS over day-era files (the hour column does
    not exist there — missing metadata must widen, never narrow); a
    DAY probe is exact membership over day-era files while hour-era
    files resolve by day STATS (the real columns stay in the data
    files, so finer-grained eras remain day-prunable). The digest
    reads each probe's planned file list + the exact predicate
    (recomputing hour from ts, so era schema differences cannot leak)
    and hashes both probes against the oracle over the original
    parquet — a match proves no resolution at either granularity
    skipped a matching row.

    vs lakehouse_partition_exact_scan (sibling candidate): that row
    pins exact membership within ONE spec; this row pins the sound
    composition of TWO specs on one table — the operation that lets a
    100 TB table move from daily to hourly partitioning at zero
    rewrite cost when ingest rates grow.

    Plan/scale: spec evolution is a manifest-only commit; hour probes
    on the new era plan one file per hour, and the day-era widening
    cost decays as OPTIMIZE naturally migrates data forward. Probe
    values derive from rank arithmetic both engines compute
    identically."""
    from ..operators.lakehouse import (
        append_manifest_table,
        current_manifest,
        files_for_values,
        manifest_at_version,
        read_manifest_table,
        write_manifest_table,
    )

    scratch = keyed_dir(spark, "specevo", sf_dir, ("events",))
    root = os.path.join(scratch, "table")
    audit_path = os.path.join(scratch, "_build_audit.json")

    ev = (
        load_table(spark, "events", sf_dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("day", F.to_date("ts").cast("string"))
        .withColumn("hour", F.date_format("ts", "yyyy-MM-dd-HH"))
    )
    hours = sorted(
        r.hour
        for r in ev.where(F.col("hour").isNotNull())
        .select("hour")
        .distinct()
        .collect()
    )
    nh = len(hours)
    probe_hour = hours[nh // 2] if nh else None  # rank nh//2 + 1
    probe_day = hours[0][:10] if nh else None  # min non-null day

    if not os.path.exists(audit_path):
        if probe_hour is not None:
            old = ev.where(
                F.coalesce(F.col("hour") < F.lit(probe_hour), F.lit(True))
            ).drop("hour")
            new = ev.where(F.col("hour") >= F.lit(probe_hour))
        else:
            old, new = ev.drop("hour"), None
        wrote_old = bool(old.take(1))
        if wrote_old:
            write_manifest_table(spark, old, root, partition_by="day")
            if new is not None:
                append_manifest_table(spark, new, root, partition_by="hour")
        else:
            write_manifest_table(spark, new, root, partition_by="hour")
        v1_files = manifest_at_version(root, 1)["files"]
        with open(audit_path, "w") as fh:
            json.dump(
                {
                    "wrote_old": wrote_old,
                    "has_new": new is not None,
                    "v1_files": v1_files,
                },
                fh,
            )

    with open(audit_path) as fh:
        audit = json.load(fh)

    m = current_manifest(root)
    parts = m.get("partitions", {})
    if audit["wrote_old"] and audit["has_new"]:
        assert m.get("spec") == [["day"], ["hour"]], m.get("spec")
        v1 = set(audit["v1_files"])
        new_files = set(m["files"]) - v1
        # hour probe: day-era files WIDEN in; hour-era resolves exactly
        resolved_h = set(files_for_values(m, "hour", [probe_hour]))
        assert v1 <= resolved_h, "day-era files must widen into hour probes"
        assert resolved_h & new_files == {
            f for f in new_files if parts[f].get("hour") == probe_hour
        }, "hour-era files must resolve by exact membership"
        # day probe: day-era exact; hour-era resolves by day stats
        resolved_d = set(files_for_values(m, "day", [probe_day]))
        assert resolved_d & v1 == {
            f for f in v1 if parts[f].get("day") == probe_day
        }, "day-era files must resolve by exact membership"
    elif audit["has_new"]:
        assert m.get("spec") == [["hour"]], m.get("spec")

    def digest(df: DataFrame, tag: str) -> DataFrame:
        return _events_digest(df, "event_type").select(F.lit(tag).alias("probe"), "*")

    if probe_hour is not None:
        hp_files = files_for_values(m, "hour", [probe_hour])
        hp = read_manifest_table(
            spark, root, {**m, "files": hp_files}, merge_schema=True
        ).where(F.date_format("ts", "yyyy-MM-dd-HH") == probe_hour)
        dp_files = files_for_values(m, "day", [probe_day])
        dp = read_manifest_table(
            spark, root, {**m, "files": dp_files}, merge_schema=True
        ).where(F.col("day") == probe_day)
    else:
        hp = read_manifest_table(spark, root, merge_schema=True).where(F.lit(False))
        dp = hp
    return digest(hp, "hour").unionByName(digest(dp, "day"))


# --- r19 candidate (PREBUILT, NOT REGISTERED): transform migration -----------
# Declared partition transforms under the value hash (the library
# stage landed r17; see operators/lakehouse.py module docstring item
# 4). Registration is one decorator:
#
#   @query("lakehouse_transform_migration_scan",
#          oracle=_TRANSFORM_MIG_ORACLE)

# Probe hours are pure rank arithmetic over sorted distinct hours:
# rank LEAST(2,n) (an old-era hour) and rank n//2+1 (the first
# new-era hour) — identical on both engines.
_TRANSFORM_MIG_ORACLE = f"""
WITH h AS (
    SELECT DISTINCT strftime(ts, '%Y-%m-%d-%H') AS hr
    FROM events WHERE ts IS NOT NULL
),
r AS (
    SELECT hr, row_number() OVER (ORDER BY hr) AS rk,
           count(*) OVER () AS n
    FROM h
),
po AS (SELECT hr FROM r WHERE rk = LEAST(2, n)),
pn AS (SELECT hr FROM r WHERE rk = n // 2 + 1)
SELECT 'old_era' AS probe, event_type,
       {_EVENTS_DIGEST_SQL}
FROM events
WHERE strftime(ts, '%Y-%m-%d-%H') = (SELECT hr FROM po)
GROUP BY 2
UNION ALL
SELECT 'new_era' AS probe, event_type,
       {_EVENTS_DIGEST_SQL}
FROM events
WHERE strftime(ts, '%Y-%m-%d-%H') = (SELECT hr FROM pn)
GROUP BY 2
"""

_HOUR_EXPR = "date_format(ts, 'yyyy-MM-dd-HH')"


@session_memo
def lakehouse_transform_migration_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED-TRANSFORM partition migration under the value hash
    (r19 candidate): the day era of the events table commits
    partition-aware on day — its files never hold an hour column —
    then the hour era appends partition_by hour with the transform
    ``date_format(ts, 'yyyy-MM-dd-HH')`` DECLARED in the manifest, and
    one full OPTIMIZE runs the migration rewrite: the compaction
    re-derives hour from ts for every pre-spec row (committed values
    kept verbatim via coalesce, null-ts rows staying in the null
    partition), so day-era data lands in REAL hour partitions instead
    of null-landing. In-query asserts pin the migrated layout: the
    transform declaration survives the rewrite, every file's explicit
    hour entry is non-null exactly when the table has non-null-ts
    rows, and each probed hour's resolved plan contains only files
    owning exactly that hour. The digest probes one OLD-era hour (the
    partition class that was unprunable before migration) and one
    NEW-era hour through ``files_for_values`` + the ts-DERIVED
    predicate, and hashes both against the oracle over the original
    parquet — a match proves the derivation is exactly
    date_format(ts) for every migrated row and that exact planning
    skipped no matching data.

    vs lakehouse_spec_evolution_scan (sibling candidate): that row
    pins the sound WIDENING composition of two specs with no
    transform; this row pins the migration that removes the widening —
    the Iceberg hour(ts) story end-to-end: declare at evolution time,
    migrate at OPTIMIZE pace, then source-derived probes prune
    exactly at the evolved granularity.

    Plan/scale: the migration costs one bounded rewrite (O(table)
    here, O(touched) via only_values in production); afterwards hour
    probes on a 100 TB table plan |files(hour)| scans with zero false
    positives at the finer granularity — the read-lever upgrade a
    growing ingest rate needs. Probe hours derive from rank
    arithmetic both engines compute identically."""
    from ..operators.lakehouse import (
        append_manifest_table,
        compact_manifest_table,
        current_manifest,
        files_for_values,
        read_manifest_table,
        write_manifest_table,
    )

    scratch = keyed_dir(spark, "tmig", sf_dir, ("events",))
    root = os.path.join(scratch, "table")
    audit_path = os.path.join(scratch, "_build_audit.json")

    ev = (
        load_table(spark, "events", sf_dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("day", F.to_date("ts").cast("string"))
        .withColumn("hour", F.expr(_HOUR_EXPR))
    )
    hours = sorted(
        r.hour
        for r in ev.where(F.col("hour").isNotNull())
        .select("hour")
        .distinct()
        .collect()
    )
    nh = len(hours)
    old_hour = hours[min(2, nh) - 1] if nh else None  # rank LEAST(2, n)
    new_hour = hours[nh // 2] if nh else None  # rank n//2 + 1
    has_null_ts = bool(ev.where(F.col("ts").isNull()).take(1))

    if not os.path.exists(audit_path):
        if new_hour is not None:
            old = ev.where(
                F.coalesce(F.col("hour") < F.lit(new_hour), F.lit(True))
            ).drop("hour")
            new = ev.where(F.col("hour") >= F.lit(new_hour))
        else:
            old, new = ev.drop("hour"), None
        wrote_old = bool(old.take(1))
        if wrote_old:
            write_manifest_table(spark, old, root, partition_by="day")
            if new is not None:
                append_manifest_table(
                    spark, new, root, partition_by="hour", transform=_HOUR_EXPR
                )
        else:
            write_manifest_table(
                spark, new, root, partition_by="hour", transform=_HOUR_EXPR
            )
        rec = compact_manifest_table(spark, root)  # the migration rewrite
        with open(audit_path, "w") as fh:
            json.dump({"wrote_old": wrote_old, "has_new": new is not None,
                       "rec": rec}, fh)

    with open(audit_path) as fh:
        audit = json.load(fh)

    m = current_manifest(root)
    parts = m.get("partitions", {})
    if audit["has_new"]:
        assert m.get("transforms") == {"hour": _HOUR_EXPR}, (
            "transform declaration must survive the migration rewrite"
        )
        assert audit["rec"]["files_rewritten"] >= 1, audit["rec"]
        # post-migration: a null hour entry exists iff the data has
        # null-ts rows — every other row owns a REAL hour partition
        null_files = [f for f in m["files"] if parts[f].get("hour") is None]
        assert bool(null_files) == has_null_ts, (null_files, has_null_ts)

    def probed(tag: str, hr: str | None) -> DataFrame:
        if hr is None:
            src = read_manifest_table(spark, root, merge_schema=True).where(
                F.lit(False)
            )
        else:
            files = files_for_values(m, "hour", [hr])
            if audit["has_new"]:
                assert files and all(
                    parts[f].get("hour") == hr for f in files
                ), f"probe {hr} resolved a non-owner: {files}"
            src = read_manifest_table(spark, root, {**m, "files": files}).where(
                F.expr(_HOUR_EXPR) == hr
            )
        return _events_digest(src, "event_type").select(F.lit(tag).alias("probe"), "*")

    return probed("old_era", old_hour).unionByName(probed("new_era", new_hour))
