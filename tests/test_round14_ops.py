"""Round-14 surfaces: the split exact+sketch hourly agg, the
materialized decon bloom words, and the pid-keyed decon scratch."""

from __future__ import annotations

import os
import re

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR


def test_decon_bloom_words_cache_is_value_identical(spark):
    """The materialized packed bloom words must equal a fresh
    derivation from the bench slice exactly — xxhash64 positions and
    bit_or packing are integer arithmetic, so reusing the cached words is
    bit-identical by construction, and a stale/wrong artifact would
    change the gate's pruning (never its output, bloom = no false
    negatives — which is why this is pinned at the words level, where
    a regression is visible)."""
    from dend_covid19_spark.plans.llm_pipeline import (
        DECON_MOD,
        _bloom_words,
        _decon_bloom_words,
        _decon_shingle_hashes,
    )

    sh = _decon_shingle_hashes(spark, SF_DIR)
    bench = sh.where(F.col("doc_id") % DECON_MOD == 0).select("gh")
    fresh = sorted(map(tuple, _bloom_words(bench).collect()))
    cached = sorted(map(tuple, _decon_bloom_words(spark, SF_DIR).collect()))
    assert cached == fresh and len(fresh) > 0


def test_decon_scratch_is_process_keyed(spark):
    """r18 (verdict item 3): the decon contamination index scratch must
    be PER-PROCESS — pid in the dir name and an owner.pid marker — so a
    bench process can never read a shingle table some earlier process
    built (its timings must include the build) and gc_scratch reaps the
    dir at owner exit instead of age-gating it."""
    from dend_covid19_spark.plans.llm_pipeline import (
        _decon_scratch_parent,
        _decon_shingle_hashes,
    )

    _decon_shingle_hashes(spark, SF_DIR)  # ensure built
    parent = _decon_scratch_parent(spark, SF_DIR)
    assert re.search(rf"_{os.getpid()}$", parent)
    assert os.path.exists(os.path.join(parent, "owner.pid"))
    assert os.path.exists(os.path.join(parent, "gh", "_SUCCESS"))


def test_hourly_approx_plan_has_no_expand(spark):
    """r13 profiled perf fix: mixing countDistinct with
    approx_count_distinct in one agg forces Catalyst's Expand
    multi-distinct path (each input row duplicated per distinct group,
    a 16 KB rsd=0.01 HLL buffer riding every expanded aggregation row
    through the shuffle). The split form must plan with NO Expand node
    and broadcast the ~720-row sketch side back onto the exact side."""
    from dend_covid19_spark.plans.timeseries import (
        events_hourly_activity_approx,
    )

    df = events_hourly_activity_approx(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, f"multi-distinct Expand path resurfaced\n{plan}"
    assert "BroadcastHashJoin" in plan, f"sketch side not broadcast\n{plan}"


@pytest.mark.parametrize(
    "name", ["decontaminate_ngram_overlap", "decontaminate_bloom_gated", "decontaminate_bloom_delta"]
)
def test_decontaminate_plan_has_no_expand(spark, name):
    """The decontamination report counts its two distinct columns as
    ``size(collect_set(...))``: no Expand duplicating every joined row
    per distinct aggregate, and no projection order that varies from
    one process to the next."""
    from dend_covid19_spark.plans import all_queries

    df = all_queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, f"multi-distinct Expand path resurfaced\n{plan}"
    assert dict(df.dtypes) == {"doc_id": "bigint", "n_overlap_ngrams": "bigint", "n_bench_docs": "bigint"}


@pytest.mark.parametrize(
    "name, counts",
    [
        ("table_stats_orders", ["n_rows", "ndv_custkey", "ndv_status"]),
        ("temporal_split_embargo", ["n_events", "n_users", "n_users_also_in_test"]),
        ("stratified_group_kfold", ["n_users", "n_events", "n_types"]),
    ],
)
def test_distinct_counts_plan_has_no_expand(spark, name, counts):
    """These rows count several distinct columns in one output row: one
    exact distinct plus ``size(collect_set(...))`` over a bounded
    domain, or a two-level aggregate. Neither plans an Expand, whose
    projection order changes from one process to the next."""
    from dend_covid19_spark.plans import all_queries

    df = all_queries()[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, f"multi-distinct Expand path resurfaced\n{plan}"
    assert all(dict(df.dtypes)[c] == "bigint" for c in counts), df.dtypes


def test_hourly_approx_matches_single_agg_form(spark):
    """The split form is a plan restructuring only: values must equal
    the original single-agg form row-for-row."""
    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.plans.timeseries import (
        events_hourly_activity_approx,
    )

    ev = load_table(spark, "events", SF_DIR)
    single = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("user_id").alias("exact_users"),
            (
                F.abs(
                    F.approx_count_distinct("user_id", 0.01)
                    - F.countDistinct("user_id")
                )
                <= 0.15 * F.countDistinct("user_id")
            ).alias("estimate_ok"),
        )
        .select(
            F.col("w.start").alias("hour_ts"), "cnt", "exact_users", "estimate_ok"
        )
    )
    got = sorted(map(tuple, events_hourly_activity_approx(spark, SF_DIR).collect()))
    want = sorted(map(tuple, single.collect()))
    assert got == want and len(got) > 0


def test_funnel_staged_files_have_strictly_increasing_mtimes(spark):
    """r13 advice: the file stream source orders files by ms-granularity
    mtime and the stateful funnel is order-sensitive — the plan must pin
    strictly increasing mtimes on its staged micro-batch files, not rely
    on write-completion timing."""
    from dend_covid19_spark.plans.ingest import streaming_funnel_executed

    streaming_funnel_executed(spark, SF_DIR)  # stages + drains (cached)
    import glob

    roots = glob.glob("/tmp/spark_graft_ingest/streamfunnel_*/src")
    assert roots, "funnel staging dir not found"
    src = max(roots, key=os.path.getmtime)
    files = sorted(glob.glob(os.path.join(src, "p*.parquet")))
    assert len(files) >= 2
    mtimes = [os.path.getmtime(p) for p in files]
    assert all(b > a for a, b in zip(mtimes, mtimes[1:])), mtimes


def test_ivf_delta_append_no_base_rewrite(spark):
    """The incremental-maintenance claim, checked against the build's
    own manifests: every base-phase data file is byte-identical (same
    size and mtime) after the delta append, and the appended files all
    land under cell=N partition directories — the FAISS IVF add()
    semantics on parquet."""
    import json

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.operators.kmeans import (
        SEMDEDUP_SEED_IDS,
        _trained_codebook,
    )
    from dend_covid19_spark.operators.similarity import (
        DELTA_MOD,
        DELTA_REM,
        _ivf_delta_index_path,
    )

    emb = load_table(spark, "embeddings", SF_DIR).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = _trained_codebook(spark, emb, SF_DIR, SEMDEDUP_SEED_IDS)
    path = _ivf_delta_index_path(spark, SF_DIR, cents)
    with open(os.path.join(path, "_base_manifest.json")) as fh:
        base = json.load(fh)
    with open(os.path.join(path, "_full_manifest.json")) as fh:
        full = json.load(fh)
    assert base and set(base) < set(full)
    for rel, (size, mtime) in base.items():
        assert full[rel] == [size, mtime], f"base file rewritten: {rel}"
    appended = set(full) - set(base)
    assert appended, "delta append added no files"
    assert all(rel.startswith("cell=") for rel in appended), appended

    # every index row is present exactly once: base + delta = corpus
    n_idx = spark.read.parquet(path).count()
    n_emb = emb.count()
    assert n_idx == n_emb
    n_delta = spark.read.parquet(path).where(
        F.col("vec_id") % DELTA_MOD == DELTA_REM
    ).count()
    assert n_delta == emb.where(F.col("vec_id") % DELTA_MOD == DELTA_REM).count()


def test_ivf_delta_probe_partition_pruning_and_delta_rows(spark):
    """The probe over the incrementally maintained index keeps the
    static cell IN-list partition pruning (nprobe literal cells), and
    the delta-slice query vector's result includes delta rows — an
    appended vector is immediately servable."""
    from dend_covid19_spark.operators.similarity import (
        IVF_RECALL_NPROBE,
        ann_ivf_delta_append,
    )

    df = ann_ivf_delta_append(spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([\d,]+)\)\]", plan)
    assert m, f"no static cell IN-list partition filter in plan\n{plan}"
    probed = [int(c) for c in m.group(1).split(",")]
    assert len(probed) == IVF_RECALL_NPROBE and len(set(probed)) == len(probed)
    rows = df.collect()
    assert len(rows) > 0
    assert any(r.is_delta for r in rows), "no delta rows servable from the index"


def test_streaming_join_state_eviction(spark, duck):
    """The eviction proof: drain the stream-stream join over four
    chronological micro-batches and assert FROM THE DRAIN'S OWN
    PROGRESS METRICS that (a) state rows were removed as the watermark
    advanced and (b) the final state is a small fraction of the rows
    that passed through it — bounded state, the property that lets the
    join run forever. Output parity vs the batch twin rides the same
    assertion the driver makes."""
    from conftest import assert_matches_oracle
    from dend_covid19_spark.plans.ingest import (
        _STREAM_EVICT_METRICS,
        streaming_join_state_eviction_executed,
    )
    from dend_covid19_spark.plans.registry import get_spec

    df = streaming_join_state_eviction_executed(spark, SF_DIR)
    assert_matches_oracle(
        df,
        duck,
        get_spec("streaming_join_state_eviction_executed").oracle,
        "streaming_join_state_eviction_executed",
    )
    metrics = _STREAM_EVICT_METRICS[SF_DIR]
    assert len(metrics) >= 3, metrics
    removed = sum(m["numRowsRemoved"] for m in metrics)
    updated = sum(m["numRowsUpdated"] for m in metrics)
    final_state = metrics[-1]["numRowsTotal"]
    assert removed > 0, metrics
    # bounded state: what remains is a small fraction of what streamed
    # through (only the last ~horizon of traffic can still be buffered)
    assert final_state < 0.25 * updated, metrics


def test_compaction_is_selective_and_lossless(spark):
    """The stats-driven selective compaction's structural claims,
    checked against the build's own manifests: (a) every partition that
    breached max_files was rewritten down to the coalesce target, (b)
    every healthy partition kept an IDENTICAL (name, size, mtime_ns)
    file set — never re-read, never re-written, (c) the manifest's
    rewritten flags match the breach rule exactly, and (d) the
    compacted layout holds the same rows as the source table."""
    import json

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.plans.ingest import (
        _COMPACT_MAX_FILES,
        _compacted_events_path,
    )

    path = _compacted_events_path(spark, SF_DIR)
    with open(os.path.join(path, "_pre_stats.json")) as fh:
        pre = json.load(fh)
    with open(os.path.join(path, "_post_stats.json")) as fh:
        post = json.load(fh)
    with open(os.path.join(path, "_compact_manifest.json")) as fh:
        manifest = json.load(fh)

    assert set(pre) == set(post) == set(manifest)
    rewritten = {p for p, rec in manifest.items() if rec["rewritten"]}
    assert rewritten, "staging planted no breaching partitions"
    assert rewritten != set(manifest), "compaction rewrote every partition"
    for part, rec in manifest.items():
        assert rec["rewritten"] == (pre[part]["n_files"] > _COMPACT_MAX_FILES)
        if rec["rewritten"]:
            assert post[part]["n_files"] <= _COMPACT_MAX_FILES
            assert post[part]["n_files"] == rec["files_after"]
        else:
            assert post[part]["files"] == pre[part]["files"], (
                f"healthy partition touched: {part}"
            )

    n_src = load_table(spark, "events", SF_DIR).count()
    assert spark.read.parquet(path).count() == n_src


def test_compaction_layout_still_partition_prunes(spark):
    """A date-equality filter over the compacted layout must still plan
    as a static partition prune (one date dir of ~30) — compaction
    repairs file counts without disturbing partition discovery."""
    from dend_covid19_spark.plans.ingest import _compacted_events_path

    path = _compacted_events_path(spark, SF_DIR)
    df = spark.read.parquet(path).where(F.col("event_date") == "2024-01-05")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    m = re.search(r"PartitionFilters: \[.*event_date.*\]", plan)
    assert m, f"no partition filter on the compacted layout\n{plan}"
    assert df.count() > 0


def test_ivf_index_pinned_schema_matches_written_layout(spark):
    """read_ivf_index declares the index schema so fresh processes skip
    the footer-inference job — which means writer drift (a new column,
    a widened type) would otherwise go unnoticed until a consumer
    misreads. Pin: the declared schema must equal what inference
    derives from the live index, field for field."""
    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.operators.kmeans import (
        SEMDEDUP_SEED_IDS,
        _trained_codebook,
    )
    from dend_covid19_spark.operators.similarity import (
        IVF_INDEX_SCHEMA,
        _ivf_cell_index_path,
    )
    from pyspark.sql.types import StructType

    emb = load_table(spark, "embeddings", SF_DIR).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = _trained_codebook(spark, emb, SF_DIR, SEMDEDUP_SEED_IDS)
    path = _ivf_cell_index_path(spark, SF_DIR, cents)
    inferred = spark.read.parquet(path).schema
    pinned = StructType.fromDDL(IVF_INDEX_SCHEMA)
    assert [(f.name, f.dataType) for f in pinned.fields] == [
        (f.name, f.dataType) for f in inferred.fields
    ], f"pinned {pinned.simpleString()} != written {inferred.simpleString()}"


def test_ivf_cell_compaction_composition(spark, tmp_path):
    """The r15 candidate proven as a composition: the cell-partitioned
    IVF index IS a key=value layout, so compact_partitions applies
    verbatim — after delta appends fragment the appended-to cells
    (base file + delta file), compaction with max_files=1 merges ONLY
    those cells, and the index CONTENT (vec_id, cell, norm, vector) is
    identical before and after, which makes every probe's result
    invariant by construction. Run on a COPY: the published index is a
    cached artifact later probes in this process read, and maintenance
    must never mutate a cache in use (the real rollout compacts in place during the
    single-writer maintenance window, like any partition compaction)."""
    import shutil

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.operators.kmeans import (
        SEMDEDUP_SEED_IDS,
        _trained_codebook,
    )
    from dend_covid19_spark.operators.maintenance import compact_partitions
    from dend_covid19_spark.operators.similarity import (
        _ivf_delta_index_path,
        read_ivf_index,
    )

    emb = load_table(spark, "embeddings", SF_DIR).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = _trained_codebook(spark, emb, SF_DIR, SEMDEDUP_SEED_IDS)
    src = _ivf_delta_index_path(spark, SF_DIR, cents)
    work = str(tmp_path / "ivf_copy")
    shutil.copytree(src, work)

    def content(path):
        return sorted(
            (r.vec_id, r.cell, r.nrm, tuple(r.v))
            for r in read_ivf_index(spark, path).collect()
        )

    before = content(work)
    manifest = compact_partitions(spark, work, max_files=1)
    after = content(work)

    rewritten = {p for p, rec in manifest.items() if rec["rewritten"]}
    fragmented = {p for p, rec in manifest.items() if rec["files_before"] > 1}
    assert rewritten == fragmented and rewritten, manifest
    assert all(
        rec["files_after"] == 1 for p, rec in manifest.items() if rec["rewritten"]
    )
    assert before == after and len(after) == emb.count()


def test_bloom_words_incremental_merge_equals_rebuild(spark):
    """The r15 candidate (d) proven algebraically on live data: packed
    bloom words are positionwise bit_or folds, so appending a new eval
    slice to the contamination index = per-word bit_or of the old words
    with the delta slice's words — EXACTLY equal to a full rebuild over
    the union, never a rebuild of the old slice (the decon-index mirror
    of ann_ivf_delta_append's no-base-rewrite claim)."""
    from dend_covid19_spark.plans.llm_pipeline import (
        DECON_MOD,
        _bloom_words,
        _decon_shingle_hashes,
    )

    sh = _decon_shingle_hashes(spark, SF_DIR)
    bench = sh.where(F.col("doc_id") % DECON_MOD == 0)
    old = bench.where(F.col("doc_id") % 2 == 0).select("gh")
    delta = bench.where(F.col("doc_id") % 2 != 0).select("gh")

    merged = (
        _bloom_words(old)
        .unionByName(_bloom_words(delta))
        .groupBy("w")
        .agg(F.bit_or("bits").alias("bits"))
    )
    full = _bloom_words(bench.select("gh"))
    got = sorted(map(tuple, merged.collect()))
    want = sorted(map(tuple, full.collect()))
    assert got == want and len(want) > 0
    # both slices contribute (the split is non-trivial)
    assert old.count() > 0 and delta.count() > 0
