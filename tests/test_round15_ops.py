"""Round-15 surfaces: the compacted IVF cell index, the streaming
compaction-trigger sink row, snapshot time travel under compaction, and
the bloom-index incremental delta merge."""

from __future__ import annotations

import json
import os
import re

import pyspark.sql.functions as F
from conftest import SF_DIR


def test_ivf_compacted_index_selective_and_lossless(spark):
    """The compacted index's own build manifests prove the maintenance
    contract: exactly the fragmented (appended-to) cells were
    rewritten, each to one file; never-fragmented cells kept identical
    (size, mtime) files; and the compacted content equals the
    uncompacted delta index row-for-row."""
    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.operators.kmeans import (
        SEMDEDUP_SEED_IDS,
        _trained_codebook,
    )
    from dend_covid19_spark.operators.similarity import (
        _ivf_compacted_index_path,
        _ivf_delta_index_path,
        read_ivf_index,
    )

    emb = load_table(spark, "embeddings", SF_DIR).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = _trained_codebook(spark, emb, SF_DIR, SEMDEDUP_SEED_IDS)
    path = _ivf_compacted_index_path(spark, SF_DIR, cents)

    with open(os.path.join(path, "_pre_stats.json")) as fh:
        pre = json.load(fh)
    with open(os.path.join(path, "_compact_manifest.json")) as fh:
        manifest = json.load(fh)
    with open(os.path.join(path, "_post_stats.json")) as fh:
        post = json.load(fh)

    fragmented = {p for p, s in pre.items() if s["n_files"] > 1}
    rewritten = {p for p, rec in manifest.items() if rec["rewritten"]}
    assert rewritten == fragmented and rewritten, (rewritten, fragmented)
    for p in rewritten:
        assert post[p]["n_files"] == 1, (p, post[p])
    for p in set(pre) - fragmented:
        assert post[p]["files"] == pre[p]["files"], f"healthy cell touched: {p}"

    # content identity with the uncompacted delta index
    src = _ivf_delta_index_path(spark, SF_DIR, cents)

    def content(p):
        return sorted(
            (r.vec_id, r.cell, r.nrm, tuple(r.v))
            for r in read_ivf_index(spark, p).collect()
        )

    assert content(path) == content(src)


def test_ivf_compacted_probe_pruning_and_delta_rows(spark):
    """The probe over the compacted index keeps the static cell IN-list
    partition pruning, each probed cell is one file, and delta-slice
    rows are still servable (compaction must not lose appends)."""
    from dend_covid19_spark.operators.similarity import (
        IVF_RECALL_NPROBE,
        ann_ivf_cell_compaction,
    )

    df = ann_ivf_cell_compaction(spark, SF_DIR)
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
    assert any(r.is_delta for r in rows), "delta rows lost by compaction"


def test_bloom_delta_artifact_equals_rebuild_and_no_base_rewrite(spark):
    """The published merged filter is bit-identical to a full rebuild
    over the union slice (the r14 algebra, now as a maintained
    artifact), and the build's own manifest proves the standing base
    filter's data files were never rewritten by the merge."""
    from dend_covid19_spark.plans.llm_pipeline import (
        BLOOM_DELTA_REM,
        DECON_MOD,
        _bloom_words,
        _decon_bloom_delta_words,
        _decon_scratch_parent,
        _decon_shingle_hashes,
    )

    merged = _decon_bloom_delta_words(spark, SF_DIR)
    sh = _decon_shingle_hashes(spark, SF_DIR)
    union_bench = sh.where(
        (F.col("doc_id") % DECON_MOD == 0)
        | (F.col("doc_id") % DECON_MOD == BLOOM_DELTA_REM)
    ).select("gh")
    want = sorted(map(tuple, _bloom_words(union_bench).collect()))
    got = sorted(map(tuple, merged.collect()))
    assert got == want and len(want) > 0

    # the delta slice is non-trivial: merging it changed the filter
    base_only = sorted(
        map(
            tuple,
            _bloom_words(
                sh.where(F.col("doc_id") % DECON_MOD == 0).select("gh")
            ).collect(),
        )
    )
    assert got != base_only

    import glob

    parent = _decon_scratch_parent(spark, SF_DIR)
    [delta_dir] = glob.glob(os.path.join(parent, "bloomwords_*_delta*"))
    with open(os.path.join(delta_dir, "_base_words_manifest.json")) as fh:
        man = json.load(fh)
    assert man["pre"] and man["pre"] == man["post"], "base filter rewritten"


def test_side_effecting_rows_are_reentrant(spark):
    """Re-entry in the SAME process with the query cache evicted (the
    appId-changed path): the scratch is already built and the streaming
    checkpoint already committed, so a second invocation must return
    the same result — the lakehouse row must pin v1 by name (not the
    advanced current pointer) and the sink row must not assert a fresh
    drain's manifests against a no-op drain."""
    from dend_covid19_spark.plans.ingest import (
        lakehouse_manifest_roundtrip,
        streaming_compaction_sink_executed,
    )

    def digest(df):
        return sorted(map(tuple, df.collect()))

    first_lh = digest(lakehouse_manifest_roundtrip(spark, SF_DIR))
    first_sc = digest(streaming_compaction_sink_executed(spark, SF_DIR))
    lakehouse_manifest_roundtrip.cache_clear()
    streaming_compaction_sink_executed.cache_clear()
    assert digest(lakehouse_manifest_roundtrip(spark, SF_DIR)) == first_lh
    assert digest(streaming_compaction_sink_executed(spark, SF_DIR)) == first_sc
