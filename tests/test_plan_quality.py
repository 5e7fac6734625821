"""Physical-plan quality regression tests.

Correctness is the oracle's job (test_oracle_parity); these tests pin the
*scale* properties of the plans — the things that decide whether a query
that passes at sf0.01 still works on a 1000-executor cluster at 100 TB:

  - small dimension joins must broadcast (no shuffle of the big side);
  - filters must reach the parquet scan (PushedFilters);
  - scans must prune columns (never read l_comment for a 4-column query);
  - aggregations must have a map-side partial before the shuffle;
  - blocked pair-generation (LSH bands, SimHash bands, cosine blocks)
    must never degrade into a CartesianProduct.

A refactor that silently breaks one of these still returns correct rows,
which is exactly why they need their own tests.
"""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

import dend_covid19_spark
from dend_covid19_spark.plans.registry import all_queries

from conftest import SF_DIR


def formatted_plan(spark, name: str) -> str:
    df = all_queries()[name](spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def read_schemas(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: (struct<[^\n]*)", plan)


@pytest.mark.parametrize(
    "name",
    ["q5_local_supplier_volume", "flagship_daily_join", "dedup_minhash_lsh"],
)
def test_small_dims_broadcast(spark, name):
    plan = formatted_plan(spark, name)
    assert "BroadcastHashJoin" in plan, f"{name}: expected broadcast joins\n{plan}"
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name,expected_pushed",
    [
        ("q6_forecast_revenue", "GreaterThanOrEqual(l_shipdate"),
        ("q1_pricing_summary", "LessThanOrEqual(l_shipdate"),
        ("flagship_daily_join", "EqualTo(event_type,purchase)"),
    ],
)
def test_filters_reach_parquet_scan(spark, name, expected_pushed):
    plan = formatted_plan(spark, name)
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    assert expected_pushed in pushed, f"{name}: filter not pushed down\n{pushed}"


@pytest.mark.parametrize(
    "name", ["q1_pricing_summary", "q5_local_supplier_volume", "q6_forecast_revenue"]
)
def test_column_pruning(spark, name):
    """lineitem has 16 columns incl. the wide l_comment; a pruned scan
    never reads it, and reads under half the table width."""
    plan = formatted_plan(spark, name)
    schemas = read_schemas(plan)
    assert schemas, f"{name}: no ReadSchema found\n{plan}"
    for s in schemas:
        assert "l_comment" not in s, f"{name}: scan reads l_comment\n{s}"
    lineitem = [s for s in schemas if "l_" in s]
    assert lineitem and all(s.count(":") <= 8 for s in lineitem), (
        f"{name}: lineitem scan too wide\n{lineitem}"
    )


@pytest.mark.parametrize(
    "name",
    [
        "q2_min_cost_supplier",
        "q8_market_share",
        "q9_profit_by_nation",
        "q16_part_supplier_counts",
        "q19_disjunctive_revenue",
        "q21_waiting_supplier",
    ],
)
def test_tpch_full_dims_broadcast(spark, name):
    """The completed-suite queries join 3-7 dimension tables; every one
    must broadcast (the only sort-merge/shuffle joins allowed are fact-
    to-fact correlations on orderkey/partkey), and no plan may fall back
    to a cartesian product."""
    plan = formatted_plan(spark, name)
    assert "BroadcastHashJoin" in plan, f"{name}: expected broadcast joins\n{plan}"
    assert "CartesianProduct" not in plan


def test_q2_single_lineitem_scan(spark):
    """Q2's correlated min is a window over one supply aggregate; the
    agg-then-join-back decorrelation would scan lineitem twice."""
    plan = formatted_plan(spark, "q2_min_cost_supplier")
    n = plan.count("lineitem.parquet")
    assert n == 1, f"expected 1 lineitem scan, found {n}\n{plan}"


@pytest.mark.parametrize(
    "name,expected_pushed",
    [
        ("q15_top_supplier", "GreaterThanOrEqual(l_shipdate"),
        ("q12_late_shipment_priority", "LessThan(l_shipdate"),
        ("q20_excess_suppliers", "StringStartsWith(p_name,red"),
    ],
)
def test_tpch_full_pushdown(spark, name, expected_pushed):
    plan = formatted_plan(spark, name)
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    assert expected_pushed in pushed, f"{name}: filter not pushed down\n{pushed}"


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "dedup_exact_keyed",
        "rolling_distinct_users_7d",
        "orders_price_histogram",
        "dedup_ngram_spans",
        "feature_hash_tf64",
    ],
)
def test_partial_aggregation(spark, name):
    """groupBy must plan map-side partial + reduce-side final HashAggregate
    (2 nodes), not a single post-shuffle aggregate over raw rows."""
    plan = formatted_plan(spark, name)
    assert plan.count("HashAggregate") >= 2, f"{name}: no partial aggregation\n{plan}"


def test_scd2_single_shuffle(spark):
    """Both SCD2 windows (pick per (user_id, day), lead per user_id) must
    ride ONE user_id exchange — the explicit repartition satisfies both
    clustered distributions; per-window defaults would shuffle twice."""
    plan = formatted_plan(spark, "scd2_customer_value_history")
    n_hash = len(re.findall(r"Arguments: hashpartitioning", plan))
    assert n_hash == 1, f"expected 1 hash exchange, found {n_hash}\n{plan}"


def test_q7_dimension_prefilter_below_fact_join(spark):
    """Q7's nation-pair predicate must reach the two nation *scans*
    (PushedFilters with the Or(EqualTo(n_name,...)) disjunction), so fact
    rows for the other 23 nations drop at the broadcast-hash probe —
    post-join filtering would carry ~25x the rows through the big
    lineitem⋈orders shuffle. Catalyst derives this from the pair filter
    today; this pin keeps a refactor from regressing it."""
    plan = formatted_plan(spark, "q7_nation_volume")
    pushed = re.findall(r"PushedFilters: \[[^\]]*n_name[^\]]*\]", plan)
    assert len(pushed) == 2, f"nation-pair filter not pushed to both scans\n{plan}"
    for p in pushed:
        assert "NATION_19" in p and "NATION_11" in p, p


def test_embedding_blocked_subquadratic(spark):
    """dedup_embedding_blocked's whole point is sub-quadratic FLOPs:
    the sum of within-bucket pairs must be a small fraction of n(n-1)/2
    (measured ~0.4% at sf0.001 with 256 sign-LSH buckets). If a change
    to the bucket expression collapses buckets, this catches it."""
    import pyspark.sql.functions as F

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.operators.similarity import _SPARK_BUCKET

    emb = load_table(spark, "embeddings", SF_DIR).select(
        F.col("embedding").cast("array<double>").alias("v")
    )
    counts = (
        emb.withColumn("bucket", F.expr(_SPARK_BUCKET.format(col="v")))
        .groupBy("bucket")
        .count()
        .collect()
    )
    n = sum(r["count"] for r in counts)
    blocked_pairs = sum(r["count"] * (r["count"] - 1) // 2 for r in counts)
    ratio = blocked_pairs / (n * (n - 1) / 2)
    assert ratio < 0.05, f"bucket blocking degenerated: pair ratio {ratio:.4f}"


def test_embedding_blocked_rows_bounded(spark):
    """The flagship's block packing must be BOUNDED: no packed row (and
    hence no matmul task) may hold more than ~target vectors, however
    hot a sign-LSH bucket gets — oversized buckets salt into sub-blocks.
    Pinned with a tiny target so the sub-splitting path actually runs at
    sf0.01, and the split result must equal the unsplit result exactly
    (every within-bucket pair still compared exactly once)."""
    import pyspark.sql.functions as F

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.operators.dedup import (
        _bounded_blocks,
        dedup_embedding_blocked,
    )
    from dend_covid19_spark.operators.similarity import _SPARK_BUCKET

    target = 16
    emb = load_table(spark, "embeddings", SF_DIR).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    packed = (
        _bounded_blocks(emb, _SPARK_BUCKET.format(col="v"), target)
        .select(F.size("vecs_a").alias("na"), F.size("vecs_b").alias("nb"))
        .agg(F.max("na").alias("ma"), F.max("nb").alias("mb"))
        .collect()[0]
    )
    # xxhash64 salting is balanced-in-expectation, not exact — allow 2x.
    assert max(packed["ma"], packed["mb"]) <= 2 * target, packed
    small = sorted(
        map(tuple, dedup_embedding_blocked(spark, SF_DIR, block_target=target).collect())
    )
    full = sorted(map(tuple, dedup_embedding_blocked(spark, SF_DIR).collect()))
    assert small == full


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_ngram_jaccard",
        "dedup_incremental_batch",
        "dedup_winnowing_fingerprints",
        "dedup_crossmodal_verify",
        "ann_lsh_bucketed",
        "dedup_embedding_cosine",
        "dedup_embedding_blocked",
    ],
)
def test_pair_generation_is_blocked(spark, name):
    """Candidate-pair ops must join on block keys — a CartesianProduct or
    unconditioned BroadcastNestedLoopJoin over the full input would be the
    O(n^2) plan that dies at scale. (dedup_embedding_cosine's bucket-pair
    join is over B=8 packed rows, constant-size, and plans as a broadcast
    nested loop over 8x8 block descriptors — that one is allowed.)"""
    plan = formatted_plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name}: cartesian pair generation\n{plan}"
    if name != "dedup_embedding_cosine":
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop pair generation\n{plan}"
        )


# Queries that intentionally contain a tiny/bounded nested-loop or cross
# join (scalar-subquery broadcasts, constant-size block descriptors, an
# explicit small cross join) — everything else must never plan one.
_NESTED_LOOP_ALLOWED = {
    "join_cross_small",          # deliberate cross join of two tiny dims
    "dedup_embedding_cosine",    # 8x8 constant block-descriptor pairs
    "ann_threshold_search",      # scalar query-vector broadcast
    "ann_topk_bruteforce",       # scalar query-vector broadcast
    "ann_ivf_topk",              # one-row collect_list codebook broadcast
    "ann_recall_audit",          # 5-row query-panel broadcast (exact-truth side)
    "q11_important_parts",       # one-row threshold broadcast
    "q15_top_supplier",          # one-row max-revenue broadcast
    "q22_dormant_customers",     # one-row mean-balance broadcast
    "subquery_above_nation_avg", # one-row scalar-average broadcast
    "date_spine_daily_purchases",# one-row bounds -> generated spine
    "stats_exact_moments",       # power-sum scalars
    "tfidf_top_terms",           # one-row corpus-count broadcast
    "bm25_doc_scores",           # one-row corpus-stats broadcast
    "collocation_pmi_bigrams",   # one-row unigram/bigram-total broadcasts
    "key_skew_profile",          # one-row traffic-total broadcast
    "token_mixture_weights",     # one-row corpus-totals broadcast
    "user_missing_days",         # bounded |days| calendar-spine broadcast
    "decontaminate_bloom_gated", # one-row packed-bloom-filter broadcast
    "basket_brand_pairs",        # one-row basket-total broadcast
    "orders_price_histogram",    # one-row min/max-bounds broadcast
    "rolling_distinct_users_7d", # one-row max-day-bound broadcast
    "vocab_coverage_classes",    # one-row token-total broadcast
    "vocab_oov_rate_curve",      # 3-row sizes x one-row totals broadcasts
    "classifier_agreement_kappa",  # one-row confusion-counts scalar chain
    "zorder_layout_orders",      # one-row dimension-bounds broadcast
    "chisq_brand_region",        # one-row grand-total broadcast
    "referential_integrity_check",  # one-row per-table row-count broadcasts
    "events_dow_hour_profile",   # one-row traffic-total broadcast
    "orders_pareto_share",       # one-row cutoff + totals broadcasts
    "cms_heavy_hitters_audit",   # CMS_DEPTH-row (4) sketch-depth spine broadcast
    "rfm_segments",              # one-row quantile-cutoffs broadcast
    "cms_join_size_estimate",    # depth spine (4 rows) + one-row estimate broadcast
    "negative_sampling_per_user",  # one-row item-count + ~NEG_POOL_ITEMS-row pool broadcasts
    "dedup_lsh_band_sweep",      # one-row true-pair-count broadcast per config
    "bpe_merge_round2",          # one-row argmax merge-rule broadcast
    "bpe_merge_round4",          # same, one one-row rule broadcast per round
    "bpe_encode_corpus",         # four one-row learned rules broadcast into the apply
    "cluster_balanced_sample",   # one-row corpus-total broadcast onto k cluster sizes
    "kmeans_clusters",           # one-row broadcast codebook (k x d doubles)
    "semdedup_cluster_prune",    # same one-row codebook broadcast
    "semdedup_incremental_delta",  # same, plus the batch-sized delta broadcast
    "events_type_drift_tv",      # |days| x |types| dense monitoring-grid cross join
    "streaming_drift_monitor_executed",  # same grid over the maintained counts snapshot
    # round 12
    "ann_ivf_multiprobe_recall",  # one-row codebook + |panel|-row query broadcasts
    "ann_prefix_dim_recall_curve",  # |panel|-row query-panel broadcast (x 3-width grid)
    "semdedup_threshold_sweep",  # one-row codebook + 4-row threshold-grid + one-row total
    "events_changepoint_cusum",  # one-row (mu, sig) stats broadcast onto the day spine
    "stratified_group_kfold",    # one-row corpus-total broadcast onto K fold groups
    "tokenizer_fertility_by_lang",  # four one-row learned BPE rules broadcast into the apply
    "events_trend_theil_sen",  # |days| x |days| pair join over the bounded day spine
    # round 13
    "ann_ivf_cell_probe",  # one-row query-vector broadcast onto the pruned index scan
    "ann_ivf_delta_append",  # same shape over the incrementally maintained index
    "hard_negative_mining",  # |panel|-row anchor broadcast (non-equi label filter)
    # round 15
    "ann_ivf_cell_compaction",  # one-row query-vector broadcast onto the compacted index
    "decontaminate_bloom_delta",  # one-row packed-bloom-filter broadcast (merged filter)
}

# Queries allowed to plan a Window with an EMPTY partition spec (the
# single-reducer global sort). Only bounded post-aggregate spines belong
# here: inputs whose cardinality is fixed by the calendar / group count,
# not by data volume. Everything else must rank via partitioned windows
# (see window_ntile_customers for the distributed-rank pattern).
_GLOBAL_WINDOW_ALLOWED = {
    "timeseries_interpolate_linear",  # ~|days| rows, post-aggregate spine
    "date_spine_daily_purchases",     # ~|days| rows, generated spine
    "vocab_coverage_classes",         # count-of-counts rows: O(sqrt(tokens))
    "vocab_oov_rate_curve",           # rank over the TakeOrdered 1024-row spine
    "events_cumulative_users",        # ~|days| rows, post-aggregate spine
    "events_trend_theil_sen",         # |days|^2/2 pair spine (~435 rows at 30 days)
    "orders_open_backlog_daily",      # ~|days| delta rows, post-aggregate spine
}

_WINDOW_ARGS = re.compile(r"\(\d+\) Window\s*\nInput[^\n]*\nArguments: ([^\n]*)")


def global_windows(plan: str) -> list[str]:
    """Window nodes with an empty partition spec. Arguments print as
    [exprs], [partition], [order] — partitioned+ordered shows three
    lists; partition-only (agg-over-partition, no sort) shows two with
    NO sort direction in the last; an unpartitioned global sort shows
    two lists where the last IS a sort spec; exprs alone (no partition,
    no order) is a whole-input single partition too."""
    out = []
    for a in _WINDOW_ARGS.findall(plan):
        groups = a.count("], [") + 1
        last = a.rsplit("], [", 1)[-1]
        if groups == 1 or (groups == 2 and (" ASC" in last or " DESC" in last)):
            out.append(a)
    return out


def test_no_query_plans_cartesian(spark, registry_dfs):
    """Global sweep: no registered query may degrade to CartesianProduct,
    only the allowlisted ones may use BroadcastNestedLoopJoin (all of
    those join a one-row/constant-size side), and only bounded-spine
    queries may plan an unpartitioned Window (single-reducer global
    sort — the WindowExec 'moving all data to a single partition' plan).
    This is the blanket guarantee that nothing in the registry is
    secretly O(n^2) or single-reducer at scale.

    The same pass enforces the registry's no-array/map-output rule: the
    driver's pandas canonicalizer cannot hash list cells, so a query
    surfacing a top-level ArrayType/MapType column hard-ERRs the
    correctness harness (the round-1 failure mode)."""
    from pyspark.sql.types import ArrayType, MapType

    flagged = []
    for name in sorted(registry_dfs):
        df = registry_dfs[name]
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(mode)
        if "CartesianProduct" in plan:
            flagged.append((name, "CartesianProduct"))
        elif "BroadcastNestedLoopJoin" in plan and name not in _NESTED_LOOP_ALLOWED:
            flagged.append((name, "BroadcastNestedLoopJoin"))
        if name not in _GLOBAL_WINDOW_ALLOWED and global_windows(plan):
            flagged.append((name, "unpartitioned Window (single-reducer sort)"))
        # Invalid ('!'-prefixed) optimizer output: Catalyst emitted a node
        # referencing attributes its child does not produce (seen when
        # constraint inference pushes a self-join key's defining expression
        # to the re-aliased side). Such plans crash at runtime ONLY on the
        # interpreted binding path, so they can pass warm tests and still
        # fail a cold session — gate them mechanically here.
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        for line in opt.splitlines():
            if re.match(r"^[\s:+|-]*!", line):
                flagged.append((name, f"invalid plan node: {line.strip()[:80]}"))
                break
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType)):
                flagged.append((name, f"array/map output column {f.name!r}"))
    assert not flagged, f"unbounded pair generation or unhashable outputs in: {flagged}"


def test_fuzzy_join_blocks_bounded(spark):
    """fuzzy_join_parts was the one registered query with per-fixed-key
    quadratic cost (brand-only blocks). Pins for the banded + grid-salted
    rewrite: (1) candidate levenshtein compares stay <5% of n(n-1)/2;
    (2) with a small salt target no (brand, band, i, j) cell exceeds
    ~2x target rows per side (hash balance slack, the _bounded_blocks
    allowance); (3) the salted result is exactly the unsalted result —
    every qualifying pair still meets exactly once."""
    import pyspark.sql.functions as F

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.operators.advanced_joins import (
        _fuzzy_blocked,
        fuzzy_join_parts,
    )

    part = load_table(spark, "part", SF_DIR).select("p_partkey", "p_name", "p_brand")
    n = part.count()
    candidates = _fuzzy_blocked(part, 1 << 30).count()
    ratio = candidates / (n * (n - 1) / 2)
    assert ratio < 0.05, f"fuzzy blocking degenerated: candidate ratio {ratio:.4f}"

    target = 16
    cell_max = (
        _fuzzy_blocked(part, target)
        .groupBy("p_brand", "band", "salt_i", "salt_j")
        .agg(
            F.countDistinct("part_a").alias("na"),
            F.countDistinct("part_b").alias("nb"),
        )
        .agg(F.max("na").alias("ma"), F.max("nb").alias("mb"))
        .collect()[0]
    )
    assert max(cell_max["ma"], cell_max["mb"]) <= 2 * target, cell_max
    salted = sorted(
        map(tuple, fuzzy_join_parts(spark, SF_DIR, salt_target=target).collect())
    )
    full = sorted(map(tuple, fuzzy_join_parts(spark, SF_DIR).collect()))
    assert salted == full and len(full) > 0


@pytest.mark.parametrize("name", ["stratified_sample_events", "knn_graph_blocked"])
def test_topk_two_phase_window_group_limit(spark, name):
    """rank<=k filters must plan the two-phase heap: a PARTIAL
    WindowGroupLimit below the stratum exchange (map-side top-k, so a
    heavy stratum ships <=k rows per input partition) and the final
    limit above it. A refactor that separates the filter from the
    window (or adds columns between them) silently loses the rewrite
    and re-ships whole strata."""
    plan = formatted_plan(spark, name)
    m = re.search(
        r"WindowGroupLimit.*?Exchange.*?WindowGroupLimit", plan, flags=re.S
    )
    assert m, f"{name}: no partial WindowGroupLimit below the exchange\n{plan}"


def test_asof_union_merge_single_sort_no_fanout(spark):
    """The union-merge as-of join must be join-free: one exchange on the
    entity key, one sort, no join node at all (the filtered-equi-join
    twin materializes per-event candidate fan-out; this one must not)."""
    plan = formatted_plan(spark, "asof_join_union_merge")
    assert "Join" not in plan, f"union-merge as-of planned a join\n{plan}"
    n_hash = len(re.findall(r"Arguments: hashpartitioning", plan))
    assert n_hash == 1, f"expected 1 hash exchange, found {n_hash}\n{plan}"


def test_bloom_gate_prunes_before_join(spark):
    """decontaminate_bloom_gated's whole point is that the bloom gate
    drops non-candidate training n-grams BEFORE the equi-join. With the
    pseudo-eval slice at ~1/11 of docs the true-overlap fraction is
    small; the gate must pass only a small fraction of the train-side
    n-gram rows (false positives allowed, bounded), and its final
    output must equal the ungated exact query row-for-row."""
    import pyspark.sql.functions as F

    from dend_covid19_spark.catalog import load_table
    from dend_covid19_spark.functions import hashing as H
    from dend_covid19_spark.plans.llm_pipeline import (
        DECON_MOD,
        DECON_NGRAM,
        _bloom_gate,
        decontaminate_bloom_gated,
        decontaminate_ngram_overlap,
    )

    docs = load_table(spark, "documents", SF_DIR)
    sh = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                H.spark_shingle_hashes(
                    H.spark_shingles(H.spark_tokens("text"), DECON_NGRAM)
                )
            )
        ).alias("gh"),
    )
    bench = sh.where(F.col("doc_id") % DECON_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "gh"
    )
    train = sh.where(F.col("doc_id") % DECON_MOD != 0)
    n_train = train.count()
    n_gated = _bloom_gate(train, bench).count()
    assert n_gated < 0.2 * n_train, f"bloom gate passed {n_gated}/{n_train} rows"

    gated = sorted(map(tuple, decontaminate_bloom_gated(spark, SF_DIR).collect()))
    exact = sorted(map(tuple, decontaminate_ngram_overlap(spark, SF_DIR).collect()))
    assert gated == exact and len(exact) > 0
    """The scale path of the percentile gate must NOT rank documents in
    per-lang window partitions (lang is low-cardinality — giant skewed
    partitions at 100 TB). The plan must be: sketch aggregate (with a
    map-side partial) -> broadcast the cutoff table -> map-side filter.
    No Window node anywhere; the docs side joins by broadcast."""
    plan = formatted_plan(spark, "quality_percentile_gate_2pass")
    assert "Window" not in plan, f"2pass gate ranks in a window\n{plan}"
    assert "BroadcastHashJoin" in plan, f"cutoffs not broadcast\n{plan}"
    assert plan.count("HashAggregate") >= 2, f"no partial sketch agg\n{plan}"


def test_bucketed_join_query_no_exchange_below_join(spark):
    """The REGISTERED bucketed-join query (not just the primitives) must
    keep its SortMergeJoin fed directly by the two bucketed scans: the
    only exchange allowed in the whole plan is the final per-segment
    rollup. A drifted bucket count / lost sort order / dropped merge
    hint would silently re-insert a shuffle and defeat the
    pay-the-shuffle-once contract."""
    plan = formatted_plan(spark, "bucketed_join_colocated")
    assert "SortMergeJoin" in plan, plan
    n_hash = len(re.findall(r"Arguments: hashpartitioning", plan))
    assert n_hash == 1, f"expected only the rollup exchange, found {n_hash}\n{plan}"


def test_ohlc_windows_share_one_exchange(spark):
    """Both OHLC rank windows (asc/desc picks) and the final rollup are
    keyed on (bucket_s, event_type) — one exchange must serve all
    three; a second hashpartitioning means a window lost its clustered
    distribution."""
    plan = formatted_plan(spark, "events_ohlc_downsample")
    n_hash = len(re.findall(r"Arguments: hashpartitioning", plan))
    assert n_hash == 1, f"expected 1 hash exchange, found {n_hash}\n{plan}"


def test_missing_days_spine_broadcasts(spark):
    """user_missing_days expands users x calendar days: the spine side
    must arrive by broadcast (bounded |days| rows), never by shuffling
    the users frame against a partitioned spine."""
    plan = formatted_plan(spark, "user_missing_days")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Partition-pruning at runtime: joining a lang-partitioned fact
    against a filtered dimension must inject a dynamicpruning partition
    filter into the fact scan (Spark's DPP), so only the dimension's
    surviving partitions are read — the mechanism that makes
    star-schema joins over date/lang-partitioned 100 TB tables read GBs
    instead. Static pruning can't do this: the qualifying keys are only
    known after the dim filter runs."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    fact_path = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").mode("overwrite").parquet(fact_path)
    dim_path = str(tmp_path / "lang_dim")
    spark.createDataFrame(
        [("en", "english"), ("de", "german"), ("es", "spanish")],
        "lang string, label string",
    ).write.mode("overwrite").parquet(dim_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).where(F.col("label") == "english")
    j = fact.join(dim, "lang").groupBy("lang").count()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = j._jdf.queryExecution().explainString(mode)
    assert "dynamicpruning" in plan.lower(), plan


def test_runtime_bloom_filter_injects(spark):
    """Spark's runtime bloom filter (InjectRuntimeFilter) must fire for
    the selective-dimension fact-fact join shape: the filtered side's
    join keys fold into a bloom_filter_agg that pre-filters the big
    side's scan — the row-level complement of dynamic partition
    pruning, and at 100 TB the difference between shuffling the whole
    fact table and shuffling the ~matching slice.

    Three silent disablers, pinned here by setting them explicitly
    (mirroring test_aqe_skew_join_splits' discipline): a broadcastable
    build side (broadcast joins skip injection entirely — threshold
    -1), a build side above creationSideThreshold (default 10MB), and
    an application-side scan below applicationSideScanSizeThreshold
    (default 10GB — tiny test scans need it lowered)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan, plan
    assert "might_contain" in plan.lower() or "BloomFilter" in plan, plan


def test_dsir_scoring_broadcasts_model_table(spark):
    """dsir_importance_select's scale contract: the (<= DSIR_BUCKETS)-row
    weight table must reach the scoring join as a BroadcastExchange (the
    corpus-side stream never shuffles for the join), and the global
    top-k must plan as TakeOrderedAndProject (per-partition heaps), not
    a full Sort."""
    plan = formatted_plan(spark, "dsir_importance_select")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, (
        f"model table not broadcast\n{plan}"
    )
    assert "TakeOrderedAndProject" in plan, f"top-k plans a full sort\n{plan}"


@pytest.mark.parametrize(
    "name",
    ["bigram_lm_doc_score", "ccnet_perplexity_buckets", "quality_ensemble_vote"],
)
def test_bigram_occurrence_stream_shared(spark, name):
    """The bigram occurrence stream (occ) feeds BOTH the bigram-count
    model build and the per-doc scoring probe; it must be planned once
    (a lazy localCheckpoint both consumers read as Scan ExistingRDD),
    not exploded twice from the corpus scan. Exactly one Generate node
    should remain — the unigram-count explode, whose denominator
    deliberately differs from occ (it counts doc-final tokens too)."""
    plan = formatted_plan(spark, name)
    gen_nodes = len(re.findall(r"^\(\d+\) Generate", plan, re.M))
    rdd_nodes = len(re.findall(r"^\(\d+\) Scan ExistingRDD", plan, re.M))
    # The sharing assertion is the RDD-scan count; the Generate bound is
    # kept loose (<= 2: uc's explode, plus room for one legitimate
    # future explode or a rendering change) per the r17 advice — an
    # exact-count pin failed for non-regression reasons.
    assert gen_nodes <= 2, f"occ re-exploded per consumer: {gen_nodes} Generates\n{plan}"
    assert rdd_nodes >= 2, f"occ not shared via checkpoint: {rdd_nodes} RDD scans\n{plan}"


@pytest.mark.parametrize(
    "name",
    ["bigram_lm_doc_score", "tfidf_top_terms"],
)
def test_corpus_stream_ckpt_gated_on_scale(spark, name, monkeypatch):
    """r17 advice item 1: the per-occurrence stream checkpoints (occ,
    tfidf tok) are Θ(corpus tokens) and must NOT materialize past the
    source-size gate — with the gate forced to 0 bytes the plan falls
    back to re-planning the explode per consumer (>= 2 Generates, no
    sharing regression in results), and the default gate keeps the cut."""
    import dend_covid19_spark.catalog as cat

    monkeypatch.setattr(cat, "CKPT_SOURCE_MAX_BYTES", 0)
    cat._source_bytes.cache_clear()
    try:
        plan = formatted_plan(spark, name)
    finally:
        monkeypatch.undo()
        cat._source_bytes.cache_clear()
    gen_nodes = len(re.findall(r"^\(\d+\) Generate", plan, re.M))
    assert gen_nodes >= 2, f"gate ignored: stream still checkpointed\n{plan}"


def _is_checkpointed(df) -> bool:
    return "LogicalRDD" in df._jdf.queryExecution().analyzed().toString()


def test_ckpt_gate_missing_source_not_cached(spark, monkeypatch, tmp_path):
    """A source path that does not exist yet reads as 0 bytes for that
    call only — once the source lands, its real size gates the cut."""
    import dend_covid19_spark.catalog as cat

    monkeypatch.setattr(cat, "CKPT_SOURCE_MAX_BYTES", 0)
    df = spark.range(3)
    assert _is_checkpointed(cat.share_if_bounded(df, str(tmp_path), "documents"))
    (tmp_path / "documents.parquet").write_bytes(b"x" * 10)
    assert cat.share_if_bounded(df, str(tmp_path), "documents") is df


def test_lineage_cuts_go_through_share():
    """Every lineage cut in the package is ``catalog.share``: a bare
    ``localCheckpoint(`` elsewhere would be planned under the session's
    AQE, run its stages at call time and drop its hash partitioning.
    The one exception is agg_skew_aqe_join's snapshot, which must run
    under AQE (its comment says why)."""
    root = pathlib.Path(dend_covid19_spark.__file__).parent
    sites = sorted(
        f"{path.relative_to(root)}: {line.strip()}"
        for path in root.rglob("*.py")
        for line in path.read_text().splitlines()
        if "localCheckpoint(" in line
    )
    assert sites == [
        "catalog.py: return df.localCheckpoint(eager=False)",
        "operators/scale.py: snap = jj.localCheckpoint()",
    ], sites


def test_session_state_goes_through_the_shared_helpers():
    """Session-global bookkeeping has one home each: per-application
    memos are ``session.session_memo`` and conf overrides are
    ``session.session_conf``. A hand-written ``applicationId`` cache or
    a bare ``spark.conf.set`` elsewhere would bring back the unscoped,
    unlocked copies those helpers replaced. The two permanent
    nanosAsLong sets are documented at their sites."""
    root = pathlib.Path(dend_covid19_spark.__file__).parent
    for rel in ("plans/ingest.py", "operators/scale.py"):
        assert "applicationId" not in (root / rel).read_text(), rel
    sets = sorted(
        f"{path.relative_to(root)}: {line.strip()}"
        for path in root.rglob("*.py")
        for line in path.read_text().splitlines()
        if "spark.conf.set(" in line
    )
    nanos = 'spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")'
    assert sets == [
        f"catalog.py: {nanos}",
        # session_conf's set, then its restore
        "session.py: spark.conf.set(k, v)",
        "session.py: spark.conf.set(k, v)",
        f"streaming/daily.py: {nanos}",
    ], sets


def test_scratch_keys_go_through_keyed_dir():
    """Scratch-dir keys have one home, ``scratch.keyed_dir``: a
    hand-built ``abs(hash(...))`` or md5-token name elsewhere would bring
    back keys that miss the application (a second application resumes
    the first one's checkpoints) or an input the dir derives from."""
    root = pathlib.Path(dend_covid19_spark.__file__).parent
    hits = sorted(
        f"{path.relative_to(root)}: {line.strip()}"
        for path in root.rglob("*.py")
        if path != root / "scratch.py"
        for line in path.read_text().splitlines()
        if "abs(hash(" in line or "hexdigest()[:12]" in line
    )
    assert hits == [], hits
    # a fixed scratch_dir name is shared by every process that runs the
    # query, so concurrent runs overwrite each other's files; the one
    # exception is serving's per-process database location
    fixed = sorted(
        f"{path.relative_to(root)}: {line.strip()}"
        for path in root.rglob("*.py")
        if path != root / "scratch.py"
        for line in path.read_text().splitlines()
        if "scratch_dir(" in line
    )
    assert fixed == [
        'plans/serving.py: loc = scratch_dir(f"servingdb_{os.getpid()}")'
    ], fixed


def test_graph_loops_go_through_propagate():
    """The graph family's rounds have one home, ``catalog.propagate``,
    which owns the gate's physical choice and the one big-branch width
    ``GRAPH_SHUFFLE_PARTS``. A per-loop width constant, or a broadcast
    or repartition inside a round loop of the graph modules, would
    bring back a hand-rolled loop with its own gate and width."""
    root = pathlib.Path(dend_covid19_spark.__file__).parent
    widths = {
        name
        for path in root.rglob("*.py")
        for name in re.findall(r"\b\w+_SHUFFLE_PARTS\b", path.read_text())
    }
    assert widths == {"GRAPH_SHUFFLE_PARTS"}, widths
    for rel in ("plans/graph.py", "operators/components.py"):
        tree = ast.parse((root / rel).read_text())
        hits = [
            f"{rel}:{call.lineno}: {call.func.attr}"
            for loop in ast.walk(tree)
            if isinstance(loop, (ast.For, ast.While))
            for call in ast.walk(loop)
            if isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and call.func.attr in ("broadcast", "repartition")
        ]
        assert hits == [], hits


def _owners(path: pathlib.Path, needle: str) -> list[str]:
    """The innermost function around each line of ``path`` that
    contains ``needle`` (``<module>`` outside every function)."""
    text = path.read_text()
    funcs = [n for n in ast.walk(ast.parse(text)) if isinstance(n, ast.FunctionDef)]
    owners = []
    for no, line in enumerate(text.splitlines(), 1):
        if needle in line:
            around = [f for f in funcs if f.lineno <= no <= f.end_lineno]
            owners.append(max(around, key=lambda f: f.lineno).name if around else "<module>")
    return owners


def test_drains_go_through_drain():
    """Every availableNow stream runs through ``streaming.daily.drain``,
    which owns the trigger, the checkpoint and the state width, and
    every drain source file is written by ``ingest._stage_chunks``,
    which owns the ts unit and the admission order. A trigger, a width
    scope or an mtime pin written anywhere else would bring back the
    hand-copied drains and stagers those two replaced. Widths come from
    bytes by one rule, ``catalog._bytes_width``: only it reads the
    advisory size and the shuffle width, only the session, the cut
    scope and the drain set that width, and no env knob fixes it. The
    one fixed width is the AQE skew demo's (``scale._SKEW_CONFS``): its
    split needs more than one reducer, so it scopes 8, the width of its
    fact side's ``repartition(8)``."""
    root = pathlib.Path(dend_covid19_spark.__file__).parent
    files = list(root.rglob("*.py"))

    def owners(needle: str) -> list[str]:
        return sorted(
            f"{path.relative_to(root)}: {owner}"
            for path in files
            for owner in _owners(path, needle)
        )

    assert owners("trigger(") == ["streaming/daily.py: drain"]
    ingest = root / "plans" / "ingest.py"
    assert _owners(ingest, "os.utime(") == ["_stage_chunks"]
    assert owners("SPARK_GRAFT_STREAM_STATE_PARTITIONS") == []
    advisory = '"spark.sql.adaptive.advisoryPartitionSizeInBytes"'
    assert owners(f"get({advisory}") == ["catalog.py: _bytes_width"]
    assert owners('"spark.sql.shuffle.partitions"') == [
        "catalog.py: _bytes_width",
        "catalog.py: share_scope",
        "operators/scale.py: <module>",
        "session.py: get_spark",
        "streaming/daily.py: drain",
    ]


def test_query_bodies_go_through_their_helpers():
    """Six query bodies exist once each: the events digest
    (``ingest._events_digest``; the three variant digests keep their
    own aggregates), the LSH candidate pairs (``dedup._lsh_pairs`` over
    the one published banding), the MinHash estimate
    (``dedup._minhash_scored``), the IVF probe list
    (``similarity._IVF_PROBE``), the one-row codebook
    (``kmeans._codebook_row``) and the bigram explode of the LM score
    (``textops.bigram_lm_scores``). A copy of any of them elsewhere
    would bring back the hand-copied query bodies they replaced."""
    root = pathlib.Path(dend_covid19_spark.__file__).parent
    files = list(root.rglob("*.py"))

    def owners(needle: str) -> list[str]:
        return sorted(
            f"{path.relative_to(root)}: {owner}"
            for path in files
            for owner in _owners(path, needle)
        )

    assert owners('F.sum(F.round(F.col("value") * 100)') == [
        "plans/ingest.py: _events_digest",
        "plans/ingest.py: compaction_incremental_events",
        "plans/ingest.py: lakehouse_schema_evolution",
    ]
    assert owners("H.spark_band_structs(") == ["operators/dedup.py: <module>"]
    assert owners("array_sort(transform(cents, c -> struct(") == [
        "operators/similarity.py: <module>"
    ]
    assert owners("element_at(toks, i + 1) AS tok_b") == ["plans/textops.py: <module>"]
    assert owners("zip_with(sig_a, sig_b") == ["operators/dedup.py: _minhash_scored"]
    assert owners("cents array<struct<cid:int,cvec:array<double>>>") == [
        "operators/kmeans.py: _codebook_row"
    ]


def test_daily_date_runs_three_jobs(spark, tmp_path):
    """One execution date of the reference DAG is three jobs: the
    sentiment summary's one shuffle and its insert (two), and the
    market insert (one). Its quality gates ride those inserts; a gate
    that scanned the serving table would add two jobs, and the old
    two-shuffle pivot one more. The warm-up date keeps first-run work
    out of the count."""
    from dend_covid19_spark.pipeline import backfill, run_daily

    db = "plan_quality_serving"
    indices = ("A", "B", "C")

    def fetch(index, date):
        return [(index, 1.0)]

    sc = spark.sparkContext
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{tmp_path}'")
    try:
        backfill(spark, SF_DIR, ["2020-01-21"], fetch, db_prefix=f"{db}.", indices=indices)
        sc.setJobGroup("daily_date", "one run_daily date")
        try:
            run_daily(spark, SF_DIR, "2020-01-22", fetch, indices, db_prefix=f"{db}.")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup("daily_date")
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    assert len(jobs) <= 3, f"{len(jobs)} jobs for one date"
