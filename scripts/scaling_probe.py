"""Scaling probe: do the engine's plans degrade when the data grows?

Synthesizes k x sf0.1 inputs IN THE PLAN (union of k key-offset scans —
no disk staging) and times the two headline shapes whose cost profiles
bracket the engine:

  q1-shape        scan -> filter -> 8-agg groupBy    (scan + partial-agg bound)
  q3-shape        3-table join -> agg -> top-k       (shuffle-join bound)
  ivf-shape       broadcast-codebook cell assignment
                  -> probed-cell top-k               (codegen compute bound)
  sessionize-shape lag/sum windows per user          (single-exchange window/state bound)

Near-linear wall-time in k means the plan's shuffle/agg structure holds
as data outgrows any single task: partial aggregation keeps the exchange
at group-cardinality for q1, and the broadcast+shuffle-join split keeps
q3's exchange proportional to the fact side. Superlinear growth here
would flag a plan that hits a wall at 100 TB.

Usage: python scripts/scaling_probe.py  (prints one JSON line)
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from dend_covid19_spark.catalog import load_table, share  # noqa: E402
from dend_covid19_spark.plans.parity import dsum  # noqa: E402
from dend_covid19_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MULTIPLIERS = [1, 2, 4, 8]
KEY_SPAN = 10_000_000  # > max orderkey at any test sf; keeps replicas disjoint


def replicate(df, k: int, key_cols: tuple[str, ...]):
    """k key-offset copies of df unioned — replica i's keys shift by
    i*KEY_SPAN so joins fan out per-replica instead of cross-replica."""
    parts = [
        df.select(
            *[
                (F.col(c) + F.lit(i * KEY_SPAN)).alias(c) if c in key_cols else F.col(c)
                for c in df.columns
            ]
        )
        for i in range(k)
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def q1_shape(spark, k: int):
    li = replicate(load_table(spark, "lineitem", SF_DIR), k, ("l_orderkey",))
    return (
        li.where(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=6).alias(
                "sum_disc_price"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shape(spark, k: int):
    cust = replicate(load_table(spark, "customer", SF_DIR), k, ("c_custkey",))
    orders = replicate(
        load_table(spark, "orders", SF_DIR), k, ("o_orderkey", "o_custkey")
    )
    li = replicate(load_table(spark, "lineitem", SF_DIR), k, ("l_orderkey",))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .where(F.col("c_mktsegment") == "BUILDING")
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=6).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def ivf_shape(spark, k: int):
    """ann_ivf_topk's plan over k x embeddings: broadcast codebook,
    whole-stage-codegen cell assignment (O(n * |codebook| * d)), probe
    the query's cells, exact top-k within — compute-bound and linear if
    the no-shuffle assignment holds at scale."""
    from dend_covid19_spark.operators.similarity import (
        _SPARK_CELL_SCORES,
        _SPARK_COS,
        CENTROID_IDS,
        NPROBE,
        QUERY_VEC_ID,
    )

    emb = replicate(load_table(spark, "embeddings", SF_DIR), k, ("vec_id",)).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = F.broadcast(
        emb.where(F.col("vec_id").isin(CENTROID_IDS))
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cvec"))
        .agg(F.collect_list(F.struct("cid", "cvec")).alias("cents"))
    )
    assigned = (
        emb.crossJoin(cents)
        .withColumn(
            "cell", -F.expr(f"array_max({_SPARK_CELL_SCORES.format(v='v')})").negcid
        )
        .drop("cents")
    )
    q = (
        emb.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("v").alias("qv"))
        .crossJoin(cents)
        .select(
            "qv",
            F.expr(
                f"transform(slice(reverse(array_sort({_SPARK_CELL_SCORES.format(v='qv')})), "
                f"1, {NPROBE}), x -> -x.negcid)"
            ).alias("probed"),
        )
    )
    return (
        assigned.join(F.broadcast(q), F.expr("array_contains(probed, cell)"))
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("cosine", F.expr(_SPARK_COS))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "cell", "cosine")
    )


def sessionize_shape(spark, k: int):
    """events_sessionize's plan over k x events: lag + running-sum islands
    per user — ONE user_id exchange feeding both window passes; linear if
    per-user state stays partition-local."""
    from pyspark.sql import Window

    ev = replicate(load_table(spark, "events", SF_DIR), k, ("event_id", "user_id"))
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = ev.withColumn(
        "is_new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("is_new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.to_date(F.min("ts")).alias("session_date"),
    )


def pagerank_shape(spark, k: int):
    """pagerank_copurchase's plan over k x lineitem (both keys offset, so
    replicas form disjoint graph components): edge build + 3 integer
    fixed-point iterations. Linear if the per-iteration edges-x-ranks
    hash join and partial-agg sum stay O(|E|) — the iterative-graph
    bound that decides whether Pregel-style workloads survive 100x."""
    from dend_covid19_spark.plans.graph import PR_BASE, PR_SCALE

    li = replicate(
        load_table(spark, "lineitem", SF_DIR).select("l_orderkey", "l_partkey"),
        k,
        ("l_orderkey", "l_partkey"),
    )
    op = li.distinct()
    a, b = op.alias("a"), op.alias("b")
    canon = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("s"), F.col("b.l_partkey").alias("d"))
        .distinct()
        .localCheckpoint()
    )
    e = canon.unionAll(canon.select(F.col("d").alias("s"), F.col("s").alias("d")))
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("dout"))
    ed = e.join(F.broadcast(deg), "s").localCheckpoint()
    ranks = deg.select(F.col("s").alias("node"), F.lit(PR_SCALE).cast("bigint").alias("r"))
    for _ in range(3):
        msgs = ed.join(F.broadcast(ranks), ed.s == ranks.node).select(
            "d", F.expr("(85 * r) DIV (100 * dout)").alias("c")
        )
        ranks = (
            msgs.groupBy(F.col("d").alias("node"))
            .agg((F.lit(PR_BASE) + F.sum("c")).cast("bigint").alias("r"))
            .localCheckpoint()
        )
    return ranks


def snm_rank_shape(spark, k: int):
    """dedup_sorted_neighborhood's distributed-global-rank mechanics over
    k x documents (minus the shingle verify, which is ivf-like codegen):
    repartitionByRange + sortWithinPartitions, per-partition counts
    (bounded control-plane collect), offset fix-up, banded rank-window
    pair join. Linear if the parallel ORDER BY + rank assembly holds —
    the primitive that replaces every single-partition row_number()."""
    from pyspark.sql import Window

    from dend_covid19_spark.operators.dedup import SNM_PARTS, SNM_WINDOW

    docs = replicate(
        load_table(spark, "documents", SF_DIR).select("doc_id", "lang", "n_chars"),
        k,
        ("doc_id",),
    )
    keys = ["lang", "n_chars", "doc_id"]
    s = (
        docs.repartitionByRange(SNM_PARTS, *[F.col(c) for c in keys])
        .sortWithinPartitions(*keys)
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        r["pid"]: r["cnt"]
        for r in s.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for pid in range(SNM_PARTS):
        offsets.append((pid, acc))
        acc += counts.get(pid, 0)
    off = spark.createDataFrame(offsets, "pid int, off long")
    w = Window.partitionBy("pid").orderBy(*keys)
    ranked = (
        s.join(F.broadcast(off), "pid")
        .withColumn("rnk", F.col("off") + F.row_number().over(w))
        .select("doc_id", "rnk")
    )
    band = SNM_WINDOW - 1
    a = ranked.select(
        F.col("rnk").alias("rnk_a"), F.expr(f"rnk DIV {band}").alias("bkt")
    )
    b = ranked.select(
        F.col("rnk").alias("rnk_b"),
        F.explode(F.expr(f"array(rnk DIV {band}, rnk DIV {band} - 1)")).alias("bkt"),
    )
    return (
        a.join(b, "bkt")
        .where((F.col("rnk_b") > F.col("rnk_a")) & (F.col("rnk_b") - F.col("rnk_a") <= band))
        .groupBy((F.col("rnk_b") - F.col("rnk_a")).alias("dist"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_shape(spark, k: int):
    """cms_heavy_hitters_audit's sketch build over k x events: the D-way
    fan-out collapses to D*W counter groups in the map-side partial
    agg, so shuffle volume should stay CONSTANT while scan volume grows
    k-fold — the distributed-sketch-merge bound."""
    from dend_covid19_spark.plans.aggregates import CMS_DEPTH, CMS_WIDTH

    ev = replicate(
        load_table(spark, "events", SF_DIR).select("user_id"), k, ("user_id",)
    )
    dd = spark.range(CMS_DEPTH).select(F.col("id").cast("int").alias("d"))
    h = (
        "CAST(conv(substring(md5(concat(CAST(user_id AS STRING), '#',"
        f" CAST(d AS STRING))), 1, 8), 16, 10) AS BIGINT) % {CMS_WIDTH}"
    )
    return (
        ev.crossJoin(F.broadcast(dd))
        .groupBy("d", F.expr(h).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def lsh_shape(spark, k: int):
    """dedup_minhash_lsh's plan over k x documents: shingle -> minhash
    signature (codegen higher-order functions, the compute-heavy part)
    -> (8,4) band explode -> band-bucket self-join -> distinct pair
    count. Linear iff candidates stay bucket-local as the corpus grows —
    the blocked-pair-generation bound behind every dedup claim at
    100 TB. Replicas get their text SALTED per replica (a replica tag
    token injected between every word) so all shingles differ across
    replicas: in-replica near-dup structure is preserved (both members
    of a pair transform identically) while cross-replica collisions —
    which would be REAL k^2 duplicate growth, not plan degradation —
    can't form."""
    from dend_covid19_spark.functions import hashing as H

    parts = [
        load_table(spark, "documents", SF_DIR).select(
            (F.col("doc_id") + F.lit(i * KEY_SPAN)).alias("doc_id"),
            F.regexp_replace(F.col("text"), " ", f" r{i} ").alias("text"),
        )
        for i in range(k)
    ]
    docs = reduce(lambda a, b: a.unionByName(b), parts).repartition(
        spark.sparkContext.defaultParallelism
    )
    toks = H.spark_tokens("text")
    # Keep the intermediate shingle/hash COLUMNS (the production
    # _minhash_sigs shape) and checkpoint once: collapsing the whole
    # pipeline into one projection re-inlines the shingle expression
    # into every minhash lambda and blows the generated code up by
    # ~10x compile time, and without materialization the self-join
    # recomputes signatures per side.
    sigs = (
        docs.select("doc_id", F.expr(H.spark_shingles(toks)).alias("shingles"))
        .withColumn("hs", F.expr(H.spark_shingle_hashes("shingles")))
        .withColumn("sig", F.expr(H.spark_minhash_sig("hs")))
        .localCheckpoint()
        .select("doc_id", "sig")
    )
    bands = sigs.select(
        "doc_id", F.explode(F.expr(H.spark_band_structs("sig"))).alias("band")
    ).select(
        "doc_id",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_key").alias("band_key"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_candidates"))
    )


def span_merge_shape(spark, k: int):
    """dedup_span_merge's plan over k x documents: per-position 4-gram
    hashes -> corpus doc-frequency filter -> credit-back join -> per-doc
    gaps-and-islands windows -> span aggregate. Linear iff the gram key
    stays hash-uniform under growth AND the merge windows stay bounded
    by single-document length (they partition by doc_id — corpus growth
    adds partitions, never widens one). Replica texts are salted like
    lsh_shape (an r{i} token between every word) so duplicated-span
    structure is preserved within a replica while cross-replica matches
    — real quadratic duplicate growth, not plan degradation — can't
    form."""
    from pyspark.sql import Window

    from dend_covid19_spark.functions import hashing as H
    from dend_covid19_spark.plans.textops import SPAN_NGRAM

    parts = [
        load_table(spark, "documents", SF_DIR).select(
            (F.col("doc_id") + F.lit(i * KEY_SPAN)).alias("doc_id"),
            F.regexp_replace(F.col("text"), " ", f" r{i} ").alias("text"),
        )
        for i in range(k)
    ]
    docs = reduce(lambda a, b: a.unionByName(b), parts).repartition(
        spark.sparkContext.defaultParallelism
    )
    tok = docs.select("doc_id", F.split("text", " ").alias("toks")).where(
        F.expr(f"size(toks) >= {SPAN_NGRAM}")
    )
    gram_hash = H.spark_hash32(f"concat_ws(' ', slice(toks, i, {SPAN_NGRAM}))")
    g = (
        tok.select(
            "doc_id",
            F.expr(
                f"explode(transform(sequence(1, size(toks) - {SPAN_NGRAM - 1}), "
                f"i -> struct(i AS i, {gram_hash} AS gh)))"
            ).alias("p"),
        )
        .select("doc_id", "p.i", "p.gh")
        .localCheckpoint()
    )
    f = (
        g.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("n"))
        .where(F.col("n") >= 2)
        .select("gh")
    )
    dup = g.join(f, "gh").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    flagged = dup.withColumn(
        "brk",
        F.when(F.col("i") - F.lag("i").over(w) > SPAN_NGRAM - 1, 1).otherwise(0),
    )
    grp = flagged.withColumn(
        "span_id", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = grp.groupBy("doc_id", "span_id").agg(
        (F.max("i") - F.min("i") + SPAN_NGRAM).alias("span_tokens")
    )
    return spans.groupBy().agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_tokens").alias("total_span_tokens"),
    )


def dsir_shape(spark, k: int):
    """dsir_importance_select's plan over k x documents: hashed n-gram
    feature fold -> fixed-width (DSIR_BUCKETS-row) model counts ->
    broadcast weight table -> per-doc score -> top-k. Linear iff the
    model table stays bucket-bounded as the corpus grows (it does by
    construction — hashing-trick features have no vocabulary) and the
    scoring join stays broadcast-side: the importance-resampling bound
    at 100 TB. Replica text salts like lsh_shape so feature mass grows
    linearly instead of colliding into the same doc profile."""
    from pyspark.sql import functions as F

    from dend_covid19_spark.plans.llm_pipeline import (
        DSIR_TARGET_SOURCE,
        DSIR_TOP_K,
        _PPM,
        _dsir_occ_spark,
    )

    parts = [
        load_table(spark, "documents", SF_DIR).select(
            (F.col("doc_id") + F.lit(i * KEY_SPAN)).alias("doc_id"),
            F.col("source"),
            F.regexp_replace(F.col("text"), " ", f" r{i} ").alias("text"),
        )
        for i in range(k)
    ]
    docs = reduce(lambda a, b: a.unionByName(b), parts).repartition(
        spark.sparkContext.defaultParallelism
    )
    tf = (
        _dsir_occ_spark(docs)
        .groupBy("doc_id", "source", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = tf.groupBy("bucket").agg(
        F.expr(
            f"((coalesce(sum(CASE WHEN source = '{DSIR_TARGET_SOURCE}'"
            f" THEN tf END), 0) + 1) * {_PPM}) div (sum(tf) + 1)"
        ).alias("w_ppm")
    )
    sc = (
        tf.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("n_feats"), F.expr("sum(tf * w_ppm)").alias("s"))
    )
    return (
        sc.select("doc_id", F.expr("s div n_feats").alias("dsir_score_ppm"))
        .orderBy(F.desc("dsir_score_ppm"), "doc_id")
        .limit(DSIR_TOP_K)
    )


def model_inference_shape(spark, k: int):
    """model_inference_annotator's plan over k x documents: codegen
    token-count featurization -> one Arrow batch boundary -> numpy
    matmul forward pass -> 3-key gate aggregate. Linear iff the Arrow
    stage's per-batch cost stays row-proportional (no shuffle anywhere
    before the tiny topic-key exchange) — the vectorized-inference
    bound behind every model-gated corpus pass at 100 TB."""
    from dend_covid19_spark.functions.model import annotate_topic

    docs = replicate(
        load_table(spark, "documents", SF_DIR).select("doc_id", "text", "n_chars"),
        k,
        ("doc_id",),
    )
    return (
        annotate_topic(docs)
        .groupBy("topic_label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("topic_score") >= 3, F.col("n_chars"))).alias(
                "kept_chars"
            ),
        )
    )


def _copurchase_edges(spark, k: int):
    """Replicated symmetric co-purchase edge list (disjoint components
    per replica — both keys offset), shared by the iterative-graph
    shapes below. Matches pagerank_shape's edge build."""
    li = replicate(
        load_table(spark, "lineitem", SF_DIR).select("l_orderkey", "l_partkey"),
        k,
        ("l_orderkey", "l_partkey"),
    )
    op = li.distinct()
    a, b = op.alias("a"), op.alias("b")
    canon = share(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("s"), F.col("b.l_partkey").alias("d"))
        .distinct(),
        SF_DIR,
        "lineitem",
    )
    return canon.unionAll(canon.select(F.col("d").alias("s"), F.col("s").alias("d")))


def kcore_shuffle_shape(spark, k: int):
    """graph_kcore_members_shuffle's decrement-maintained peel over k x
    the co-purchase graph: stationary hash-partitioned edges, per-round
    exchange bounded by the dropped frontier + its incident edges
    (claimed <= |V| + |E| summed over all rounds). Linear-in-k wall
    time is that claim measured."""
    from dend_covid19_spark.plans.graph import _kcore_peel

    return _kcore_peel(_copurchase_edges(spark, k), SF_DIR, small=False)


def lpa_shape(spark, k: int):
    """graph_lpa_communities' synchronous label propagation over k x the
    co-purchase graph, forced onto the >GRAPH_BROADCAST_MAX_NODES branch:
    edges hash-partitioned once on the join key (d) and checkpointed;
    per round one co-partitioned label attach + one map-side-combined
    (node,label) count + a max_by hash argmax. The claimed
    edge-linear-per-round envelope of the path that runs at scale,
    measured."""
    from dend_covid19_spark.plans.graph import _lpa_propagate

    return _lpa_propagate(_copurchase_edges(spark, k), SF_DIR, small=False)


def funnel_shape(spark, k: int):
    """funnel_stage_progression's shape: shuffle on user_id, per-user
    sort_array + codegen state-machine fold, 4-row histogram. Replicas
    offset user_id so user count grows with k while per-user history
    stays constant — the balanced case; see funnel_skew_shape for the
    documented bound (max events per user)."""
    from dend_covid19_spark.plans.timeseries import funnel_stages_over

    ev = replicate(
        load_table(spark, "events", SF_DIR).select(
            "user_id", "ts", "event_id", "event_type"
        ),
        k,
        ("user_id", "event_id"),
    )
    return funnel_stages_over(ev)


def funnel_skew_shape(spark, k: int):
    """The funnel's documented scale bound driven directly: ~10% of ALL
    replicas' events collapse onto ONE hot user, so that user's history
    grows k x 10% of the corpus while everyone else stays constant —
    the collect_list + fold per-user cost under hot-key skew. If this
    exponent misbehaves, the applyInPandasWithState streaming form in
    the funnel docstring is the escape hatch."""
    from dend_covid19_spark.plans.timeseries import funnel_stages_over

    ev = replicate(
        load_table(spark, "events", SF_DIR).select(
            "user_id", "ts", "event_id", "event_type"
        ),
        k,
        ("user_id", "event_id"),
    )
    hot = ev.withColumn(
        "user_id",
        F.when(F.col("event_id") % 10 == 0, F.lit(1)).otherwise(F.col("user_id")),
    )
    return funnel_stages_over(hot)


_PRUNE_ROOTS: dict[int, str] = {}


def pruned_scan_shape(spark, k: int):
    """The stats-pruned manifest read's scale story measured directly:
    a k x events manifest table clustered by event_id (8k files, each a
    disjoint key range) probed over a FIXED 20% key-span window. The
    manifest prune keeps the planned file fraction ~constant (asserted:
    selectivity holds at every k), so wall time should track selected
    bytes (at-worst-linear in k) while planning stays O(manifest) driver
    metadata — the Iceberg/Delta file-skipping promise. Unlike the
    in-plan shapes this one stages real files (pruning is metadata over
    files); staging happens on the builder's FIRST call per k — the
    probe's stage pass — so the timed pass hits the cache."""
    import tempfile

    from dend_covid19_spark.operators.lakehouse import (
        current_manifest,
        prune_files,
        read_manifest_table,
        write_manifest_table,
    )

    root = _PRUNE_ROOTS.get(k)
    if root is None:
        root = os.path.join(
            tempfile.mkdtemp(prefix=f"probe_prune_x{k}_"), "t"
        )
        ev = replicate(
            load_table(spark, "events", SF_DIR).select(
                "event_id", "event_type", "value"
            ),
            k,
            ("event_id",),
        )
        write_manifest_table(spark, ev, root, n_files=8 * k, cluster_by=["event_id"])
        _PRUNE_ROOTS[k] = root

    m = current_manifest(root)
    stats = m["file_stats"]
    mn = min(stats[f]["event_id"][0] for f in m["files"])
    mx = max(stats[f]["event_id"][1] for f in m["files"])
    span = mx - mn
    lo, hi = mn + span // 10, mn + (3 * span) // 10
    planned = prune_files(m, "event_id", lo, hi)
    frac = len(planned) / len(m["files"])
    assert frac < 0.45, f"selectivity lost at x{k}: {frac:.2f}"
    return (
        read_manifest_table(spark, root, m, prune=("event_id", lo, hi))
        .where(F.col("event_id").between(lo, hi))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total"))
    )


def main() -> None:
    spark = get_spark(app_name="scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")
    load_table(spark, "lineitem", SF_DIR).count()  # warm file listing

    only = set(sys.argv[1:])  # optional shape-name filter
    results: dict[str, dict[str, float]] = {}
    for name, builder in (
        ("q1_shape", q1_shape),
        ("q3_shape", q3_shape),
        ("ivf_shape", ivf_shape),
        ("sessionize_shape", sessionize_shape),
        ("pagerank_shape", pagerank_shape),
        ("snm_rank_shape", snm_rank_shape),
        ("cms_shape", cms_shape),
        ("lsh_shape", lsh_shape),
        ("kcore_shuffle_shape", kcore_shuffle_shape),
        ("lpa_shape", lpa_shape),
        ("model_inference_shape", model_inference_shape),
        ("dsir_shape", dsir_shape),
        ("span_merge_shape", span_merge_shape),
        ("funnel_shape", funnel_shape),
        ("funnel_skew_shape", funnel_skew_shape),
        ("pruned_scan_shape", pruned_scan_shape),
    ):
        if only and name not in only:
            continue
        for k in MULTIPLIERS:  # stage pass: shapes that materialize
            builder(spark, k)  # files build here, outside the timing
        builder(spark, 1).write.format("noop").mode("overwrite").save()  # codegen warm
        per_k: dict[str, float] = {}
        for k in MULTIPLIERS:
            t0 = time.perf_counter()
            builder(spark, k).write.format("noop").mode("overwrite").save()
            per_k[f"x{k}"] = round(time.perf_counter() - t0, 3)
        per_k["scaling_exponent"] = round(
            (per_k[f"x{MULTIPLIERS[-1]}"] / per_k["x1"]) ** (1 / 3), 3
        )  # 8x data -> exponent^3 time; 2.0 = linear per doubling
        results[name] = per_k

    print(
        json.dumps(
            {
                "metric": "scaling_probe_sec_by_multiplier",
                "sf_base": SF_DIR,
                "results": results,
                "note": "scaling_exponent: time multiplier per data doubling "
                "over the x1->x8 span; ~<=2.0 means at-worst-linear scaling",
            }
        )
    )


if __name__ == "__main__":
    main()
