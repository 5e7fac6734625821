"""Graph-operator invariants: fixed-point PageRank mass bounds, the
degree-ordered orientation's out-degree cap, z-order envelope quality.
(Value correctness is oracle-checked in test_oracle_parity /
driver_sim; these pin the algorithmic properties the oracles can't
express.)"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dend_covid19_spark.operators.scale import zorder_layout_orders
from dend_covid19_spark.plans.graph import (
    PR_BASE,
    PR_SCALE,
    PR_SHUFFLE_PARTS,
    _copurchase_edges,
    _staged_lift_ppm,
    graph_triangle_count,
    pagerank_copurchase,
    pagerank_copurchase_shuffle,
)
import dend_covid19_spark.catalog as cat
from dend_covid19_spark.catalog import share
from dend_covid19_spark.session import session_conf
from tests.conftest import SF_DIR

# the *_edges_stationary pins read the at-scale plan: no broadcast
# auto-planning. AQE stays at the session's default (on): the cuts go
# through share, which keeps their hash partitioning under it.
_NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


@pytest.fixture
def past_ckpt_gate(monkeypatch):
    """Every source reads as larger than share_if_bounded's gate, as it
    does at the scale the shuffle branches exist for: the loops' cuts
    must still be taken there."""
    monkeypatch.setattr(cat, "_source_bytes", lambda path: cat.CKPT_SOURCE_MAX_BYTES + 1)


def test_pagerank_mass_and_floor(spark):
    """Integer fixed-point PageRank: every node keeps at least the
    teleport base; total mass never exceeds the initial N * SCALE (the
    per-edge floor division only ever loses mass) and never drops below
    the damping floor sum N * BASE."""
    rows = pagerank_copurchase(spark, SF_DIR).collect()
    n = len(rows)
    assert n > 0
    total = sum(r.rank_e9 for r in rows)
    assert all(r.rank_e9 >= PR_BASE for r in rows)
    assert n * PR_BASE <= total <= n * PR_SCALE


def test_pagerank_rewards_high_degree(spark):
    """Sanity on semantics: rank should correlate with co-purchase
    degree — the top-decile-rank parts must have a higher mean degree
    than the bottom decile."""
    r = pagerank_copurchase(spark, SF_DIR)
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    op = li.distinct()
    a, b = op.alias("a"), op.alias("b")
    deg = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("part_key"), F.col("b.l_partkey").alias("d"))
        .distinct()
        .groupBy("part_key")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    joined = r.join(deg, "part_key").orderBy(F.col("rank_e9").desc()).collect()
    k = max(len(joined) // 10, 1)
    top = sum(x.deg for x in joined[:k]) / k
    bot = sum(x.deg for x in joined[-k:]) / k
    assert top > bot


def test_triangle_orientation_out_degree_bounded(spark):
    """The point of degree-ordering: after orienting each edge toward
    its higher-(degree, id) endpoint, no node's out-degree exceeds the
    O(sqrt(|E|)) cap — the property that bounds wedge generation at
    |E|^1.5 instead of sum(deg^2) on skewed graphs."""
    from dend_covid19_spark.plans.graph import TRI_MAX_SIZE, _ORD_BIG

    sp = (
        spark.read.parquet(f"{SF_DIR}/part.parquet")
        .where(F.col("p_size") <= TRI_MAX_SIZE)
        .select("p_partkey")
    )
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    op = (
        li.join(F.broadcast(sp), li.l_partkey == sp.p_partkey)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    x, y = op.alias("x"), op.alias("y")
    e = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
        .distinct()
    )
    m = e.count()
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    okt = deg.select("n", (F.col("degree") * _ORD_BIG + F.col("n")).alias("ok"))
    oa = okt.select(F.col("n").alias("a"), F.col("ok").alias("ok_a"))
    ob = okt.select(F.col("n").alias("b"), F.col("ok").alias("ok_b"))
    oriented = (
        e.join(oa, "a")
        .join(ob, "b")
        .select(
            F.when(F.col("ok_a") < F.col("ok_b"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("src")
        )
    )
    max_out = (
        oriented.groupBy("src")
        .agg(F.count(F.lit(1)).alias("out"))
        .agg(F.max("out"))
        .collect()[0][0]
    )
    assert max_out <= 2 * math.sqrt(m) + 1, (max_out, m)


def test_triangle_counts_consistent(spark):
    """Corner-credit identity: the per-node triangle counts must sum to
    exactly 3x the number of distinct triangles (each triangle credits
    its three corners once)."""
    rows = graph_triangle_count(spark, SF_DIR).collect()
    total = sum(r.n_triangles for r in rows)
    assert total % 3 == 0
    assert total > 0


def test_pagerank_branches_identical(spark):
    """The broadcast and co-partitioned-shuffle branches are physically
    different plans over identical integer arithmetic — their results
    must be bit-identical (this is what lets the size gate switch
    branches at GRAPH_BROADCAST_MAX_NODES without changing answers)."""
    a = {(r.part_key, r.rank_e9) for r in pagerank_copurchase(spark, SF_DIR).collect()}
    b = {
        (r.part_key, r.rank_e9)
        for r in pagerank_copurchase_shuffle(spark, SF_DIR).collect()
    }
    assert a == b and len(a) > 0


def test_pagerank_shuffle_branch_edges_stationary(spark, past_ckpt_gate):
    """The 100 TB branch's contract: after the one-time
    repartition(s) + share cut, the per-iteration rank attach
    exchanges ONLY the node-cardinality rank table — the checkpointed
    edge partitions are read in place (no Exchange above the edge
    scan). Broadcast auto-planning is disabled so the demo-scale plan
    is the at-scale plan."""
    from pyspark.sql import functions as F

    with session_conf(spark, _NO_BROADCAST):
        ed, deg = _copurchase_edges(spark, SF_DIR, broadcast_deg=False)
        edc = share(ed.repartition(PR_SHUFFLE_PARTS, "s"), SF_DIR, "lineitem")
        ranks = deg.select(
            F.col("s").alias("node"), F.lit(PR_SCALE).cast("bigint").alias("r")
        )
        j = edc.join(ranks, edc.s == ranks.node)
        plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" not in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    # at most the rank side moves — and when the rank table derives from
    # the checkpointed degree table (whose hash partitioning on the node
    # key survives the checkpoint and the alias), even that exchange
    # vanishes: both sides arrive co-partitioned
    assert len(exchanges) <= 1, plan
    # the join's LEFT subtree (edge side; toString prefixes it with ':')
    # must be exchange-free — the checkpointed partitions are read in place
    lines = plan.splitlines()
    join_at = next(i for i, ln in enumerate(lines) if "SortMergeJoin" in ln)
    left = [ln for ln in lines[join_at + 1 :] if ln.lstrip().startswith(":")]
    assert left and all("Exchange" not in ln for ln in left), plan


def test_staged_lift_ppm_exact(spark, duck):
    """_staged_lift_ppm must equal Python big-int floor division in BOTH
    dialects, including inputs whose naive numerator n_ab * n_baskets *
    1e6 overflows int64 (the regime that motivated the staging — naive
    DECIMAL division rounds, differently per engine)."""
    import random

    rng = random.Random(0xC0FFEE)
    rows = []
    for _ in range(200):
        n_baskets = rng.randint(10, 3_000_000_000)
        # na, nb >= n_ab by construction in the query; keep den*1e3 < 2^63
        n_ab = rng.randint(10, min(n_baskets, 90_000_000))
        na = rng.randint(n_ab, 95_000_000)
        nb = rng.randint(n_ab, 95_000_000)
        rows.append((n_ab, n_baskets, na, nb))
    rows.append((1_500_000_000, 3_000_000_000, 90_000_000, 90_000_000))
    rows.append((10, 10, 10, 10))
    expected = [(n_ab * n_baskets * 1_000_000) // (na * nb) for n_ab, n_baskets, na, nb in rows]

    duck.execute("CREATE OR REPLACE TEMP TABLE _lift(n_ab BIGINT, n_baskets BIGINT, na BIGINT, nb BIGINT)")
    duck.executemany("INSERT INTO _lift VALUES (?,?,?,?)", rows)
    got_duck = [
        r[0]
        for r in duck.execute(
            f"SELECT {_staged_lift_ppm('//')} FROM _lift"
        ).fetchall()
    ]
    assert got_duck == expected

    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(rows, "n_ab long, n_baskets long, na long, nb long")
    got_spark = [
        r[0] for r in sdf.select(F.expr(_staged_lift_ppm("DIV"))).collect()
    ]
    assert got_spark == expected


def test_zorder_envelopes_tight(spark):
    """The reason to z-order instead of single-column sort: buckets must
    be selective on BOTH dimensions at once (a single-column sort gives
    tight min/max on one axis and full-range envelopes on the other; a
    hash layout gives full-range on both). Pin that the row-weighted
    mean envelope width, normalized by each dimension's global range, is
    small on BOTH axes simultaneously."""
    z = zorder_layout_orders(spark, SF_DIR).collect()
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    b = o.agg(
        F.min("o_custkey"),
        F.max("o_custkey"),
        F.min("o_orderdate"),
        F.max("o_orderdate"),
    ).collect()[0]
    cust_range = b[1] - b[0] or 1
    day_range = (b[3] - b[2]).days or 1
    n = sum(r.n_rows for r in z)
    mean_cust = sum((r.max_cust - r.min_cust) / cust_range * r.n_rows for r in z) / n
    mean_day = sum((r.max_day - r.min_day) / day_range * r.n_rows for r in z) / n
    assert mean_cust < 0.2 and mean_day < 0.2, (mean_cust, mean_day)


def test_kcore_fixpoint_reached(spark):
    """After KCORE_ITERS unrolled peels every surviving node must have
    within-core degree >= K — i.e. one more peel round would remove
    nobody, so the unrolled result IS the true K-core, not a
    truncation. (If the demo graph ever grows enough to need more
    rounds, this fails loudly instead of the oracle silently matching
    a non-fixpoint.)"""
    from dend_covid19_spark.plans.graph import KCORE_K, graph_kcore_members

    rows = graph_kcore_members(spark, SF_DIR).collect()
    assert rows, "K-core empty at test scale — lower KCORE_K"
    assert all(r.core_degree >= KCORE_K for r in rows), sorted(
        r.core_degree for r in rows
    )[:5]


def test_kcore_branches_identical(spark):
    """The broadcast (filter-based) and shuffle (decrement-maintained)
    peeling branches are physically different algorithms over the same
    integer counting — their results must be bit-identical, which is
    what lets the size gate switch at GRAPH_BROADCAST_MAX_NODES
    without changing answers."""
    from dend_covid19_spark.plans.graph import (
        graph_kcore_members,
        graph_kcore_members_shuffle,
    )

    a = {
        (r.part_key, r.core_degree)
        for r in graph_kcore_members(spark, SF_DIR).collect()
    }
    b = {
        (r.part_key, r.core_degree)
        for r in graph_kcore_members_shuffle(spark, SF_DIR).collect()
    }
    assert a == b and len(a) > 0


def test_kcore_broadcast_branch_edges_stationary(spark):
    """Sub-gate contract: each peel round probes the checkpointed edge
    partitions in place — both semi joins broadcast the survivor set,
    so the plan above the edge scan contains broadcast exchanges ONLY
    (no shuffle Exchange of the edge table)."""
    from dend_covid19_spark.plans.graph import KCORE_K, _kcore_edges

    e = share(_kcore_edges(spark, SF_DIR), SF_DIR, "lineitem")
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    keep = deg.where(F.col("deg") >= KCORE_K).select("s")
    j = e.join(F.broadcast(keep), "s", "left_semi").join(
        F.broadcast(keep.select(F.col("s").alias("d"))), "d", "left_semi"
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    # The probe spine (edge scan up to the joins) prints BEFORE the
    # first BroadcastExchange; shuffle Exchanges are legitimate only
    # INSIDE the broadcast build subtrees (node-cardinality degree
    # aggregates), i.e. after it. A shuffle of the edge table would
    # surface on the probe spine — before any BroadcastExchange.
    lines = plan.splitlines()
    first_bcast = next(
        i for i, ln in enumerate(lines) if "BroadcastExchange" in ln
    )
    probe_spine = lines[:first_bcast]
    assert any("BroadcastHashJoin" in ln for ln in probe_spine), plan
    shuffles = [
        ln
        for ln in probe_spine
        if "Exchange" in ln and "Broadcast" not in ln
    ]
    assert not shuffles, plan


def test_kcore_shuffle_branch_edges_stationary(spark, past_ckpt_gate):
    """The 100 TB branch's contract: after the one-time
    repartition(s) + share cut, the per-round frontier attach
    exchanges ONLY the node-cardinality dropped set — the checkpointed
    edge partitions are read in place (no Exchange above the edge
    scan). Broadcast auto-planning is disabled so the demo-scale plan
    is the at-scale plan. Mirrors
    test_pagerank_shuffle_branch_edges_stationary."""
    from dend_covid19_spark.plans.graph import (
        KCORE_K,
        KCORE_SHUFFLE_PARTS,
        _kcore_edges,
    )

    with session_conf(spark, _NO_BROADCAST):
        e = share(
            _kcore_edges(spark, SF_DIR).repartition(KCORE_SHUFFLE_PARTS, "s"),
            SF_DIR,
            "lineitem",
        )
        alive = share(
            e.groupBy("s")
            .agg(F.count(F.lit(1)).alias("deg"))
            .repartition(KCORE_SHUFFLE_PARTS, "s"),
            SF_DIR,
            "lineitem",
        )
        dropped = alive.where(F.col("deg") < KCORE_K).select("s")
        j = e.join(dropped.repartition(KCORE_SHUFFLE_PARTS, "s"), "s")
        plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" not in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    # at most the frontier side moves; the checkpointed edge partitions
    # arrive co-partitioned and are read in place
    assert len(exchanges) <= 1, plan
    lines = plan.splitlines()
    join_at = next(i for i, ln in enumerate(lines) if "SortMergeJoin" in ln)
    left = [ln for ln in lines[join_at + 1 :] if ln.lstrip().startswith(":")]
    assert left and all("Exchange" not in ln for ln in left), plan


def test_lpa_edges_stationary(spark, past_ckpt_gate):
    """LPA's 100 TB contract, mirroring
    test_kcore_shuffle_branch_edges_stationary: the edge table is
    hash-partitioned once on ``d`` — the per-round join key — and
    checkpointed; each round's label attach exchanges ONLY the
    node-cardinality label table (repartitioned on node), the
    checkpointed edge partitions are read in place. Partitioning on
    ``s`` instead would re-exchange the whole edge table on ``d``
    every round — the regression this pin exists to catch. Broadcast
    auto-planning is disabled so the demo-scale plan is the at-scale
    plan."""
    from dend_covid19_spark.plans.graph import (
        KCORE_SHUFFLE_PARTS,
        _kcore_edges,
    )

    with session_conf(spark, _NO_BROADCAST):
        e = share(
            _kcore_edges(spark, SF_DIR).repartition(KCORE_SHUFFLE_PARTS, "d"),
            SF_DIR,
            "lineitem",
        )
        labels = e.select(F.col("s").alias("node")).distinct().select(
            "node", F.col("node").alias("label")
        )
        j = e.join(
            labels.repartition(KCORE_SHUFFLE_PARTS, "node"),
            e.d == labels.node,
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" not in plan, plan
    lines = plan.splitlines()
    join_at = next(i for i, ln in enumerate(lines) if "SortMergeJoin" in ln)
    # the edge (streamed/left) side below the join must carry no
    # Exchange — the checkpointed partitions are read in place; the
    # label build side may exchange (it is node-cardinality)
    left = [ln for ln in lines[join_at + 1 :] if ln.lstrip().startswith(":")]
    assert left and all("Exchange" not in ln for ln in left), plan


def test_lpa_branches_identical(spark):
    """The broadcast branch (what graph_lpa_communities runs below
    GRAPH_BROADCAST_MAX_NODES) and the forced co-partitioned branch are
    physically different plans over the same total tie order — their
    labels must be bit-identical, which is what lets the size gate
    switch without changing answers."""
    from dend_covid19_spark.plans.graph import (
        _kcore_edges,
        _lpa_propagate,
        graph_lpa_communities,
    )

    a = {
        (r.part_key, r.community)
        for r in graph_lpa_communities(spark, SF_DIR).collect()
    }
    big = _lpa_propagate(_kcore_edges(spark, SF_DIR), SF_DIR, broadcast_labels=False)
    b = {(r.node, r.label) for r in big.collect()}
    assert a == b and len(a) > 0


def test_lpa_broadcast_branch_edges_stationary(spark):
    """Sub-gate contract: a round's label attach reads the checkpointed
    edge partitions in place — no Exchange anywhere on the edge side of
    the join — and the label side arrives as a BroadcastExchange. The
    plan is the real _lpa_propagate's, cut to its first joined round
    (round 1 joins nothing)."""
    from dend_covid19_spark.plans.graph import _kcore_edges, _lpa_propagate

    two_rounds = _lpa_propagate(
        _kcore_edges(spark, SF_DIR), SF_DIR, broadcast_labels=True, iters=2
    )
    lines = two_rounds._jdf.queryExecution().executedPlan().toString().splitlines()
    join_at = next(i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln)
    # children print one indent level below the join: the edge (streamed)
    # side under ":- ", the label (build) side under "+- " in the same column
    col = lines[join_at].index("BroadcastHashJoin")
    right_at = next(
        i for i in range(join_at + 1, len(lines)) if lines[i][col : col + 2] == "+-"
    )
    edge_side = lines[join_at + 1 : right_at]
    assert edge_side and all("Exchange" not in ln for ln in edge_side), lines
    assert "BroadcastExchange" in lines[right_at], lines


def test_lpa_communities_nontrivial(spark):
    """LPA must actually group: fewer distinct communities than nodes,
    every community label is itself a node of the subgraph, and at
    least one community has >= 2 members at test scale."""
    from collections import Counter

    from dend_covid19_spark.plans.graph import graph_lpa_communities

    rows = graph_lpa_communities(spark, SF_DIR).collect()
    assert rows
    nodes = {r.part_key for r in rows}
    labels = [r.community for r in rows]
    assert set(labels) <= nodes
    sizes = Counter(labels)
    assert len(sizes) < len(nodes)
    assert max(sizes.values()) >= 2
