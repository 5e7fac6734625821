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
    TRI_MAX_SIZE,
    _copurchase_edges,
    _kcore_peel,
    _lpa_propagate,
    _pagerank_ranks,
    _staged_lift_ppm,
    graph_triangle_count,
    pagerank_copurchase,
)
import dend_covid19_spark.catalog as cat
from dend_covid19_spark.session import session_conf
from tests.conftest import SF_DIR

# the shuffle-branch *_edges_stationary pins read the at-scale plan:
# no broadcast auto-planning.
_NO_BROADCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}


@pytest.fixture
def past_ckpt_gate(monkeypatch):
    """Every source reads as larger than share_if_bounded's gate, as it
    does at the scale the shuffle branches exist for: the loops' cuts
    must still be taken there."""
    monkeypatch.setattr(cat, "_source_bytes", lambda path: cat.CKPT_SOURCE_MAX_BYTES + 1)


def _subgraph_edges(spark):
    return _copurchase_edges(spark, SF_DIR, max_size=TRI_MAX_SIZE)


@pytest.fixture
def round_plans(monkeypatch):
    """The physical plan of every cut ``catalog.propagate`` takes while
    the test runs, planned the way ``share`` plans it (in
    ``share_scope``): the last one is the last round's."""
    plans: list[str] = []
    real = cat.share

    def recording(df, sf_dir, table):
        with cat.share_scope(df.sparkSession, sf_dir, table):
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, sf_dir, table)

    monkeypatch.setattr(cat, "share", recording)
    return plans


def _child_col(line: str) -> int:
    """Column of a printed plan node's text, past its tree prefix: its
    children's ':- ' / '+- ' markers start there."""
    i = 0
    while line[i : i + 3] in ("   ", ":  ", ":- ", "+- "):
        i += 3
    return i


def _edge_join_sides(plan: str, join: str) -> tuple[list[str], list[str]]:
    """The printed lines of the edge (left) and node (right) subtrees of
    the first inner ``join`` in ``plan``. The first child prints under
    ':- ', the last under '+- ', and the last child's own subtree is
    indented by blanks in that column."""
    lines = plan.splitlines()
    at = next(i for i, ln in enumerate(lines) if join in ln and ", Inner" in ln)
    col = _child_col(lines[at])
    right = next(i for i in range(at + 1, len(lines)) if lines[i][col : col + 2] == "+-")
    end = next(
        (i for i in range(right + 1, len(lines)) if lines[i][col : col + 3] != "   "),
        len(lines),
    )
    return lines[at + 1 : right], lines[right:end]


def _assert_broadcast_edges_stationary(plan: str) -> None:
    """propagate's sub-gate contract: a round's attach reads the cut
    edge partitions in place (no Exchange anywhere on the edge side of
    the join) and the node table arrives as a BroadcastExchange."""
    edge, nodes = _edge_join_sides(plan, "BroadcastHashJoin")
    assert edge and all("Exchange" not in ln for ln in edge), plan
    assert any("ExistingRDD" in ln for ln in edge), plan
    assert "BroadcastExchange" in nodes[0], plan


def _assert_shuffle_edges_stationary(plan: str) -> None:
    """propagate's 100 TB contract: the edges were hash-partitioned
    once on the round's join key and cut, so the sort-merge join reads
    the cut partitions in place (no Exchange on the edge side); only
    the node-cardinality side may move. Plan it with broadcast
    auto-planning off, so the demo-scale plan is the at-scale plan."""
    assert "Broadcast" not in plan, plan
    edge, _ = _edge_join_sides(plan, "SortMergeJoin")
    assert edge and all("Exchange" not in ln for ln in edge), plan
    assert any("ExistingRDD" in ln for ln in edge), plan


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


def test_pagerank_shuffle_branch_edges_stationary(spark, past_ckpt_gate, round_plans):
    """PageRank's big branch, read off the real loop cut to two rounds:
    the second round attaches the first round's cut ranks."""
    with session_conf(spark, _NO_BROADCAST):
        _pagerank_ranks(_copurchase_edges(spark, SF_DIR), SF_DIR, small=False, rounds=2)
    _assert_shuffle_edges_stationary(round_plans[-1])


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


def test_kcore_broadcast_branch_edges_stationary(spark, round_plans):
    """k-core's sub-gate branch, read off the real peel cut to one round:
    the dropped frontier broadcasts onto the cut edges."""
    _kcore_peel(_subgraph_edges(spark), SF_DIR, small=True, rounds=1)
    _assert_broadcast_edges_stationary(round_plans[-1])


def test_kcore_shuffle_branch_edges_stationary(spark, past_ckpt_gate, round_plans):
    """k-core's big branch, read off the real peel cut to two rounds:
    the second round's frontier derives from the first round's cut."""
    with session_conf(spark, _NO_BROADCAST):
        _kcore_peel(_subgraph_edges(spark), SF_DIR, small=False, rounds=2)
    _assert_shuffle_edges_stationary(round_plans[-1])


def test_lpa_edges_stationary(spark, past_ckpt_gate, round_plans):
    """LPA's big branch, read off the real loop cut to its first joined
    round (round 1 joins nothing): the edges are partitioned on ``d``,
    the round's join key. Partitioning them on ``s`` instead would
    re-exchange the whole edge table on ``d`` every round — the
    regression this pin exists to catch."""
    with session_conf(spark, _NO_BROADCAST):
        _lpa_propagate(_subgraph_edges(spark), SF_DIR, small=False, rounds=2)
    _assert_shuffle_edges_stationary(round_plans[-1])


def test_lpa_broadcast_branch_edges_stationary(spark, round_plans):
    """LPA's sub-gate branch, read off the real loop cut to its first
    joined round (round 1 joins nothing)."""
    _lpa_propagate(_subgraph_edges(spark), SF_DIR, small=True, rounds=2)
    _assert_broadcast_edges_stationary(round_plans[-1])


def _cc_rows(spark, small: bool, monkeypatch) -> set:
    from dend_covid19_spark.operators import components as C
    from dend_covid19_spark.operators.dedup import dedup_ngram_jaccard

    # CC gates on its round-0 node count: force that gate both ways
    monkeypatch.setattr(C, "GRAPH_BROADCAST_MAX_NODES", 1 << 62 if small else 0)
    pairs = dedup_ngram_jaccard(spark, SF_DIR).select("doc_a", "doc_b")
    return {
        (r.node, r.component)
        for r in C.connected_components(
            pairs, "doc_a", "doc_b", sf_dir=SF_DIR, table="documents"
        ).collect()
    }


_BRANCH_ROWS = {
    "pagerank": lambda spark, small, _: {
        (r.part_key, r.rank_e9)
        for r in _pagerank_ranks(
            _copurchase_edges(spark, SF_DIR), SF_DIR, small=small
        ).collect()
    },
    "kcore": lambda spark, small, _: {
        (r.part_key, r.core_degree)
        for r in _kcore_peel(_subgraph_edges(spark), SF_DIR, small=small).collect()
    },
    "lpa": lambda spark, small, _: {
        (r.node, r.label)
        for r in _lpa_propagate(_subgraph_edges(spark), SF_DIR, small=small).collect()
    },
    "cc": _cc_rows,
}


@pytest.mark.parametrize("loop", sorted(_BRANCH_ROWS))
def test_propagate_branches_identical(spark, monkeypatch, loop):
    """Each propagate loop's broadcast and co-partitioned branches are
    physically different plans over the same integer arithmetic (and,
    for LPA, the same total tie order) — their results must be
    bit-identical, which is what lets the gate switch branches at
    GRAPH_BROADCAST_MAX_NODES without changing answers. Each runs
    through its real builder with the gate forced both ways."""
    rows = _BRANCH_ROWS[loop]
    a = rows(spark, True, monkeypatch)
    b = rows(spark, False, monkeypatch)
    assert a == b and len(a) > 0


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
