"""Graph / co-occurrence analytics over the order-basket graph.

The reference's analytic surface stops at flat joins + group-bys
(SURVEY.md §2); these operators cover the graph-shaped workloads a
100 TB pipeline hits next: market-basket affinity (the candidate-pair
step of frequent-itemset mining), PageRank-style influence scoring, and
triangle counting (the local-clustering / community-detection
primitive). All three are expressed Spark-first — self-joins with
bounded fan-out, broadcast dimension tables, and integer fixed-point
arithmetic so every result is bit-identical in the DuckDB oracle
(no float accumulation order anywhere).

Scale notes common to the family: the co-purchase edge list is built
from distinct (order, item) pairs, so per-order fan-out is bounded by
basket size (TPC-H: <= 7 lineitems/order -> <= 42 directed pairs); the
graph build is one shuffle on the order key, and everything downstream
shuffles on node keys only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import broadcast_gate, load_table, propagate, share
from .registry import query

# --- market-basket brand affinity ------------------------------------------

MIN_PAIR_SUPPORT = 10  # apriori-style pruning threshold (absolute baskets)


def _staged_lift_ppm(idiv: str) -> str:
    """Render floor((n_ab * n_baskets * 1e6) / (na * nb)) as THREE-STAGE
    int64 long division for either integer-division spelling (`DIV` for
    Spark, `//` for DuckDB): q1 = P // den with r1 = P % den, then feed
    each remainder forward one factor of 1e3 at a time. Every
    intermediate is < 2^63 as long as P = n_ab * n_baskets and den * 1e3
    fit (~sf1500 / 3e9 baskets) — the r5 ADVICE overflow at ~sf10 is
    gone WITHOUT decimals, which matters because BOTH engines' decimal
    integer-division round during the divide (verified: Spark DECIMAL
    DIV and DuckDB DECIMAL // each differ from exact big-int floor on
    adversarial inputs, in different directions)."""
    p, den = "(n_ab * n_baskets)", "(na * nb)"
    q1, r1 = f"({p} {idiv} {den})", f"({p} % {den})"
    q2 = f"({q1} * 1000 + ({r1} * 1000) {idiv} {den})"
    r2 = f"(({r1} * 1000) % {den})"
    return f"CAST({q2} * 1000 + ({r2} * 1000) {idiv} {den} AS BIGINT)"


@query(
    "basket_brand_pairs",
    oracle=f"""
WITH ob AS (
    SELECT DISTINCT l.l_orderkey, p.p_brand
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
tot AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM ob),
bc AS (SELECT p_brand, count(*) AS n_b FROM ob GROUP BY 1),
pr AS (
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS n_ab
    FROM ob a JOIN ob b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
)
SELECT brand_a, brand_b, CAST(n_ab AS BIGINT) AS n_ab,
       CAST(n_ab * 1000000 // n_baskets AS BIGINT) AS support_ppm,
       {_staged_lift_ppm("//")} AS lift_ppm
FROM (
    SELECT pr.brand_a, pr.brand_b, pr.n_ab, tot.n_baskets,
           ca.n_b AS na, cb.n_b AS nb
    FROM pr
    JOIN bc ca ON ca.p_brand = pr.brand_a
    JOIN bc cb ON cb.p_brand = pr.brand_b
    CROSS JOIN tot
    WHERE pr.n_ab >= {MIN_PAIR_SUPPORT}
)
""",
)
def basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: for every pair of brands co-purchased in
    the same order, the basket count, support, and lift — the
    candidate-pair generation + scoring step of frequent-itemset mining
    (the reference has nothing graph-shaped; this is the first workload
    a recommender team runs on the same star schema).

    Exactness: support and lift surface as integer ppm
    (n * 1_000_000 // denom), so both engines do the same integer
    multiply-then-floor-divide — no float ratios to drift. The lift
    numerator n_ab * n_baskets * 1e6 would overflow int64 past ~sf10,
    so it runs as three-stage int64 long division instead
    (_staged_lift_ppm): exact through ~sf1500, no decimals (whose
    integer division ROUNDS, differently per engine — see the helper).
    Property-pinned against Python big-int floor division in
    tests/test_graph.py::test_staged_lift_ppm_exact.

    Plan/scale: the (order, brand) set is one broadcast dim join +
    map-side distinct; the pair self-join shuffles on the order key with
    per-basket fan-out bounded by basket size (<= C(25,2) pairs even in
    the worst basket, since brands cap at 25); pair counts partial-agg
    map-side into <= 300 groups; the per-brand counts (25 rows) and the
    basket total (1 row) broadcast back onto the result. Nothing
    anywhere is quadratic in data volume."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    # materialize the (order, brand) set once: five consumers (both pair
    # sides, two per-brand count joins, the basket total) would otherwise
    # each rescan the fact table and re-pay the distinct shuffle
    ob = share(
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct(),
        sf_dir,
        "lineitem",
    )
    tot = ob.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    bc = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n_b"))
    a, b = ob.alias("a"), ob.alias("b")
    pr = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"), F.col("b.p_brand").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= MIN_PAIR_SUPPORT)
    )
    ca = F.broadcast(bc.select(F.col("p_brand").alias("brand_a"), F.col("n_b").alias("na")))
    cb = F.broadcast(bc.select(F.col("p_brand").alias("brand_b"), F.col("n_b").alias("nb")))
    return (
        pr.join(ca, "brand_a")
        .join(cb, "brand_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand_a",
            "brand_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.expr("CAST(n_ab * 1000000 DIV n_baskets AS BIGINT)").alias(
                "support_ppm"
            ),
            F.expr(_staged_lift_ppm("DIV")).alias("lift_ppm"),
        )
    )


# --- PageRank over the co-purchase graph -----------------------------------
# Fixed-point INTEGER PageRank: ranks live at scale 1e9, the damping
# step is r' = 0.15e9 + sum over in-edges of (85 * r) // (100 * deg).
# Integer floor-division per edge makes every iteration exact and
# order-independent, so 5 iterations are reproducible bit-for-bit in
# both engines (the same dissolve-the-floats move as EWMA / kmeans).
# Headroom: single-node rank is bounded by total mass N * 1e9, so the
# 85 * r multiply stays under 2^63 up to ~10^8 nodes.

PR_SCALE = 1_000_000_000
PR_BASE = 150_000_000  # 0.15 * PR_SCALE
PR_ITERS = 5


def _canonical_pairs(
    spark: SparkSession, sf_dir: str, *, max_size: int | None = None
) -> DataFrame:
    """Distinct co-purchase pairs (a, b) with a < b, two parts bought in
    the same order, behind one cut. With ``max_size``, only parts with
    p_size <= max_size take part. One shuffle on the order key,
    basket-bounded fan-out (module docstring)."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    if max_size is not None:
        sp = (
            load_table(spark, "part", sf_dir)
            .where(F.col("p_size") <= max_size)
            .select("p_partkey")
        )
        li = li.join(F.broadcast(sp), li.l_partkey == sp.p_partkey).select(
            "l_orderkey", "l_partkey"
        )
    op = li.distinct()
    x, y = op.alias("x"), op.alias("y")
    return share(
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
        .distinct(),
        sf_dir,
        "lineitem",
    )


def _copurchase_edges(
    spark: SparkSession, sf_dir: str, *, max_size: int | None = None
) -> DataFrame:
    """The symmetric, duplicate-free directed edge list (s, d) of
    ``_canonical_pairs``: canonical pairs first (halves the dedup
    shuffle volume), then both directions by a union."""
    pairs = _canonical_pairs(spark, sf_dir, max_size=max_size)
    return pairs.select(F.col("a").alias("s"), F.col("b").alias("d")).unionAll(
        pairs.select(F.col("b").alias("s"), F.col("a").alias("d"))
    )


def _pagerank_ranks(
    e: DataFrame, sf_dir: str, *, small: bool | None = None, rounds: int = PR_ITERS
) -> DataFrame:
    """``rounds`` synchronous integer-PageRank iterations over a
    symmetric (s, d) edge table, through ``catalog.propagate`` keyed on
    the source ``s``. ``small`` defaults to ``broadcast_gate`` over the
    node table. The state is (node, r, dout): on a symmetric graph a
    node's in-edge count is its out-degree, so each round's aggregate
    carries dout forward and the edges need no degree attach. Every
    node sends the same message (85 * r) // (100 * dout) to each
    neighbor, so it is computed once per node before the attach."""
    ranks = e.groupBy(F.col("s").alias("node")).agg(
        F.lit(PR_SCALE).cast("bigint").alias("r"), F.count(F.lit(1)).alias("dout")
    )
    if small is None:
        small = broadcast_gate(sf_dir, "lineitem", ranks)

    def step(e: DataFrame, ranks: DataFrame, attach) -> DataFrame:
        msg = attach(ranks.select("node", F.expr("(85 * r) DIV (100 * dout)").alias("c")))
        return (
            e.join(msg, e.s == msg.node)
            .groupBy(F.col("d").alias("node"))
            .agg(
                (F.lit(PR_BASE) + F.sum("c")).cast("bigint").alias("r"),
                F.count(F.lit(1)).alias("dout"),
            )
        )

    ranks = propagate(
        e, "s", ranks, step, small=small, rounds=rounds, sf_dir=sf_dir, table="lineitem"
    )
    return ranks.select(F.col("node").alias("part_key"), F.col("r").alias("rank_e9"))


def _duck_pr_iter(prev: str, nxt: str) -> str:
    return f"""
{nxt} AS (
    SELECT ed.d AS node,
           CAST({PR_BASE} + sum((85 * {prev}.r) // (100 * ed.dout)) AS BIGINT) AS r
    FROM ed JOIN {prev} ON ed.s = {prev}.node
    GROUP BY ed.d
)"""


_PR_ORACLE = f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
    SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
deg AS (SELECT s, count(*) AS dout FROM e GROUP BY s),
ed AS (SELECT e.s, e.d, deg.dout FROM e JOIN deg ON e.s = deg.s),
r0 AS (SELECT s AS node, CAST({PR_SCALE} AS BIGINT) AS r FROM deg),
{",".join(_duck_pr_iter(f"r{i}", f"r{i + 1}") for i in range(PR_ITERS))}
SELECT node AS part_key, r AS rank_e9 FROM r{PR_ITERS}
"""


@query("pagerank_copurchase", oracle=_PR_ORACLE)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (edge: two parts bought
    in the same order), 5 synchronous iterations at damping 0.85 — the
    canonical iterative-graph workload (influence / centrality scoring)
    on the same star schema. Exact integer fixed-point arithmetic (see
    constants above) keeps each iteration engine-identical: the only
    operation whose order varies across partitionings is an integer
    sum, which is associative-exact.

    Plan/scale: the edge list is one shuffle on the order key with
    basket-bounded fan-out, cut once; the iterations run through
    ``catalog.propagate`` (the broadcast attach is the Pregel
    optimization, measured 2.1x over the shuffle-join form at sf0.1).
    The gate (``broadcast_gate``) bounds the node count by lineitem's
    footer row count, with no job; only past the threshold does it
    count the node table exactly. Dangling nodes don't exist here (the
    co-purchase graph is symmetric, every node has in- and
    out-edges)."""
    return _pagerank_ranks(_copurchase_edges(spark, sf_dir), sf_dir)


@query("pagerank_copurchase_shuffle", oracle=_PR_ORACLE)
def pagerank_copurchase_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The >GRAPH_BROADCAST_MAX_NODES branch of pagerank_copurchase, forced
    at demo scale so the 100 TB code path carries its own value-hash
    row. Identical integer fixed-point arithmetic -> identical oracle."""
    return _pagerank_ranks(_copurchase_edges(spark, sf_dir), sf_dir, small=False)


# --- triangle counting (degree-ordered node-iterator) -----------------------

TRI_MAX_SIZE = 5  # subgraph: parts with p_size <= 5 (bounds |E| for the demo)
# Total-order key packs (degree, id) as degree * 2^32 + id — VALID ONLY
# while id < 2^32 (TPC-H part keys reach 2^32 at ~sf20k) and
# degree < 2^31 (so the product stays under 2^63). Outside those bounds
# the packed bigint silently mis-orders and the orientation (hence the
# counts) is wrong; swap the pack for ordering by a (degree, id) STRUCT
# — same total order, no arithmetic bound — at the cost of a wider sort
# key. The bound is asserted in tests/test_graph.py (triangle tests run
# well inside it); same overflow-documentation convention as
# basket_brand_pairs' _staged_lift_ppm.
_ORD_BIG = 1 << 32


@query(
    "graph_triangle_count",
    oracle=f"""
WITH sp AS (SELECT p_partkey FROM part WHERE p_size <= {TRI_MAX_SIZE}),
op AS (
    SELECT DISTINCT l.l_orderkey, l.l_partkey
    FROM lineitem l JOIN sp ON l.l_partkey = sp.p_partkey
),
e AS (
    SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
    FROM op x JOIN op y
      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
deg AS (
    SELECT n, count(*) AS degree FROM (
        SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e
    ) GROUP BY n
),
tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM e e1
    JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
    JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
),
corners AS (
    SELECT x AS n FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
),
pc AS (SELECT n, count(*) AS n_triangles FROM corners GROUP BY n)
SELECT pc.n AS part_key, deg.degree, CAST(pc.n_triangles AS BIGINT) AS n_triangles
FROM pc JOIN deg ON deg.n = pc.n
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over a co-purchase subgraph — the local
    clustering-coefficient numerator, the standard community/cohesion
    primitive. Restricted to parts with p_size <= TRI_MAX_SIZE so the
    demo subgraph stays a few thousand edges; the algorithm itself is
    the at-scale one.

    Spark side runs the DEGREE-ORDERED node-iterator (the MapReduce
    triangle algorithm of Suri & Vassilvitskii): orient every edge from
    its lower-(degree, id) endpoint to the higher one, generate wedges
    only from each node's oriented out-neighborhood, and close them
    against oriented edges. Orientation caps per-node out-degree at
    O(sqrt(|E|)), so wedge generation is O(|E|^1.5) worst-case instead
    of sum(deg^2) — the difference between feasible and not on a skewed
    100 TB graph (a celebrity node with 10^6 neighbors would otherwise
    emit 10^12 wedges). The oracle counts the same triangles via the
    simpler a < b < c three-way join — same multiset, different
    physical strategy, which is exactly what the hash check should pin.

    Every triangle is counted once (each has exactly one node ordered
    below both others), then credited to all three corners."""
    # consumed by degree + orientation: built once behind the cut
    e = _canonical_pairs(spark, sf_dir, max_size=TRI_MAX_SIZE)
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # total order key: (degree, id) packed into one bigint
    okt = deg.select("n", (F.col("degree") * _ORD_BIG + F.col("n")).alias("ok"))
    oa = okt.select(F.col("n").alias("a"), F.col("ok").alias("ok_a"))
    ob = okt.select(F.col("n").alias("b"), F.col("ok").alias("ok_b"))
    oriented = share(  # wedge sides + closing edges: 3 consumers
        e.join(oa, "a")
        .join(ob, "b")
        .select(
            F.when(F.col("ok_a") < F.col("ok_b"), F.col("a"))
            .otherwise(F.col("b"))
            .alias("src"),
            F.when(F.col("ok_a") < F.col("ok_b"), F.col("b"))
            .otherwise(F.col("a"))
            .alias("dst"),
            F.greatest("ok_a", "ok_b").alias("ok_dst"),
        ),
        sf_dir,
        "lineitem",
    )
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (F.col("w1.ok_dst") < F.col("w2.ok_dst")),
    ).select(
        F.col("w1.src").alias("x"),
        F.col("w1.dst").alias("y"),
        F.col("w2.dst").alias("z"),
    )
    close = oriented.select(
        F.col("src").alias("y"), F.col("dst").alias("z")
    )
    tri = wedges.join(close, ["y", "z"])
    corners = (
        tri.select(F.col("x").alias("n"))
        .unionAll(tri.select(F.col("y").alias("n")))
        .unionAll(tri.select(F.col("z").alias("n")))
    )
    pc = corners.groupBy("n").agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    return pc.join(deg, "n").select(
        F.col("n").alias("part_key"), "degree", "n_triangles"
    )


# --- k-core decomposition (iterative peeling) --------------------------------

KCORE_K = 3
KCORE_ITERS = 4  # unrolled peel rounds (demo graph reaches fixpoint earlier)


def _duck_kcore_round(prev_e: str, d: str, k: str, nxt_e: str) -> str:
    return f"""
{d} AS (SELECT s, count(*) AS deg FROM {prev_e} GROUP BY s),
{k} AS (SELECT s FROM {d} WHERE deg >= {KCORE_K}),
{nxt_e} AS (
    SELECT e.s, e.d FROM {prev_e} e
    JOIN {k} a ON e.s = a.s
    JOIN {k} b ON e.d = b.s
)"""


_KCORE_ORACLE = f"""
WITH sp AS (SELECT p_partkey FROM part WHERE p_size <= {TRI_MAX_SIZE}),
op AS (
    SELECT DISTINCT l.l_orderkey, l.l_partkey
    FROM lineitem l JOIN sp ON l.l_partkey = sp.p_partkey
),
ec AS (
    SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
    FROM op x JOIN op y
      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
e0 AS (SELECT a AS s, b AS d FROM ec UNION ALL SELECT b, a FROM ec),
{",".join(_duck_kcore_round(f"e{i}", f"d{i + 1}", f"k{i + 1}", f"e{i + 1}") for i in range(KCORE_ITERS))}
SELECT s AS part_key, CAST(count(*) AS BIGINT) AS core_degree
FROM e{KCORE_ITERS}
GROUP BY s
"""


def _kcore_peel(
    e: DataFrame, sf_dir: str, *, small: bool | None = None, rounds: int = KCORE_ITERS
) -> DataFrame:
    """Decrement-maintained peeling over a symmetric (s, d) edge table,
    through ``catalog.propagate`` keyed on ``s``; ``small`` defaults to
    ``broadcast_gate`` over the node table. The edges are never
    rewritten: each round computes the dropped frontier (deg < K),
    attaches it to the edges (the only thing moved toward them is the
    node-cardinality frontier itself), and folds per-destination
    decrements into the maintained degree table — deg(v) always equals
    v's count of not-yet-dropped neighbors, the same value the oracle
    recomputes from a rewritten edge list.

    Equivalence to the oracle rounds: a node drops exactly once (it
    leaves the alive table and can never re-enter the frontier); an
    edge (u, v) decrements v exactly when u drops while v is still
    alive — precisely the edge removals the oracle applies; and
    decrements aimed at already-dead nodes vanish in the survivor-side
    join. After KCORE_ITERS rounds the maintained degree equals the
    within-core degree over the oracle's e_ITERS, with deg >= 1
    matching the oracle's GROUP BY over surviving edges (a survivor
    whose remaining neighbors all dropped has no e_ITERS rows).

    Scale: per-round exchanged volume is the dropped frontier plus its
    incident edges — summed over all rounds that is at most |V| + |E|,
    against a filter formulation's per-round full edge rewrite."""
    # read twice by round 1 (frontier and survivors): cut once
    alive = share(
        e.groupBy(F.col("s").alias("node")).agg(F.count(F.lit(1)).alias("deg")),
        sf_dir,
        "lineitem",
    )
    if small is None:
        small = broadcast_gate(sf_dir, "part", alive)

    def step(e: DataFrame, alive: DataFrame, attach) -> DataFrame:
        dropped = attach(alive.where(F.col("deg") < KCORE_K).select("node"))
        dec = (
            e.join(dropped, e.s == dropped.node)
            .groupBy("d")
            .agg(F.count(F.lit(1)).alias("dec"))
        )
        survivors = alive.where(F.col("deg") >= KCORE_K)
        return survivors.join(dec, survivors.node == dec.d, "left").select(
            "node", (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0))).alias("deg")
        )

    alive = propagate(
        e, "s", alive, step, small=small, rounds=rounds, sf_dir=sf_dir, table="lineitem"
    )
    return alive.where(F.col("deg") >= 1).select(
        F.col("node").alias("part_key"), F.col("deg").cast("bigint").alias("core_degree")
    )


@query("graph_kcore_members", oracle=_KCORE_ORACLE)
def graph_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition by iterative peeling over the bounded
    co-purchase subgraph (same TRI_MAX_SIZE subgraph as the triangle
    count): repeatedly delete nodes with degree < K until the K-core
    remains — the standard cohesive-subgraph / influence-zone
    extraction (a node in the 3-core belongs to a region where
    everyone co-purchases with >= 3 others even after peeling
    hangers-on). KCORE_ITERS peel rounds are UNROLLED — the same
    fixed-iteration determinism discipline as PageRank/kmeans — and
    the oracle unrolls identical CTE rounds; the demo graph reaches
    its fixpoint within them (pinned by
    tests/test_graph.py::test_kcore_fixpoint_reached), so the result
    IS the true K-core, not a truncation.

    Output: surviving nodes with their within-core degree (>= K at
    fixpoint). Pure integer counting — engine-exact. The peel is
    ``_kcore_peel``; its gate bounds the node count by part's footer
    row count, with no job."""
    return _kcore_peel(_copurchase_edges(spark, sf_dir, max_size=TRI_MAX_SIZE), sf_dir)


@query("graph_kcore_members_shuffle", oracle=_KCORE_ORACLE)
def graph_kcore_members_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The >GRAPH_BROADCAST_MAX_NODES branch of graph_kcore_members,
    forced at demo scale so the 100 TB code path carries its own
    value-hash row (the pagerank_copurchase_shuffle discipline)."""
    return _kcore_peel(
        _copurchase_edges(spark, sf_dir, max_size=TRI_MAX_SIZE), sf_dir, small=False
    )


# --- label-propagation communities ------------------------------------------

LPA_ITERS = 3  # synchronous rounds, unrolled in both engines


def _duck_lpa_round(prev: str, nxt: str) -> str:
    return f"""
{nxt} AS (
    SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (
                   PARTITION BY node ORDER BY cnt DESC, label ASC
               ) AS rn
        FROM (
            SELECT e.s AS node, l.label, count(*) AS cnt
            FROM e JOIN {prev} l ON e.d = l.node
            GROUP BY e.s, l.label
        )
    ) WHERE rn = 1
)"""


_LPA_ORACLE = f"""
WITH sp AS (SELECT p_partkey FROM part WHERE p_size <= {TRI_MAX_SIZE}),
op AS (
    SELECT DISTINCT l.l_orderkey, l.l_partkey
    FROM lineitem l JOIN sp ON l.l_partkey = sp.p_partkey
),
ec AS (
    SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
    FROM op x JOIN op y
      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
e AS (SELECT a AS s, b AS d FROM ec UNION ALL SELECT b, a FROM ec),
l0 AS (SELECT DISTINCT s AS node, s AS label FROM e),
{",".join(_duck_lpa_round(f"l{i}", f"l{i + 1}") for i in range(LPA_ITERS))}
SELECT node AS part_key, CAST(label AS BIGINT) AS community
FROM l{LPA_ITERS}
"""


@query("graph_lpa_communities", oracle=_LPA_ORACLE)
def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    bounded co-purchase subgraph (same TRI_MAX_SIZE cut as triangles /
    k-core): every node starts as its own label; each round it adopts
    the MOST FREQUENT label among its neighbors, ties broken by
    smallest label — the standard near-linear community algorithm
    (product families emerge as stable labels). Determinism
    discipline: plain synchronous LPA is tie- and schedule-dependent,
    so the engine pins (a) a total tie order (count desc, label asc
    via a per-node row_number) and (b) LPA_ITERS unrolled rounds —
    the oracle unrolls the identical CTE rounds, making the result
    engine-exact even where synchronous LPA oscillates rather than
    converges (oscillation is a property of the update rule, not of
    either engine).

    Plan/scale: rounds run through ``catalog.propagate``, keyed on
    ``d`` (``_lpa_propagate``); the gate bounds the node count by part's
    footer row count, counting exactly only past the threshold. Round 1
    runs without a join — under identity labels each neighbor counts
    once, so the tie order picks min(d) — and in later rounds the
    (node, label) count is one map-side-combined aggregate over
    edge-cardinality messages and the argmax a hash max_by — no
    unpartitioned window, no self-join. The total tie order makes both
    branches of the gate bit-identical. At 100 TB rounds are
    edge-linear, the same cost envelope as one PageRank iteration."""
    return _lpa_propagate(
        _copurchase_edges(spark, sf_dir, max_size=TRI_MAX_SIZE), sf_dir
    ).select(
        F.col("node").alias("part_key"), F.col("label").cast("bigint").alias("community")
    )


def _lpa_propagate(
    e: DataFrame, sf_dir: str, *, small: bool | None = None, rounds: int = LPA_ITERS
) -> DataFrame:
    """``rounds`` synchronous label-propagation rounds over a symmetric,
    duplicate-free (s, d) edge table, through ``catalog.propagate``;
    ``small`` defaults to ``broadcast_gate`` over the node table. The
    key is ``d``, the round's join key (``e.d == labels.node``):
    partitioning the edges on ``s`` would re-exchange them on ``d``
    every round. Shared by graph_lpa_communities, the tests and the
    scaling probe's lpa_shape (which forces the big branch)."""
    # round 1 under identity labels needs no label join: the edges are
    # distinct, so every neighbor label counts once and the tie order
    # (count desc, label asc) picks the smallest — min(d)
    labels = e.groupBy(F.col("s").alias("node")).agg(F.min("d").alias("label"))
    if small is None:
        small = broadcast_gate(sf_dir, "part", labels)

    def step(e: DataFrame, labels: DataFrame, attach) -> DataFrame:
        rhs = attach(labels)
        cnt = (
            e.join(rhs, e.d == rhs.node)
            .groupBy("s", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax via max_by over a (cnt, -label) struct key — the same
        # total order the oracle's row_number states (count desc, label
        # asc; (cnt, label) pairs are unique per node so there is no
        # residual tie) — as a second HASH aggregate instead of a
        # sort-based window: one less per-round sort, bit-identical
        # labels (verified against the window form at sf0.1).
        return (
            cnt.groupBy("s")
            .agg(F.expr("max_by(label, struct(cnt, -label))").alias("label"))
            .select(F.col("s").alias("node"), "label")
        )

    return propagate(
        e, "d", labels, step, small=small, rounds=rounds - 1, sf_dir=sf_dir,
        table="lineitem",
    )
