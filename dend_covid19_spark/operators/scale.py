"""Scale techniques as reusable operators: skew salting and bucketed
(co-located) joins.

These don't add query semantics — they add *plan shapes* that keep the
same semantics viable at 100 TB:

  salted_aggregate   two-phase aggregation for skewed group keys: salt
                     the key, partial-aggregate per (key, salt), then
                     final-aggregate per key. The first shuffle spreads a
                     hot key over ``salt_buckets`` tasks instead of one.
                     (AQE's skew handling covers joins; skewed *group-by*
                     keys still need this.)
  write_bucketed /   persist both sides of a recurring fact-fact join
  bucketed_join      bucketed+sorted by the join key: Spark plans a
                     SortMergeJoin with NO Exchange on either side — the
                     shuffle is paid once at write time, then every
                     subsequent join is shuffle-free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..plans.registry import query
from ..scratch import keyed_dir
from ..session import session_conf, session_memo


_REAGG = {
    "count": F.sum,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    # exact distinct under salting: phase one collects the per-salt value
    # set, the final phase unions them (distinct-flatten). Partial sets
    # stay small because each reducer only sees 1/salt_buckets of a key.
    "set": lambda c: F.array_distinct(F.flatten(F.collect_list(c))),
}


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[Column, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase (salted) aggregation for skew-heavy keys.

    ``aggs`` maps output names to (partial aggregate column, kind) where
    kind in {count, sum, min, max, set} — aggregates that can be
    re-aggregated. The partial phase groups by (keys..., salt) — a hot
    key fans out over ``salt_buckets`` reducers; the final phase
    re-aggregates the tiny partial results per key.
    """
    for name, (_, kind) in aggs.items():
        if kind not in _REAGG:
            raise ValueError(
                f"salted_aggregate supports {sorted(_REAGG)}; {name!r} has kind {kind!r}"
            )
    salted = df.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    partial = salted.groupBy(*keys, "__salt").agg(
        *[c.alias(f"__p_{name}") for name, (c, _) in aggs.items()]
    )
    finals = [
        _REAGG[kind](F.col(f"__p_{name}")).alias(name)
        for name, (_, kind) in aggs.items()
    ]
    return partial.groupBy(*keys).agg(*finals)


@query(
    "agg_salted_event_stats",
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type
""",
)
def agg_salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe per-event-type stats through the two-phase salted
    aggregation — identical results to a plain GROUP BY (the oracle), but
    a hot event_type spreads over 16 reducers in the first shuffle
    instead of serializing on one.

    count(distinct user_id) is NOT algebraic, so it rides phase one as a
    collect_set and re-aggregates as the size of the set union — the
    standard exact-distinct-under-salting decomposition (sketch-based
    approx_distinct is the 100 TB alternative, registered separately).
    """
    ev = load_table(spark, "events", sf_dir)
    partial = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n_events": (F.count(F.lit(1)), "count"),
            "total_value": (F.sum(F.col("value").cast("decimal(18,2)")), "sum"),
            "users": (F.collect_set("user_id"), "set"),
        },
    )
    return partial.select(
        "event_type",
        "n_events",
        F.round("total_value", 2).cast("double").alias("total_value"),
        F.size("users").alias("n_users"),
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 8,
    path: str | None = None,
) -> None:
    """Persist as a bucketed+sorted table (the pay-the-shuffle-once side
    of a co-located join). ``path`` makes it an EXTERNAL table at a
    fixed location — required when the same table name is recreated
    across sessions: a fresh in-memory catalog does not know the old
    managed table, so its leftover warehouse dir would raise
    LOCATION_ALREADY_EXISTS; an external overwrite is idempotent."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    writer = (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Join two co-bucketed tables on their bucket key. With matching
    bucket counts Spark plans SortMergeJoin with zero Exchange operators
    — verify with df.explain(); tests assert it."""
    return spark.table(left_table).join(spark.table(right_table), on=on)


SKEW_TOP_N = 20


@query(
    "key_skew_profile",
    oracle=f"""
WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
t AS (SELECT sum(cnt) AS total FROM c)
SELECT user_id, cnt, round(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
FROM c CROSS JOIN t
ORDER BY cnt DESC, user_id
LIMIT {SKEW_TOP_N}
""",
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter diagnostic: the 20 hottest shuffle keys (user_id) in
    the events stream with each key's share of total traffic — the
    profile you run BEFORE choosing salt_buckets / enabling AQE skew
    handling, and the recurring health check that tells you when a
    formerly balanced key went viral.

    Plan/scale: one map-side-combined count per key (shuffle traffic is
    key-cardinality, not row count), a one-row total broadcast for the
    share, and a TakeOrdered top-20 (per-partition heaps, no global
    sort). Determinism: share is a single int/int IEEE division rounded
    to 6 dp; ties rank by key."""
    ev = load_table(spark, "events", sf_dir)
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    t = c.agg(F.expr("sum(cnt) AS total"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "user_id",
            "cnt",
            F.expr("round(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 6)").alias(
                "share"
            ),
        )
        .orderBy(F.col("cnt").desc(), "user_id")
        .limit(SKEW_TOP_N)
    )


# table -> scratch path the catalog table CURRENTLY points at — the
# write-once guard for bucketed_join_colocated. The path is a keyed_dir
# over both source tables, so a scale switch or regenerated testdata
# rebinds (and rewrites) the table, while repeat invocations at the
# same scale skip the ingest entirely. Tracking the current binding
# (not a seen-set) matters: after a run at another sf the table name
# points elsewhere even though this path was written before.
_BUCKETED_BOUND: dict[str, str] = {}


def _ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> None:
    """Idempotently materialize the two bucketed+sorted demo tables for
    ``sf_dir``, paying the bucket shuffle at most once per application
    per source-data version."""
    import os

    scratch = keyed_dir(spark, "bucketed", sf_dir, ("orders", "customer"))
    sides = [
        ("bkt_orders_q", "orders", ["o_custkey", "o_totalprice"], "o_custkey"),
        ("bkt_customer_q", "customer", ["c_custkey", "c_mktsegment"], "c_custkey"),
    ]
    for table, src, cols, key in sides:
        path = os.path.join(scratch, src)
        if _BUCKETED_BOUND.get(table) == path and spark.catalog.tableExists(table):
            continue
        df = load_table(spark, src, sf_dir).select(*cols)
        write_bucketed(df, table, key, num_buckets=8, path=path)
        _BUCKETED_BOUND[table] = path


@query(
    "bucketed_join_colocated",
    oracle="""
SELECT c_mktsegment,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS total_revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pay-the-shuffle-once co-located join under driver
    verification: both sides persist bucketed+sorted by their join key
    (write_bucketed), then the fact-fact join plans SortMergeJoin with
    ZERO exchanges below it — the merge hint keeps the demo honest by
    blocking the small-side broadcast that local test scale would
    otherwise pick (tests/test_scale_ops.py asserts the no-exchange
    plan shape for these primitives).

    Scale: this is THE pattern for a recurring 100 TB fact-fact join —
    the bucket shuffle is paid once at ingest; every downstream join,
    of any query, reads co-located sorted buckets and merges in place.
    The only exchange left in this plan is the final tiny
    per-mktsegment rollup.

    The ingest write itself is WRITE-ONCE per keyed scratch dir (no
    cross-scale clobbering, no cross-process overwrite races), and
    repeat invocations in a session skip straight to the join — so the
    registered query measures the recurring join, not a re-paid
    ingest."""
    _ensure_bucketed_tables(spark, sf_dir)
    joined = (
        spark.table("bkt_orders_q")
        .join(
            spark.table("bkt_customer_q").hint("merge"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("double")
        .alias("total_revenue"),
    )


# --- Z-order (Morton) multi-dimensional layout ------------------------------
# The data-layout primitive behind Delta/Iceberg OPTIMIZE ZORDER: map
# each row's (customer, order-day) pair onto one interleaved-bit curve
# value, so that range-partitioning by the curve puts rows that are
# close in BOTH dimensions into the same file — then min/max file
# statistics prune scans filtered on EITHER column. Everything is
# integer bit arithmetic shared verbatim-by-construction with the
# oracle (Spark spells shifts shiftleft(); DuckDB spells them <<).

ZORDER_EPOCH = "1992-01-01"
ZORDER_BUCKET_SHIFT = 22  # 32-bit curve -> 1024 buckets (files)


def _spread16(x: str, shl) -> str:
    """Interleave-ready bit spread of a 16-bit value into 32 bits
    (classic Morton magic masks); ``shl(expr, n)`` renders a left shift
    in the target dialect."""
    s = f"({x} & 65535)"
    for shift, mask in ((8, 16711935), (4, 252645135), (2, 858993459), (1, 1431655765)):
        s = f"(({s} | {shl(s, shift)}) & {mask})"
    return s


def _morton2(cx: str, cy: str, shl) -> str:
    return f"({_spread16(cx, shl)} | {shl(_spread16(cy, shl), 1)})"


def _spark_shl(e: str, n: int) -> str:
    return f"shiftleft({e}, {n})"


def _duck_shl(e: str, n: int) -> str:
    return f"({e} << {n})"


# Integer-division spelling is a per-dialect parameter like `shl` —
# never post-hoc string surgery over a rendered expression (a constant,
# alias, or mask containing the substring would silently corrupt it).
_Z_NORM = "CAST(({v} - {lo}) * 65535 {idiv} greatest({hi} - {lo}, 1) AS BIGINT)"


def _zorder_exprs(shl, idiv: str) -> str:
    nx = _Z_NORM.format(v="ck", lo="ck_lo", hi="ck_hi", idiv=idiv)
    ny = _Z_NORM.format(v="dy", lo="dy_lo", hi="dy_hi", idiv=idiv)
    return _morton2(f"({nx})", f"({ny})", shl)


@query(
    "zorder_layout_orders",
    oracle=f"""
WITH d AS (
    SELECT o_custkey AS ck,
           CAST(date_diff('day', DATE '{ZORDER_EPOCH}', o_orderdate) AS BIGINT) AS dy
    FROM orders
),
b AS (SELECT min(ck) AS ck_lo, max(ck) AS ck_hi,
             min(dy) AS dy_lo, max(dy) AS dy_hi FROM d),
z AS (
    SELECT d.ck, d.dy,
           CAST({_zorder_exprs(_duck_shl, "//")} AS BIGINT) AS zval
    FROM d CROSS JOIN b
)
SELECT CAST(zval // {1 << ZORDER_BUCKET_SHIFT} AS BIGINT) AS zbucket,
       count(*) AS n_rows,
       CAST(min(ck) AS BIGINT) AS min_cust, CAST(max(ck) AS BIGINT) AS max_cust,
       CAST(min(dy) AS BIGINT) AS min_day, CAST(max(dy) AS BIGINT) AS max_day
FROM z
GROUP BY 1
""",
)
def zorder_layout_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout assignment for ``orders`` on the
    two hot filter dimensions (customer key, order day) — the compute
    step of OPTIMIZE ZORDER: normalize each dimension to 16 bits against
    its global bounds, interleave the bits into one 32-bit curve value,
    and bucket the curve into 1024 ranges (= target files). The output
    surfaces each bucket's row count and min/max envelope on BOTH
    dimensions — exactly the file-statistics a scan planner would prune
    with; tight envelopes on both axes are the whole point of the curve
    (a single-column sort gives tight min/max on one axis and useless
    ones on the other — test_zorder_envelopes_tight pins the
    difference).

    Scale: pass 1 is a tiny global-bounds aggregate (broadcast one-row,
    allowlisted); pass 2 is pure map-side codegen bit arithmetic + a
    partial agg into 1024 groups. The production WRITE path is
    ``operators/maintenance.py::cluster_by_zorder`` (repartitionByRange
    + sortWithinPartitions on the curve key); this query is its
    oracle-checkable read-side twin — the envelope report that proves
    the layout is worth writing."""
    o = load_table(spark, "orders", sf_dir)
    d = o.select(
        F.col("o_custkey").cast("bigint").alias("ck"),
        F.expr(f"CAST(datediff(o_orderdate, DATE '{ZORDER_EPOCH}') AS BIGINT)").alias(
            "dy"
        ),
    )
    b = d.agg(
        F.min("ck").alias("ck_lo"),
        F.max("ck").alias("ck_hi"),
        F.min("dy").alias("dy_lo"),
        F.max("dy").alias("dy_hi"),
    )
    z = d.crossJoin(F.broadcast(b)).select(
        "ck", "dy", F.expr(f"CAST({_zorder_exprs(_spark_shl, 'DIV')} AS BIGINT)").alias("zval")
    )
    return (
        z.groupBy(
            F.expr(f"CAST(zval DIV {1 << ZORDER_BUCKET_SHIFT} AS BIGINT)").alias(
                "zbucket"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("ck").alias("min_cust"),
            F.max("ck").alias("max_cust"),
            F.min("dy").alias("min_day"),
            F.max("dy").alias("max_day"),
        )
    )


# --- AQE skew-join split, demonstrated under the value hash -----------------

_SKEW_CONFS = {
    # dialed so the demo-scale hot partition trips the same code path a
    # hot 100 TB partition would; restored after the in-scope execution
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    # the reducer width matches the fact side's repartition(8): a
    # one-reducer session would leave no partition to call skewed
    "spark.sql.shuffle.partitions": "8",
}


@session_memo
def _skew_join_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the planted-hot-key join under the scoped skew confs and
    return the materialized (localCheckpoint) join output, asserting
    the executed plan split the skewed partitions.

    Topology gates, each found the hard way (mirrors and extends
    tests/test_scale_ops.py::test_aqe_skew_join_splits):
      - 90% of fact rows collapse onto key 0 (user_id % 10 != 0 -> 0);
        repartition(8) gives the multi-task upstream stage splits need
        (splits are MAPPER ranges);
      - the dim distincts on (k, seg), NOT k alone — a distinct-on-k
        dim arrives already partitioned on the join key, leaving no
        direct shuffle stage under the join for OptimizeSkewedJoin to
        re-read; (k, seg) partitioning forces the splittable
        Exchange(k) on both sides;
      - the join output is MATERIALIZED bare (localCheckpoint) and the
        aggregate runs over the snapshot: any aggregate planned onto
        the join's output partitioning vetoes the split (the rule
        refuses plan surgery that would break a downstream
        distribution requirement)."""
    ev = load_table(spark, "events", sf_dir)
    fact = ev.select(
        F.when(F.col("user_id") % 10 != 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("k"),
        F.col("value").cast("decimal(18,2)").alias("value"),
    ).repartition(8)
    dim = fact.select("k", (F.col("k") % 3).alias("seg")).distinct()
    jj = fact.join(dim, "k")
    with session_conf(spark, _SKEW_CONFS):
        # The package's one cut outside catalog.share, on purpose: share
        # plans with AQE off, and this snapshot exists to run the join
        # eagerly under AQE so its skew split fires and can be asserted.
        snap = jj.localCheckpoint()
        plan = jj._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, f"AQE skew split did not fire:\n{plan}"
    return snap


@query(
    "agg_skew_aqe_join",
    oracle="""
WITH fact AS (
    SELECT CASE WHEN user_id % 10 != 0 THEN 0 ELSE user_id END AS k,
           CAST(value AS DECIMAL(18,2)) AS value
    FROM events
)
SELECT CAST(k % 7 AS BIGINT) AS bucket,
       count(*) AS n_rows,
       CAST(round(sum(value), 2) AS DOUBLE) AS value_sum,
       count(DISTINCT k) AS n_keys
FROM fact
GROUP BY 1
""",
)
def agg_skew_aqe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE skew-join split FIRING under the value hash — the join-side
    complement of agg_salted_event_stats (manual salting fixes skewed
    group-bys; AQE's OptimizeSkewedJoin fixes skewed joins at runtime
    with no query rewrite). The query plants a 90%-hot key, executes
    the sort-merge join with the skew thresholds scoped down by
    ``session_conf``, ASSERTS the executed plan marks the join
    ``skew=true``, then aggregates the materialized join output — so
    a green driver row
    certifies both that the split fired and that it left the values
    bit-identical to the oracle's plain SQL (the whole point of AQE:
    plan surgery, no semantic drift).

    The dim join is trivially satisfiable (dim = distinct fact keys)
    because the subject here is the EXCHANGE shape, not the join
    semantics; the oracle therefore states the fact-side aggregate
    directly. At 100 TB the same mechanism splits a hot customer/day
    partition across tasks with default thresholds — no salting
    rewrite needed on the join path."""
    snap = _skew_join_snapshot(spark, sf_dir)
    return snap.groupBy((F.col("k") % 7).cast("bigint").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 2).cast("double").alias("value_sum"),
        F.countDistinct("k").alias("n_keys"),
    )


# --- rendezvous (HRW) resharding audit ---------------------------------------
# Elastic data placement: when the shard count grows N -> N+1, how many
# rows move, and where? Rendezvous hashing (Thaler & Ravishankar 1998 —
# the HRW scheme consistent-hashing rings approximate) guarantees the
# ONLY movement is into the new shard, expected 1/(N+1) of rows — the
# property that makes resharding a copy of one shard's worth of data
# instead of a full reshuffle. The audit pins that guarantee under the
# value hash: every (old, new) flow with old <> new must land on the
# new shard id.

RESHARD_N_OLD = 8  # shards before the expansion; after = N_OLD + 1


def _hrw_shard(n_shards: int, col: str) -> str:
    """Spark SQL: argmax over shards of the md5-derived (hash, -shard)
    pair — ties break to the smaller shard id; portable arithmetic."""
    return (
        f"(array_max(transform(sequence(0, {n_shards - 1}), s -> struct("
        f"CAST(conv(substring(md5(concat(CAST({col} AS STRING), '#', "
        f"CAST(s AS STRING))), 1, 8), 16, 10) AS BIGINT) AS h, "
        f"-s AS negs)))).negs * -1"
    )


def _hrw_shard_duck(n_shards: int, col: str) -> str:
    return (
        f"-((list_aggregate(list_transform(range(0, {n_shards}), s -> struct_pack("
        f"h := CAST(('0x' || substring(md5(CAST({col} AS VARCHAR) || '#' || "
        f"CAST(s AS VARCHAR)), 1, 8)) AS BIGINT), "
        f"negs := -s)), 'max')).negs)"
    )


@query(
    "reshard_rendezvous_audit",
    oracle=f"""
WITH a AS (
    SELECT doc_id,
           {_hrw_shard_duck(RESHARD_N_OLD, "doc_id")} AS shard_old,
           {_hrw_shard_duck(RESHARD_N_OLD + 1, "doc_id")} AS shard_new
    FROM documents
)
SELECT CAST(shard_old AS INT) AS shard_old,
       CAST(shard_new AS INT) AS shard_new,
       (shard_old <> shard_new) AS moved,
       count(*) AS n_docs
FROM a GROUP BY 1, 2, 3
""",
)
def reshard_rendezvous_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash resharding audit: assign every document a shard
    under N=RESHARD_N_OLD and N+1 via highest-random-weight hashing
    (per shard, an md5-derived weight; the row lives on the argmax
    shard, ties to the smaller id), and report the (old, new) flow
    matrix with a moved flag. HRW's minimal-disruption guarantee —
    rows only ever move INTO the new shard — is checkable right in the
    output (every moved flow has shard_new = N), and is what makes
    scale-out a one-shard copy instead of a full reshuffle; the pytest
    pins it plus the ~1/(N+1) expected movement share.

    Plan/scale: the double assignment is one codegen argmax over
    N+1 hash evaluations per row at the scan — no shuffle until the
    flow-matrix aggregate (<= (N+1)^2 groups, map-side partials). The
    same expression IS the production router: consistent placement
    with zero coordination state beyond the shard count."""
    docs = load_table(spark, "documents", sf_dir)
    a = docs.select(
        "doc_id",
        F.expr(_hrw_shard(RESHARD_N_OLD, "doc_id")).alias("shard_old"),
        F.expr(_hrw_shard(RESHARD_N_OLD + 1, "doc_id")).alias("shard_new"),
    )
    return (
        a.groupBy(
            F.col("shard_old").cast("int").alias("shard_old"),
            F.col("shard_new").cast("int").alias("shard_new"),
            (F.col("shard_old") != F.col("shard_new")).alias("moved"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
