"""Aggregate/subquery/generator breadth: HAVING, conditional aggregation,
rollup/cube, exact median, correlated subqueries, explode (UDTF surface),
stream-dimension enrichment, string-function coverage.

None of these exist in the reference (SURVEY.md §2.4-2.6 records the
absences); they are table-stakes for the driver's star schema and for any
warehouse user switching to this engine.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, register_views, share
from .parity import _sql_dsum, dsum
from .registry import query

# Shared accuracy for every percentile_approx in this module. The
# sketch's rank error is ~n/accuracy, so the "returns the exact
# discrete quantile element, hash-identical to DuckDB quantile_disc"
# convention holds ONLY while per-group cardinality n stays under
# ~PCTL_ACCURACY. tests/test_aggregates_props.py pins that headroom at
# test scale; past the bound, scale this constant with sf (O(accuracy)
# sketch memory per group) or use the two-pass exact-cutoff pattern
# (plans/llm_pipeline.py quality_percentile_gate_2pass).
PCTL_ACCURACY = 1_000_000


@query(
    "q6_forecast_revenue",
    oracle=f"""
SELECT {_sql_dsum('l_extendedprice * l_discount', scale=6)} AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, the query whose 100 TB
    cost is entirely decided by filter pushdown + column pruning (4
    columns read, 0 shuffled rows beyond one partial-agg exchange)."""
    li = load_table(spark, "lineitem", sf_dir)
    return (
        li.where(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01 00:00:00")))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), scale=6).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q14_promo_effect",
    oracle=f"""
SELECT round(
         100.0 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
                    THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
                    AS DECIMAL(18,6))) AS DOUBLE)
         / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE),
       4) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
""",
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation through a broadcast dim
    join; both sums decimal-stabilized, ratio computed in double."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        li.where(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-07-01 00:00:00")))
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo.cast("decimal(18,6)")).cast("double")
                / F.sum(disc.cast("decimal(18,6)")).cast("double"),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q18_large_orders",
    oracle="""
WITH big AS (
    SELECT l_orderkey,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 150
)
SELECT c_name, o.o_orderkey, round(o.o_totalprice, 2) AS total,
       round(b.sum_qty, 2) AS sum_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-HAVING as a semi-filterable derived
    table, then enrich. Aggregating lineitem BEFORE the joins keeps the
    join input at |orders| scale — the reorder that matters at 100 TB."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_dec"))
        .where(F.col("qty_dec") > 150)
        .select("l_orderkey", F.col("qty_dec").cast("double").alias("sum_qty"))
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
    )


@query(
    "rollup_daily_events",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type, count(*) AS cnt
FROM events
GROUP BY ROLLUP (CAST(date_trunc('day', ts) AS DATE), event_type)
""",
)
def rollup_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: (day, type), (day), () subtotal grades in one pass —
    Catalyst expands then single-shuffles; NULL group keys mark totals on
    both engines."""
    ev = load_table(spark, "events", sf_dir)
    return ev.rollup(F.to_date("ts").alias("day"), F.col("event_type")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


@query(
    "cube_status_priority",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
       {_sql_dsum('o_totalprice')} AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two low-cardinality dimensions (all 2^2 grouping sets)."""
    o = load_table(spark, "orders", sf_dir)
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"), dsum("o_totalprice").alias("total")
    )


@query(
    "median_acctbal_by_segment",
    oracle="""
SELECT c_mktsegment,
       round(median(c_acctbal), 4) AS median_acctbal,
       round(quantile_cont(c_acctbal, 0.9), 4) AS p90_acctbal
FROM customer
GROUP BY c_mktsegment
""",
)
def median_acctbal_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median/p90 per group. Exact percentile forces a
    per-group sort — fine for bounded groups; at 100 TB prefer
    approx_percentile (see approx_distinct_users for the sketch-op
    surface). 2-decimal inputs make interpolation midpoints exact at
    <=4 dp, so round(4) is engine-stable."""
    cust = load_table(spark, "customer", sf_dir)
    return cust.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 4).alias("median_acctbal"),
        F.round(F.expr("percentile(c_acctbal, 0.9)"), 4).alias("p90_acctbal"),
    )


@query(
    "subquery_above_nation_avg",
    oracle="""
SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS acctbal
FROM customer c
WHERE c_acctbal > (
    SELECT avg(c_acctbal) FROM customer c2
    WHERE c2.c_nationkey = c.c_nationkey
)
""",
)
def subquery_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the SQL front door — Catalyst
    decorrelates it into an aggregate + join (no per-row subquery
    execution; check the plan for the rewritten Aggregate⋈Filter).

    avg() compare: both engines compute the same double avg per nation —
    sum order differs at ~1e-12 relative, but the compared column
    c_acctbal is 2-decimal so a flip would need a customer within 1e-9 of
    the exact average — not present in this data (asserted by tests at
    both sf).
    """
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS acctbal
        FROM customer c
        WHERE c_acctbal > (
            SELECT avg(c_acctbal) FROM customer c2
            WHERE c2.c_nationkey = c.c_nationkey
        )
        """
    )


@query(
    "explode_token_freq",
    oracle="""
SELECT token, count(*) AS freq
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
GROUP BY token
ORDER BY freq DESC, token
LIMIT 20
""",
)
def explode_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generator/UDTF surface (absent from the reference, §2.8):
    explode tokens -> global term frequencies -> deterministic top-20.
    At corpus scale this is the wordcount shuffle — partial aggregation
    collapses each partition to its vocabulary before the exchange."""
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(20)
    )


@query(
    "events_enriched_by_customer",
    oracle=f"""
SELECT c.c_mktsegment, e.event_type, count(*) AS cnt,
       {_sql_dsum('e.value')} AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
""",
)
def events_enriched_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-dimension enrichment: events x broadcast customer dim, then
    segment/type rollup — the canonical streaming-join shape (dimension
    broadcast; the event stream never shuffles for the join)."""
    ev = load_table(spark, "events", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("total_value"))
    )


@query(
    "string_functions",
    oracle="""
SELECT doc_id,
       substring(text, 1, 10) AS prefix10,
       upper(lang) AS lang_uc,
       replace(source, 'src', 'source-') AS source_name,
       lpad(CAST(doc_id AS VARCHAR), 6, '0') AS padded_id,
       CAST(levenshtein(lang, 'en') AS INT) AS lang_dist,
       CAST(strpos(text, 'spark') AS INT) AS spark_pos,
       CAST(length(trim(text)) AS INT) AS trimmed_len
FROM documents
""",
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function breadth (F1/F6 family + the functions any
    warehouse migration exercises): substring/upper/replace/lpad/
    levenshtein/instr/trim — all JVM-side expressions."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.select(
        "doc_id",
        F.substring("text", 1, 10).alias("prefix10"),
        F.upper("lang").alias("lang_uc"),
        F.regexp_replace("source", "src", "source-").alias("source_name"),
        F.lpad(F.col("doc_id").cast("string"), 6, "0").alias("padded_id"),
        F.levenshtein("lang", F.lit("en")).alias("lang_dist"),
        F.instr("text", "spark").alias("spark_pos"),
        F.length(F.trim("text")).alias("trimmed_len"),
    )


@query(
    "quantiles_totalprice_by_status",
    oracle="""
WITH qt AS (
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, [0.25, 0.5, 0.75, 0.95]) AS qs
    FROM orders
    GROUP BY o_orderstatus
)
SELECT o_orderstatus,
       CAST(i AS INT) AS p_idx,
       round(qs[CAST(i + 1 AS INT)], 6) AS quantile_value
FROM qt CROSS JOIN (SELECT unnest(range(0, 4)) AS i) p
""",
)
def quantiles_totalprice_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous quantiles (linear interpolation) of order value
    per status, surfaced one row per (status, p_idx) — never an array
    output column (registry rule: the harness canonicalizer can't hash
    lists). Both engines interpolate sorted neighbors identically;
    values round to 6 dp. Exact percentile is a full-sort-per-group
    aggregate — acceptable for dashboard-grade groups; at 100 TB the
    drop-in is approx_percentile — see approx_quantiles_totalprice,
    which is oracle-checked in its own right."""
    orders = load_table(spark, "orders", sf_dir)
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, array(0.25, 0.5, 0.75, 0.95))").alias("qs")
        )
        .select(
            "o_orderstatus",
            F.posexplode("qs").alias("p_idx", "q"),
        )
        .select(
            "o_orderstatus",
            "p_idx",
            F.round("q", 6).alias("quantile_value"),
        )
    )


@query(
    "approx_quantiles_totalprice",
    oracle="""
SELECT o_orderstatus,
       quantile_disc(o_totalprice, 0.25) AS p25,
       quantile_disc(o_totalprice, 0.50) AS p50,
       quantile_disc(o_totalprice, 0.75) AS p75,
       quantile_disc(o_totalprice, 0.90) AS p90
FROM orders
GROUP BY o_orderstatus
""",
)
def approx_quantiles_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch (Greenwald-Khanna percentile_approx) —
    the 100 TB scale path for quantiles_totalprice_by_status: partial
    sketches merge associatively across partitions, so the shuffle
    carries one ~KB sketch per group per task instead of the group's
    values, and no per-group sort happens anywhere.

    Oracle-checkable despite "approx": at accuracy 1e6 the rank error
    bound (n/accuracy) is < 1 row for any group the driver's scales
    produce, and the sketch returns an actual dataset element — exactly
    DuckDB's quantile_disc discrete-quantile convention (verified to
    hash-match at sf0.001 and sf0.01). At 100 TB, dial accuracy down and
    drop the oracle, not the operator.
    """
    orders = load_table(spark, "orders", sf_dir)
    return orders.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", 0.25, PCTL_ACCURACY).alias("p25"),
        F.percentile_approx("o_totalprice", 0.50, PCTL_ACCURACY).alias("p50"),
        F.percentile_approx("o_totalprice", 0.75, PCTL_ACCURACY).alias("p75"),
        F.percentile_approx("o_totalprice", 0.90, PCTL_ACCURACY).alias("p90"),
    )


@query(
    "approx_distinct_users",
    oracle="""
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       count(*) AS cnt,
       abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
           <= 0.15 * count(DISTINCT user_id) AS estimate_ok
FROM events
GROUP BY event_type
""",
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-aggregate surface: HyperLogLog distinct users per event
    type — the 100 TB substitute for exact countDistinct (mergeable
    ~KB sketch per group per task instead of a distinct shuffle of all
    user_ids).

    Oracle-checkable despite "approx": the raw HLL estimate differs
    across engines by construction (different sketch implementations),
    so the surfaced columns are the EXACT distinct count (value-hashed
    bit-for-bit) plus ``estimate_ok`` — each engine asserting its own
    HLL estimate lands within 3x the configured 5% rsd of its own exact
    count. Both engines' sketches are far inside that bound at any SF,
    so the boolean hashes equal while still failing loudly if either
    sketch ever degrades. At 100 TB, drop the exact column and keep the
    sketch."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("cnt"),
        (
            F.abs(F.approx_count_distinct("user_id", 0.05) - F.countDistinct("user_id"))
            <= 0.15 * F.countDistinct("user_id")
        ).alias("estimate_ok"),
    )


@query(
    "user_event_gap_stats",
    oracle="""
WITH g AS (
    SELECT user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS gap
    FROM events
)
SELECT user_id,
       count(gap) AS n_gaps,
       CAST(median(gap) AS DOUBLE) AS median_gap_us,
       max(gap) AS max_gap_us
FROM g WHERE gap IS NOT NULL
GROUP BY user_id
""",
)
def user_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDF surface (``applyInPandas``): per-user inter-event
    gap stats, each group handed to pandas as one DataFrame — the shape
    for per-entity logic that needs the whole ordered history at once
    (feature windows, per-user models). Single-event users emit nothing,
    matching the oracle's NULL-gap drop.

    Scale: one shuffle on user_id; group size = one user's events, which
    bounds executor memory (use applyInPandasWithState when a user's
    history outgrows memory — streaming/stateful.py). The median here is
    pandas' interpolated middle, same definition as DuckDB median().
    The UDF closure imports pandas inside and references nothing from
    this module, so it ships by value; in local mode the only engine
    module a worker imports is the ``worker_daemon`` shim.
    """
    ev = load_table(spark, "events", sf_dir).select("user_id", "ts", "event_id")

    def gap_stats(pdf):
        # Worker-side imports; the closure references nothing from this
        # module. Per-call cost matters here: the function runs once per
        # user, so it works on raw numpy arrays instead of sorting the
        # whole 3-column frame (4.8x less Python per group, measured).
        # Sorting ts alone is enough — the multiset of consecutive gaps
        # of a sorted sequence is invariant under the (ts, event_id)
        # tie-break, so count/median/max are unchanged.
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        ts = np.sort(pdf["ts"].to_numpy().astype("int64")) // 1000
        if ts.size < 2:
            return pd.DataFrame(
                columns=["user_id", "n_gaps", "median_gap_us", "max_gap_us"]
            )
        gaps = np.diff(ts)
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])],
                "n_gaps": [gaps.size],
                "median_gap_us": [float(np.median(gaps))],
                "max_gap_us": [int(gaps.max())],
            }
        )

    # Floor the grouped-map stage's parallelism explicitly: the grouped-map
    # machinery costs milliseconds per GROUP (one Arrow batch + one Python
    # call each), which AQE cannot see — it coalesces this tiny-BYTES
    # post-shuffle stage down to one task and serializes every group
    # (measured at sf0.1: 5.0s -> 0.7s steady). An explicit repartition on
    # the group key satisfies the grouped-map's required distribution (no
    # second exchange) and pins the width at cluster core count, which is
    # the right size for a CPU-bound Python stage at any scale.
    parts = max(spark.sparkContext.defaultParallelism, 1)
    return (
        ev.repartition(parts, "user_id")
        .groupBy("user_id")
        .applyInPandas(
            gap_stats,
            "user_id long, n_gaps long, median_gap_us double, max_gap_us long",
        )
    )


@query(
    "grouping_sets_revenue",
    oracle=f"""
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
       count(*) AS n_orders,
       {_sql_dsum('o_totalprice')} AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
""",
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond the cube/rollup queries): the
    (status, priority) detail, per-status subtotal, and grand total in
    one pass, with grouping_id disambiguating subtotal rows from real
    NULL groups. Group keys are coalesced to 'ALL' so the three levels
    stay distinguishable by value as well as by gid.

    Scale: Catalyst plans one Expand (3 rows per input row, one per
    grouping set) + a single partial/final hash aggregate — one shuffle
    total, vs. three scans for the UNION ALL spelling.
    """
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n_orders",
            "revenue",
        )
    )


@query(
    "stats_exact_moments",
    oracle="""
WITH sums AS (
    SELECT c_nationkey,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS syy,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sxy
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    GROUP BY c_nationkey
)
SELECT c_nationkey, n,
       CASE WHEN n < 2 THEN NULL ELSE round(sqrt(greatest(n * sxx - sx * sx, 0.0) / (n * (n - 1))), 4) END AS stddev_totalprice,
       CASE WHEN n < 2 OR n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN NULL ELSE round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 8) END AS corr_price_acctbal
FROM sums
""",
)
def stats_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics (stddev, correlation) per nation — built
    from exact DECIMAL power sums (Σx, Σx², Σxy) instead of the native
    streaming stddev/corr aggregates. The running-moment algorithms both
    engines use are accumulation-order-dependent in the last ulps; power
    sums over 2-decimal data are exact integers, so the aggregate is
    partitioning- and retry-independent; the closing double formula is
    rounded (4dp/8dp) because the two engines convert wide decimals to
    double through different paths (BigDecimal vs int128/10^k) and the
    cancellation in n·Σx² − (Σx)² amplifies that last-ulp gap to ~1e-11.
    Degenerate groups are GUARDED (found by scripts/fuzz_sim.py):
    n = 1 divides by zero — an ANSI error here, inf in DuckDB — and a
    zero/negative variance (constant column, or last-ulp cancellation
    undershoot) breaks sqrt; both yield NULL through the same CASE
    text in both engines, and the variance is clamped at 0.

    Scale: identical plan to any groupBy-agg (partial decimal sums
    map-side, one shuffle of 5 numbers per group); the dim join
    broadcasts. The decimal(38,4) products cannot overflow below ~1e30
    row-value mass per group.
    """
    o = load_table(spark, "orders", sf_dir)
    c = load_table(spark, "customer", sf_dir)
    dx = F.col("o_totalprice").cast("decimal(18,2)")
    dy = F.col("c_acctbal").cast("decimal(18,2)")
    sums = (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dx).cast("double").alias("sx"),
            F.sum(dy).cast("double").alias("sy"),
            F.sum(dx * dx).cast("double").alias("sxx"),
            F.sum(dy * dy).cast("double").alias("syy"),
            F.sum(dx * dy).cast("double").alias("sxy"),
        )
    )
    return sums.select(
        "c_nationkey",
        "n",
        F.expr("CASE WHEN n < 2 THEN NULL ELSE round(sqrt(greatest(n * sxx - sx * sx, 0.0) / (n * (n - 1))), 4) END").alias("stddev_totalprice"),
        F.expr("CASE WHEN n < 2 OR n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0 THEN NULL ELSE round((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 8) END").alias("corr_price_acctbal"),
    )


@query(
    "window_percent_rank_orders",
    oracle="""
SELECT o_orderkey, o_orderstatus,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
""",
)
def window_percent_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window functions (percent_rank, cume_dist) per
    status partition — the remaining ranking family beyond
    rank/row_number/ntile/lag. The (o_totalprice, o_orderkey) order key
    is a total order, so both ratios are exact (rank-1)/(N-1) and
    rank/N divisions of identical integers in either engine.

    Scale: one hash exchange on the partition key + per-partition sort;
    both functions are computed in the same Window operator (one pass).
    A near-empty partition key set would serialize — partition keys
    here are the order statuses, so parallelism is bounded by their
    cardinality; range-repartition first if a single giant partition
    ever dominates.
    """
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@query(
    "table_stats_orders",
    oracle="""
SELECT count(*) AS n_rows,
       count(DISTINCT o_custkey) AS ndv_custkey,
       count(DISTINCT o_orderstatus) AS ndv_status,
       round(min(o_totalprice), 2) AS min_totalprice,
       round(max(o_totalprice), 2) AS max_totalprice,
       CAST(min(o_orderdate) AS DATE) AS min_orderdate,
       CAST(max(o_orderdate) AS DATE) AS max_orderdate
FROM orders
""",
)
def table_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style table statistics in one pass: row count, per-column
    NDV, min/max — the numbers a cost-based optimizer (or a human
    deciding broadcast vs shuffle) needs. Exact NDV here since the
    oracle must match; swap count_distinct for approx_count_distinct
    (HLL) at 100 TB where ±2% is fine and memory is O(1).

    Scale: one aggregate with one exact distinct, so the plan needs no
    Expand. ``o_orderstatus`` has a 3-value domain, so its distinct set
    is collected whole (bounded at any scale) and sized.
    """
    o = load_table(spark, "orders", sf_dir)
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("ndv_custkey"),
        F.size(F.collect_set("o_orderstatus")).cast("bigint").alias("ndv_status"),
        F.round(F.min("o_totalprice"), 2).alias("min_totalprice"),
        F.round(F.max("o_totalprice"), 2).alias("max_totalprice"),
        F.min(F.to_date("o_orderdate")).alias("min_orderdate"),
        F.max(F.to_date("o_orderdate")).alias("max_orderdate"),
    )


@query(
    "grouping_sets_order_stats",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       count(*) AS n_orders,
       {_sql_dsum('o_totalprice')} AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def grouping_sets_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube specialize):
    per-status totals, per-priority totals, and the grand total in ONE
    aggregation pass, with grouping_id disambiguating which set a row
    belongs to (NULL group values are ambiguous on their own).

    Scale: Catalyst expands the sets with a single Expand node feeding
    one partial+final hash aggregate — one shuffle total, vs three
    separate group-bys + union (three scans, three shuffles). The
    expansion factor equals the number of sets (3x map-side rows here),
    which partial aggregation collapses before the exchange."""
    o = load_table(spark, "orders", sf_dir)
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_price"
        )
    )


# --- equi-width histogram ---------------------------------------------------

HIST_BUCKETS = 20


@query(
    "orders_price_histogram",
    oracle=f"""
WITH c AS (
    SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM orders
),
b AS (SELECT min(cents) AS lo, max(cents) AS hi FROM c),
w AS (SELECT lo, hi, (hi - lo) // {HIST_BUCKETS} + 1 AS width FROM b)
SELECT CAST((c.cents - w.lo) // w.width AS BIGINT) AS bucket,
       CAST(w.lo + ((c.cents - w.lo) // w.width) * w.width AS BIGINT) AS lo_cents,
       CAST(w.lo + ((c.cents - w.lo) // w.width + 1) * w.width - 1 AS BIGINT)
           AS hi_cents,
       count(*) AS n_orders,
       CAST(sum(c.cents) AS BIGINT) AS sum_cents
FROM c CROSS JOIN w
GROUP BY 1, 2, 3
""",
)
def orders_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals in HIST_BUCKETS buckets —
    the profiling / data-skew-discovery primitive every warehouse ships
    (DuckDB: histogram(); Spark: approx summaries). Expressed as the
    exact two-pass form: pass 1 computes global [min, max] (one tiny
    aggregate, broadcast), pass 2 assigns buckets map-side with pure
    integer arithmetic and partial-aggregates into <= HIST_BUCKETS
    groups.

    Exactness: prices live as integer cents; the bucket width is
    (range // nb) + 1, which (a) is exact integer math shared by both
    engines, and (b) guarantees floor((range)/width) <= nb - 1, so the
    bucket id never exceeds nb - 1 without any least() clamp.

    Scale: the only data-volume-sized stage is one scan + map-side
    partial agg into a constant number of groups; the bounds row rides a
    broadcast nested-loop join (one-row side, allowlisted). At 100 TB
    the same plan holds — histogram cost is one pass, dominated by the
    scan."""
    o = load_table(spark, "orders", sf_dir)
    c = o.select(
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "cents"
        )
    )
    w = c.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi")).select(
        "lo", "hi", F.expr(f"(hi - lo) DIV {HIST_BUCKETS} + 1").alias("width")
    )
    return (
        c.crossJoin(F.broadcast(w))
        .select(
            F.expr("CAST((cents - lo) DIV width AS BIGINT)").alias("bucket"),
            F.expr(
                "CAST(lo + ((cents - lo) DIV width) * width AS BIGINT)"
            ).alias("lo_cents"),
            F.expr(
                "CAST(lo + ((cents - lo) DIV width + 1) * width - 1 AS BIGINT)"
            ).alias("hi_cents"),
            "cents",
        )
        .groupBy("bucket", "lo_cents", "hi_cents")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )


# --- chi-square contingency (brand x supplier-region) -----------------------
# Pearson chi-square per cell in the shared-expression discipline: the
# observed count o, row total rb, column total cr, and grand total N are
# all exact integers in both engines, so the only floating-point is the
# FINAL shared expression (cast-exact ints -> identical IEEE op order ->
# one round), the _CORR_EXPR move.

_CHI2_CELL = (
    "round(CAST(o * N - rb * cr AS DOUBLE) * CAST(o * N - rb * cr AS DOUBLE)"
    " / (CAST(N AS DOUBLE) * CAST(rb AS DOUBLE) * CAST(cr AS DOUBLE)), 6)"
)


@query(
    "chisq_brand_region",
    oracle=f"""
WITH obs AS (
    SELECT p.p_brand AS brand, r.r_name AS region, count(*) AS o
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1, 2
),
rb AS (SELECT brand, CAST(sum(o) AS BIGINT) AS rb FROM obs GROUP BY 1),
cr AS (SELECT region, CAST(sum(o) AS BIGINT) AS cr FROM obs GROUP BY 1),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS N FROM obs)
SELECT obs.brand, obs.region, CAST(obs.o AS BIGINT) AS o,
       {_CHI2_CELL} AS chi2_cell
FROM obs
JOIN rb ON rb.brand = obs.brand
JOIN cr ON cr.region = obs.region
CROSS JOIN tot
""",
)
def chisq_brand_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square contingency cells for brand x supplier-region:
    is part-brand demand independent of where the supplier sits? — the
    categorical-association test analysts run right after the pivot.
    Surfaces each cell's observed count and chi-square contribution
    (sum them for the statistic; the per-cell view shows WHICH
    associations drive it).

    Exactness: o, row/column margins, and N are exact integer counts;
    the single final expression (cast -> multiply -> divide -> round)
    is shared verbatim with the oracle, so IEEE op order is identical —
    no float accumulates across rows anywhere (the per-cell form exists
    precisely because a global double sum would be order-dependent).

    Plan/scale: one fact scan through three broadcast dimension hops,
    one partial-agg shuffle into |brands| x |regions| cells (125), then
    margins re-aggregate the checkpointed cell table (not the fact) and
    broadcast back. Fact-volume work is one scan + one shuffle."""
    li = load_table(spark, "lineitem", sf_dir).select("l_partkey", "l_suppkey")
    p = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    s = load_table(spark, "supplier", sf_dir).select("s_suppkey", "s_nationkey")
    n = load_table(spark, "nation", sf_dir).select("n_nationkey", "n_regionkey")
    r = load_table(spark, "region", sf_dir).select("r_regionkey", "r_name")
    obs = share(  # 125 cells; margins reuse it, not the fact scan
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("r_name").alias("region"))
        .agg(F.count(F.lit(1)).alias("o")),
        sf_dir,
        "lineitem",
    )
    rb = obs.groupBy("brand").agg(F.sum("o").cast("bigint").alias("rb"))
    cr = obs.groupBy("region").agg(F.sum("o").cast("bigint").alias("cr"))
    tot = obs.agg(F.sum("o").cast("bigint").alias("N"))
    return (
        obs.join(F.broadcast(rb), "brand")
        .join(F.broadcast(cr), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "brand",
            "region",
            F.col("o").cast("bigint").alias("o"),
            F.expr(_CHI2_CELL).alias("chi2_cell"),
        )
    )


# --- winsorized robust mean -------------------------------------------------


@query(
    "events_value_winsorized",
    oracle="""
WITH q AS (
    SELECT event_type,
           quantile_disc(value, 0.05) AS p05,
           quantile_disc(value, 0.95) AS p95
    FROM events GROUP BY 1
)
SELECT e.event_type, q.p05, q.p95,
       count(*) AS n,
       round(sum(CAST(least(greatest(e.value, q.p05), q.p95) AS DECIMAL(18,2))), 2)::DOUBLE
           AS winsorized_total,
       CAST((2 * CAST(round(sum(CAST(least(greatest(e.value, q.p05), q.p95) AS DECIMAL(18,2))), 2) * 100 AS BIGINT) * 10000
             + 100 * count(*)) // (2 * 100 * count(*)) AS DOUBLE) / 10000
           AS winsorized_avg
FROM events e JOIN q ON q.event_type = e.event_type
GROUP BY e.event_type, q.p05, q.p95
""",
)
def events_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of event value per type: clamp to the [p05, p95]
    per-type band, then average — the robust-statistics answer to
    outlier-driven KPI swings (a single fat-finger purchase stops moving
    the daily average).

    The percentiles come from the mergeable sketch at PCTL_ACCURACY
    (percentile_approx), which returns the exact discrete quantile
    element — hash-identical to DuckDB's quantile_disc — ONLY while the
    per-group cardinality stays under ~PCTL_ACCURACY (the sketch's rank
    error is ~n/accuracy; past ~1e6 rows per event_type the picked
    element can differ by a rank and flip the hash). That validity
    precondition is pinned at test scale by
    tests/test_aggregates_props.py::test_percentile_accuracy_headroom;
    past it, raise PCTL_ACCURACY with sf (cost is O(accuracy) sketch
    memory per group) or switch to the two-pass exact form
    (quality_percentile_gate_2pass's pattern). The clamped
    sum goes through the DECIMAL cast (dsum discipline) so accumulation
    order can't flip the hash; the avg divides AFTER the deterministic
    rounded total.

    Plan/scale: sketch partials merge map-side (per-type KLL, no value
    shuffle); the per-type cutoffs (|types| rows) broadcast back onto
    the fact scan for a codegen clamp + one partial-agg shuffle. Two
    fact passes total — the exact-percentile sort-based form would pay
    a full per-type sort instead."""
    ev = load_table(spark, "events", sf_dir)
    q = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.05, PCTL_ACCURACY).alias("p05"),
        F.percentile_approx("value", 0.95, PCTL_ACCURACY).alias("p95"),
    )
    return (
        ev.join(F.broadcast(q), "event_type")
        .select(
            "event_type",
            "p05",
            "p95",
            F.expr(
                "CAST(least(greatest(value, p05), p95) AS DECIMAL(18,2))"
            ).alias("wv"),
        )
        .groupBy("event_type", "p05", "p95")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("wv"), 2).cast("double").alias("winsorized_total"),
            # round-half-up(cents / (100 n), 4) in pure integers — the
            # davg lesson (fuzz seed 53): rounding the double quotient
            # is engine-dependent at exact half-way averages. Values
            # are clamped >= 0 here, so no negative branch is needed.
            F.expr(
                "CAST((2 * CAST(round(sum(wv), 2) * 100 AS BIGINT) * 10000"
                " + 100 * count(1)) DIV (2 * 100 * count(1)) AS DOUBLE) / 10000"
            ).alias("winsorized_avg"),
        )
    )


# --- referential integrity sweep --------------------------------------------


@query(
    "referential_integrity_check",
    oracle="""
SELECT 'orders->customer' AS relationship,
       (SELECT count(*) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
           AS n_orphans,
       (SELECT count(*) FROM orders) AS n_rows
UNION ALL
SELECT 'lineitem->orders',
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
       (SELECT count(*) FROM lineitem)
UNION ALL
SELECT 'lineitem->part',
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)),
       (SELECT count(*) FROM lineitem)
UNION ALL
SELECT 'lineitem->supplier',
       (SELECT count(*) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)),
       (SELECT count(*) FROM lineitem)
""",
)
def referential_integrity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative referential-integrity sweep over the star schema's
    four foreign keys: orphan count and row total per relationship —
    the dbt-test / data-quality-framework check a warehouse runs after
    every load (an orphan count that moves off zero is the first sign
    of a broken upstream extract). Composes with operators/quality.py's
    gates: assert n_orphans == 0 before publishing.

    Plan/scale: each relationship is ONE scan of its fact table — a
    LEFT OUTER join against the (distinct, marker-tagged) key set, then
    a single aggregate deriving both the orphan count (null marker) and
    the row total from the same pass (the r5 ADVICE fix: the previous
    anti-join + separate full count paid the fact scan twice). The
    three dimension-keyed checks broadcast their key sets (customer /
    part / supplier key columns are dimension-sized), so those joins
    are map-side. The lineitem->orders check is fact-fact and shuffles
    on the order key — at 100 TB that one rides the same bucketed
    layout the co-located join uses. The counts union into a 4-row
    report."""
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)

    def check(name: str, fact: DataFrame, fk: str, dim: DataFrame, pk: str,
              broadcast_dim: bool) -> DataFrame:
        keys = dim.select(F.col(pk).alias(fk)).distinct().withColumn(
            "_hit", F.lit(1)
        )
        if broadcast_dim:
            keys = F.broadcast(keys)
        return (
            fact.select(fk)
            .join(keys, fk, "left")
            .agg(
                F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .select(F.lit(name).alias("relationship"), "n_orphans", "n_rows")
        )

    cust = load_table(spark, "customer", sf_dir)
    part = load_table(spark, "part", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    return (
        check("orders->customer", orders, "o_custkey", cust, "c_custkey", True)
        .unionByName(
            check("lineitem->orders", li.withColumnRenamed("l_orderkey", "o_orderkey"),
                  "o_orderkey", orders, "o_orderkey", False)
        )
        .unionByName(
            check("lineitem->part", li.withColumnRenamed("l_partkey", "p_partkey"),
                  "p_partkey", part, "p_partkey", True)
        )
        .unionByName(
            check("lineitem->supplier", li.withColumnRenamed("l_suppkey", "s_suppkey"),
                  "s_suppkey", supp, "s_suppkey", True)
        )
    )


# --- revenue concentration (Pareto report) ----------------------------------


@query(
    "orders_pareto_share",
    oracle="""
WITH c AS (
    SELECT o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
    FROM orders GROUP BY 1
),
cut AS (SELECT quantile_disc(cents, 0.90) AS p90 FROM c),
t AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents,
             count(*) AS n_customers FROM c)
SELECT count(*) AS n_top_customers,
       t.n_customers,
       CAST(sum(c.cents) AS BIGINT) AS top_cents,
       t.total_cents,
       CAST(sum(c.cents) * 1000000 // t.total_cents AS BIGINT) AS top_share_ppm
FROM c CROSS JOIN cut CROSS JOIN t
WHERE c.cents >= cut.p90
GROUP BY t.n_customers, t.total_cents
""",
)
def orders_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (the 80/20 report): what share of total
    order value comes from customers at or above the p90 per-customer
    revenue cutoff — the whale-dependence metric every revenue review
    opens with.

    Exactness: per-customer revenue folds to integer cents (dsum
    discipline); the p90 cutoff is the KLL sketch's discrete quantile
    (an actual data element, hash-stable — the
    approx_quantiles_totalprice convention); the share is one integer
    floor division.

    Plan/scale: customer-revenue aggregate with map-side partials, a
    one-row sketch cutoff + one-row totals broadcast back (allowlisted),
    then a map-side filter + final aggregate. No global sort, no
    per-customer ranking — the quantile cutoff replaces the top-N-%
    sort entirely."""
    o = load_table(spark, "orders", sf_dir)
    c = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)"
        ).alias("cents")
    )
    c = share(c, sf_dir, "orders")  # three consumers: cutoff, totals, filter
    cut = c.agg(F.percentile_approx("cents", 0.90, PCTL_ACCURACY).alias("p90"))
    t = c.agg(
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.count(F.lit(1)).alias("n_customers"),
    )
    return (
        c.crossJoin(F.broadcast(cut))
        .crossJoin(F.broadcast(t))
        .where(F.col("cents") >= F.col("p90"))
        .groupBy("n_customers", "total_cents")
        .agg(
            F.count(F.lit(1)).alias("n_top_customers"),
            F.sum("cents").cast("bigint").alias("top_cents"),
        )
        .select(
            "n_top_customers",
            "n_customers",
            "top_cents",
            "total_cents",
            F.expr("CAST(top_cents * 1000000 DIV total_cents AS BIGINT)").alias(
                "top_share_ppm"
            ),
        )
    )


# --- count-min sketch frequency audit ---------------------------------------
# Deterministic integer Count-Min sketch: D x W counter matrix, row d
# counts events into bucket h_d(key) % W, point estimate = min over
# rows. Counters are exact integer sums and the hash is the portable
# md5-derived h32 (functions/hashing.py), so the WHOLE sketch — not
# just the query result — is bit-identical in both engines. W is kept
# deliberately small so collisions occur at test scale and the
# overcount column is non-trivially exercised even at sf0.001's 15
# distinct users (an overcount needs a collision in ALL D rows; at
# W=512 that is a <1% event per key). Production widths are 2^16+ —
# the estimate error bound is total/W per row, so W sizes to the
# tolerated absolute error, independent of key cardinality.

CMS_DEPTH = 4
CMS_WIDTH = 8


@query(
    "cms_heavy_hitters_audit",
    oracle=f"""
WITH dd AS (SELECT unnest(range(0, {CMS_DEPTH})) AS d),
ex AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY 1),
cms AS (
    SELECT dd.d,
           {{h}} % {CMS_WIDTH} AS bucket,
           count(*) AS cnt
    FROM events CROSS JOIN dd
    GROUP BY 1, 2
),
est AS (
    SELECT e.user_id, min(c.cnt) AS est_cnt
    FROM ex e
    CROSS JOIN dd
    JOIN cms c ON c.d = dd.d
              AND c.bucket = {{hq}} % {CMS_WIDTH}
    GROUP BY 1
)
SELECT e.user_id, e.exact_cnt, s.est_cnt,
       s.est_cnt - e.exact_cnt AS overcount
FROM ex e JOIN est s USING (user_id)
""".format(
        h="CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || '#' || CAST(dd.d AS VARCHAR)), 1, 8)) AS BIGINT)",
        hq="CAST(('0x' || substring(md5(CAST(e.user_id AS VARCHAR) || '#' || CAST(dd.d AS VARCHAR)), 1, 8)) AS BIGINT)",
    ),
)
def cms_heavy_hitters_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation, audited against the exact
    counts it approximates: build the D x W sketch over event user_ids,
    point-query it for every user, and report exact vs estimate with
    the overcount (the CMS guarantee est >= exact means the column is
    always >= 0 — pinned by tests/test_aggregates_props.py). This is
    the mergeable frequency sketch that completes the sketch family
    (HLL distinct, KLL quantiles, Bloom membership, CMS frequency).

    Plan/scale: the sketch build explodes each event into D (row,
    bucket) pairs, but the partial aggregate collapses them to at most
    D*W = 2048 groups PER TASK before the shuffle — the shuffle volume
    is tasks x 2048 counters, independent of data volume, exactly a
    distributed sketch merge. The finished sketch (2048 rows) and the
    depth spine broadcast onto the point-query join; the per-user exact
    side is one ordinary groupBy. At 100 TB you keep the sketch and
    drop the exact side — it exists here because the audit IS the
    query."""
    ev = load_table(spark, "events", sf_dir).select("user_id")
    dd = spark.range(CMS_DEPTH).select(F.col("id").cast("int").alias("d"))
    h = (
        "CAST(conv(substring(md5(concat(CAST(user_id AS STRING), '#',"
        f" CAST(d AS STRING))), 1, 8), 16, 10) AS BIGINT) % {CMS_WIDTH}"
    )
    cms = (
        ev.crossJoin(F.broadcast(dd))
        .groupBy("d", F.expr(h).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # ex feeds two plan branches (point-query spine + final join) and is
    # deliberately NOT materialized: an interleaved A/B at sf0.1 (8 reps
    # each) measured a lineage cut's extra job costing MORE than the
    # duplicated single-column scan + partial agg it saves (median 1.15s
    # vs 1.09s) — the r10->r9 0.83->0.96 drift on this row is host
    # noise, not a plan change (plan identical since r6).
    ex = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = (
        ex.select("user_id")
        .crossJoin(F.broadcast(dd))
        .withColumn("bucket", F.expr(h))
        .join(F.broadcast(cms), ["d", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return ex.join(est, "user_id").select(
        "user_id",
        "exact_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
    )


# --- key-skew audit (shuffle-planning telemetry) ----------------------------

_SKEW_KEYS = [
    ("events.user_id", "events", "user_id"),
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
]

# HHI (Herfindahl concentration) over per-key row shares, reported in
# ppm: sum over keys of share^2, = sum(cnt^2) / total^2. The moment
# sums run in 128-bit-exact arithmetic (DECIMAL(38,0) / HUGEINT —
# addition and multiplication are exact there, see events_rolling_corr
# _wide) and the single division happens once, in DOUBLE, in an
# expression shared verbatim by both engines.
_HHI_EXPR = (
    "round(CAST(sum_sq AS DOUBLE) * 1000000.0"
    " / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)), 4)"
)


def _skew_oracle() -> str:
    parts = []
    for label, table, col in _SKEW_KEYS:
        parts.append(f"""
SELECT '{label}' AS keyed, n_keys, total, max_cnt,
       CAST(max_cnt * 1000000 // total AS BIGINT) AS top_share_ppm,
       {_HHI_EXPR} AS hhi_ppm
FROM (
    SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total,
           CAST(max(cnt) AS BIGINT) AS max_cnt,
           sum(CAST(cnt AS HUGEINT) * cnt) AS sum_sq
    FROM (SELECT {col}, count(*) AS cnt FROM {table} GROUP BY 1)
)""")
    return "\nUNION ALL\n".join(parts)


@query("key_skew_audit", oracle=_skew_oracle())
def key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew telemetry — the report that decides whether a
    join/agg key needs salting (operators/scale.py) or AQE skew
    splitting BEFORE the job runs: per candidate key, the key count,
    the heaviest key's row share, and the Herfindahl concentration
    index (hhi_ppm; 1e6 = one key owns everything, 1e6/n_keys =
    perfectly uniform — its reciprocal is the effective key count that
    actually sizes the biggest shuffle partition). TPC-H l_orderkey is
    near-uniform while user activity skews — exactly the contrast the
    report should surface. Complements operators/scale.py's
    key_skew_profile: that lists the 20 hottest values of ONE key for
    salting decisions; this scores whole-distribution concentration
    across candidate keys in one fixed-size report.

    Exactness: counts are integers; sum(cnt^2) runs in 128-bit-exact
    arithmetic (DECIMAL(38,0) Spark / HUGEINT DuckDB) so it never
    wraps (int64 dies once a key passes ~3e9 rows); top share is
    integer ppm floor-division; the one float division sits in a
    shared-verbatim expression. Plan: one groupBy per audited key with
    map-side partials, then a one-row second-level aggregate — the
    audit costs one shuffle per key at key cardinality, nothing at row
    cardinality."""
    out = None
    for label, table, col in _SKEW_KEYS:
        t = load_table(spark, table, sf_dir)
        per_key = t.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        one = (
            per_key.agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("cnt").cast("bigint").alias("total"),
                F.max("cnt").cast("bigint").alias("max_cnt"),
                F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("cnt")).alias(
                    "sum_sq"
                ),
            )
            .select(
                F.lit(label).alias("keyed"),
                "n_keys",
                "total",
                "max_cnt",
                F.expr("CAST(max_cnt * 1000000 DIV total AS BIGINT)").alias(
                    "top_share_ppm"
                ),
                F.expr(_HHI_EXPR).alias("hhi_ppm"),
            )
        )
        out = one if out is None else out.unionByName(one)
    return out


# --- RFM segmentation (quantile-cutoff scoring) -----------------------------

_RFM_EPOCH = "1992-01-01"


@query(
    "rfm_segments",
    oracle=f"""
WITH base AS (
    SELECT o_custkey,
           CAST(date_diff('day', DATE '{_RFM_EPOCH}', max(o_orderdate)) AS BIGINT)
               AS rdays,
           count(*) AS freq,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
    FROM orders GROUP BY 1
), cuts AS (
    SELECT quantile_disc(rdays, 0.2) AS r20, quantile_disc(rdays, 0.4) AS r40,
           quantile_disc(rdays, 0.6) AS r60, quantile_disc(rdays, 0.8) AS r80,
           quantile_disc(freq,  0.2) AS f20, quantile_disc(freq,  0.4) AS f40,
           quantile_disc(freq,  0.6) AS f60, quantile_disc(freq,  0.8) AS f80,
           quantile_disc(cents, 0.2) AS m20, quantile_disc(cents, 0.4) AS m40,
           quantile_disc(cents, 0.6) AS m60, quantile_disc(cents, 0.8) AS m80
    FROM base
), scored AS (
    SELECT b.o_custkey, b.cents,
           1 + CAST(b.rdays > c.r20 AS INT) + CAST(b.rdays > c.r40 AS INT)
             + CAST(b.rdays > c.r60 AS INT) + CAST(b.rdays > c.r80 AS INT) AS r_score,
           1 + CAST(b.freq > c.f20 AS INT) + CAST(b.freq > c.f40 AS INT)
             + CAST(b.freq > c.f60 AS INT) + CAST(b.freq > c.f80 AS INT) AS f_score,
           1 + CAST(b.cents > c.m20 AS INT) + CAST(b.cents > c.m40 AS INT)
             + CAST(b.cents > c.m60 AS INT) + CAST(b.cents > c.m80 AS INT) AS m_score
    FROM base b CROSS JOIN cuts c
)
SELECT r_score, f_score, m_score,
       count(*) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM scored GROUP BY 1, 2, 3
""",
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary), the marketing
    mart every commerce warehouse ships: each customer scores 1-5 per
    dimension and the report counts customers and revenue per segment
    cell. Scores come from QUANTILE-CUTOFF bucketing, not ntile: the
    five per-metric quintile cutoffs (exact discrete elements — the
    PCTL_ACCURACY convention, base cardinality = |customers|) broadcast
    as one row and each customer scores map-side with pure integer/date
    comparisons. That is the 100 TB shape — a global ntile window
    funnels every customer through one task (window_ntile_customers
    demonstrates that operator on its own); cutoff scoring trades exact
    equal-count buckets for an embarrassingly parallel score pass with
    near-equal buckets (they differ only at cutoff-value ties, which
    the > convention resolves identically in both engines).

    Exactness: recency is integer days-since-epoch of the max order
    date, frequency an integer count, monetary integer cents (dsum
    discipline); scores are sums of integer comparisons — no floats in
    the whole plan."""
    o = load_table(spark, "orders", sf_dir)
    base = o.groupBy("o_custkey").agg(
        F.expr(
            f"CAST(datediff(max(o_orderdate), DATE '{_RFM_EPOCH}') AS BIGINT)"
        ).alias("rdays"),
        F.count(F.lit(1)).alias("freq"),
        F.expr(
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    cuts = base.agg(
        *[
            F.percentile_approx(m, q, PCTL_ACCURACY).alias(f"{m[0]}{int(q * 100)}")
            for m in ("rdays", "freq", "cents")
            for q in (0.2, 0.4, 0.6, 0.8)
        ]
    )
    # cents cutoffs alias as c20.. in Spark; rename to m20.. to share the
    # scoring expression text with the oracle
    cuts = cuts.select(
        "r20", "r40", "r60", "r80", "f20", "f40", "f60", "f80",
        F.col("c20").alias("m20"), F.col("c40").alias("m40"),
        F.col("c60").alias("m60"), F.col("c80").alias("m80"),
    )
    score = lambda v, pfx: (  # noqa: E731
        F.lit(1)
        + (F.col(v) > F.col(f"{pfx}20")).cast("int")
        + (F.col(v) > F.col(f"{pfx}40")).cast("int")
        + (F.col(v) > F.col(f"{pfx}60")).cast("int")
        + (F.col(v) > F.col(f"{pfx}80")).cast("int")
    )
    scored = base.crossJoin(F.broadcast(cuts)).select(
        "cents",
        score("rdays", "r").alias("r_score"),
        score("freq", "f").alias("f_score"),
        score("cents", "m").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


# --- skyline (Pareto frontier) ----------------------------------------------

SKYLINE_PARTS = 32


@query(
    "skyline_customers",
    oracle=f"""
WITH base AS (
    SELECT o_custkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents,
           CAST(date_diff('day', DATE '{_RFM_EPOCH}', max(o_orderdate)) AS BIGINT)
               AS rdays
    FROM orders GROUP BY 1
), w AS (
    SELECT o_custkey, cents, rdays,
           max(rdays) OVER (ORDER BY cents
                            RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS hi_max,
           max(rdays) OVER (PARTITION BY cents) AS eq_max
    FROM base
)
SELECT o_custkey, cents, rdays
FROM w
WHERE (hi_max IS NULL OR rdays > hi_max) AND rdays = eq_max
""",
)
def skyline_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) over customers: the set nobody
    dominates on (total spend, recency) — spent at least as much AND
    ordered at least as recently, strictly better on one. The
    multi-criteria "best customers" query that no single ORDER BY can
    answer; the frontier is what a retention team actually means by
    "top customers".

    The sort-order identity: in spend order, a customer is on the
    frontier iff their recency strictly exceeds the running max recency
    of every strictly-higher spender (and ties the max within their
    exact spend level). The oracle says that with one global ordered
    window; the Spark side runs the DISTRIBUTED form of the same scan —
    the two-phase prefix pattern shared with
    dedup_sorted_neighborhood's global rank: repartitionByRange on
    spend + a lineage cut (freeze sampled boundaries), per-partition
    running max via a RANGE frame, per-partition summary maxes
    (SKYLINE_PARTS rows, bounded control-plane collect) prefix-folded
    and broadcast back, so the global running max = greatest(local,
    prior-partition) and NO single-partition window exists. Range
    partitioning keeps equal spend values in one partition, so the
    equal-spend tie window partitions by (pid, cents) — hash-parallel.

    Exactness: integer cents and day counts; comparisons only. The
    anti-join dominance definition is property-checked against this
    plan in tests/test_aggregates_props.py."""
    o = load_table(spark, "orders", sf_dir)
    base = o.groupBy("o_custkey").agg(
        F.expr(
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)"
        ).alias("cents"),
        F.expr(
            f"CAST(datediff(max(o_orderdate), DATE '{_RFM_EPOCH}') AS BIGINT)"
        ).alias("rdays"),
    )
    s = share(  # freeze boundaries: summaries and scan see one layout
        base.repartitionByRange(SKYLINE_PARTS, F.col("cents"))
        .sortWithinPartitions("cents")
        .withColumn("pid", F.spark_partition_id()),
        sf_dir,
        "orders",
    )
    summ = {
        r["pid"]: r["mx"]
        for r in s.groupBy("pid").agg(F.max("rdays").alias("mx")).collect()
    }
    # prefix from the HIGH end: partitions hold ascending cents ranges,
    # so the "strictly higher spend" side of partition p is partitions > p
    prior, acc = [], None
    for pid in range(SKYLINE_PARTS - 1, -1, -1):
        prior.append((pid, acc))
        if pid in summ:
            acc = summ[pid] if acc is None else max(acc, summ[pid])
    off = spark.createDataFrame(prior, "pid int, hi_prior long")
    w_hi = (
        Window.partitionBy("pid")
        .orderBy("cents")
        .rangeBetween(1, Window.unboundedFollowing)
    )
    w_eq = Window.partitionBy("pid", "cents")
    flagged = (
        s.join(F.broadcast(off), "pid")
        .withColumn("hi_local", F.max("rdays").over(w_hi))
        .withColumn("eq_max", F.max("rdays").over(w_eq))
        .withColumn("hi_max", F.greatest("hi_local", "hi_prior"))
    )
    return flagged.where(
        (F.col("hi_max").isNull() | (F.col("rdays") > F.col("hi_max")))
        & (F.col("rdays") == F.col("eq_max"))
    ).select("o_custkey", "cents", "rdays")


# --- grouped-aggregate pandas UDAF surface ----------------------------------


@query(
    "events_median_udaf",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(quantile_disc(CAST(round(value * 100) AS BIGINT), 0.5) AS BIGINT)
           AS median_cents
FROM events
GROUP BY event_type
""",
)
def events_median_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDAF — the one Python-UDF shape the registry
    didn't yet exercise (scalar pandas_udf, applyInPandas, mapInPandas,
    applyInPandasWithState all have carriers): a whole group's column
    arrives as ONE Arrow-backed pandas Series and reduces to a scalar.
    The aggregate is the exact lower discrete median (sorted index
    (n-1)//2) over integer cents — deterministically identical to
    DuckDB's quantile_disc, so the Python path is value-hash-checked,
    not just smoke-tested.

    Scale honesty: a grouped-agg UDAF materializes each group in one
    python worker (no partial aggregation), so per-group cardinality is
    the memory bound — fine for |types| groups here; for high-volume
    groups use the mergeable sketch (approx_quantiles_totalprice) or
    the two-pass exact cutoff instead. This query exists to pin the API
    surface and its exact-arithmetic discipline, not as the 100 TB
    median plan."""
    # pandas is imported at module level: with `from __future__ import
    # annotations` every hint is a string, and pandas_udf resolves
    # 'pd.Series' against MODULE globals — a function-local import
    # leaves it unresolvable (UNSUPPORTED_SIGNATURE).
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def median_disc_cents(v: pd.Series) -> int:
        s = v.sort_values(kind="mergesort").to_numpy()
        return int(s[(len(s) - 1) // 2])

    # Catalyst refuses to mix a group-agg pandas UDF with JVM aggregates
    # in one Aggregate (INVALID_PANDAS_UDF_PLACEMENT) — the row count
    # rides the same Arrow batch as a second pandas aggregate instead.
    @pandas_udf("bigint")
    def count_rows(v: pd.Series) -> int:
        return int(len(v))

    ev = load_table(spark, "events", sf_dir)
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    return ev.groupBy("event_type").agg(
        count_rows(cents).alias("n"),
        median_disc_cents(cents).alias("median_cents"),
    )


# --- sketch-based join-size estimation (CMS inner product) ------------------

JOINEST_DEPTH = 4
JOINEST_WIDTH = 4096  # est error ~ |A||B|/W: sized so the demo overestimate is small


def _joinest_cms(table: str, key: str) -> str:
    h = (
        f"CAST(('0x' || substring(md5(CAST({key} AS VARCHAR) || '#' ||"
        f" CAST(dd.d AS VARCHAR)), 1, 8)) AS BIGINT) % {JOINEST_WIDTH}"
    )
    return f"""
    SELECT dd.d, {h} AS bucket, CAST(count(*) AS HUGEINT) AS cnt
    FROM {table} CROSS JOIN dd
    GROUP BY 1, 2
"""


@query(
    "cms_join_size_estimate",
    oracle=f"""
WITH dd AS (SELECT unnest(range(0, {JOINEST_DEPTH})) AS d),
ca AS ({_joinest_cms("events", "user_id")}),
cb AS ({_joinest_cms("orders", "o_custkey")}),
est AS (
    SELECT min(s) AS cms_estimate FROM (
        SELECT ca.d, CAST(sum(ca.cnt * cb.cnt) AS BIGINT) AS s
        FROM ca JOIN cb ON ca.d = cb.d AND ca.bucket = cb.bucket
        GROUP BY ca.d
    )
),
exact AS (
    SELECT CAST(sum(e.cnt * o.cnt) AS BIGINT) AS exact_join_rows
    FROM (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1) e
    JOIN (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY 1) o
      ON o.o_custkey = e.user_id
)
SELECT exact.exact_join_rows, est.cms_estimate,
       est.cms_estimate - exact.exact_join_rows AS overestimate
FROM exact CROSS JOIN est
""",
)
def cms_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from Count-Min sketches (the
    Cormode-Muthukrishnan inner-product estimator): |A join B| on a key
    is SUM over keys cntA*cntB, and the CMS row-wise inner product
    min_d SUM_b A[d][b]*B[d][b] upper-bounds it (collisions only ADD).
    This is what a query planner or streaming pipeline uses to predict
    whether a join will explode BEFORE paying its shuffle — each side's
    sketch is built independently (mergeable, tasks x D*W counters of
    shuffle), the estimate is a D*W-row join of the two sketches, and
    neither fact table ever meets the other.

    The registered audit surfaces estimate AND exact side by side with
    the signed gap, so the never-underestimate guarantee is part of the
    value hash (and pinned in tests/test_aggregates_props.py). Products
    accumulate in 128-bit-exact arithmetic (DECIMAL(38,0) / HUGEINT —
    bucket-count products pass 2^63 long before any real scale)."""
    dd = spark.range(JOINEST_DEPTH).select(F.col("id").cast("int").alias("d"))

    def sketch(df: DataFrame, key: str) -> DataFrame:
        h = (
            f"CAST(conv(substring(md5(concat(CAST({key} AS STRING), '#',"
            f" CAST(d AS STRING))), 1, 8), 16, 10) AS BIGINT) % {JOINEST_WIDTH}"
        )
        return (
            df.select(key)
            .crossJoin(F.broadcast(dd))
            .groupBy("d", F.expr(h).alias("bucket"))
            .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt"))
        )

    ev = load_table(spark, "events", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    ca = sketch(ev, "user_id")
    cb = sketch(orders, "o_custkey").select(
        F.col("d").alias("d2"), F.col("bucket").alias("bucket2"),
        F.col("cnt").alias("cnt2"),
    )
    est = (
        ca.join(cb, (ca.d == cb.d2) & (ca.bucket == cb.bucket2))
        .groupBy("d")
        .agg(F.sum(F.expr("cnt * cnt2")).cast("bigint").alias("s"))
        .agg(F.min("s").alias("cms_estimate"))
    )
    e = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt"))
    o = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt2")
    )
    exact = (
        e.join(o, e.user_id == o.o_custkey)
        .agg(F.sum(F.expr("cnt * cnt2")).cast("bigint").alias("exact_join_rows"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_join_rows",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_join_rows")).alias("overestimate"),
    )


# --- interval-concurrency sweep line (round 12) --------------------------------
# "How many orders are OPEN on each day?" — the interval-overlap
# counting shape (concurrent sessions, active subscriptions, WIP
# backlog) that a per-day join over intervals would answer in
# O(days x orders). The sweep line answers it in one pass: +1 at each
# interval start, -1 at its end, aggregate deltas per day, running-sum
# over the day-ordered spine. An order's interval is
# [o_orderdate, max(l_shipdate)) — open until its last line ships.


@query(
    "orders_open_backlog_daily",
    oracle="""
WITH iv AS (
    SELECT CAST(o.o_orderdate AS DATE) AS d0,
           greatest(CAST(o.o_orderdate AS DATE), CAST(max(l.l_shipdate) AS DATE))
               AS d1
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderdate
),
deltas AS (
    SELECT d0 AS day, 1 AS delta FROM iv
    UNION ALL
    SELECT d1 AS day, -1 AS delta FROM iv
),
byday AS (SELECT day, sum(delta) AS d FROM deltas GROUP BY day)
SELECT day,
       CAST(sum(d) OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_open
FROM byday
""",
)
def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OPEN-ORDER backlog via the sweep line: each order
    contributes +1 on its order date and -1 on the day its last line
    ships (unconditionally — a same-day order nets 0, the half-open
    [start, end) convention), per-day deltas aggregate map-side, and one running sum
    over the day spine yields the concurrency curve. The
    interval-overlap counting shape (active sessions, subscriptions,
    WIP) without the O(days x intervals) join a naive per-day probe
    pays.

    Data hygiene, surfaced not hidden: this synthetic generator emits
    ~20% of orders with max(l_shipdate) BEFORE o_orderdate (real TPC-H
    forbids it). An ill-formed interval clamps to the empty [d0, d0) —
    greatest(d0, d1) on both engines — so it nets zero instead of
    leaking a permanent +1 into the running sum (the bug the
    constructed probe in tests/test_round12_ops.py caught at build
    time: sweep and direct interval count disagreed by exactly the
    ill-formed rows).

    Plan/scale: the per-order interval is one groupBy on the order key
    (map-side partials); deltas aggregate to |days| rows BEFORE the
    window, so the running sum is a bounded-spine global sort
    (allowlisted — calendar cardinality, not data volume; a multi-year
    spine shards by year with per-shard offsets exactly like
    pack_chunks_greedy's stream offsets)."""
    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate")
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_shipdate")
    iv = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("d1"))
        .select(
            F.to_date("o_orderdate").alias("d0"),
            F.greatest(F.to_date("o_orderdate"), F.to_date("d1")).alias("d1"),
        )
    )
    deltas = iv.select(F.col("d0").alias("day"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("d1").alias("day"), F.lit(-1).alias("delta"))
    )
    byday = deltas.groupBy("day").agg(F.sum("delta").alias("d"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return byday.select(
        "day", F.sum("d").over(w).cast("bigint").alias("n_open")
    )
