"""The remaining TPC-H query shapes (Q2, Q8, Q9, Q11, Q12, Q15, Q16,
Q17, Q19, Q20, Q21 analogs), completing the 22-query relational suite
together with plans/parity.py (Q1/Q6), plans/relational.py (Q3/Q5/Q14/
Q18) and plans/tpch_extra.py (Q4/Q7/Q10/Q13/Q22).

Adapted to the driver's trimmed star schema (TESTDATA.md): there is no
partsupp table, no l_commitdate/l_receiptdate/l_shipmode, so the
partsupp-correlated queries (Q2/Q11/Q16/Q20) re-correlate through
lineitem's (l_partkey, l_suppkey) pairs, and "late" is defined against
o_orderdate instead of commit/receipt dates. Every adaptation keeps the
*plan shape* the original exercises — correlated min subquery (Q2),
share-of-total (Q8), scalar-threshold HAVING (Q11), max-equality scalar
subquery (Q15), NOT IN + count-distinct (Q16), per-group avg correlation
(Q17), disjunctive pushdown (Q19), having-semi-join chain (Q20), and the
double EXISTS/NOT EXISTS self-join (Q21).

The reference itself has exactly one join (SURVEY.md §2.3); this module
exists because its serving warehouse (Redshift) gave users the full
relational algebra, so "switch to this repo" implies it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, share
from .parity import _sql_dsum, dsum
from .registry import query


@query(
    "q2_min_cost_supplier",
    oracle="""
WITH supply AS (
    SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS cost
    FROM lineitem
    GROUP BY l_partkey, l_suppkey
), eu_supply AS (
    SELECT supply.*, s_name, s_acctbal, n_name
    FROM supply
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'EUROPE'
), ranked AS (
    SELECT eu_supply.*,
           min(cost) OVER (PARTITION BY l_partkey) AS min_cost
    FROM eu_supply
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM ranked
JOIN part ON p_partkey = l_partkey
WHERE cost = min_cost AND p_size = 15 AND p_type = 'STANDARD'
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the European supplier
    offering it at minimum unit cost — the correlated-MIN subquery,
    decorrelated to a per-partition window min + equality filter (one
    pass over the supply relation; the naive agg-then-join-back form
    scans and aggregates lineitem twice). Unit cost derives from
    lineitem (no partsupp in this schema):
    min(l_extendedprice / l_quantity) per (part, supplier).

    Scale: one big shuffle for the supply aggregation on
    (l_partkey, l_suppkey); supplier/nation/region broadcast into it;
    the window min re-shuffles only the |part×supplier| aggregate on
    l_partkey. The double unit costs come from the identical IEEE
    expression in both engines, so the = min_cost cut is exact.
    """
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).where(F.col("r_name") == "EUROPE")
    part = load_table(spark, "part", sf_dir).where(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost")
    )
    eu_supply = (
        supply.join(F.broadcast(supp), supp.s_suppkey == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("l_partkey", "cost", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("l_partkey")
    return (
        eu_supply.withColumn("min_cost", F.min("cost").over(w))
        .where(F.col("cost") == F.col("min_cost"))
        .join(F.broadcast(part), part.p_partkey == F.col("l_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


@query(
    "q8_market_share",
    oracle=f"""
SELECT o_year,
       round(
           CAST({_sql_dsum("CASE WHEN supp_nation = 'NATION_19' THEN volume ELSE 0 END", scale=6)} AS DOUBLE)
           / {_sql_dsum('volume', scale=6)}, 6) AS mkt_share
FROM (
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           l_extendedprice * (1 - l_discount) AS volume,
           n2.n_name AS supp_nation
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = c_nationkey
    JOIN nation n2 ON n2.n_nationkey = s_nationkey
    JOIN region ON r_regionkey = n1.n_regionkey
    JOIN part ON p_partkey = l_partkey
    WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
) all_nations
GROUP BY o_year
""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of PROMO-part volume sold into
    AMERICA, per order year — conditional aggregate over total aggregate
    in one pass (no second scan for the denominator).

    Scale: part/customer/supplier/nation/region all broadcast; lineitem
    ⋈ orders on orderkey is the lone big shuffle, with both date and
    part-type filters pushed below it. Numerator and denominator are
    exact decimal sums, so the final one IEEE division is reproducible
    regardless of partitioning.
    """
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir).where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01 00:00:00")))
    )
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).where(F.col("r_name") == "AMERICA")
    part = load_table(spark, "part", sf_dir).where(F.col("p_type") == "PROMO")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume")
    flagged = F.when(F.col("supp_nation") == "NATION_19", F.col("volume")).otherwise(
        F.lit(0.0)
    )
    all_nations = (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(cust), cust.c_custkey == orders.o_custkey)
        .join(F.broadcast(supp), supp.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n1), F.col("n1_key") == cust.c_nationkey)
        .join(F.broadcast(n2), F.col("n2_key") == supp.s_nationkey)
        .join(F.broadcast(region), F.col("r_regionkey") == F.col("n1_region"))
        .join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .select(F.year("o_orderdate").alias("o_year"), volume, "supp_nation")
    )
    return (
        all_nations.groupBy("o_year")
        .agg(
            dsum(flagged, scale=6).alias("num"),
            dsum("volume", scale=6).alias("den"),
        )
        .select(
            "o_year", F.round(F.col("num") / F.col("den"), 6).alias("mkt_share")
        )
    )


@query(
    "q9_profit_by_nation",
    oracle=f"""
SELECT nation, o_year, {_sql_dsum('amount', scale=6)} AS sum_profit
FROM (
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity AS amount
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE '%widget%'
) profit
GROUP BY nation, o_year
""",
)
def q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: margin on 'widget' parts per supplier nation per
    year. The original's cost term is ps_supplycost * l_quantity; with
    no partsupp table the cost basis is p_retailprice * l_quantity —
    identical expression tree (revenue minus part-joined cost times
    quantity), identical join graph minus one table.

    Scale: the part name filter broadcasts a pruned part dim into the
    lineitem scan; orders joins on the orderkey shuffle. The margin
    expression is per-row arithmetic folded into the scan projection;
    the decimal(18,6) cast keeps negative/positive margin cancellation
    order-independent.
    """
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    part = load_table(spark, "part", sf_dir).where(F.col("p_name").like("%widget%"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    ).alias("amount")
    return (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(supp), supp.s_suppkey == li.l_suppkey)
        .join(F.broadcast(nation), F.col("n_nationkey") == supp.s_nationkey)
        .join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount,
        )
        .groupBy("nation", "o_year")
        .agg(dsum("amount", scale=6).alias("sum_profit"))
    )


@query(
    "q11_important_parts",
    oracle=f"""
WITH part_value AS (
    SELECT l_partkey, {_sql_dsum('l_extendedprice', scale=2)} AS value
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name = 'NATION_3'
    GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, value
FROM part_value
WHERE value > (SELECT sum(value) * 0.001 FROM part_value)
""",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value through one nation's
    suppliers exceeds a fraction of that nation's total — GROUP BY ...
    HAVING (> uncorrelated scalar subquery). Value bases on lineitem
    extendedprice (no partsupp availqty in this schema).

    Scale: the per-part aggregation shuffles once on l_partkey; the
    global total is a second aggregate over that (already tiny) result,
    broadcast back as a one-row threshold — the detail rows are never
    re-scanned. Both per-part values and the total are exact decimal
    sums before one double multiply, so the > cut is stable.
    """
    li = load_table(spark, "lineitem", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir).where(F.col("n_name") == "NATION_3")
    part_value = (
        li.join(F.broadcast(supp), supp.s_suppkey == li.l_suppkey)
        .join(F.broadcast(nation), F.col("n_nationkey") == supp.s_nationkey)
        .groupBy("l_partkey")
        .agg(dsum("l_extendedprice", scale=2).alias("value"))
    )
    # the threshold subquery and the HAVING cut both consume part_value;
    # the lineage cut makes the docstring's "detail rows are never
    # re-scanned" true in the physical plan (it planned the lineitem
    # join + aggregate twice before)
    part_value = share(part_value, sf_dir, "lineitem")
    threshold = part_value.agg((F.sum("value") * F.lit(0.001)).alias("threshold"))
    return (
        part_value.join(F.broadcast(threshold))
        .where(F.col("value") > F.col("threshold"))
        .select(F.col("l_partkey").alias("p_partkey"), "value")
    )


@query(
    "q12_late_shipment_priority",
    oracle="""
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_linestatus
""",
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: how many high- vs low-priority orders sit behind
    late shipments, per line status. "Late" is shipped >30 days after
    order date (this schema has no commit/receipt dates, and
    l_linestatus stands in for the absent l_shipmode); the two
    conditional counts in one pass are the shape Q12 exercises.

    Scale: the year filter is pushed to the lineitem scan; the non-equi
    lateness residual (l_shipdate > o_orderdate + 30d) evaluates inside
    the orderkey equi-join, not as a separate theta join. The CASE sums
    are partial-aggregated map-side to 2 longs per group per task.
    """
    li = load_table(spark, "lineitem", sf_dir).where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01 00:00:00")))
    )
    orders = load_table(spark, "orders", sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            orders,
            (orders.o_orderkey == li.l_orderkey)
            # Timestamp-interval add (not date_add, which truncates to
            # DATE) so the lateness cutoff matches the oracle exactly
            # even if order timestamps ever stop being midnight-aligned.
            & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAY")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q15_top_supplier",
    oracle=f"""
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           {_sql_dsum('l_extendedprice * (1 - l_discount)', scale=6)} AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly revenue —
    a reused derived relation (the original's CREATE VIEW) consumed
    twice: once for the max scalar subquery, once for the equality
    filter. Returns all ties, as the original does.

    Scale: revenue aggregates on l_suppkey after scan-level date
    pruning; the max is an aggregate *of that aggregate* (|suppliers|
    rows), broadcast back — no second lineitem scan. The equality
    compares identically-rounded decimal sums, so ties are exact.
    """
    li = load_table(spark, "lineitem", sf_dir).where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01 00:00:00")))
    )
    supp = load_table(spark, "supplier", sf_dir)
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=6).alias(
            "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(max_rev))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), supp.s_suppkey == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q16_part_supplier_counts",
    oracle="""
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part
JOIN lineitem ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25)
  AND l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7'
  )
GROUP BY p_brand, p_type, p_size
""",
)
def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can furnish each
    (brand, type, size) bucket, excluding a denylisted supplier set —
    NOT IN anti-join + COUNT(DISTINCT). Supply relationships come from
    lineitem's (l_partkey, l_suppkey) pairs (no partsupp table).

    Scale: part is filtered then broadcast into the lineitem scan; the
    denylist is a tiny broadcast anti join. COUNT(DISTINCT) expands to
    a two-phase aggregate (distinct on group+suppkey, then count) —
    both phases shuffle on the narrow grouped keys, never raw rows.
    """
    part = load_table(spark, "part", sf_dir).where(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25))
    )
    li = load_table(spark, "lineitem", sf_dir)
    deny = load_table(spark, "supplier", sf_dir).where(
        F.col("s_name").like("%7")
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(deny), deny.s_suppkey == li.l_suppkey, "left_anti")
        .join(F.broadcast(part), part.p_partkey == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_qty_revenue",
    oracle="""
WITH part_avg AS (
    SELECT l_partkey,
           0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
               AS qty_threshold
    FROM lineitem GROUP BY l_partkey
)
SELECT CAST((2 * CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) * 100 AS BIGINT) * 10000
             + 700) // 1400 AS DOUBLE) / 10000 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN part_avg USING (l_partkey)
WHERE p_brand = 'Brand#3' AND l_quantity < qty_threshold
""",
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue that would move to small-lot handling —
    rows below 20% of their part's average quantity. The correlated AVG
    subquery decorrelates to a per-part aggregate joined back to the
    detail (two uses of one relation).

    Scale: the per-part averages aggregate on the same l_partkey the
    join back uses — one exchange feeds both. The brand filter prunes
    the detail side before the join; AQE broadcasts the small filtered
    side. Thresholds are exact-decimal-sum / count, one multiply — the
    < cut is reproducible across partitionings.
    """
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir).where(F.col("p_brand") == "Brand#3")
    part_avg = li.groupBy("l_partkey").agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .join(part_avg, "l_partkey")
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            # round-half-up(cents / 700, 4) in pure integers — the davg
            # lesson: rounding the double quotient is engine-dependent
            # at exact half-way values. Revenue is non-negative.
            F.expr(
                "CAST((2 * CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)"
                " * 100 AS BIGINT) * 10000 + 700) DIV 1400 AS DOUBLE) / 10000"
            ).alias("avg_yearly")
        )
    )


@query(
    "q19_disjunctive_revenue",
    oracle=f"""
SELECT {_sql_dsum('l_extendedprice * (1 - l_discount)', scale=6)} AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 20 AND l_quantity <= 30)
""",
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under three OR'd brand/size/quantity
    bundles — the classic disjunctive-predicate test. Catalyst extracts
    the common subexpressions: the part-side disjuncts
    (brand ∧ size-range) filter the build side and the quantity bounds
    filter the probe side *before* the join, with only the cross terms
    left as the join residual.

    Scale: part (filtered to 3 brands) broadcasts; lineitem keeps rows
    with quantity in [1,30] at the scan. The single aggregate needs no
    further shuffle beyond the final one-row reduction.
    """
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    bundle = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .where(bundle)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=6).alias(
                "revenue"
            )
        )
    )


@query(
    "q20_excess_suppliers",
    oracle="""
WITH shipped AS (
    SELECT l_suppkey,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE 'red%'
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_suppkey
    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 100
)
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
JOIN shipped ON l_suppkey = s_suppkey
WHERE n_name = 'NATION_3'
""",
)
def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation who moved significant
    volume of 'red' parts in a year — the nested semi-join chain
    (part-name filter → per-supplier aggregate HAVING → supplier →
    nation). The original thresholds against partsupp availqty; absent
    that table, a fixed quantity threshold keeps the
    aggregate-then-semi-join shape.

    Scale: the part-name filter broadcasts a pruned dim; the only real
    shuffle is the per-supplier quantity aggregate, whose HAVING runs
    post-aggregation on |supplier| rows. The final joins are broadcasts
    against the two dims.
    """
    li = load_table(spark, "lineitem", sf_dir).where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01 00:00:00")))
    )
    part = load_table(spark, "part", sf_dir).where(F.col("p_name").like("red%"))
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir).where(F.col("n_name") == "NATION_3")
    shipped = (
        li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty_dec"))
        .where(F.col("qty_dec") > 100)
        .select("l_suppkey", F.col("qty_dec").cast("double").alias("total_qty"))
    )
    return (
        supp.join(F.broadcast(nation), F.col("n_nationkey") == supp.s_nationkey)
        .join(shipped, shipped.l_suppkey == supp.s_suppkey)
        .select("s_name", "s_acctbal")
    )


@query(
    "q21_waiting_supplier",
    oracle="""
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON n_nationkey = s_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND n_name = 'NATION_19'
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the *sole* late shipper on a
    finished multi-supplier order — EXISTS (another supplier on the
    order) plus NOT EXISTS (another *late* supplier on the order),
    i.e., a semi join and an anti join against two self-correlations
    of lineitem. "Late" is shipped >60 days after order date (no
    receipt/commit dates in this schema).

    Scale: all three lineitem uses and the orders join correlate on
    l_orderkey — one exchange's partitioning serves the equi sides of
    the semi and anti joins; the supplier-inequality and lateness
    residuals evaluate inside them. nation broadcasts; the top-100 is
    TakeOrderedAndProject with (numwait desc, s_name) total order.
    """
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir).where(F.col("n_name") == "NATION_19")
    orders = load_table(spark, "orders", sf_dir).where(F.col("o_orderstatus") == "F")
    li = load_table(spark, "lineitem", sf_dir)
    l1 = (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .where(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .select("l_orderkey", "l_suppkey")
    )
    # Late lines on ANY order (independent of status filter on l1's join):
    # NOT EXISTS correlates through orders again, so rebuild it cleanly.
    all_orders = load_table(spark, "orders", sf_dir)
    late_any = (
        li.join(all_orders, all_orders.o_orderkey == li.l_orderkey)
        .where(F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60))
        .select(
            F.col("l_orderkey").alias("lk"), F.col("l_suppkey").alias("sk")
        )
    )
    others = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("osk")
    )
    waiting = (
        l1.join(
            others,
            (F.col("ok") == F.col("l_orderkey")) & (F.col("osk") != F.col("l_suppkey")),
            "left_semi",
        ).join(
            late_any,
            (F.col("lk") == F.col("l_orderkey")) & (F.col("sk") != F.col("l_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(supp), supp.s_suppkey == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == supp.s_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )
