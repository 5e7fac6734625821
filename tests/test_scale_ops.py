"""Scale-technique operators: salted aggregation must be semantically
identical to the plain group-by; bucketed joins must plan without
exchanges (the co-location is real, not aspirational)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dend_covid19_spark.catalog import load_table
from dend_covid19_spark.operators.scale import (
    bucketed_join,
    salted_aggregate,
    write_bucketed,
)
from dend_covid19_spark.session import session_conf
from tests.conftest import SF_DIR


def test_salted_aggregate_matches_plain(spark):
    ev = load_table(spark, "events", SF_DIR)
    salted = salted_aggregate(
        ev,
        ["event_type"],
        {
            "cnt": (F.count(F.lit(1)), "count"),
            "total": (F.sum(F.col("value").cast("decimal(18,2)")), "sum"),
            "max_value": (F.max("value"), "max"),
        },
        salt_buckets=8,
    )
    plain = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
        F.max("value").alias("max_value"),
    )
    s = {r.event_type: (r.cnt, r.total, r.max_value) for r in salted.collect()}
    p = {r.event_type: (r.cnt, r.total, r.max_value) for r in plain.collect()}
    assert s == p


def test_salted_aggregate_rejects_nonalgebraic(spark):
    import pytest

    ev = load_table(spark, "events", SF_DIR)
    with pytest.raises(ValueError):
        salted_aggregate(ev, ["event_type"], {"bad": (F.avg("value"), "avg")})


def test_bucketed_join_has_no_exchange(spark):
    orders = load_table(spark, "orders", SF_DIR)
    li = load_table(spark, "lineitem", SF_DIR)
    write_bucketed(orders, "orders_b", "o_orderkey", num_buckets=4)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", "o_orderkey", 4
    )
    # at test scale the planner would broadcast (and skip bucketing);
    # disable broadcast to exercise the co-located SMJ path that a
    # fact-fact join takes at 100 TB
    try:
        with session_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = bucketed_join(spark, "orders_b", "lineitem_b", on="o_orderkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in plan, (
                f"bucketed join still shuffles:\n{plan}"
            )
            assert "SortMergeJoin" in plan
            assert joined.count() == li.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_aqe_skew_join_splits(spark):
    """AQE's runtime skew-join handling — the complement of
    salted_aggregate (which covers skewed GROUP-BY keys; AQE only fixes
    joins): with a 90%-of-rows hot key on the fact side of a sort-merge
    join, the adaptive executed plan must mark the join skew=true and
    split the oversized partition into multiple tasks. Thresholds are
    dialed down so the sf0.001 fixture trips the same code path a hot
    100 TB partition would; confs are restored afterwards."""
    import pyspark.sql.functions as F

    skew_confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with session_conf(spark, skew_confs):
        # Synthetic 1M-row fact with 90% of rows on key 0 — sized so the
        # hot partition's COMPRESSED shuffle bytes clear the threshold
        # (the sf0.001 fixture compresses below any sane threshold).
        # Three gates this test documents, each found the hard way:
        # (a) both join sides must be DISTINCT exchanges — a ReusedExchange
        #     pair is never split; (b) splits are expressed as MAPPER
        #     ranges, so the skewed side needs a multi-task upstream
        #     stage (8 range slices here); (c) no same-key aggregate
        #     downstream — the rule won't split when that would break a
        #     required child distribution.
        fact = spark.range(0, 1_000_000, 1, 8).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.rand(42).alias("v"),
        )
        dim = spark.range(0, 1_000_000, 100).select(
            F.col("id").alias("k"), F.lit("x").alias("lab")
        )
        j = fact.join(dim, "k").select("v")
        j.collect()  # AQE decides at runtime; materialize THIS plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan


def test_bitmap_equals_count_distinct(spark):
    """The bitmap identity: popcount-of-OR-folded words must equal plain
    COUNT(DISTINCT) for every day — the exactness claim that separates
    this from the HLL sketch path."""
    import pyspark.sql.functions as F

    from dend_covid19_spark.plans.timeseries import bitmap_distinct_users_daily

    got = {
        r.day: r.n_users_exact
        for r in bitmap_distinct_users_daily(spark, SF_DIR).collect()
    }
    # load_table, not a raw read: events.ts unit is footer-sniffed there
    want = {
        r.day: r.exact
        for r in load_table(spark, "events", SF_DIR)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    assert got == want


def test_audience_overlap_matches_exact_intersection(spark):
    """Bitmap AND + popcount must equal the exact distinct-user
    intersection computed the naive way (distinct pair sets joined) —
    the identity that makes the bitmap an EXACT set-algebra asset, not
    an estimate."""
    from dend_covid19_spark.plans.timeseries import audience_overlap_bitmap
    from pyspark.sql import functions as F

    got = {
        (r.type_a, r.type_b): (r.users_a, r.users_b, r.n_both)
        for r in audience_overlap_bitmap(spark, SF_DIR).collect()
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", "user_id"
    ).distinct()
    a = ev.select(F.col("event_type").alias("ta"), "user_id")
    b = ev.select(F.col("event_type").alias("tb"), "user_id")
    naive = {
        (r.ta, r.tb): r.n
        for r in a.join(b, "user_id")
        .where(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    sizes = {r.event_type: r.n for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()}
    assert got, "no overlap pairs"
    for (ta, tb), (ua, ub, nboth) in got.items():
        assert ua == sizes[ta] and ub == sizes[tb]
        assert nboth == naive.get((ta, tb), 0)


def test_snm_distributed_rank_is_dense_and_ordered(spark):
    """dedup_sorted_neighborhood's two-phase global rank (range
    partition + local row_number + offset fix-up) must produce exactly
    the ranks 1..n in (lang, n_chars, doc_id) order — the property that
    makes its window pairs equal a single-partition ORDER BY's, without
    ever running one."""
    from dend_covid19_spark.operators.dedup import SNM_WINDOW, dedup_sorted_neighborhood
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n = docs.count()
    pairs = dedup_sorted_neighborhood(spark, SF_DIR).collect()
    # pair-count identity: rank r pairs with min(W-1, n-r) successors
    w = SNM_WINDOW - 1
    expect_pairs = sum(min(w, n - r) for r in range(1, n + 1))
    assert len(pairs) == expect_pairs, (len(pairs), expect_pairs, n)
    assert all(1 <= p.rank_dist <= w for p in pairs)
    # adjacency must follow the sort order: doc ranked right after doc_a
    # in (lang, n_chars, doc_id) order appears among its rank_dist=1 pair
    ordered = [
        r.doc_id
        for r in docs.select("doc_id", "lang", "n_chars")
        .orderBy("lang", "n_chars", "doc_id")
        .collect()
    ]
    succ = {(a, b) for a, b in zip(ordered, ordered[1:])}
    got_adjacent = {(p.doc_a, p.doc_b) for p in pairs if p.rank_dist == 1}
    assert got_adjacent == succ
