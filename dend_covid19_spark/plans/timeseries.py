"""Time-series / windowed-aggregation plans over ``events``.

The reference achieves incrementality by date-templated paths + a daily
Airflow schedule (SURVEY.md §2.7 — no streaming runtime). Here the same
semantics are declared once, batch-first with ``F.window`` (so they are
DuckDB-oracle-checkable) and reused verbatim by the Structured Streaming
entry points in streaming/daily.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, share
from .parity import _sql_dsum, dsum
from .registry import query


@query(
    "events_tumbling_daily",
    oracle=f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       event_type,
       count(*) AS cnt,
       {_sql_dsum('value')} AS total_value
FROM events
GROUP BY 1, 2
""",
)
def events_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window aggregate per event type — the daily-batch
    semantics of the reference's schedule as one windowed group-by. The
    same plan runs under readStream + watermark (streaming/daily.py)."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value").alias("total_value"))
        .select(
            F.to_date("w.start").alias("day"),
            "event_type",
            "cnt",
            "total_value",
        )
    )


@query(
    "events_hourly_activity",
    oracle=f"""
SELECT date_trunc('hour', ts) AS hour_ts,
       count(*) AS cnt,
       count(DISTINCT user_id) AS active_users,
       {_sql_dsum('value')} AS total_value
FROM events
GROUP BY 1
""",
)
def events_hourly_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling window with a distinct-user count (the expensive
    kind of streaming agg: exact distinct forces a per-window shuffle).
    The 100 TB swap-in is registered as events_hourly_activity_approx —
    HLL sketch partials instead of exact id sets; this exact form stays
    as its oracle-precise twin."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("user_id").alias("active_users"),
            dsum("value").alias("total_value"),
        )
        .select(F.col("w.start").alias("hour_ts"), "cnt", "active_users", "total_value")
    )


@query(
    "events_hourly_activity_approx",
    oracle="""
SELECT date_trunc('hour', ts) AS hour_ts,
       count(*) AS cnt,
       count(DISTINCT user_id) AS exact_users,
       abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
           <= 0.15 * count(DISTINCT user_id) AS estimate_ok
FROM events
GROUP BY 1
""",
)
def events_hourly_activity_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of events_hourly_activity: per-hour active users
    via the mergeable HyperLogLog sketch instead of exact countDistinct.
    Exact distinct expands every (window, user_id) pair through the
    shuffle and holds the full id set per window; the sketch ships a
    ~KB partial per task per window and merges associatively — the only
    per-window state that survives 100x data.

    Oracle pattern (proved by approx_distinct_users): each engine
    surfaces its exact count (hash-compared) plus a boolean asserting
    its OWN HLL estimate lands within 15% of exact — sketch
    implementations differ across engines, so the estimate itself is
    never hash-compared, but both engines must vouch for their sketch.
    rsd is dialed to 0.01 for the check (default 5% rsd misses the 15%
    bound on the tiniest ~10-user windows); at 100 TB relax rsd and the
    bound together — the plan shape is what matters.

    Plan shape (r14 fix, profiled r13): mixing countDistinct with
    approx_count_distinct in ONE agg forces Catalyst's Expand
    multi-distinct path — every input row is duplicated per distinct
    group and the rsd=0.01 HLL buffer (~16 KB) rides each expanded
    aggregation row through the shuffle (measured 13.4 s standalone at
    sf0.1 vs 0.9 s + 1.7 s for each aggregate alone). Split instead:
    the exact agg and the sketch agg each scan-partial-shuffle on the
    hour window alone (no Expand, one HLL buffer per (task, window)
    partial), then the ~720-row sketch side broadcast-joins back onto
    the exact side — values identical, 2x less shuffle volume, and the
    sketch buffers never multiply with the row count.
    """
    ev = load_table(spark, "events", sf_dir)
    exact = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(F.col("w.start").alias("hour_ts"), "cnt", "exact_users")
    )
    approx = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"))
        .select(F.col("w.start").alias("hour_ts"), "approx_users")
    )
    return exact.join(F.broadcast(approx), "hour_ts").select(
        "hour_ts",
        "cnt",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.15 * F.col("exact_users")
        ).alias("estimate_ok"),
    )


SESSIONIZE_ORACLE = """
WITH ordered AS (
    SELECT user_id, ts, event_id,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  OR lag(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS is_new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
    SELECT user_id, ts, event_id,
           sum(is_new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM ordered
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       count(*) AS n_events,
       CAST(min(ts) AS DATE) AS session_date
FROM sessions
GROUP BY user_id, session_seq
"""


@query("events_sessionize", oracle=SESSIONIZE_ORACLE)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap): lag to flag
    session starts, running sum to number sessions, then per-session
    rollup. Batch twin of a session_window/applyInPandasWithState
    streaming operator (streaming/daily.py); expressed with lag+sum so
    the DuckDB oracle states identical semantics.

    One shuffle on user_id serves both windows and the final group-by.
    """
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap compare in exact microseconds (a seconds-granularity cast would
    # truncate before subtracting and disagree with the oracle near the
    # 30-min boundary)
    flagged = ev.withColumn(
        "is_new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
                > 1_800_000_000
            ),
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


# Shared by the batch query below and its live Structured-Streaming
# execution twin (plans/ingest.py streaming_session_window_executed):
# identical oracle => any divergence between the batch operator and the
# streaming drain shows up as a hash mismatch on one of the two rows.
#
# Boundary semantics (r9 fuzz finding, gap-boundary seed): Spark's
# session_window assigns each event the window [ts, ts + gap) and MERGES
# adjacent windows — an event at exactly prev_ts + gap touches the
# previous window's end and is absorbed into the session. So only a gap
# STRICTLY GREATER than the threshold starts a new session (same ``>``
# convention as events_sessionize). The oracle wrote ``>=`` through
# round 8; indistinguishable on the fixed corpus (no event pair lands on
# an exact-microsecond boundary), exposed by the planted boundary chain.
SESSION_WINDOW_ORACLE = """
WITH ordered AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS is_new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
    SELECT user_id, ts,
           sum(is_new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM ordered
)
SELECT user_id,
       epoch_us(min(ts)) AS start_us,
       epoch_us(max(ts)) + 1800000000 AS end_us,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, session_seq
"""


@query("events_session_window_native", oracle=SESSION_WINDOW_ORACLE)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` (use the native operator when
    one exists): merges each user's events whose [ts, ts+30min) intervals
    overlap; window end = last event + gap.

    Boundary semantics differ from the lag+sum islands operator
    (events_sessionize): a gap of EXACTLY 30 minutes starts a new session
    here (intervals are half-open), vs. > 30 minutes there — the oracle
    states >= accordingly. Session bounds surface as epoch micros
    (BIGINT) so the value hash is timezone-free.

    Scale: one shuffle on user_id, then session merging runs inside the
    aggregation operator itself — no self-join, no second window pass.
    """
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("start_us"),
            F.unix_micros("sw.end").alias("end_us"),
            "n_events",
        )
    )


@query(
    "funnel_signup_view_purchase",
    oracle="""
WITH s AS (
    SELECT user_id, min(epoch_us(ts)) FILTER (WHERE event_type = 'signup') AS t_signup
    FROM events GROUP BY user_id
), v AS (
    SELECT e.user_id, min(epoch_us(e.ts)) AS t_view
    FROM events e JOIN s ON s.user_id = e.user_id
    WHERE e.event_type = 'view' AND epoch_us(e.ts) > s.t_signup
    GROUP BY e.user_id
), p AS (
    SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
    FROM events e JOIN v ON v.user_id = e.user_id
    WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.t_view
    GROUP BY e.user_id
)
SELECT s.user_id, s.t_signup, v.t_view, p.t_purchase
FROM s LEFT JOIN v ON v.user_id = s.user_id
       LEFT JOIN p ON p.user_id = s.user_id
WHERE s.t_signup IS NOT NULL
""",
)
def funnel_signup_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: earliest signup, then earliest view
    strictly after it, then earliest purchase strictly after that — the
    sequence-matching shape behind conversion metrics (each step's
    timestamp NULL once the user falls out).

    Built as an aggregate-then-join cascade: each stage is one
    conditional min-aggregate at user cardinality joined back — 3 small
    shuffles on user_id (AQE broadcasts the shrinking stage frames), vs.
    the collect_list-per-user alternative that materializes every user's
    full history in one row. Timestamps surface as epoch micros."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.unix_micros("ts").alias("us"), "event_type"
    )
    s = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("us"))).alias(
                "t_signup"
            )
        )
        .where(F.col("t_signup").isNotNull())
    )
    # each stage frame feeds the NEXT stage's join AND the final
    # left-join cascade; lineage cuts build each stage once instead of
    # re-planning the events aggregate chain per consumer
    s = share(s, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .join(s, "user_id")
        .where(F.col("us") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_view"))
    )
    v = share(v, sf_dir, "events")  # see s above
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("us") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_purchase"))
    )
    return (
        s.join(v, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "t_signup", "t_view", "t_purchase")
    )


@query(
    "cohort_retention",
    oracle="""
WITH first_day AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
    FROM events GROUP BY user_id
), activity AS (
    SELECT DISTINCT e.user_id, f.cohort_day,
           datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
    FROM events e JOIN first_day f ON f.user_id = e.user_id
)
SELECT cohort_day, day_offset, count(*) AS active_users
FROM activity
WHERE day_offset <= 7
GROUP BY cohort_day, day_offset
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity day,
    counted on each subsequent day-offset (first week). The
    distinct-(user, offset) dedup means a user active twice on day N
    counts once.

    Scale: first_day is one user-cardinality aggregate reused via
    broadcast; the distinct and final count share the same
    (cohort_day, day_offset) shuffle under AQE."""
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.to_date("ts").alias("day")
    )
    first_day = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    activity = (
        ev.join(F.broadcast(first_day), "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .where(F.col("day_offset") <= 7)
        .distinct()
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).alias("active_users")
    )


@query(
    "date_spine_daily_purchases",
    oracle="""
WITH bounds AS (
    SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events
), spine AS (
    SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
    FROM bounds
), daily AS (
    SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
    FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT s.day, coalesce(d.cnt, 0) AS purchases
FROM spine s LEFT JOIN daily d USING (day)
""",
)
def date_spine_daily_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap fill: a generated continuous day axis left-joined
    to the sparse daily aggregate, absent days zero-filled — the pattern
    every time-series chart/forecast input needs (a groupBy alone
    silently drops empty days).

    Scale: the spine is sequence+explode from a one-row bounds aggregate
    — generated, never scanned; it broadcasts to the daily-counts side.
    """
    ev = load_table(spark, "events", sf_dir)
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce("cnt", F.lit(0)).alias("purchases")
    )


# view -> purchase pairs within one hour, per user; the streaming
# interval-join rows in plans/ingest.py state the same contract
ATTRIBUTION_ORACLE = """
SELECT v.event_id AS view_id,
       p.event_id AS purchase_id,
       v.user_id,
       (epoch_us(p.ts) - epoch_us(v.ts)) // 1000000 AS seconds_to_purchase
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = v.user_id
 AND epoch_us(p.ts) >= epoch_us(v.ts)
 AND epoch_us(p.ts) <= epoch_us(v.ts) + 3600000000
"""


@query("attribution_view_purchase", oracle=ATTRIBUTION_ORACLE)
def attribution_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join attribution: every (view, purchase) pair for
    the same user where the purchase lands within one hour of the view —
    the ad-attribution / conversion-window join. All time arithmetic is
    integer microseconds so both engines cut the window identically.

    Scale: an equi-join on user_id with the interval as a residual —
    one shuffle of each filtered side, never a time-theta cross join.
    Per-user pair fan-out is bounded by activity × window; the same
    logical join runs incrementally as a watermarked stream-stream join
    in streaming/daily.py::attribution_stream (state evicted past the
    conversion horizon).
    """
    ev = load_table(spark, "events", sf_dir)
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.unix_micros("ts").alias("v_us"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("p_us"),
    )
    return (
        views.join(
            purchases,
            (F.col("p_user") == F.col("v_user"))
            & (F.col("p_us") >= F.col("v_us"))
            & (F.col("p_us") <= F.col("v_us") + 3_600_000_000),
        )
        .select(
            "view_id",
            "purchase_id",
            F.col("v_user").alias("user_id"),
            F.expr("(p_us - v_us) div 1000000").alias("seconds_to_purchase"),
        )
    )


@query(
    "timeseries_interpolate_linear",
    oracle="""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
    FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1
), b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
spine AS (
    SELECT CAST(unnest(generate_series(b.lo, b.hi, INTERVAL 1 DAY)) AS DATE) AS day FROM b
), j AS (
    SELECT s.day, d.cents FROM spine s LEFT JOIN daily d USING (day)
), f AS (
    SELECT day, cents,
        last_value(cents IGNORE NULLS) OVER w_prev AS pc,
        last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER w_prev AS pd,
        first_value(cents IGNORE NULLS) OVER w_next AS nc,
        first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER w_next AS nd
    FROM j
    WINDOW w_prev AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           w_next AS (ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT day,
       CAST(CASE WHEN cents IS NOT NULL THEN cents * 10000
            ELSE (pc * (nd - day) + nc * (day - pd)) * 10000 // (nd - pd) END
            AS DOUBLE) / 1000000.0 AS value_filled,
       (cents IS NULL) AS is_interpolated
FROM f
""",
)
def timeseries_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation over a sparse daily series (the
    hypertable gap-fill + interpolate op; the reference's market series
    has exactly these holes on non-trading days): build the day spine,
    left-join observations, bracket each gap with the previous/next
    known point via ignore-nulls window frames, interpolate by day
    fraction.

    Scale: interpolation runs at AGGREGATED granularity — the window is
    over ~|days| rows per series, thousands at most, AFTER the raw data
    reduced through one hash aggregate; in production you'd
    partitionBy(series_key) and this exact plan runs per key in
    parallel. Determinism: the series quantizes to integer cents and
    the interpolant is computed EXACTLY in integer arithmetic at
    1e-4-cent resolution (pc*(nd-day) + nc*(day-pd), floor-divided by
    the gap length), surfaced through one shared double division with
    NO round() — a rounded float interpolant can land on an exact
    binary half at the rounding digit, where the engines' tie-breaks
    differ (fuzz-found; headroom: cents x gap-days x 1e4 < 2^63 to
    ~1e5x this scale).
    """
    orders = load_table(spark, "orders", sf_dir)
    daily = (
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.expr(
                "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)"
            ).alias("cents")
        )
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    j = spine.join(daily, "day", "left")
    w_prev = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_next = Window.orderBy("day").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    known_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    f = (
        j.withColumn("pc", F.last("cents", ignorenulls=True).over(w_prev))
        .withColumn("pd", F.last(known_day, ignorenulls=True).over(w_prev))
        .withColumn("nc", F.first("cents", ignorenulls=True).over(w_next))
        .withColumn("nd", F.first(known_day, ignorenulls=True).over(w_next))
    )
    # EXACT integer interpolation at 1e-4-cent resolution, then ONE
    # shared division to surface a double — no round() anywhere: a
    # rounded interpolant can land on an exact binary x.xxxxxx5 and the
    # two engines break half-way ties differently (found by
    # scripts/fuzz_sim.py seed 2; SURVEY lesson #2's class)
    e6 = F.expr(
        "CASE WHEN cents IS NOT NULL THEN cents * 10000 "
        "ELSE (pc * datediff(nd, day) + nc * datediff(day, pd)) * 10000 "
        "DIV datediff(nd, pd) END"
    )
    return f.select(
        "day",
        (e6.cast("double") / F.lit(1000000.0)).alias("value_filled"),
        F.col("cents").isNull().alias("is_interpolated"),
    )


# Rolling z-score anomaly detection over the daily series: the ops-side
# "did this metric spike" check a pipeline runs on every ingest batch.
ZSCORE_WINDOW_DAYS = 7

# Variance from exact integer window sums (n*s2 - s1^2 is an exact
# bigint), pushed through ONE expression string shared with the oracle
# so the doubles agree bit-for-bit. Sample variance (n-1 divisor).
_Z_EXPR = (
    "round((cnt - CAST(s1 AS DOUBLE) / n_win)"
    " / sqrt(CAST(n_win * s2 - s1 * s1 AS DOUBLE) / (n_win * (n_win - 1))), 6)"
)


@query(
    "events_anomaly_zscore",
    oracle=f"""
WITH d AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
), w AS (
    SELECT day, event_type, cnt,
           count(*) OVER win AS n_win,
           sum(cnt) OVER win AS s1,
           sum(cnt * cnt) OVER win AS s2
    FROM d
    WINDOW win AS (
        PARTITION BY event_type ORDER BY day
        ROWS BETWEEN {ZSCORE_WINDOW_DAYS - 1} PRECEDING AND CURRENT ROW
    )
), z AS (
    SELECT day, event_type, cnt,
           CASE WHEN n_win * s2 - s1 * s1 = 0 THEN NULL
                ELSE {_Z_EXPR} END AS zscore
    FROM w WHERE n_win = {ZSCORE_WINDOW_DAYS}
)
SELECT day, event_type, cnt,
       zscore,
       CASE WHEN zscore IS NULL THEN false ELSE abs(zscore) >= 2.0 END AS anomaly
FROM z
""",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags on the daily per-type event counts:
    each day's count is scored against the trailing 7-day window's mean
    and sample standard deviation; |z| >= 2 flags the spike/crater.

    Plan/scale: the daily aggregate is one map-side-combined shuffle at
    (day, type) cardinality; the rolling window is PARTITIONED by
    event_type over a calendar-bounded input (|days| x |types| rows), so
    no single-reducer global sort exists anywhere. Determinism: the
    window carries exact integer sums (s1, s2) — mean and variance
    derive from them in one expression string shared with the oracle
    (identical IEEE order), rounded to 6 dp; zero-variance windows yield
    NULL score / false flag rather than an engine-dependent inf."""
    ev = load_table(spark, "events", sf_dir)
    d = (
        ev.groupBy(
            F.expr("CAST(date_trunc('day', ts) AS DATE)").alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(ZSCORE_WINDOW_DAYS - 1), 0)
    )
    w = d.select(
        "day",
        "event_type",
        "cnt",
        F.count(F.lit(1)).over(win).alias("n_win"),
        F.sum("cnt").over(win).alias("s1"),
        F.sum(F.expr("cnt * cnt")).over(win).alias("s2"),
    ).where(F.col("n_win") == ZSCORE_WINDOW_DAYS)
    z = w.withColumn(
        "zscore",
        F.expr(f"CASE WHEN n_win * s2 - s1 * s1 = 0 THEN NULL ELSE {_Z_EXPR} END"),
    )
    return z.select(
        "day",
        "event_type",
        "cnt",
        "zscore",
        F.expr(
            "CASE WHEN zscore IS NULL THEN false ELSE abs(zscore) >= 2.0 END"
        ).alias("anomaly"),
    )


@query(
    "user_rolling_week_activity",
    oracle="""
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           count(*) AS cnt_day,
           sum(CAST(value AS DECIMAL(18,2))) AS val_day
    FROM events
    GROUP BY 1, 2
)
SELECT user_id, day,
       CAST(sum(cnt_day) OVER w AS BIGINT) AS events_7d,
       CAST(round(sum(val_day) OVER w, 2) AS DOUBLE) AS value_7d
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
""",
)
def user_rolling_week_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day activity features per user (event count + value
    sum) — the RANGE-interval window frame, which none of the other
    window queries exercise: the frame is bounded by a TIME span, not a
    row count, so gaps in a user's activity shrink the frame instead of
    reaching further back in time.

    Scale: events first collapse to one row per (user, day) —
    key-cardinality, not event-cardinality. That is deliberately TWO
    exchanges: the group-by partial-aggregates map-side so the first
    shuffle moves day-rollup rows, not raw events, and the second
    shuffle re-keys the bounded |users| x |days| result for the window —
    far cheaper at 100 TB than pre-partitioning raw events by user_id to
    share one exchange. The frame sum stays in DECIMAL (exact,
    order-insensitive) until the final cast. Day ordering uses unix_date
    so the RANGE frame is exact integer day arithmetic on both
    engines."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt_day"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("val_day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_date("day"))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "user_id",
        "day",
        F.sum("cnt_day").over(w).alias("events_7d"),
        F.round(F.sum("val_day").over(w), 2).cast("double").alias("value_7d"),
    )


@query(
    "events_ohlc_downsample",
    oracle="""
WITH bucketed AS (
    SELECT CAST(epoch_us(ts) // 900000000 * 900 AS BIGINT) AS bucket_s,
           event_type, value, ts, event_id
    FROM events
), ranked AS (
    SELECT bucket_s, event_type, value,
           row_number() OVER (PARTITION BY bucket_s, event_type
                              ORDER BY ts, event_id) AS rn_a,
           row_number() OVER (PARTITION BY bucket_s, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM bucketed
)
SELECT bucket_s, event_type,
       max(CASE WHEN rn_a = 1 THEN value END) AS open_value,
       max(value) AS high_value,
       min(value) AS low_value,
       max(CASE WHEN rn_d = 1 THEN value END) AS close_value,
       count(*) AS n_events
FROM ranked
GROUP BY bucket_s, event_type
""",
)
def events_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute OHLC downsampling per event type — the classic
    time-series compaction (open/high/low/close) that turns a raw tick
    stream into a bounded rollup. Open/close are picked by deterministic
    (ts, event_id) order; all four outputs are pass-through doubles (no
    arithmetic), so the hash is bit-exact with no rounding discipline
    needed.

    Scale: the bucket key is integer epoch arithmetic (unix_micros DIV),
    computed in codegen at scan time — no timezone logic, no UDF. Both
    row_number windows and the final group-by share the
    (bucket_s, event_type) clustering, so one exchange serves all three;
    output cardinality is |buckets| x |types|, independent of event
    volume."""
    ev = load_table(spark, "events", sf_dir)
    b = ev.select(
        F.expr("unix_micros(ts) div 900000000 * 900").alias("bucket_s"),
        "event_type",
        "value",
        "ts",
        "event_id",
    )
    wa = Window.partitionBy("bucket_s", "event_type").orderBy("ts", "event_id")
    wd = Window.partitionBy("bucket_s", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = b.select(
        "bucket_s",
        "event_type",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return r.groupBy("bucket_s", "event_type").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open_value"),
        F.max("value").alias("high_value"),
        F.min("value").alias("low_value"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "session_duration_histogram",
    oracle="""
WITH ordered AS (
    SELECT user_id, ts, event_id,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  OR lag(ts) OVER w IS NULL
                THEN 1 ELSE 0 END AS is_new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
    SELECT user_id, ts,
           sum(is_new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_seq
    FROM ordered
), durations AS (
    SELECT user_id, session_seq,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
    FROM sessions
    GROUP BY user_id, session_seq
)
SELECT CAST(least(23, dur_us // 300000000) AS BIGINT) AS bin,
       count(*) AS n_sessions,
       CAST(sum(dur_us) AS BIGINT) AS total_duration_us
FROM durations
GROUP BY 1
""",
)
def session_duration_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-length histogram: gap-sessionize (same 30-min semantics as
    events_sessionize), then bucket each session's duration into 5-minute
    bins capped at 2 hours (bin 23 = everything longer). Pure integer
    microsecond arithmetic end to end — bin edges and totals are exact on
    both engines, no float rounding discipline needed.

    Scale: sessionization is one shuffle on user_id (window + rollup
    share it); the histogram is a second aggregation over |sessions|
    rows with at most 24 groups, partial-aggregated map-side to almost
    nothing. The degenerate-key risk (24 groups) is irrelevant because
    the combine happens before the exchange."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "is_new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
                > 1_800_000_000
            ),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("is_new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    durations = sessions.groupBy("user_id", "session_seq").agg(
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us")
    )
    return durations.groupBy(
        F.least(F.lit(23), F.expr("dur_us div 300000000")).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("dur_us").alias("total_duration_us"),
    )


@query(
    "events_time_weighted_avg",
    oracle="""
WITH obs AS (
    SELECT user_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS us, event_id,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
), seg AS (
    SELECT user_id, day, cents,
           lead(us) OVER (
               PARTITION BY user_id, day ORDER BY us, event_id
           ) - us AS dt_us
    FROM obs
)
SELECT user_id, day,
       count(*) AS n_obs,
       CAST(sum(dt_us) AS BIGINT) AS span_us,
       round(CAST(sum(cents * dt_us) AS DOUBLE)
             / CAST(sum(dt_us) AS DOUBLE) / 100, 4) AS twa_value
FROM seg
GROUP BY user_id, day
HAVING sum(dt_us) > 0
""",
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over IRREGULAR samples (the hypertable
    ``time_weight`` op, sibling of timeseries_interpolate_linear): each
    observation holds until the next one (LOCF), so a value that stood
    for 6 hours weighs 360x one that stood for a minute — the plain AVG
    is wrong whenever sampling is bursty. Per (user, day); single-sample
    days have no carry interval and drop via the HAVING.

    Exactness: values quantize to integer cents and intervals are
    integer microseconds, so the weighted sum is exact 64-bit integer
    arithmetic on both engines (headroom: cents*dt < 2^63 up to ~1M
    observation-seconds x max value per day — re-scale to ms at higher
    densities); only the final division is floating point, identical
    IEEE ops on identical longs.

    Scale: one shuffle on (user_id, day)-clustered user_id serves the
    lead window and the rollup; output is key-cardinality."""
    ev = load_table(spark, "events", sf_dir)
    obs = ev.select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id", "day").orderBy("us", "event_id")
    seg = obs.select(
        "user_id",
        "day",
        "cents",
        (F.lead("us").over(w) - F.col("us")).alias("dt_us"),
    )
    return (
        seg.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("dt_us").alias("span_us"),
            F.round(
                F.sum(F.col("cents") * F.col("dt_us")).cast("double")
                / F.col("span_us").cast("double")
                / 100,
                4,
            ).alias("twa_value"),
        )
        .where(F.col("span_us") > 0)
    )


@query(
    "user_missing_days",
    oracle="""
WITH bounds AS (
    SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events
), spine AS (
    SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
    FROM bounds
), users AS (
    SELECT DISTINCT user_id FROM events
), observed AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
)
SELECT u.user_id,
       count(*) AS n_missing_days,
       CAST(min(s.day) AS DATE) AS first_missing_day
FROM users u
CROSS JOIN spine s
LEFT JOIN observed o ON o.user_id = u.user_id AND o.day = s.day
WHERE o.user_id IS NULL
GROUP BY u.user_id
""",
)
def user_missing_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity completeness check (the data-quality twin of the
    global date spine): for every user, which calendar days inside the
    corpus span have NO events — the gap report that decides backfills
    and flags dead instrumentation. Only users with at least one gap
    surface.

    Scale: the spine is |days| rows (calendar-bounded) and BROADCASTS
    into the users cross join, so the expanded frame is |users| x
    |days| — key-cardinality, never event-cardinality; `observed`
    pre-aggregates events to distinct (user, day) pairs map-side before
    its anti-join-shaped left join. No global windows anywhere."""
    ev = load_table(spark, "events", sf_dir)
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("d0"), F.to_date(F.max("ts")).alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    users = ev.select("user_id").distinct()
    observed = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    frame = users.crossJoin(F.broadcast(spine))
    missing = frame.join(observed, ["user_id", "day"], "left_anti")
    return missing.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_missing_days"),
        F.min("day").alias("first_missing_day"),
    )


# --- EWMA (SURVEY §8 round-5 queue) -----------------------------------------
# The deterministic-pow problem dissolves in exact rational arithmetic:
# alpha = 1/5, so the adjusted (finite-horizon, normalized) EWMA weights
# (1-alpha)^k = (4/5)^k share the common denominator 5^(K-1) and the
# whole weighted sum becomes ONE integer dot-product
#   numer_t = sum_k 4^k * 5^(K-1-k) * cents_{t-k}
# over integer daily cents, divided by the constant integer
#   EWMA_DENOM = sum_k 4^k * 5^(K-1-k) = 5^K - 4^K.
# Both engines evaluate the same integer->double division and round once
# (the kmeans unrolled-fold discipline; no pow(), no accumulation order).
EWMA_K = 8
EWMA_COEFS = [4**k * 5 ** (EWMA_K - 1 - k) for k in range(EWMA_K)]
EWMA_DENOM = 5**EWMA_K - 4**EWMA_K

_EWMA_NUMER = " + ".join(f"{c} * l{k}" for k, c in enumerate(EWMA_COEFS))
_EWMA_EXPR = (
    f"round(CAST({_EWMA_NUMER} AS DOUBLE) / {EWMA_DENOM}.0 / 100.0, 6)"
)


@query(
    "events_ewma_daily",
    oracle=f"""
WITH d AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
    FROM events GROUP BY 1, 2
), l AS (
    SELECT day, event_type, cents,
           {", ".join(f"lag(cents, {k}) OVER w AS l{k}" for k in range(EWMA_K))}
    FROM d
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT day, event_type,
       round(CAST(cents AS DOUBLE) / 100.0, 2) AS daily_value,
       {_EWMA_EXPR} AS ewma_value
FROM l
WHERE l{EWMA_K - 1} IS NOT NULL
""",
)
def events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue per event
    type — the classic trend smoother, expressed as a fixed-horizon
    (K=8 observations, alpha=1/5) adjusted EWMA so it is exact and
    engine-independent: integer daily cents dot an integer coefficient
    vector, one shared final double division (see constants above).
    Rows need full K-deep history (lag K-1 non-null) — per-observation
    semantics on each type's day sequence.

    Plan/scale: daily aggregate at (day, type) cardinality with map-side
    partials, then K lags over ONE calendar-bounded partitioned window —
    same shape as events_anomaly_zscore; nothing grows with raw event
    count. Unrolled lags beat a pow()-per-row recursive form both for
    determinism and because the optimizer folds the K coefficients into
    codegen constants."""
    ev = load_table(spark, "events", sf_dir)
    d = ev.groupBy(
        F.expr("CAST(date_trunc('day', ts) AS DATE)").alias("day"), "event_type"
    ).agg(
        F.expr("CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)").alias(
            "cents"
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = d.select(
        "day",
        "event_type",
        "cents",
        *[F.lag("cents", k).over(w).alias(f"l{k}") for k in range(EWMA_K)],
    )
    return (
        lagged.where(F.col(f"l{EWMA_K - 1}").isNotNull())
        .select(
            "day",
            "event_type",
            F.expr("round(CAST(cents AS DOUBLE) / 100.0, 2)").alias("daily_value"),
            F.expr(_EWMA_EXPR).alias("ewma_value"),
        )
    )


# --- Rolling correlation (SURVEY §8 round-5 queue) --------------------------
# Pearson r over a trailing window from five exact integer window sums
# (n, sx, sy, sxy, sxx, syy) — the two-series extension of the zscore
# discipline: every sum is integer-exact in both engines, the final
# expression is shared verbatim (identical IEEE op order), zero-variance
# windows yield NULL instead of an engine-dependent inf/NaN. Long
# arithmetic holds to ~sf10 (sx^2 < 2^63); beyond that swap the sums to
# DECIMAL(38,0) on both sides unchanged.
CORR_WINDOW_DAYS = 7
_CORR_EXPR = (
    "round((n_win * sxy - sx * sy)"
    " / sqrt(CAST(n_win * sxx - sx * sx AS DOUBLE)"
    " * CAST(n_win * syy - sy * sy AS DOUBLE)), 6)"
)
_CORR_GUARD = (
    "CASE WHEN n_win * sxx - sx * sx <= 0 OR n_win * syy - sy * sy <= 0"
    f" THEN NULL ELSE {_CORR_EXPR} END"
)


@query(
    "events_rolling_corr",
    oracle=f"""
WITH d AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x,
           count(*) AS y
    FROM events GROUP BY 1, 2
), w AS (
    SELECT day, event_type, x, y,
           count(*) OVER win AS n_win,
           sum(x) OVER win AS sx,
           sum(y) OVER win AS sy,
           sum(x * y) OVER win AS sxy,
           sum(x * x) OVER win AS sxx,
           sum(y * y) OVER win AS syy
    FROM d
    WINDOW win AS (
        PARTITION BY event_type ORDER BY day
        ROWS BETWEEN {CORR_WINDOW_DAYS - 1} PRECEDING AND CURRENT ROW
    )
)
SELECT day, event_type,
       CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
       {_CORR_GUARD} AS corr_value_volume
FROM w WHERE n_win = {CORR_WINDOW_DAYS}
""",
)
def events_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day Pearson correlation between each event type's
    daily revenue (integer cents) and its daily volume — "is revenue
    tracking traffic, or decoupling?", the rolling two-series health
    metric. Full windows only.

    Plan/scale: daily aggregate with map-side partials, then ONE
    partitioned window carries all five integer sums together (a single
    WindowExec pass over calendar-bounded rows); the correlation is a
    final map-side expression. Exactness + the shared-expression oracle
    make the sketchy-looking op hash-checkable (see constants above)."""
    ev = load_table(spark, "events", sf_dir)
    d = ev.groupBy(
        F.expr("CAST(date_trunc('day', ts) AS DATE)").alias("day"), "event_type"
    ).agg(
        F.expr("CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)").alias("x"),
        F.count(F.lit(1)).alias("y"),
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(CORR_WINDOW_DAYS - 1), 0)
    )
    w = d.select(
        "day",
        "event_type",
        "x",
        "y",
        F.count(F.lit(1)).over(win).alias("n_win"),
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.expr("x * y")).over(win).alias("sxy"),
        F.sum(F.expr("x * x")).over(win).alias("sxx"),
        F.sum(F.expr("y * y")).over(win).alias("syy"),
    ).where(F.col("n_win") == CORR_WINDOW_DAYS)
    return w.select(
        "day",
        "event_type",
        "sx",
        "sy",
        F.expr(_CORR_GUARD).alias("corr_value_volume"),
    )


@query(
    "events_rolling_corr_wide",
    oracle=f"""
WITH d AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS HUGEINT) AS x,
           CAST(count(*) AS HUGEINT) AS y
    FROM events GROUP BY 1, 2
), w AS (
    SELECT day, event_type, x, y,
           count(*) OVER win AS n_win,
           sum(x) OVER win AS sx,
           sum(y) OVER win AS sy,
           sum(x * y) OVER win AS sxy,
           sum(x * x) OVER win AS sxx,
           sum(y * y) OVER win AS syy
    FROM d
    WINDOW win AS (
        PARTITION BY event_type ORDER BY day
        ROWS BETWEEN {CORR_WINDOW_DAYS - 1} PRECEDING AND CURRENT ROW
    )
)
SELECT day, event_type,
       CAST(sx AS BIGINT) AS sx, CAST(sy AS BIGINT) AS sy,
       {_CORR_GUARD} AS corr_value_volume
FROM w WHERE n_win = {CORR_WINDOW_DAYS}
""",
)
def events_rolling_corr_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The past-~sf10 variant of events_rolling_corr (the r5 verdict's
    DECIMAL-headroom ask made real instead of documented): the five
    window sums run in 128-bit-exact arithmetic — DECIMAL(38,0) on the
    Spark side, HUGEINT in the DuckDB oracle — so the x*x / sx*sx
    products that breach 2^63 once daily cents pass ~3e9 stay exact to
    ~1e38 (sf ~1e9; effectively unbounded). Addition and multiplication
    are EXACT in both engines' wide types (unlike wide integer
    DIVISION, which rounds — see graph._staged_lift_ppm); the final
    correlation casts the exact integers to DOUBLE inside the shared
    guard expression, identical IEEE op order in both engines. Same
    plan shape as the int64 form: one partitioned WindowExec carries
    all five sums; only the arithmetic width differs (decimal codegen
    is ~2-3x the int64 cost — which is why the narrow form stays the
    default below its documented boundary)."""
    ev = load_table(spark, "events", sf_dir)
    d = ev.groupBy(
        F.expr("CAST(date_trunc('day', ts) AS DATE)").alias("day"), "event_type"
    ).agg(
        F.expr(
            "CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)"
            " AS DECIMAL(38,0))"
        ).alias("x"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("y"),
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-(CORR_WINDOW_DAYS - 1), 0)
    )
    w = d.select(
        "day",
        "event_type",
        "x",
        "y",
        F.count(F.lit(1)).over(win).alias("n_win"),
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.expr("x * y")).over(win).alias("sxy"),
        F.sum(F.expr("x * x")).over(win).alias("sxx"),
        F.sum(F.expr("y * y")).over(win).alias("syy"),
    ).where(F.col("n_win") == CORR_WINDOW_DAYS)
    return w.select(
        "day",
        "event_type",
        F.col("sx").cast("bigint").alias("sx"),
        F.col("sy").cast("bigint").alias("sy"),
        F.expr(_CORR_GUARD).alias("corr_value_volume"),
    )


# --- sliding-window distinct (trailing 7-day active users) ------------------

ROLLING_DISTINCT_DAYS = 7


@query(
    "rolling_distinct_users_7d",
    oracle=f"""
WITH pairs AS (
    SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
    FROM events
),
b AS (SELECT max(CAST(date_trunc('day', ts) AS DATE)) AS max_day FROM events),
exp AS (
    SELECT p.user_id, p.day + CAST(k AS INTEGER) AS day
    FROM pairs p, unnest(generate_series(0, {ROLLING_DISTINCT_DAYS - 1})) t(k)
)
SELECT e.day, count(DISTINCT e.user_id) AS users_7d, count(*) AS n_user_days
FROM exp e CROSS JOIN b
WHERE e.day <= b.max_day
GROUP BY e.day
""",
)
def rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day (7-day rolling
    reach / WAU-by-day) — the sliding-window COUNT DISTINCT that window
    functions cannot express (no DISTINCT inside a frame) and that
    re-scanning 7 days per day would compute 7x over.

    The scalable rewrite: reduce events to distinct (day, user) pairs
    map-side, then each pair CONTRIBUTES itself to the 7 window-end days
    it falls inside (a 7x bounded fan-out of the key-cardinality pair
    set, not of raw events), and one distinct-aggregate per target day
    finishes it. The same contribute-to-windows trick is how streaming
    engines implement sliding distinct; for 90-day windows at 100 TB
    swap the exact distinct for the mergeable HLL sketch
    (events_hourly_activity_approx shows that path).

    Partial windows at the corpus start are included (trailing
    semantics); fan-out rows past the last observed day are cut by the
    broadcast one-row max-day bound (allowlisted nested-loop)."""
    ev = load_table(spark, "events", sf_dir)
    pairs = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    b = ev.agg(F.max(F.to_date("ts")).alias("max_day"))
    exp = pairs.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"), F.date_add("day", ROLLING_DISTINCT_DAYS - 1)
            )
        ).alias("day"),
    )
    return (
        exp.crossJoin(F.broadcast(b))
        .where(F.col("day") <= F.col("max_day"))
        .groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("users_7d"),
            F.count(F.lit(1)).alias("n_user_days"),
        )
    )


# --- event-type transition matrix (first-order Markov) ----------------------


@query(
    "event_transition_matrix",
    oracle="""
WITH s AS (
    SELECT user_id,
           lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_type,
           event_type AS next_type
    FROM events
),
t AS (
    SELECT prev_type, next_type, count(*) AS n_trans
    FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
r AS (SELECT prev_type, CAST(sum(n_trans) AS BIGINT) AS n_from FROM t GROUP BY 1)
SELECT t.prev_type, t.next_type, CAST(t.n_trans AS BIGINT) AS n_trans,
       CAST(t.n_trans * 1000000 // r.n_from AS BIGINT) AS p_ppm
FROM t JOIN r ON r.prev_type = t.prev_type
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: for every (previous event type -> next event type) pair,
    the transition count and probability — the path-analysis /
    next-action-model input that funnels specialize. Probabilities are
    integer ppm of the source row total, so both engines share one
    integer floor division.

    Plan/scale: ONE partitioned window (per-user, ordered by ts with
    event_id as the deterministic tie-break — same discipline as
    user_event_gap_stats) produces the lagged pairs; the pair counts
    partial-aggregate map-side into |types|^2 <= tiny groups, and the
    row totals (|types| rows) broadcast back. Nothing scales past the
    per-user shuffle every sessionization query already pays."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    # |types|^2 rows; row totals reuse it instead of re-running the
    # per-user window a second time
    t = share(
        s.groupBy("prev_type", "next_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trans")
        ),
        sf_dir,
        "events",
    )
    r = t.groupBy("prev_type").agg(F.sum("n_trans").cast("bigint").alias("n_from"))
    return (
        t.join(F.broadcast(r), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n_trans",
            F.expr("CAST(n_trans * 1000000 DIV n_from AS BIGINT)").alias("p_ppm"),
        )
    )


# --- daily new vs returning users -------------------------------------------


@query(
    "daily_new_vs_returning",
    oracle="""
WITH d AS (
    SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
    FROM events
),
f AS (SELECT user_id, min(day) AS first_day FROM d GROUP BY 1)
SELECT d.day,
       CASE WHEN d.day = f.first_day THEN 'new' ELSE 'returning' END AS status,
       count(*) AS n_users
FROM d JOIN f ON f.user_id = d.user_id
GROUP BY 1, 2
""",
)
def daily_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into first-ever-seen vs returning — the
    growth-accounting metric every product dashboard leads with.

    Plan/scale: events reduce to distinct (user, day) pairs map-side;
    first-seen day is one aggregate on the user key; the classify join
    re-uses the SAME user-key partitioning (Catalyst plans the min-agg
    and the join in one exchange family), then the day-level rollup is
    key-cardinality. At 100 TB the first-seen table is the thing to
    persist incrementally (it only ever gains rows) — the
    incremental_agg_maintenance pattern applies verbatim."""
    ev = load_table(spark, "events", sf_dir)
    # key-cardinality pair set, two consumers (first-seen agg + classify
    # join): materialize once instead of re-scanning events
    d = share(ev.select(F.to_date("ts").alias("day"), "user_id").distinct(), sf_dir, "events")
    f = d.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        d.join(f, "user_id")
        .select(
            "day",
            F.when(F.col("day") == F.col("first_day"), F.lit("new"))
            .otherwise(F.lit("returning"))
            .alias("status"),
        )
        .groupBy("day", "status")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# --- mergeable-sketch rollup (HLL union across pre-aggregates) --------------


@query(
    "hll_union_daily_to_type",
    oracle="""
WITH ex AS (
    SELECT event_type, count(DISTINCT user_id) AS exact_users
    FROM events GROUP BY 1
),
est AS (
    SELECT event_type, approx_count_distinct(user_id) AS est
    FROM events GROUP BY 1
)
SELECT ex.event_type, CAST(ex.exact_users AS BIGINT) AS exact_users,
       abs(est.est - ex.exact_users) <= 0.15 * ex.exact_users AS estimate_ok
FROM ex JOIN est ON est.event_type = ex.event_type
""",
)
def hll_union_daily_to_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level mergeable-sketch rollup: build one HLL sketch per
    (event_type, day) cell, then UNION the daily sketches into per-type
    totals with ``hll_union_agg`` — distinct users per type computed
    WITHOUT ever re-touching raw events past the first pass. This is the
    pre-aggregation pattern that makes 100 TB distinct-count dashboards
    viable: persist the daily cell sketches (~KB each), and any rollup
    (weekly, monthly, per-type, global) is a sketch merge over
    key-cardinality rows, not a rescan. Spark 3.5+ exposes the Apache
    DataSketches HLL family (hll_sketch_agg / hll_union_agg /
    hll_sketch_estimate) as public SQL — this query is the registry's
    carrier for them.

    Oracle convention follows approx_distinct_users: raw sketch
    estimates differ across engines by construction, so the hashed
    surface is the EXACT count plus each engine asserting its own
    estimate within 15% — bit-stable, yet failing loudly if either
    sketch path degrades. The exact column here costs a second shuffle
    (documented crutch: at 100 TB you ship only the sketch)."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.expr("hll_sketch_agg(user_id, 14)").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return (
        exact.join(merged, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("est") - F.col("exact_users"))
                <= 0.15 * F.col("exact_users")
            ).alias("estimate_ok"),
        )
    )


# --- exact distinct via bitmap words (roaring pattern) ----------------------


@query(
    "bitmap_distinct_users_daily",
    oracle="""
WITH b AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           user_id // 63 AS w,
           bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INTEGER)) AS bits
    FROM events
    GROUP BY 1, 2
)
SELECT day,
       CAST(sum(bit_count(bits)) AS BIGINT) AS n_users_exact,
       count(*) AS n_bitmap_words
FROM b GROUP BY day
""",
)
def bitmap_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT daily distinct users via packed bitmap words — the
    roaring-bitmap pattern for dense integer keys: each (day, word)
    cell OR-folds a 64-bit mask, and popcounting the words gives the
    exact distinct count. The third point on the distinct-count
    spectrum the registry now covers end-to-end: exact countDistinct
    (expand shuffle, smallest scales), HLL sketch (approximate,
    mergeable, any key type), bitmap words (EXACT *and* mergeable —
    8 bytes per 63 users of state, but only for bounded integer keys).

    Mergeability is the scale win: per-day bitmaps OR together into
    weekly/monthly/all-time EXACT distinct counts without rescanning —
    what approx sketches do, without the error bar. State is
    |keyspace|/8 bytes per group; at 10^9 users that is 125 MB per day
    cell, so shard the word axis (already the grouping key here).

    Plan/scale: one partial-agg shuffle at (day, word) cardinality
    (bit_or partials fold map-side), then a day-cardinality popcount
    rollup. The oracle runs the SAME bitmap algorithm in DuckDB —
    engine-shared two's-complement shifts — and the identity against
    plain countDistinct is pinned separately in
    test_bitmap_equals_count_distinct."""
    ev = load_table(spark, "events", sf_dir)
    b = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.expr("user_id DIV 63").alias("w"),
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT)))"
        ).alias("bits")
    )
    return b.groupBy("day").agg(
        F.expr("CAST(sum(bit_count(bits)) AS BIGINT)").alias("n_users_exact"),
        F.count(F.lit(1)).alias("n_bitmap_words"),
    )


# --- cumulative distinct users (growth curve) -------------------------------


@query(
    "events_cumulative_users",
    oracle="""
WITH f AS (
    SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS first_day
    FROM events GROUP BY 1
),
d AS (SELECT first_day AS day, count(*) AS new_users FROM f GROUP BY 1)
SELECT day, CAST(new_users AS BIGINT) AS new_users,
       CAST(sum(new_users) OVER (ORDER BY day) AS BIGINT) AS cumulative_users
FROM d
""",
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users over time — the all-time growth curve.
    The naive form (distinct over an ever-growing prefix per day) is
    O(days x events); the scalable identity: a user enters the
    cumulative count exactly once, on their FIRST day, so first-seen
    per user -> new users per day -> running sum over the
    calendar-bounded day series (a |days|-row single-reducer window,
    allowlisted like the other bounded spines).

    One shuffle on user_id, one day-cardinality rollup. The first-seen
    table is the same incremental asset daily_new_vs_returning
    maintains."""
    ev = load_table(spark, "events", sf_dir)
    f = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    d = f.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return d.select(
        "day",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


# --- weekly seasonality profile ---------------------------------------------


@query(
    "events_dow_hour_profile",
    oracle="""
WITH c AS (
    SELECT dayofweek(ts) AS dow, CAST(hour(ts) AS BIGINT) AS hod, count(*) AS cnt
    FROM events GROUP BY 1, 2
),
t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
SELECT CAST(CASE WHEN c.dow = 0 THEN 1 ELSE c.dow + 1 END AS BIGINT) AS dow,
       c.hod,
       CAST(c.cnt AS BIGINT) AS cnt,
       CAST(c.cnt * 1000000 // t.total AS BIGINT) AS share_ppm
FROM c CROSS JOIN t
""",
)
def events_dow_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality heatmap: event volume per (day-of-week, hour)
    cell with integer-ppm share of total — the traffic-shape profile
    behind capacity planning and anomaly baselines (events_anomaly_zscore
    flags deviations; this is the baseline it deviates from).

    Engine note: Spark's dayofweek() is 1=Sunday..7=Saturday while
    DuckDB's dayofweek() is 0=Sunday..6=Saturday — the oracle remaps
    rather than hiding the trap. One partial-agg shuffle into <= 168
    cells; the grand total broadcasts back (allowlisted one-row)."""
    ev = load_table(spark, "events", sf_dir)
    c = ev.groupBy(
        F.dayofweek("ts").cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hod"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    t = c.agg(F.sum("cnt").cast("bigint").alias("total"))
    return c.crossJoin(F.broadcast(t)).select(
        "dow",
        "hod",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.expr("CAST(cnt * 1000000 DIV total AS BIGINT)").alias("share_ppm"),
    )


# --- per-type weekly seasonal index (decomposition step) --------------------


@query(
    "seasonal_dow_index_by_type",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
),
tot AS (
    SELECT event_type, CAST(sum(cnt) AS BIGINT) AS type_total,
           count(DISTINCT day) AS type_days
    FROM daily GROUP BY 1
),
bd AS (
    SELECT event_type,
           CAST(CASE WHEN dayofweek(day) = 0 THEN 1
                ELSE dayofweek(day) + 1 END AS BIGINT) AS dow,
           CAST(sum(cnt) AS BIGINT) AS n_events,
           count(DISTINCT day) AS n_days
    FROM daily GROUP BY 1, 2
)
SELECT bd.event_type, bd.dow, bd.n_events,
       CAST(bd.n_days AS BIGINT) AS n_days,
       CAST(bd.n_events * t.type_days * 1000000
            // (bd.n_days * t.type_total) AS BIGINT) AS seasonal_ppm
FROM bd JOIN tot t USING (event_type)
""",
)
def seasonal_dow_index_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type weekly SEASONAL INDEX — the classical-decomposition
    statistic events_dow_hour_profile does not give: for each event
    type, the ratio of that type's mean daily volume on each day-of-week
    to its own overall mean daily volume, in exact integer ppm
    (1,000,000 = no seasonality). The profile row answers "where is
    global traffic"; this answers "is purchase a weekend-heavy TYPE" —
    the multiplicative seasonal factor a forecaster divides out before
    trend fitting, computed per series.

    Exactness: daily counts are integers; both means enter one fused
    integer expression n_events * type_days * 1e6 // (n_days *
    type_total), so no float ratio ever materializes. Day-of-week uses
    Spark's 1=Sunday..7 convention with the oracle remapping DuckDB's
    0=Sunday..6 (the events_dow_hour_profile trap, handled the same
    way).

    Plan/scale: one shuffle to per-(type, day) partials, then two
    type-cardinality rollups joined on event_type — the small side is
    |types| rows and broadcasts. No window, no collect; at 100 TB the
    per-day partial aggregate is the only data-volume pass."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = daily.groupBy("event_type").agg(
        F.sum("cnt").cast("bigint").alias("type_total"),
        F.countDistinct("day").alias("type_days"),
    )
    bd = daily.groupBy(
        "event_type", F.dayofweek("day").cast("bigint").alias("dow")
    ).agg(
        F.sum("cnt").cast("bigint").alias("n_events"),
        F.countDistinct("day").alias("n_days"),
    )
    return bd.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "dow",
        "n_events",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.expr(
            "CAST(n_events * type_days * 1000000"
            " DIV (n_days * type_total) AS BIGINT)"
        ).alias("seasonal_ppm"),
    )


# --- order inter-arrival gaps -----------------------------------------------


@query(
    "orders_interarrival_stats",
    oracle="""
WITH g AS (
    SELECT o_custkey,
           date_diff('day', lag(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ), o_orderdate) AS gap_days
    FROM orders
)
SELECT o_custkey,
       count(gap_days) AS n_gaps,
       CAST(min(gap_days) AS BIGINT) AS min_gap_days,
       CAST(max(gap_days) AS BIGINT) AS max_gap_days,
       CAST(sum(gap_days) * 1000 // count(gap_days) AS BIGINT) AS mean_gap_millidays
FROM g
WHERE gap_days IS NOT NULL
GROUP BY o_custkey
""",
)
def orders_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order inter-arrival gaps (days between consecutive
    orders): count, min/max, and mean in exact milli-days — the
    purchase-cadence metric behind churn prediction and reorder
    reminders (a customer whose current silence exceeds their own
    historical max gap is the churn-risk signal). The events twin is
    user_event_gap_stats; this is the same discipline on the orders
    fact with date-granularity arithmetic.

    Exactness: gaps are integer day differences; the mean surfaces as
    sum*1000 // count (integer floor), so no float accumulates.
    Plan/scale: ONE customer-key window (orderdate + orderkey
    tie-break, deterministic) feeding a partial-agg rollup on the same
    key — single exchange total."""
    o = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days"),
    ).where(F.col("gap_days").isNotNull())
    return g.groupBy("o_custkey").agg(
        F.count("gap_days").alias("n_gaps"),
        F.min("gap_days").cast("bigint").alias("min_gap_days"),
        F.max("gap_days").cast("bigint").alias("max_gap_days"),
        F.expr(
            "CAST(sum(gap_days) * 1000 DIV count(gap_days) AS BIGINT)"
        ).alias("mean_gap_millidays"),
    )


# --- robust anomaly flags (median / MAD) ------------------------------------

MAD_K = 3  # flag |x - median| > K * MAD (the classic 3-MAD rule)


@query(
    "events_mad_outliers",
    oracle=f"""
WITH d AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
    FROM events GROUP BY 1, 2
), med AS (
    SELECT event_type, quantile_disc(cents, 0.5) AS med_cents FROM d GROUP BY 1
), dev AS (
    SELECT d.day, d.event_type, d.cents, m.med_cents,
           abs(d.cents - m.med_cents) AS adev
    FROM d JOIN med m USING (event_type)
), mad AS (
    SELECT event_type, quantile_disc(adev, 0.5) AS mad_cents FROM dev GROUP BY 1
)
SELECT v.day, v.event_type,
       CAST(v.cents AS BIGINT) AS cents,
       CAST(v.med_cents AS BIGINT) AS med_cents,
       CAST(a.mad_cents AS BIGINT) AS mad_cents,
       CAST(v.adev * 1000000 // greatest(a.mad_cents, 1) AS BIGINT) AS dev_ratio_ppm,
       v.adev > {MAD_K} * a.mad_cents AS is_outlier
FROM dev v JOIN mad a USING (event_type)
""",
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier flags on daily per-type revenue — the ROBUST
    twin of events_anomaly_zscore: a single fat-finger day inflates a
    mean/stddev score enough to mask itself, while the median and the
    median-absolute-deviation barely move (50% breakdown point vs 0%).
    Flags |x - median| > 3 * MAD per type; dev_ratio_ppm carries the
    graded deviation for downstream thresholds.

    Exactness: the domain is integer daily cents; both medians use the
    exact-discrete-quantile convention (percentile_approx at
    PCTL_ACCURACY == DuckDB quantile_disc — group cardinality here is
    |days|, thousands of times under the bound; see
    plans/aggregates.PCTL_ACCURACY); the deviation test and the ppm
    ratio are pure integer arithmetic, so every column including the
    boolean is engine-exact — no float anywhere.

    Plan/scale: one map-side-combined daily aggregate at (day, type)
    cardinality, then two |types|-row median tables broadcast back onto
    it (each an O(|days| per type) mergeable-sketch aggregate, no
    per-group sort); flags are map-side expressions. Nothing scales
    with raw event count after the first aggregate."""
    from .aggregates import PCTL_ACCURACY

    ev = load_table(spark, "events", sf_dir)
    d = ev.groupBy(
        F.expr("CAST(date_trunc('day', ts) AS DATE)").alias("day"), "event_type"
    ).agg(
        F.expr("CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)").alias("cents")
    )
    # three consumers (median, deviation build, final report) — the
    # (day, type)-cardinality table materializes once so the raw event
    # scan isn't re-paid per branch
    d = share(d, sf_dir, "events")
    med = d.groupBy("event_type").agg(
        F.percentile_approx("cents", 0.5, PCTL_ACCURACY).alias("med_cents")
    )
    dev = d.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med_cents"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile_approx("adev", 0.5, PCTL_ACCURACY).alias("mad_cents")
    )
    return dev.join(F.broadcast(mad), "event_type").select(
        "day",
        "event_type",
        F.col("cents").cast("bigint").alias("cents"),
        F.col("med_cents").cast("bigint").alias("med_cents"),
        F.col("mad_cents").cast("bigint").alias("mad_cents"),
        F.expr("CAST(adev * 1000000 DIV greatest(mad_cents, 1) AS BIGINT)").alias(
            "dev_ratio_ppm"
        ),
        (F.col("adev") > F.lit(MAD_K) * F.col("mad_cents")).alias("is_outlier"),
    )


# --- exact audience overlap via bitmap AND ----------------------------------


@query(
    "audience_overlap_bitmap",
    oracle="""
WITH b AS (
    SELECT event_type,
           user_id // 63 AS w,
           bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INTEGER)) AS bits
    FROM events
    GROUP BY 1, 2
), sz AS (
    SELECT event_type, CAST(sum(bit_count(bits)) AS BIGINT) AS n_users
    FROM b GROUP BY 1
), inter AS (
    SELECT a.event_type AS type_a, c.event_type AS type_b,
           CAST(sum(bit_count(a.bits & c.bits)) AS BIGINT) AS n_both
    FROM b a JOIN b c ON a.w = c.w AND a.event_type < c.event_type
    GROUP BY 1, 2
)
SELECT i.type_a, i.type_b, sa.n_users AS users_a, sb.n_users AS users_b,
       i.n_both,
       CAST(i.n_both * 1000000 // (sa.n_users + sb.n_users - i.n_both) AS BIGINT)
           AS jaccard_ppm
FROM inter i
JOIN sz sa ON sa.event_type = i.type_a
JOIN sz sb ON sb.event_type = i.type_b
""",
)
def audience_overlap_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT pairwise audience overlap between event types — "how many
    purchase users also click?" — via bitmap set algebra: per-type
    packed bitmap words (the bitmap_distinct_users_daily asset) AND
    together word-by-word and popcount to the exact intersection, plus
    integer-ppm Jaccard from the inclusion-exclusion union. This is the
    set-INTERSECTION capability sketches give up: HLL unions exactly
    but only estimates intersections (by inclusion-exclusion, with
    compounding error); bitmaps pay 8 bytes per 63 users of state and
    answer both exactly.

    Plan/scale: one partial-agg shuffle builds the (type, word) bitmap
    table at keyspace/63 cardinality; the pair step is an equi-join ON
    THE WORD KEY (co-partitioned, |types|^2-bounded fan-out per word,
    never a cross join of users) and a |pairs|-row rollup. At 10^9
    users the word axis shards the state exactly as in the daily
    query; precomputed per-type bitmaps answer any new pair without
    touching raw events — the mergeable-asset property."""
    ev = load_table(spark, "events", sf_dir)
    b = ev.groupBy(
        "event_type", F.expr("user_id DIV 63").alias("w")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 63 AS INT)))"
        ).alias("bits")
    )
    b = share(b, sf_dir, "events")  # three consumers: sizes + both pair sides
    sz = b.groupBy("event_type").agg(
        F.expr("CAST(sum(bit_count(bits)) AS BIGINT)").alias("n_users")
    )
    a, c = b.alias("a"), b.alias("c")
    inter = (
        a.join(
            c,
            (F.col("a.w") == F.col("c.w"))
            & (F.col("a.event_type") < F.col("c.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("c.event_type").alias("type_b"),
        )
        .agg(
            F.expr("CAST(sum(bit_count(a.bits & c.bits)) AS BIGINT)").alias("n_both")
        )
    )
    sa = F.broadcast(sz.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("users_a")))
    sb = F.broadcast(sz.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("users_b")))
    return (
        inter.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "users_a",
            "users_b",
            "n_both",
            F.expr(
                "CAST(n_both * 1000000 DIV (users_a + users_b - n_both) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


# --- hopping (overlapping) time windows --------------------------------------

_HOP_WIN_US = 6 * 3600 * 1_000_000
_HOP_SLIDE_US = 3 * 3600 * 1_000_000


@query(
    "events_hopping_window",
    oracle=f"""
SELECT start_us,
       start_us + {_HOP_WIN_US} AS end_us,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM (
    SELECT user_id,
           unnest([
               (epoch_us(ts) // {_HOP_SLIDE_US}) * {_HOP_SLIDE_US},
               (epoch_us(ts) // {_HOP_SLIDE_US}) * {_HOP_SLIDE_US} - {_HOP_SLIDE_US}
           ]) AS start_us
    FROM events
)
GROUP BY start_us
""",
)
def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native HOPPING (sliding) time windows — the one windowed-
    aggregation shape the registry lacked beside tumbling
    (events_tumbling_daily) and session (events_session_window_native):
    ``F.window(ts, '6 hours', '3 hours')`` assigns every event to the
    window/slide = 2 overlapping windows it falls in; Spark plans this
    as an Expand (one output row per containing window) feeding a
    normal hash aggregate — no self-join, no range join. The oracle
    states the same assignment arithmetically: both containing window
    starts are slide-grid floors of the event time (Spark's hopping
    windows are epoch-aligned by default, exactly the // arithmetic).

    Plan/scale: Expand multiplies the scan by the constant overlap
    factor (2 here) BEFORE the partial aggregate, so shuffle volume is
    2x window-cardinality partials, not 2x events; the aggregate
    shuffles on the window struct like any groupBy. Used for rolling
    health/traffic dashboards where each reading must contribute to
    every window covering it."""
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.unix_micros("w.start").alias("start_us"),
            F.unix_micros("w.end").alias("end_us"),
            "n_events",
            "n_users",
        )
    )


# --- day-over-day distribution-drift monitor (total variation) --------------
DRIFT_SCALE_PPM = 1_000_000
DRIFT_ALERT_PPM = 60_000  # a type moving >6% of mix share is "moved"


DRIFT_TV_ORACLE = f"""
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
),
tot AS (SELECT day, sum(cnt) AS total FROM daily GROUP BY day),
grid AS (
    SELECT d.day, t.event_type
    FROM (SELECT DISTINCT day FROM daily) d
    CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
),
frac AS (
    SELECT g.day, g.event_type,
           coalesce(dl.cnt, 0) * {DRIFT_SCALE_PPM} // tot.total AS p_ppm
    FROM grid g
    JOIN tot ON tot.day = g.day
    LEFT JOIN daily dl ON dl.day = g.day AND dl.event_type = g.event_type
),
lagged AS (
    SELECT day, event_type, p_ppm,
           lag(p_ppm) OVER (PARTITION BY event_type ORDER BY day) AS q_ppm
    FROM frac
)
SELECT day,
       CAST(sum(abs(p_ppm - q_ppm)) // 2 AS BIGINT) AS tv_ppm,
       CAST(sum(CASE WHEN abs(p_ppm - q_ppm) > {DRIFT_ALERT_PPM}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_types_moved
FROM lagged
WHERE q_ppm IS NOT NULL
GROUP BY day
"""


@query("events_type_drift_tv", oracle=DRIFT_TV_ORACLE)
def events_type_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift MONITOR: per day, the total-variation distance
    between today's and yesterday's event-type mix — the pipeline-health
    gate that catches a collector dropping a type, a bot flooding one,
    or an upstream schema change skewing the mix, before the corrupted
    day reaches training. Mix shares are exact integer ppm (floor) of
    the day's total, the day-over-day delta is a lag window per type
    over a DENSE day x type grid (a type absent today still drifts —
    missing rows must read as share 0, not disappear), and
    TV = sum(|p - q|) / 2 in pure integer arithmetic. Also counts types
    whose share moved more than DRIFT_ALERT_PPM — the "which dimension
    drifted" drill-down an alert needs. The first day has no
    predecessor and drops, like every lag-based monitor.

    Plan/scale: the daily mix aggregates map-side to |days| x |types|
    rows — monitoring-cardinality, thousands of times smaller than the
    event stream — so the grid cross-join, lag window, and final
    per-day rollup all run on tiny tables; the 100 TB cost is exactly
    the one scan + partial aggregation. The same plan reruns
    incrementally on (yesterday, today) alone — the O(1) daily check."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return drift_tv_from_daily(daily)


def drift_tv_from_daily(daily: DataFrame) -> DataFrame:
    """TV drift derivation over a (day, event_type, cnt) counts table —
    shared by the batch row above and the streaming twin
    (streaming_drift_monitor_executed), which maintains the SAME counts
    table incrementally in a foreachBatch sink; both feed the same
    oracle because the arithmetic below is the only consumer."""
    tot = daily.groupBy("day").agg(F.sum("cnt").alias("total"))
    grid = daily.select("day").distinct().crossJoin(
        daily.select("event_type").distinct()
    )
    frac = (
        grid.join(tot, "day")
        .join(daily, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.expr(
                f"coalesce(cnt, 0) * {DRIFT_SCALE_PPM} div total"
            ).alias("p_ppm"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = frac.withColumn("q_ppm", F.lag("p_ppm").over(w))
    return (
        lagged.where(F.col("q_ppm").isNotNull())
        .groupBy("day")
        .agg(
            F.expr("CAST(sum(abs(p_ppm - q_ppm)) div 2 AS BIGINT)").alias(
                "tv_ppm"
            ),
            F.sum(
                F.when(
                    F.abs(F.col("p_ppm") - F.col("q_ppm")) > DRIFT_ALERT_PPM,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_types_moved"),
        )
    )


# --- ordered-sequence funnel (the MATCH_RECOGNIZE shape) ---------------------
FUNNEL_STAGES = ("view", "click", "purchase")
FUNNEL_WINDOW_MIN = 1440  # each stage must land within 24h of the prior one
# (probed 30min/6h/24h/72h against this corpus's event density: 24h is the
# smallest window populating all three stages at every test SF)


@query(
    "funnel_stage_progression",
    oracle=f"""
WITH e AS (SELECT user_id, ts, event_id, event_type FROM events),
v AS (
    SELECT user_id, min(struct_pack(ts := ts, eid := event_id)) AS s1
    FROM e WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id
),
c AS (
    SELECT e.user_id, min(struct_pack(ts := e.ts, eid := e.event_id)) AS s2
    FROM e JOIN v ON v.user_id = e.user_id
    WHERE e.event_type = '{FUNNEL_STAGES[1]}'
      AND struct_pack(ts := e.ts, eid := e.event_id) > v.s1
      AND e.ts <= v.s1['ts'] + INTERVAL '{FUNNEL_WINDOW_MIN} minutes'
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, min(struct_pack(ts := e.ts, eid := e.event_id)) AS s3
    FROM e JOIN c ON c.user_id = e.user_id
    WHERE e.event_type = '{FUNNEL_STAGES[2]}'
      AND struct_pack(ts := e.ts, eid := e.event_id) > c.s2
      AND e.ts <= c.s2['ts'] + INTERVAL '{FUNNEL_WINDOW_MIN} minutes'
    GROUP BY e.user_id
),
stages AS (
    SELECT u.user_id,
           CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN c.user_id IS NOT NULL THEN 2
                WHEN v.user_id IS NOT NULL THEN 1
                ELSE 0 END AS stage
    FROM (SELECT DISTINCT user_id FROM e) u
    LEFT JOIN v ON v.user_id = u.user_id
    LEFT JOIN c ON c.user_id = u.user_id
    LEFT JOIN p ON p.user_id = u.user_id
)
SELECT stage, CAST(count(*) AS BIGINT) AS n_users
FROM stages GROUP BY stage
""",
)
def funnel_stage_progression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED-SEQUENCE funnel with conversion windows — the
    MATCH_RECOGNIZE / funnel-mining shape Spark has no native operator
    for: per user, how deep into the view -> click -> purchase sequence
    did the event stream progress, where each stage must occur strictly
    AFTER the event that satisfied the previous one AND within
    FUNNEL_WINDOW_MIN minutes of it (first-touch anchoring: the funnel
    anchors on the user's first view; an expired window is never
    revived — the property that separates sequence matching from the
    bag-of-types checks plain joins express). Implemented as a
    deterministic state-machine FOLD over each user's time-ordered event
    sequence: sort_array over (ts, event_id, type) structs gives a total
    order (event_id breaks ts ties), and one codegen `aggregate` lambda
    carries (stage, stage_ts) — the composition answer (a) of the
    custom-operator ladder, no UDF. The oracle reaches the same stages
    through a min-struct chain (first view; first in-window click after
    it; first in-window purchase after that) — the same semantics stated
    relationally.

    Output: users per deepest-stage-reached (0 = active but never
    viewed), the conversion report every funnel analysis starts from.

    Plan/scale: one shuffle on user_id, then per-user fold — state is
    one (int, timestamp) per user, events per user bound the array (a
    user with unbounded history moves this to applyInPandasWithState,
    the streaming form). The final stage histogram is a 4-row
    aggregate. Probed r12 (scripts/scaling_probe.py x1->x8 at sf0.1):
    exponent 1.175 balanced; 1.281 under hot-user skew with ONE user
    holding ~10% of the whole corpus (funnel_skew_shape) — the
    collect_list bound holds far past realistic per-user history, so
    the streaming escape hatch stays documentation."""
    ev = load_table(spark, "events", sf_dir)
    return funnel_stages_over(ev)


def funnel_stages_over(ev: DataFrame) -> DataFrame:
    """The funnel fold over any (user_id, ts, event_id, event_type)
    frame — factored so the semantics drills in tests/test_curation_ops
    can feed constructed sequences (out-of-order purchases, expired
    windows, ts ties) through the exact production expression."""
    w = f"INTERVAL {FUNNEL_WINDOW_MIN} MINUTES"
    fold = (
        "aggregate(seq,"
        " struct(0 AS st, CAST(NULL AS TIMESTAMP) AS sts),"
        " (acc, e) -> CASE"
        f" WHEN acc.st = 0 AND e.event_type = '{FUNNEL_STAGES[0]}'"
        "  THEN struct(1 AS st, e.ts AS sts)"
        f" WHEN acc.st = 1 AND e.event_type = '{FUNNEL_STAGES[1]}'"
        f"  AND e.ts <= acc.sts + {w} THEN struct(2 AS st, e.ts AS sts)"
        f" WHEN acc.st = 2 AND e.event_type = '{FUNNEL_STAGES[2]}'"
        f"  AND e.ts <= acc.sts + {w} THEN struct(3 AS st, e.ts AS sts)"
        " ELSE acc END,"
        " acc -> acc.st)"
    )
    seq = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("seq")
    )
    staged = seq.select("user_id", F.expr(fold).alias("stage"))
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


# --- CUSUM changepoint detection (round 12) ----------------------------------
# Sequential drift detection over the daily event volume: the two-sided
# CUSUM statistic (Page 1954) accumulates deviations beyond a slack of
# one noise unit and flags when either side crosses the decision
# threshold — the classic pipeline-health monitor for LEVEL SHIFTS,
# complementing events_type_drift_tv (distribution mix) and
# events_anomaly_zscore (single-day spikes). All integer: mu is the
# round-half-up daily mean, the noise unit is isqrt(mu) (Poisson-scale
# daily noise), slack k = 1 unit, threshold h = 4 units. On this corpus
# no day flags at any SF — there is no level shift, and the hash pins
# the full S+/S- trajectories; the detection path is proven by a
# constructed-shift drill in tests/test_round12_ops.py through the same
# factored fold.
CUSUM_SLACK_UNITS = 1
CUSUM_H_UNITS = 4


@query(
    "events_changepoint_cusum",
    oracle=f"""
WITH RECURSIVE daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n
    FROM events GROUP BY 1
),
st AS (
    SELECT (2 * sum(n) + count(*)) // (2 * count(*)) AS mu,
           count(*) AS nd
    FROM daily
),
st2 AS (
    SELECT mu, nd,
           CAST(floor(sqrt(CAST(mu AS DOUBLE))) AS BIGINT) AS sig
    FROM st
),
days AS (
    SELECT day, n, row_number() OVER (ORDER BY day) AS rn FROM daily
),
fold AS (
    SELECT CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS sp, CAST(0 AS BIGINT) AS sm
    UNION ALL
    SELECT d.rn,
           greatest(CAST(0 AS BIGINT),
                    f.sp + (d.n - s.mu - {CUSUM_SLACK_UNITS} * s.sig)),
           greatest(CAST(0 AS BIGINT),
                    f.sm + (s.mu - d.n - {CUSUM_SLACK_UNITS} * s.sig))
    FROM fold f JOIN days d ON d.rn = f.rn + 1, st2 s
)
SELECT d.day, CAST(d.n AS BIGINT) AS n_events,
       CAST(f.sp AS BIGINT) AS cusum_pos, CAST(f.sm AS BIGINT) AS cusum_neg,
       (f.sp > {CUSUM_H_UNITS} * s.sig OR f.sm > {CUSUM_H_UNITS} * s.sig)
           AS flagged
FROM fold f JOIN days d ON d.rn = f.rn, st2 s
""",
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided integer CUSUM over daily event counts: per day the
    running S+ / S- statistics (deviation beyond a one-noise-unit slack,
    floored at zero) and the flag for crossing the 4-unit decision
    threshold. The sequential recurrence Spark has no native operator
    for — implemented as one codegen `aggregate` fold over the
    sort_array'd daily spine (the funnel/markov discipline), with the
    DuckDB twin unrolling the identical recurrence as a recursive CTE.
    Zero float in the state: mu rounds half-up as integers and the
    noise unit is floor(sqrt(mu)) — sqrt of an exact small integer is
    one correctly-rounded IEEE op, identical on both engines.

    Plan/scale: the corpus aggregates map-side to the ~30-row daily
    spine; the fold is driver-free and runs over that bounded array in
    one task — at 100 TB the spine is still |days| rows, which is the
    point: sequential state never touches row-cardinality data. A
    constructed level-shift drill proves the flag path fires
    (tests/test_round12_ops.py)."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    st = daily.agg(
        F.expr("(2 * sum(n) + count(*)) DIV (2 * count(*))").alias("mu"),
    ).select(
        "mu",
        F.expr("CAST(floor(sqrt(CAST(mu AS DOUBLE))) AS BIGINT)").alias("sig"),
    )
    return cusum_over_daily(daily, st)


def cusum_over_daily(daily: DataFrame, st: DataFrame) -> DataFrame:
    """The CUSUM fold over any (day, n) spine with a broadcast (mu, sig)
    stats row — factored so the constructed-changepoint drill can feed
    a synthetic level shift through the exact production expression."""
    k, h = CUSUM_SLACK_UNITS, CUSUM_H_UNITS
    empty = (
        "slice(array(named_struct("
        "'day', DATE '1970-01-01', 'n_events', 0L,"
        " 'cusum_pos', 0L, 'cusum_neg', 0L)), 1, 0)"
    )
    fold = (
        "aggregate(seq,"
        f" struct(0L AS sp, 0L AS sm, {empty} AS out),"
        " (acc, e) -> named_struct("
        f"   'sp', greatest(0L, acc.sp + (e.n - mu - {k} * sig)),"
        f"   'sm', greatest(0L, acc.sm + (mu - e.n - {k} * sig)),"
        "   'out', acc.out || array(named_struct("
        "       'day', e.day, 'n_events', e.n,"
        f"      'cusum_pos', greatest(0L, acc.sp + (e.n - mu - {k} * sig)),"
        f"      'cusum_neg', greatest(0L, acc.sm + (mu - e.n - {k} * sig))))),"
        " acc -> acc.out)"
    )
    seq = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "n"))).alias("seq")
    )
    return (
        seq.crossJoin(F.broadcast(st))
        .select(F.explode(F.expr(fold)).alias("r"), "sig")
        .select(
            "r.day",
            "r.n_events",
            "r.cusum_pos",
            "r.cusum_neg",
            (
                (F.col("r.cusum_pos") > h * F.col("sig"))
                | (F.col("r.cusum_neg") > h * F.col("sig"))
            ).alias("flagged"),
        )
    )


# --- Theil-Sen robust trend (round 12) ----------------------------------------
# The robust slope estimator over the daily-count spine: the median of
# all pairwise slopes tolerates up to ~29% corrupted days where an OLS
# slope follows a single outlier — the trend number a pipeline-health
# dashboard wants next to the CUSUM level-shift flag. The pair space is
# |days|² (~435 pairs at 30 days) — bounded by the CALENDAR, not data
# volume, so the quadratic is free at any corpus size.


@query(
    "events_trend_theil_sen",
    oracle="""
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n
    FROM events GROUP BY 1
),
d AS (SELECT day, n, row_number() OVER (ORDER BY day) AS i FROM daily),
slopes AS (
    SELECT a.i AS i, b.i AS j,
           CASE WHEN b.n >= a.n
                THEN (b.n - a.n) * 1000000 // (b.i - a.i)
                ELSE -((a.n - b.n) * 1000000 // (b.i - a.i)) END AS slope_ppm
    FROM d a JOIN d b ON b.i > a.i
),
r AS (
    SELECT slope_ppm,
           row_number() OVER (ORDER BY slope_ppm, i, j) AS rn,
           count(*) OVER () AS cnt
    FROM slopes
)
SELECT CAST(cnt AS BIGINT) AS n_pairs,
       CAST(min(CASE WHEN rn = (cnt + 1) // 2 THEN slope_ppm END) AS BIGINT)
           AS median_slope_ppm,
       CAST(min(CASE WHEN rn = (cnt * 25 + 99) // 100 THEN slope_ppm END) AS BIGINT)
           AS p25_slope_ppm,
       CAST(min(CASE WHEN rn = (cnt * 75 + 99) // 100 THEN slope_ppm END) AS BIGINT)
           AS p75_slope_ppm
FROM r
GROUP BY cnt
""",
)
def events_trend_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen ROBUST TREND of daily event volume: the median (and
    p25/p75 band) of all pairwise day-to-day slopes, in exact integer
    ppm events/day — the estimator that shrugs off the outlier days an
    OLS fit chases (up to ~29% breakdown). Slopes floor-divide with the
    sign mirrored (Spark DIV truncates toward zero, DuckDB // floors —
    identical only on non-negative operands, the davg discipline);
    quantile picks are row_number positions over the (slope, i, j)
    total order, so every value is engine-exact.

    Plan/scale: the corpus aggregates map-side to the |days| spine; the
    pair join and rank window run over |days|²/2 rows — bounded by the
    CALENDAR (435 pairs for 30 days), not data volume, which is why
    the quadratic estimator is admissible here and not on row-scale
    data. One bounded-spine global sort (allowlisted)."""
    from pyspark.sql import Window

    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    d = daily.withColumn(
        "i", F.row_number().over(Window.orderBy("day"))
    ).select("i", "n")
    # both pair sides consume the |days| spine; the lineage cut runs the
    # events scan + day aggregate once instead of twice
    d = share(d, sf_dir, "events")
    a = d.select(F.col("i").alias("ai"), F.col("n").alias("an"))
    b = d.select(F.col("i").alias("bi"), F.col("n").alias("bn"))
    slopes = (
        a.join(b, F.col("bi") > F.col("ai"))
        .select(
            F.col("ai").alias("i"),
            F.col("bi").alias("j"),
            F.expr(
                "CASE WHEN bn >= an"
                " THEN (bn - an) * 1000000 DIV (bi - ai)"
                " ELSE -((an - bn) * 1000000 DIV (bi - ai)) END"
            ).alias("slope_ppm"),
        )
    )
    r = slopes.select(
        "slope_ppm",
        F.row_number()
        .over(Window.orderBy("slope_ppm", "i", "j"))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("cnt"),
    )
    pick = (
        "CAST(min(CASE WHEN rn = ({expr}) THEN slope_ppm END) AS BIGINT)"
    )
    return r.groupBy("cnt").agg(
        F.expr(pick.format(expr="(cnt + 1) DIV 2")).alias("median_slope_ppm"),
        F.expr(pick.format(expr="(cnt * 25 + 99) DIV 100")).alias("p25_slope_ppm"),
        F.expr(pick.format(expr="(cnt * 75 + 99) DIV 100")).alias("p75_slope_ppm"),
    ).select(
        F.col("cnt").cast("bigint").alias("n_pairs"),
        "median_slope_ppm",
        "p25_slope_ppm",
        "p75_slope_ppm",
    )
