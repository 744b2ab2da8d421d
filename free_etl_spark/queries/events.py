"""Event-table analytics: stats aggregation, as-of join,
lag-gap sessionization, time bucketing. ``ts_us`` (µs since epoch,
BIGINT) is the canonical event-time column (see tables.py — the raw
parquet stores nanosecond timestamps Spark cannot read natively);
DuckDB oracles derive the identical value via epoch_us(CAST(ts AS
TIMESTAMP)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from free_etl_spark.operators.asof import asof_join_backward
from free_etl_spark.registry import query
from free_etl_spark.tables import load_table


@query(
    "agg_stats_events",
    oracle="""
    SELECT event_type,
           COUNT(*)                          AS event_cnt,
           COUNT(DISTINCT user_id)           AS uniq_users,
           MIN(value)                        AS min_value,
           MAX(value)                        AS max_value,
           ROUND(SUM(value), 2)              AS sum_value,
           ROUND(SUM(value), 2) / COUNT(*)   AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("event_cnt"),
        F.countDistinct("user_id").alias("uniq_users"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        # rounded-sum-over-count, not ROUND(AVG): 2-decimal source
        # values put group means on decimal grids where half-up vs
        # half-even rounding flips between engines
        (F.round(F.sum("value"), 2) / F.count(F.lit(1))).alias("avg_value"),
    )


@query(
    "events_hourly_counts",
    oracle="""
    SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour_start,
           event_type,
           COUNT(*) AS event_cnt,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation (the batch analogue of a tumbling
    window; the streaming variant lives in streaming/)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("event_cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query(
    "join_asof_events",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
      FROM events WHERE event_type = 'purchase'
    ), s AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s_ts_us, value AS s_value
      FROM events WHERE event_type = 'signup'
    )
    SELECT p.event_id, p.user_id, p.ts_us, p.value,
           s.s_ts_us AS asof_ts_us, s.s_value AS asof_value
    FROM p ASOF LEFT JOIN s
      ON p.user_id = s.user_id AND p.ts_us >= s.s_ts_us
    """,
)
def join_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    signup at-or-before it (see operators/asof.py for the scalable
    union+carry-forward plan; DuckDB's native ASOF JOIN is the oracle)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", "value"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts_us").alias("s_ts_us"), F.col("value").alias("s_value")
    )
    return asof_join_backward(
        purchases,
        signups,
        on=["user_id"],
        left_ts="ts_us",
        right_ts="s_ts_us",
        payload_cols=["s_value"],
        payload_prefix="asof_",
    ).select(
        "event_id",
        "user_id",
        "ts_us",
        "value",
        F.col("asof_s_ts_us").alias("asof_ts_us"),
        F.col("asof_s_value").alias("asof_value"),
    )


_ASOF_TOL_US = 24 * 3600 * 1_000_000  # 24-hour match tolerance


@query(
    "join_asof_tolerance_events",
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
      FROM events WHERE event_type = 'purchase'
    ), s AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s_ts_us, value AS s_value
      FROM events WHERE event_type = 'signup'
    )
    SELECT p.event_id, p.user_id, p.ts_us, p.value,
           CASE WHEN p.ts_us - s.s_ts_us <= {_ASOF_TOL_US}
                THEN s.s_ts_us END AS asof_ts_us,
           CASE WHEN p.ts_us - s.s_ts_us <= {_ASOF_TOL_US}
                THEN s.s_value END AS asof_value
    FROM p ASOF LEFT JOIN s
      ON p.user_id = s.user_id AND p.ts_us >= s.s_ts_us
    """,
)
def join_asof_tolerance_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match tolerance (pandas merge_asof
    tolerance= parity): each purchase takes the user's most recent
    signup at-or-before it ONLY if that signup is within 24 hours —
    staler matches null out (at sf0.01 this keeps 708 of 1791
    matches, so both paths are exercised). The tolerance is a pure
    post-projection on the carried struct (operators/asof.py), so the
    plan stays the single union+carry-forward shuffle; the oracle
    masks DuckDB's native ASOF JOIN the same way."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", "value"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts_us").alias("s_ts_us"), F.col("value").alias("s_value")
    )
    return asof_join_backward(
        purchases,
        signups,
        on=["user_id"],
        left_ts="ts_us",
        right_ts="s_ts_us",
        payload_cols=["s_value"],
        payload_prefix="asof_",
        tolerance=_ASOF_TOL_US,
    ).select(
        "event_id",
        "user_id",
        "ts_us",
        "value",
        F.col("asof_s_ts_us").alias("asof_ts_us"),
        F.col("asof_s_value").alias("asof_value"),
    )


_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap


@query(
    "events_sessionize",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts_us,
             CASE WHEN LAG(ts_us) OVER w IS NULL
                       OR ts_us - LAG(ts_us) OVER w > {_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), sess AS (
      SELECT user_id, event_id, ts_us,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) AS session_end_us
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: lag-gap flag + running sum assigns session
    ids in one shuffle on user_id (the streaming variant uses
    session_window in streaming/)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts_us")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w) > _GAP_US),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id", F.sum("is_new").over(w_run).cast("long")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        F.max("ts_us").alias("session_end_us"),
    )


@query(
    "events_sliding_windows",
    oracle="""
    SELECT win_start, event_type, COUNT(*) AS event_cnt,
           ROUND(SUM(value), 2) AS sum_value
    FROM (
      SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP))
                  + CASE WHEN minute(CAST(ts AS TIMESTAMP)) >= 30
                         THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
                  - s.off * INTERVAL 30 MINUTE AS TIMESTAMP) AS win_start,
             event_type, value
      FROM events CROSS JOIN (VALUES (0), (1)) AS s(off)
    )
    GROUP BY 1, 2
    """,
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows in batch: 1-hour windows every 30
    minutes via F.window(ts, '1 hour', '30 minutes') — each event lands
    in exactly 2 windows. The oracle derives the same two window starts
    arithmetically (trunc to the 30-min grid, minus 0 or 1 hop)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("win_start"),
            "event_type",
            "event_cnt",
            "sum_value",
        )
    )


@query(
    "join_interval_events",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           COUNT(c.event_id) AS clicks_before,
           ROUND(COALESCE(SUM(c.value), 0.0), 2) AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND epoch_us(CAST(c.ts AS TIMESTAMP)) >= epoch_us(CAST(p.ts AS TIMESTAMP)) - 300000000
     AND epoch_us(CAST(c.ts AS TIMESTAMP)) <  epoch_us(CAST(p.ts AS TIMESTAMP))
    GROUP BY p.event_id, p.user_id
    """,
)
def join_interval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal interval join: for each purchase, the user's clicks in
    the preceding 5 minutes. Equi-join on user_id carries the shuffle;
    the time-interval predicate is a residual filter on the matched
    pairs — so cost is per-user pair volume, never a time cross join.
    (The streaming analogue is a watermarked stream-stream join with
    the same ts-band condition.)"""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts_us").alias("p_us"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_id"),
        F.col("value").alias("c_value"),
        F.col("ts_us").alias("c_us"),
    )
    joined = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_us >= p.p_us - 300_000_000)
        & (c.c_us < p.p_us),
        "left",
    )
    return joined.groupBy("purchase_id", "user_id").agg(
        F.count("c_id").alias("clicks_before"),
        F.round(F.coalesce(F.sum("c_value"), F.lit(0.0)), 2).alias("click_value"),
    )


@query(
    "events_time_rollup",
    oracle="""
    SELECT CAST(yr AS INT) AS yr, CAST(mo AS INT) AS mo, CAST(dy AS INT) AS dy,
           COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
    FROM (
      SELECT year(CAST(ts AS TIMESTAMP)) AS yr,
             month(CAST(ts AS TIMESTAMP)) AS mo,
             day(CAST(ts AS TIMESTAMP)) AS dy,
             value
      FROM events
    )
    GROUP BY ROLLUP (yr, mo, dy)
    """,
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical time rollup: one pass produces
    day, month, year and grand-total aggregates via ROLLUP grouping
    sets — the batch form of a continuous aggregate (partial
    aggregation means the shuffle carries one partial row per (grain,
    bucket), not the events)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.year("ts").cast("int").alias("yr"),
            F.month("ts").cast("int").alias("mo"),
            F.dayofmonth("ts").cast("int").alias("dy"),
            "value",
        )
        .rollup("yr", "mo", "dy")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query(
    "events_funnel_steps",
    oracle="""
    WITH f AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'click' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_click,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_view_any,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_buy_any
      FROM events GROUP BY user_id
    ),
    steps AS (
      SELECT user_id,
             CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END AS s1,
             CASE WHEN t_click IS NOT NULL AND t_view_any > t_click THEN 1 ELSE 0 END AS s2,
             CASE WHEN t_click IS NOT NULL AND t_view_any > t_click
                   AND t_buy_any > t_view_any THEN 1 ELSE 0 END AS s3
      FROM f
    )
    SELECT CAST(SUM(s1) AS BIGINT) AS step1_click,
           CAST(SUM(s2) AS BIGINT) AS step2_view_after_click,
           CAST(SUM(s3) AS BIGINT) AS step3_purchase_after_view,
           ROUND(CAST(SUM(s3) AS DOUBLE) / NULLIF(SUM(s1), 0), 6) AS conversion
    FROM steps
    """,
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (click → later view → later purchase): per-user
    first-occurrence timestamps via conditional MIN (one shuffle on
    user_id), step predicates chain the orderings, then a global
    conditional-sum — no self-joins, no window sort over raw events."""
    ev = load_table(spark, sf_dir, "events")
    t = lambda typ: F.min(F.when(F.col("event_type") == typ, F.col("ts_us")))  # noqa: E731
    f = ev.groupBy("user_id").agg(
        t("click").alias("t_click"),
        t("view").alias("t_view_any"),
        t("purchase").alias("t_buy_any"),
    )
    s1 = F.when(F.col("t_click").isNotNull(), 1).otherwise(0)
    s2 = F.when(F.col("t_click").isNotNull() & (F.col("t_view_any") > F.col("t_click")), 1).otherwise(0)
    s3 = F.when(
        F.col("t_click").isNotNull()
        & (F.col("t_view_any") > F.col("t_click"))
        & (F.col("t_buy_any") > F.col("t_view_any")),
        1,
    ).otherwise(0)
    return f.select(
        s1.alias("s1"), s2.alias("s2"), s3.alias("s3")
    ).agg(
        F.sum("s1").alias("step1_click"),
        F.sum("s2").alias("step2_view_after_click"),
        F.sum("s3").alias("step3_purchase_after_view"),
        F.round(
            F.sum("s3").cast("double") / F.nullif(F.sum("s1"), F.lit(0)), 6
        ).alias("conversion"),
    )


@query(
    "events_cohort_retention",
    oracle="""
    WITH first_seen AS (
      SELECT user_id,
             MIN(date_trunc('day', CAST(ts AS TIMESTAMP))) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS active_day
      FROM events
    )
    SELECT CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
           CAST(datediff('day', f.cohort_day, a.active_day) AS INT)
             AS days_since,
           COUNT(DISTINCT a.user_id) AS active_users
    FROM first_seen f JOIN activity a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted
    on each subsequent active day. Both aggregates shuffle on
    user_id; the cohort join re-uses that partitioning (co-partitioned
    join, no extra exchange under AQE)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    first_seen = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = ev.select("user_id", day.alias("active_day")).distinct()
    joined = first_seen.join(activity, "user_id")
    days_since = F.datediff("active_day", "cohort_day").cast("int")
    return joined.groupBy(
        "cohort_day", days_since.alias("days_since")
    ).agg(F.countDistinct("user_id").alias("active_users"))


@query(
    "agg_moments_events",
    oracle="""
    WITH mu AS (
      SELECT event_type, AVG(value) AS m
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           ROUND(stddev_samp(value), 6) AS sd,
           ROUND(var_samp(value), 6) AS var,
           -- Spark's skewness/kurtosis are population moments:
           -- g1 = m3/m2^1.5, excess g2 = m4/m2^2 - 3
           ROUND(AVG(POWER(value - mu.m, 3))
                 / POWER(AVG(POWER(value - mu.m, 2)), 1.5), 6) AS skew,
           ROUND(AVG(POWER(value - mu.m, 4))
                 / POWER(AVG(POWER(value - mu.m, 2)), 2) - 3, 6) AS kurt,
           ROUND(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_vu,
           ROUND(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS covar_vu
    FROM events e JOIN mu ON e.event_type = mu.event_type
    GROUP BY e.event_type
    """,
)
def agg_moments_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-moment aggregates per event type: sample stddev/
    variance, skewness and excess kurtosis (Spark's population-moment
    definitions, which the oracle reproduces explicitly — DuckDB's
    builtins are sample-adjusted and differ), correlation and sample
    covariance against user_id. All mergeable one-pass aggregates."""
    ev = load_table(spark, sf_dir, "events")
    u = F.col("user_id").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 6).alias("sd"),
        F.round(F.var_samp("value"), 6).alias("var"),
        F.round(F.skewness("value"), 6).alias("skew"),
        F.round(F.kurtosis("value"), 6).alias("kurt"),
        F.round(F.corr(F.col("value"), u), 6).alias("corr_vu"),
        F.round(F.covar_samp(F.col("value"), u), 4).alias("covar_vu"),
    )


@query(
    "events_cooccurrence",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS n_users
    FROM ut a JOIN ut b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
)
def events_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence (market-basket) counts: users exhibiting both
    event types, for every unordered type pair. The self-join keys on
    user_id over the *deduplicated* (user, type) relation — C(5,2)
    pairs per user max, never the raw event volume."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select(F.col("user_id").alias("ub"), F.col("event_type").alias("type_b"))
    return (
        a.join(b, (a.user_id == b.ub) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "events_transitions",
    oracle="""
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
                                            event_id) AS prev_type
      FROM events
    )
    WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transition bigrams (behavioral sequence mining): per-user
    time-ordered lag pairs counted into a 5x5 transition matrix —
    one shuffle on user_id for the window, tiny final aggregate.
    event_id breaks timestamp ties deterministically."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "dedup_latest_per_key",
    oracle="""
    SELECT user_id, event_id, event_type, ROUND(value, 2) AS value
    FROM (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
                                         event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def dedup_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction: keep only the latest record per key (row_number
    over ts desc, event_id tie-break) — the standard change-log →
    current-state collapse; one shuffle on the key."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 2).alias("value"))
    )


@query(
    "window_ratio_to_report",
    oracle="""
    SELECT n_name,
           ROUND(nation_rev, 2) AS nation_rev,
           ROUND(nation_rev / SUM(nation_rev) OVER (), 6) AS rev_share
    FROM (
      SELECT n_name, SUM(o_totalprice) AS nation_rev
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name
    )
    """,
)
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of global revenue via an
    unpartitioned window sum over the (tiny) aggregate — the global
    total never touches the fact table twice."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_nation = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("nation_rev"))
    )
    w = Window.partitionBy()
    return per_nation.select(
        "n_name",
        F.round("nation_rev", 2).alias("nation_rev"),
        F.round(F.col("nation_rev") / F.sum("nation_rev").over(w), 6).alias("rev_share"),
    )


@query(
    "agg_argmax_events",
    oracle="""
    WITH mx AS (
      SELECT event_type, MAX(value) AS mv, MIN(value) AS mnv
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           MAX(CASE WHEN e.value = m.mv THEN e.event_id END)
             AS top_event_id,
           ROUND(MAX(e.value), 2) AS top_value,
           MIN(CASE WHEN e.value = m.mnv THEN e.event_id END)
             AS bottom_event_id
    FROM events e JOIN mx m ON e.event_type = m.event_type
    GROUP BY e.event_type
    """,
)
def agg_argmax_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax aggregates) with a STRUCT ordering key:
    ties on value resolve to the greatest (top) / least (bottom)
    event_id, and — unlike the folded value*C+id key this replaced —
    no event_id magnitude can ever outrank a value difference, so the
    returned id always carries the true extreme at any corpus size.
    DuckDB's arg_max takes no struct key, so the oracle replays the
    semantics as a two-pass conditional aggregate over the exact
    per-group extremes (double equality on identical stored values)."""
    ev = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("value"), F.col("event_id"))
    return ev.groupBy("event_type").agg(
        F.max_by("event_id", key).alias("top_event_id"),
        F.round(F.max("value"), 2).alias("top_value"),
        F.min_by("event_id", key).alias("bottom_event_id"),
    )


@query(
    "events_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             ABS(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(SUM(CASE WHEN d.adev > 5 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers,
           ROUND(m.mad, 4) AS mad
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type, m.mad
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation: two
    exact-median passes (per-type median, then median of absolute
    deviations — both broadcast back as tiny aggregates) and a
    conditional count of |x − med| > 5·MAD. Unlike z-scores, immune
    to the outliers it is hunting."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "mad")
        .agg(
            F.sum(
                F.when(F.col("adev") > 5 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers")
        )
        .select(
            "event_type", "n_outliers", F.round("mad", 4).alias("mad")
        )
    )


@query(
    "orders_mom_growth",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           ROUND(100.0 * (revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month), 4) AS mom_pct
    FROM monthly
    """,
)
def orders_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly aggregate (one fact
    shuffle to ~80 month keys) then a lag window over the tiny series
    — the standard growth-reporting shape."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("timestamp_ntz").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        F.round(100.0 * (F.col("revenue") - prev) / prev, 4).alias("mom_pct"),
    )


@query(
    "join_asof_forward_events",
    oracle="""
    SELECT c.event_id, c.user_id,
           (SELECT MIN(epoch_us(CAST(p.ts AS TIMESTAMP))) FROM events p
            WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
              AND epoch_us(CAST(p.ts AS TIMESTAMP))
                  >= epoch_us(CAST(c.ts AS TIMESTAMP)))
             AS next_purchase_us
    FROM events c
    WHERE c.event_type = 'click'
    """,
)
def join_asof_forward_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click attached to the user's NEXT
    purchase (operators/asof.asof_join_forward — one shuffle of
    |clicks|+|purchases| rows; the oracle decorrelates to a per-click
    scalar MIN subquery)."""
    from free_etl_spark.operators.asof import asof_join_forward

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_us"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_us").alias("p_us")
    )
    out = asof_join_forward(
        clicks, purchases, on=["user_id"], left_ts="ts_us", right_ts="p_us",
        payload_cols=[],
    )
    return out.select(
        "event_id", "user_id", F.col("asof_p_us").alias("next_purchase_us")
    )


@query(
    "events_rolling_wau",
    oracle="""
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM act)
    SELECT CAST(days.d AS TIMESTAMP) AS day,
           COUNT(DISTINCT act.user_id) AS wau
    FROM days JOIN act
      ON act.d <= days.d AND act.d >= days.d - INTERVAL 6 DAY
    GROUP BY days.d
    """,
)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day — rolling COUNT(DISTINCT)
    has no window-frame form, so each (user, day) activity row expands
    into the ≤7 window-end days it contributes to (a map-side sequence
    explode over the deduplicated activity relation, NOT the raw
    events), then one distinct-count per day. Cost: 7·|user-days|,
    independent of event volume."""
    ev = load_table(spark, sf_dir, "events")
    act = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    days = act.select("d").distinct().withColumnRenamed("d", "window_day")
    contrib = act.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("window_day"),
    )
    return (
        contrib.join(F.broadcast(days), "window_day")
        .groupBy(F.col("window_day").cast("timestamp_ntz").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )


@query(
    "events_salted_user_totals",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY user_id
    """,
)
def events_salted_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe per-user event counts via the two-phase salted
    aggregate (operators/partitioning.py:salted_count_by_key): partial
    counts on (user_id, salt) spread a hot user over n reducers, the
    final aggregate merges partials. The oracle is the PLAIN group-by —
    salting must be an execution detail with identical results, and
    this query puts that equivalence under the driver's value gate
    (the hypothesis property test covers it adversarially).

    event_id rides along solely to feed the salt hash: salting derives
    the salt from ALL columns, and a key-only projection would make the
    salt a pure function of the group key — every row of a hot user on
    one reducer, i.e. no spreading at all."""
    from free_etl_spark.operators.partitioning import salted_count_by_key

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")
    return salted_count_by_key(ev, "user_id", n_salts=8)


@query(
    "events_salted_enrich_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment,
           ROUND(e.value, 2) AS value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def events_salted_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact-enrichment join via salted_join
    (operators/partitioning.py): the fact side's key is widened with a
    deterministic salt, the dimension side replicated n_salts times,
    so one hot user cannot pin a reducer. Result ≡ the plain join
    (the oracle), putting the salting operator under the driver's
    value gate."""
    from free_etl_spark.operators.partitioning import salted_join

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", F.col("user_id"), F.round("value", 2).alias("value"))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return salted_join(ev, cust, "user_id", n_salts=8, how="inner").select(
        "event_id", "user_id", "c_mktsegment", "value"
    )


@query(
    "join_asof_nearest_events",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_ts,
             ROUND(MAX(value), 2) AS c_value
      FROM events WHERE event_type = 'click'
      GROUP BY 1, 2
    ), b AS (
      SELECT p.event_id, p.user_id, p.ts_us, c.c_ts AS b_ts, c.c_value AS b_val
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts_us >= c.c_ts
    ), f AS (
      SELECT p.event_id, c.c_ts AS f_ts, c.c_value AS f_val
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts_us <= c.c_ts
    )
    SELECT b.event_id, b.user_id, b.ts_us,
           CASE WHEN b_ts IS NOT NULL
                     AND (f_ts IS NULL OR (b.ts_us - b_ts) <= (f_ts - b.ts_us))
                THEN b_ts ELSE f_ts END AS near_ts_us,
           CASE WHEN b_ts IS NOT NULL
                     AND (f_ts IS NULL OR (b.ts_us - b_ts) <= (f_ts - b.ts_us))
                THEN b_val ELSE f_val END AS near_value
    FROM b JOIN f USING (event_id)
    """,
)
def join_asof_nearest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas merge_asof 'nearest'
    parity, completing backward/forward/nearest): each purchase
    matched to the user's temporally CLOSEST click, ties to the
    preceding one. The click side is pre-aggregated per (user, ts) so
    the match is single-row deterministic; the oracle composes
    DuckDB's native backward and forward ASOF JOINs with the same
    tie rule."""
    from free_etl_spark.operators.asof import asof_join_nearest

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts_us").alias("c_ts"))
        .agg(F.round(F.max("value"), 2).alias("c_value"))
    )
    return asof_join_nearest(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts_us",
        right_ts="c_ts",
        payload_cols=["c_value"],
        payload_prefix="near_",
    ).select(
        "event_id",
        "user_id",
        "ts_us",
        F.col("near_c_ts").alias("near_ts_us"),
        F.col("near_c_value").alias("near_value"),
    )


@query(
    "events_gap_fill",
    oracle="""
    WITH h AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, event_type,
             COUNT(*) AS c, ROUND(SUM(value), 2) / COUNT(*) AS av
      FROM events GROUP BY 1, 2
    ),
    b AS (
      SELECT MIN(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS mn,
             MAX(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS mx
      FROM events
    ),
    grid AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr FROM b),
    g AS (SELECT t.event_type, grid.hr
          FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN grid)
    SELECT g.event_type,
           CAST(g.hr AS TIMESTAMP)            AS hour_start,
           CAST(COALESCE(h.c, 0) AS BIGINT)   AS event_cnt,
           (h.c IS NOT NULL)                  AS has_data,
           LAST_VALUE(h.av IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.hr
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
    FROM g LEFT JOIN h ON g.event_type = h.event_type AND g.hr = h.hr
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-grid gap filling with forward fill — the time-series
    resampling staple (hypertable rollup / `date_bin` + locf in
    TimescaleDB terms): build the complete (event_type × hour) grid
    over the observed span, left-join the hourly aggregates, zero-fill
    counts and carry the last observed hourly average forward through
    empty hours (NULL before the first observation, like SQL locf).
    Scale shape: the only corpus-sized work is the hourly pre-
    aggregation (one partial-agg shuffle); the grid is types × hours —
    a dimension relation that grows with the time span, not the data
    volume — built by exploding sequence() from a one-row bounds agg
    and broadcast against the distinct types, and the forward-fill
    window runs per type over that dimension, so at 100 TB the fill
    cost is unchanged."""
    ev = load_table(spark, sf_dir, "events")
    hr = F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz")
    # rounded-sum-over-count, not ROUND(AVG): the 2-decimal source
    # values put group means exactly on decimal rounding grids where
    # Spark (half-up) and DuckDB (half-even) flip; the sum's grid sits
    # maximally far from its 0.005 boundary, and one IEEE division of
    # identical doubles is engine-deterministic
    hourly = ev.groupBy(hr.alias("hr"), "event_type").agg(
        F.count(F.lit(1)).alias("c"),
        (F.round(F.sum("value"), 2) / F.count(F.lit(1))).alias("av"),
    )
    bounds = ev.agg(F.min(hr).alias("mn"), F.max(hr).alias("mx"))
    grid = bounds.select(
        F.explode(F.sequence("mn", "mx", F.expr("interval 1 hour"))).alias("hr")
    )
    types = ev.select("event_type").distinct()
    g = types.crossJoin(F.broadcast(grid))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        g.join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type",
            F.col("hr").alias("hour_start"),
            F.coalesce("c", F.lit(0)).cast("long").alias("event_cnt"),
            F.col("c").isNotNull().alias("has_data"),
            F.last("av", ignorenulls=True).over(w).alias("filled_avg"),
        )
    )


@query(
    "events_heatmap_dow_hour",
    oracle="""
    SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INT) AS dow,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS INT)      AS hod,
           CAST(COUNT(*) AS BIGINT)                      AS event_cnt,
           CAST(COUNT(DISTINCT user_id) AS BIGINT)       AS uniq_users,
           ROUND(SUM(value), 2) / COUNT(*)               AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def events_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity matrix (the ops-dashboard
    heatmap): grouping on derived calendar parts, which Catalyst
    evaluates map-side before the partial aggregation — the shuffle
    carries at most 7×24 groups per partition regardless of corpus
    size. DuckDB's dayofweek is 0-6 (Sunday=0) vs Spark's 1-7
    (Sunday=1), so the engine shifts to the DuckDB convention."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("event_cnt"),
        F.countDistinct("user_id").alias("uniq_users"),
        # the source values are 2-decimal, so group means land exactly
        # on any decimal rounding grid and ROUND/FLOOR both flip
        # between engines; round the SUM (whose grid sits maximally
        # far from the 0.005 boundary) and divide — one IEEE division
        # of identical doubles is engine-deterministic
        (F.round(F.sum("value"), 2) / F.count(F.lit(1))).alias("avg_value"),
    )


_EWMA_ALPHA = 0.5  # decay; weight of lag-k observation is (1-alpha)^k
_EWMA_DEPTH = 8    # bounded window: weights below (1-a)^8 truncate


@query(
    "events_ewma",
    oracle=f"""
    WITH e AS (
      SELECT event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
      FROM events
    ),
    lagged AS (
      SELECT event_id, event_type, ts_us, value,
             {", ".join(
                 f"LAG(value, {k}) OVER (PARTITION BY event_type "
                 f"ORDER BY ts_us, event_id) AS l{k}"
                 for k in range(8)
             )}
      FROM e
    )
    SELECT event_id, event_type, ts_us, value,
           ROUND((
             {" + ".join(f"COALESCE(l{k}, 0) * {0.5 ** k!r}" for k in range(8))}
           ) / NULLIF(
             {" + ".join(
                 f"(CASE WHEN l{k} IS NOT NULL THEN {0.5 ** k!r} ELSE 0 END)"
                 for k in range(8)
             )}, 0), 6) AS ewma
    FROM lagged
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per event type — the
    standard smoothing pass a monitoring/feature pipeline applies
    before thresholding. The recursive EWMA definition is not a
    window aggregate, so this uses the depth-8 truncation (weights
    (1-α)^k, k<8; the dropped tail is ≤ (1-α)^8 ≈ 0.4% of the mass):
    eight LAG terms with a renormalizing denominator over the
    observations actually present. All fixed-depth window expressions
    — one shuffle on event_type, codegen arithmetic, identical
    left-to-right fold in both engines so the doubles match exactly
    before the final ROUND."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts_us", "value"
    )
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    lags = [F.lag("value", k).over(w) for k in range(_EWMA_DEPTH)]
    weights = [(1.0 - _EWMA_ALPHA) ** k for k in range(_EWMA_DEPTH)]
    num = None
    den = None
    for lk, wk in zip(lags, weights):
        term = F.coalesce(lk, F.lit(0.0)) * F.lit(wk)
        mask = F.when(lk.isNotNull(), F.lit(wk)).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = mask if den is None else den + mask
    return ev.select(
        "event_id",
        "event_type",
        "ts_us",
        "value",
        # NULLIF: a row whose value and every lag are NULL has zero
        # renormalizing mass — emit NULL instead of an ANSI
        # DIVIDE_BY_ZERO error (Spark 4 default)
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("ewma"),
    )


@query(
    "events_winsorized_stats",
    oracle="""
    WITH pct AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS p01,
             quantile_cont(value, 0.99) AS p99
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           ROUND(MIN(p.p01), 4) AS p01,
           ROUND(MIN(p.p99), 4) AS p99,
           CAST(SUM(CASE WHEN e.value < p.p01 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_low,
           CAST(SUM(CASE WHEN e.value > p.p99 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_high,
           ROUND(SUM(GREATEST(p.p01, LEAST(p.p99, e.value))), 4) / COUNT(*)
             AS winsor_mean
    FROM events e JOIN pct p USING (event_type)
    GROUP BY e.event_type
    """,
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (clipped-at-percentile) robust mean per event type —
    the outlier-trimming step a metrics/curation pipeline runs before
    averaging heavy-tailed values. Two passes: exact p01/p99 per group
    (a handful of rows), broadcast back onto the fact scan, clip, and
    aggregate — the percentile side is group-cardinality-sized, so the
    join never shuffles the fact table. Exact percentile interpolation
    (Spark `percentile` ≡ DuckDB quantile_cont) either lands on a data
    value (both engines return that exact double) or strictly between
    two grid values (no data value in the open interval), so the clip
    comparisons classify identically; the clipped sum rounds before
    the one deterministic division (grid-mean rule, docs/ORACLE.md)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    pct = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.01)").alias("p01"),
        F.expr("percentile(value, 0.99)").alias("p99"),
    )
    clipped = ev.join(F.broadcast(pct), "event_type").withColumn(
        "clip", F.greatest("p01", F.least("p99", F.col("value")))
    )
    return clipped.groupBy("event_type").agg(
        F.round(F.min("p01"), 4).alias("p01"),
        F.round(F.min("p99"), 4).alias("p99"),
        F.sum((F.col("value") < F.col("p01")).cast("long")).alias("n_clip_low"),
        F.sum((F.col("value") > F.col("p99")).cast("long")).alias("n_clip_high"),
        (F.round(F.sum("clip"), 4) / F.count(F.lit(1))).alias("winsor_mean"),
    )


def welch_pairs(grouped: DataFrame) -> DataFrame:
    """Pairwise Welch t/dof over a per-group (event_type, n, m, v)
    relation. NULLIF guards the degenerate zero-pooled-variance pair:
    under ANSI mode (Spark 4 default) a bare division would raise
    DIVIDE_BY_ZERO; with the guard both engines emit NULL."""
    a, b = grouped.alias("a"), grouped.alias("b")
    na, nb = F.col("a.n"), F.col("b.n")
    se_a, se_b = F.col("a.v") / na, F.col("b.v") / nb
    se2 = se_a + se_b
    return a.join(b, F.col("a.event_type") < F.col("b.event_type")).select(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(
            (F.col("a.m") - F.col("b.m")) / F.nullif(F.sqrt(se2), F.lit(0.0)),
            6,
        ).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / F.nullif(
                F.pow(se_a, 2) / (na - 1) + F.pow(se_b, 2) / (nb - 1),
                F.lit(0.0),
            ),
            4,
        ).alias("dof"),
    )


def welch_group_stats(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )


@query(
    "events_welch_ttest",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(value) AS m,
             var_samp(value) AS v
      FROM events GROUP BY event_type
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           ROUND((a.m - b.m) / NULLIF(SQRT(a.v / a.n + b.v / b.n), 0), 6)
             AS t_stat,
           ROUND(POWER(a.v / a.n + b.v / b.n, 2)
                 / NULLIF(POWER(a.v / a.n, 2) / (a.n - 1)
                          + POWER(b.v / b.n, 2) / (b.n - 1), 0), 4) AS dof
    FROM s a JOIN s b ON a.event_type < b.event_type
    """,
)
def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic (unequal variances) between every
    pair of event types — the experiment-analysis primitive. One
    mergeable-aggregate pass over the fact table produces per-group
    (n, mean, var); the pairwise t/dof arithmetic then runs over a
    group-cardinality-sized relation (theta self-join on the handful
    of aggregate rows, broadcast NL by construction — never the fact
    table)."""
    ev = load_table(spark, sf_dir, "events")
    return welch_pairs(welch_group_stats(ev))


@query(
    "events_seasonal_decompose",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             SUM(value) / COUNT(*) AS hm
      FROM events GROUP BY 1, 2
    ),
    trended AS (
      SELECT event_type, hr, hm,
             AVG(hm) OVER (PARTITION BY event_type ORDER BY hr
                           ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
               AS trend
      FROM hourly
    ),
    seasoned AS (
      SELECT event_type, hr, hm, trend,
             AVG(hm - trend) OVER (PARTITION BY event_type,
                                   EXTRACT(hour FROM hr)) AS seasonal
      FROM trended
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)                        AS n_hours,
           ROUND(stddev_samp(hm), 4)                       AS sd_series,
           ROUND(stddev_samp(hm - trend), 4)               AS sd_detrended,
           ROUND(stddev_samp(hm - trend - seasonal), 4)    AS sd_residual
    FROM seasoned GROUP BY event_type
    """,
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly mean
    series per event type: a 24-hour centered moving-average trend,
    an hour-of-day seasonal component estimated from the detrended
    series, and the residual — reported as the variance reduction at
    each stage (sd_series → sd_detrended → sd_residual), the signal a
    metrics pipeline uses to pick an anomaly threshold. One groupBy
    collapses the log to (type × hours) rows; both window passes run
    over that hourly series, so cost scales with the time span, never
    the raw event volume."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg((F.sum("value") / F.count(F.lit(1))).alias("hm"))
    w_trend = (
        Window.partitionBy("event_type").orderBy("hr").rowsBetween(-12, 11)
    )
    trended = hourly.withColumn("trend", F.avg("hm").over(w_trend))
    w_season = Window.partitionBy("event_type", F.hour("hr"))
    seasoned = trended.withColumn(
        "seasonal", F.avg(F.col("hm") - F.col("trend")).over(w_season)
    )
    resid = F.col("hm") - F.col("trend") - F.col("seasonal")
    return seasoned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.round(F.stddev_samp("hm"), 4).alias("sd_series"),
        F.round(F.stddev_samp(F.col("hm") - F.col("trend")), 4).alias(
            "sd_detrended"
        ),
        F.round(F.stddev_samp(resid), 4).alias("sd_residual"),
    )


@query(
    "events_anomaly_hours",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             SUM(value) / COUNT(*) AS hm
      FROM events GROUP BY 1, 2
    ),
    trended AS (
      SELECT event_type, hr, hm,
             AVG(hm) OVER (PARTITION BY event_type ORDER BY hr
                           ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)
               AS trend
      FROM hourly
    ),
    seasoned AS (
      SELECT event_type, hr, hm, trend,
             AVG(hm - trend) OVER (PARTITION BY event_type,
                                   EXTRACT(hour FROM hr)) AS seasonal
      FROM trended
    ),
    scored AS (
      SELECT event_type, hr,
             hm - trend - seasonal AS resid,
             stddev_samp(hm - trend - seasonal)
               OVER (PARTITION BY event_type) AS sd
      FROM seasoned
    )
    SELECT event_type, CAST(hr AS TIMESTAMP) AS hr,
           ROUND(resid / NULLIF(sd, 0), 4) AS z
    FROM scored
    WHERE ABS(ROUND(resid / NULLIF(sd, 0), 4)) > 3
    """,
)
def events_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-residual anomaly detection: hours whose residual after
    removing the 24h moving-average trend and hour-of-day seasonal
    exceeds 3 sigma of the per-type residual distribution — the
    decomposition from events_seasonal_decompose turned into an alert
    list. Same scale shape: everything after the first groupBy runs
    over the (type x hours) series. The 3-sigma comparison uses the
    raw doubles (identical fold order both engines); only the reported
    z-score is rounded."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg((F.sum("value") / F.count(F.lit(1))).alias("hm"))
    w_trend = (
        Window.partitionBy("event_type").orderBy("hr").rowsBetween(-12, 11)
    )
    trended = hourly.withColumn("trend", F.avg("hm").over(w_trend))
    w_season = Window.partitionBy("event_type", F.hour("hr"))
    seasoned = trended.withColumn(
        "seasonal", F.avg(F.col("hm") - F.col("trend")).over(w_season)
    )
    scored = seasoned.select(
        "event_type",
        "hr",
        (F.col("hm") - F.col("trend") - F.col("seasonal")).alias("resid"),
    ).withColumn(
        "sd",
        F.stddev_samp("resid").over(Window.partitionBy("event_type")),
    )
    # the cutoff compares the ROUNDED z on both engines (identical
    # doubles after rounding — an unrounded 3*sd boundary could
    # straddle the engines' last-ulp difference) and NULLIF guards the
    # all-residuals-equal degenerate type under ANSI mode
    z = F.round(F.col("resid") / F.nullif(F.col("sd"), F.lit(0.0)), 4)
    return scored.filter(F.abs(z) > 3).select(
        "event_type",
        F.col("hr").cast("timestamp_ntz").alias("hr"),
        z.alias("z"),
    )


_PATH_LEN = 5  # first-N event types per user


@query(
    "events_path_analysis",
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(CAST(ts AS TIMESTAMP)),
                                         event_id) AS rn
      FROM events
    ),
    p AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= {_PATH_LEN} GROUP BY user_id
    ),
    c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users FROM p
          GROUP BY path)
    SELECT path, n_users,
           CAST(ROW_NUMBER() OVER (ORDER BY n_users DESC, path) AS INT)
             AS rank
    FROM c
    ORDER BY rank LIMIT 25
    """,
)
def events_path_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys (path analysis, the product-analytics staple
    beyond transition bigrams): each user's first 5 event types in
    time order, joined into a path string, counted across users, top
    25 reported. One shuffle on user_id for the ordering window, one
    on the path string for the count; the ranked window then runs
    over the AGGREGATED path relation — path-vocabulary-sized, not
    user-sized — so the single-partition global sort is cheap at any
    scale (same argument as text_vocab_coverage). (ts, event_id)
    totally orders each user's stream; (n_users DESC, path) totally
    orders the cutoff."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    paths = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PATH_LEN)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    rank_w = Window.orderBy(F.desc("n_users"), "path")
    return (
        counts.select(
            "path", "n_users", F.row_number().over(rank_w).cast("int").alias("rank")
        )
        .orderBy("rank")
        .limit(25)
    )


@query(
    "events_funnel_conversion",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    v AS (SELECT user_id, MIN(us) AS vt FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(us) AS ct FROM e JOIN v USING (user_id)
          WHERE event_type = 'click' AND us > vt GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(us) AS pt FROM e JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND us > ct GROUP BY e.user_id),
    n AS (SELECT (SELECT COUNT(*) FROM v) AS n1,
                 (SELECT COUNT(*) FROM c) AS n2,
                 (SELECT COUNT(*) FROM p) AS n3)
    SELECT step, n_users, conv_from_prev, conv_from_first FROM (
      SELECT '1_view' AS step, CAST(n1 AS BIGINT) AS n_users,
             1.0 AS conv_from_prev, 1.0 AS conv_from_first FROM n
      UNION ALL
      SELECT '2_click', CAST(n2 AS BIGINT),
             ROUND(n2 / CAST(n1 AS DOUBLE), 6),
             ROUND(n2 / CAST(n1 AS DOUBLE), 6) FROM n
      UNION ALL
      SELECT '3_purchase', CAST(n3 AS BIGINT),
             ROUND(n3 / CAST(n2 AS DOUBLE), 6),
             ROUND(n3 / CAST(n1 AS DOUBLE), 6) FROM n
    )
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase): a user
    counts at step k only if step k's FIRST qualifying event is
    strictly after their step-(k-1) anchor — the product-analytics
    staple that path_analysis's unordered journeys cannot answer.
    Each stage is a partial-aggregated min() on user_id followed by a
    user-keyed join, so the whole funnel is |users|-bounded state on
    shuffles keyed by one uniform key; at 100 TB no stage ever holds
    more than first-event-per-user, and the output is 3 rows.
    Conversion ratios divide two user counts (ints, denominator far
    under the 15625 ROUND-safety bound), rounded identically in both
    engines. Anchors compare on the raw micros instant (us >, strict)
    so ties exclude identically in both engines."""
    return _funnel_result(spark, sf_dir, t_us=None)


_FUNNEL_T_US = 24 * 3600 * 1_000_000  # 24-hour step-to-step window


def _funnel_result(
    spark: SparkSession, sf_dir: str, t_us: int | None
) -> DataFrame:
    """Shared funnel executor (unbounded when t_us is None, 24h-boxed
    otherwise). Plan shape: the three stage anchors chain v → c → p
    (each one partial-aggregated min() keyed on user_id), then ONE
    left-joined anchor row per view-user feeds a SINGLE count
    aggregate — the step counts are never re-derived as separate
    aggregate trees (the original form compiled each count's whole
    upstream chain again: 18 fact scans at sf0.01; this form plans 3
    stage scans plus reused exchanges)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts_us"
    )

    def within(anchor: str) -> F.Column:
        after = F.col("ts_us") > F.col(anchor)
        if t_us is None:
            return after
        return after & (F.col("ts_us") <= F.col(anchor) + F.lit(t_us))

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("vt"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(within("vt"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("ct"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(within("ct"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("pt"))
    )
    a = v.join(c, "user_id", "left").join(p, "user_id", "left")
    n = a.agg(
        F.count("vt").alias("n1"),
        F.count("ct").alias("n2"),
        F.count("pt").alias("n3"),
    )
    one = F.lit(1.0)
    r = lambda x, y: F.round(  # noqa: E731
        F.col(x) / F.col(y).cast("double"), 6
    )
    s1 = n.select(
        F.lit("1_view").alias("step"),
        F.col("n1").cast("long").alias("n_users"),
        one.alias("conv_from_prev"),
        one.alias("conv_from_first"),
    )
    s2 = n.select(
        F.lit("2_click").alias("step"),
        F.col("n2").cast("long").alias("n_users"),
        r("n2", "n1").alias("conv_from_prev"),
        r("n2", "n1").alias("conv_from_first"),
    )
    s3 = n.select(
        F.lit("3_purchase").alias("step"),
        F.col("n3").cast("long").alias("n_users"),
        r("n3", "n2").alias("conv_from_prev"),
        r("n3", "n1").alias("conv_from_first"),
    )
    return s1.unionAll(s2).unionAll(s3)


@query(
    "events_funnel_windowed",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    v AS (SELECT user_id, MIN(us) AS vt FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(us) AS ct FROM e JOIN v USING (user_id)
          WHERE event_type = 'click' AND us > vt
            AND us <= vt + {_FUNNEL_T_US} GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(us) AS pt FROM e JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND us > ct
            AND us <= ct + {_FUNNEL_T_US} GROUP BY e.user_id),
    n AS (SELECT (SELECT COUNT(*) FROM v) AS n1,
                 (SELECT COUNT(*) FROM c) AS n2,
                 (SELECT COUNT(*) FROM p) AS n3)
    SELECT step, n_users, conv_from_prev, conv_from_first FROM (
      SELECT '1_view' AS step, CAST(n1 AS BIGINT) AS n_users,
             1.0 AS conv_from_prev, 1.0 AS conv_from_first FROM n
      UNION ALL
      SELECT '2_click', CAST(n2 AS BIGINT),
             ROUND(n2 / CAST(n1 AS DOUBLE), 6),
             ROUND(n2 / CAST(n1 AS DOUBLE), 6) FROM n
      UNION ALL
      SELECT '3_purchase', CAST(n3 AS BIGINT),
             ROUND(n3 / CAST(n2 AS DOUBLE), 6),
             ROUND(n3 / CAST(n1 AS DOUBLE), 6) FROM n
    )
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-boxed funnel conversion — the form product analytics
    actually ships: step k counts only if its first qualifying event
    falls within 24 h AFTER the step-(k-1) anchor (strictly after,
    inclusive upper bound on raw micros — both engines compare the
    identical integers). Same |users|-bounded join shape as
    events_funnel_conversion: each stage is a partial-aggregated
    min() keyed on user_id; the time bound is a row filter before the
    aggregate, so no extra shuffle or state. At sf0.01 the 24 h box
    prunes the funnel 150 → 60 → 25 vs the unbounded variant —
    the two queries together expose drop-off vs slow-burn users."""
    return _funnel_result(spark, sf_dir, t_us=_FUNNEL_T_US)


@query(
    "events_cusum_changepoint",
    oracle="""
    WITH RECURSIVE h AS (
      SELECT event_type AS et,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             CAST(COUNT(*) AS DOUBLE) AS x
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT et, x,
             CAST(ROW_NUMBER() OVER (PARTITION BY et ORDER BY hr) AS BIGINT)
               AS rn
      FROM h
    ),
    parm AS (
      SELECT et, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
             SUM(x * x) AS sxx
      FROM seq GROUP BY et
    ),
    parm2 AS (
      SELECT et, n, sx / n + 0.5 * SQRT((sxx - sx * sx / n) / n) AS drift,
             4 * SQRT((sxx - sx * sx / n) / n) AS hlim
      FROM parm
    ),
    c AS (
      SELECT seq.et, seq.rn,
             GREATEST(0.0, seq.x - p.drift) AS s
      FROM seq JOIN parm2 p USING (et) WHERE seq.rn = 1
      UNION ALL
      SELECT seq.et, seq.rn, GREATEST(0.0, c.s + seq.x - p.drift)
      FROM c
      JOIN seq ON seq.et = c.et AND seq.rn = c.rn + 1
      JOIN parm2 p ON p.et = seq.et
    )
    SELECT c.et AS event_type, p.n AS n_hours,
           ROUND(MAX(c.s), 6) AS max_cusum,
           CAST(COALESCE(MIN(CASE WHEN c.s > p.hlim THEN c.rn END), 0)
                AS BIGINT) AS first_alarm_rn
    FROM c JOIN parm2 p ON p.et = c.et
    GROUP BY c.et, p.n
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM changepoint detection per event type over the
    hourly series — statistical process control for pipeline volume
    monitoring: S_t = max(0, S_{t-1} + x_t - (mean + 0.5·sd)), alarm
    when S exceeds 4·sd. The recursion is inherently sequential, but
    the SEQUENCE is the hourly grid — length = time span, NOT event
    volume — so it folds JVM-side over a per-type collected array
    (span-bounded, ~10^4 entries/year) after one partial-agg shuffle
    of the raw events; the corpus itself is never sequenced.
    Determinism: mean/sd come from explicit integer-valued sums (not
    engine-variant VAR_POP fold orders), the fold adds the identical
    terms in the identical order as the oracle's recursive CTE, and
    the alarm compares bit-identical doubles — so no rounding is
    needed before the threshold compare."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        F.col("event_type").alias("et"),
        F.date_trunc("hour", F.col("ts")).alias("hr"),
    ).agg(F.count(F.lit(1)).cast("double").alias("x"))
    w = Window.partitionBy("et").orderBy("hr")
    seq = h.select(
        "et", "x", F.row_number().over(w).cast("long").alias("rn")
    )
    g = seq.groupBy("et").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sort_array(F.collect_list(F.struct("rn", "x"))).alias("xs"),
    )
    sd = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / F.col("n")
    )
    g = g.withColumn("drift", F.col("sx") / F.col("n") + 0.5 * sd).withColumn(
        "hlim", 4 * sd
    )
    init = F.struct(
        F.lit(0.0).alias("s"),
        F.lit(0.0).alias("mx"),
        F.lit(0).cast("long").alias("al"),
    )

    def step(acc, e):
        s2 = F.greatest(F.lit(0.0), acc["s"] + e["x"] - F.col("drift"))
        return F.struct(
            s2.alias("s"),
            F.greatest(acc["mx"], s2).alias("mx"),
            F.when(acc["al"] > 0, acc["al"])
            .when(s2 > F.col("hlim"), e["rn"])
            .otherwise(F.lit(0))
            .cast("long")
            .alias("al"),
        )

    res = F.aggregate(F.col("xs"), init, step)
    return g.select(
        F.col("et").alias("event_type"),
        F.col("n").alias("n_hours"),
        F.round(res["mx"], 6).alias("max_cusum"),
        res["al"].alias("first_alarm_rn"),
    )


@query(
    "events_scd2_intervals",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_type, us,
             CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    grp AS (
      SELECT user_id, event_type, us,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS g
      FROM flagged
    ),
    runs AS (
      SELECT user_id, MIN(event_type) AS status,
             MIN(us) AS valid_from_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM grp GROUP BY user_id, g
    )
    SELECT user_id, status, valid_from_us,
           COALESCE(LEAD(valid_from_us)
                      OVER (PARTITION BY user_id ORDER BY valid_from_us),
                    0) AS valid_to_us,
           LEAD(valid_from_us)
             OVER (PARTITION BY user_id ORDER BY valid_from_us) IS NULL
             AS is_current,
           n_events
    FROM runs
    """,
)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history from an event log: per user, each change of
    event_type opens a new validity interval [valid_from, valid_to)
    (the half-open convention), closed by the next change; the open
    interval is flagged is_current — the warehouse dimension-history
    staple built from the classic gaps-and-islands run grouping
    (lag-change flag → running change count → per-run aggregate →
    lead for the closing edge).

    Scale: every window is PARTITIONED BY user_id — state per task is
    one user's events, so the op parallelizes over users with one
    shuffle; nothing global. Ties in ts break on event_id in the run
    window so both engines see the same total order; the lead over
    runs needs no tie-break (valid_from is unique per user by
    construction: each run starts at a distinct min timestamp)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts_us"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    chg = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")),
        F.lit(1),
    ).otherwise(F.lit(0))
    grp = ev.withColumn("chg", chg).withColumn(
        "g",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = grp.groupBy("user_id", "g").agg(
        F.min("event_type").alias("status"),
        F.min("ts_us").alias("valid_from_us"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from_us")
    nxt = F.lead("valid_from_us").over(w2)
    return runs.select(
        "user_id",
        "status",
        "valid_from_us",
        F.coalesce(nxt, F.lit(0)).alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
        "n_events",
    )


@query(
    "mv_incremental_refresh",
    oracle="""
    SELECT event_type,
           CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS value_sum
    FROM events
    GROUP BY 1, 2
    """,
)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the per-(type, hour)
    aggregate MV is refreshed by merging the OLD MV with the delta
    aggregate of newly-arrived rows (event_id % 5 = 4 stands in for
    the new batch) — one full-outer join + coalesced partial-state
    merge, the Delta-Live-Tables / Materialize refresh shape. Because
    count and sum are associative partial states, merge(old, delta)
    must equal the full recompute — and the ORACLE IS the full
    recompute, so a pass proves the incremental path bit-for-bit.

    Scale: the delta aggregate touches only the batch; the merge join
    is keyed on the MV's (type, hour) key — MV-sized, not fact-sized.
    At 100 TB the old MV is a stored table and the refresh cost is
    O(batch) + O(MV), never a rescan of history."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hr"),
        "value",
    )
    is_new = F.col("event_id") % 5 == 4

    def agg(df: DataFrame, n: str, s: str) -> DataFrame:
        return df.groupBy("event_type", "hr").agg(
            F.count(F.lit(1)).cast("long").alias(n),
            F.sum("value").alias(s),
        )

    old = agg(ev.filter(~is_new), "n_old", "s_old")
    delta = agg(ev.filter(is_new), "n_new", "s_new")
    merged = old.join(delta, ["event_type", "hr"], "full_outer")
    zero_l = F.lit(0).cast("long")
    return merged.select(
        "event_type",
        "hr",
        (F.coalesce("n_old", zero_l) + F.coalesce("n_new", zero_l)).alias(
            "n_events"
        ),
        F.round(
            F.coalesce("s_old", F.lit(0.0)) + F.coalesce("s_new", F.lit(0.0)),
            2,
        ).alias("value_sum"),
    )


@query(
    "events_dau_wau_mau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud),
    contrib AS (
      SELECT user_id, d + to_days(CAST(g.o AS INT)) AS target_d, g.o
      FROM ud, LATERAL (SELECT unnest(generate_series(0, 27)) AS o) g
    )
    SELECT CAST(days.d AS TIMESTAMP) AS day,
           CAST(COUNT(DISTINCT CASE WHEN c.o = 0 THEN c.user_id END)
                AS BIGINT) AS dau,
           CAST(COUNT(DISTINCT CASE WHEN c.o < 7 THEN c.user_id END)
                AS BIGINT) AS wau,
           CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS mau
    FROM days JOIN contrib c ON c.target_d = days.d
    GROUP BY days.d
    """,
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling active users (DAU / 7-day WAU / 28-day MAU) — the
    product-analytics headline metric. Rolling COUNT DISTINCT cannot
    use a window frame (distincts don't merge), so each (user, day)
    activity row is EXPLODED into the 28 target days it contributes
    to and the per-day distinct count is one aggregate — cost is
    |user-days| x 28 rows through one shuffle, linear in activity and
    independent of raw event volume (the user-day relation is the
    deduplication of the log). Only days with actual activity are
    emitted (join against observed days), so leading days carry
    partial windows exactly as observed. The HLL-sketch variant
    (agg_hll_sketch_union) is the approximate path when exactness can
    be traded for mergeable per-day sketches."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    )
    ud = ev.distinct()
    days = ud.select("d").distinct()
    contrib = ud.select(
        "user_id",
        "d",
        F.explode(F.sequence(F.lit(0), F.lit(27))).alias("o"),
    ).select(
        "user_id",
        "o",
        F.date_add(F.col("d").cast("date"), F.col("o"))
        .cast("timestamp")
        .alias("target_d"),
    )
    return (
        days.join(contrib, days.d == contrib.target_d)
        .groupBy(days.d.alias("day"))
        .agg(
            F.countDistinct(
                F.when(F.col("o") == 0, F.col("user_id"))
            ).cast("long").alias("dau"),
            F.countDistinct(
                F.when(F.col("o") < 7, F.col("user_id"))
            ).cast("long").alias("wau"),
            F.countDistinct("user_id").cast("long").alias("mau"),
        )
    )


_ATTR_LOOKBACK_US = 6 * 3600 * 1_000_000  # 6-hour attribution window


@query(
    "events_attribution_last_touch",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    conv AS (SELECT user_id, event_id AS conv_id, us AS conv_us
             FROM e WHERE event_type = 'purchase'),
    touch AS (SELECT user_id, event_id, event_type, us FROM e
              WHERE event_type IN ('view', 'click')),
    attributed AS (
      SELECT c.conv_id, t.event_type AS channel
      FROM conv c JOIN touch t
        ON t.user_id = c.user_id
       AND t.us < c.conv_us
       AND t.us >= c.conv_us - {_ATTR_LOOKBACK_US}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY c.conv_id
                                 ORDER BY t.us DESC, t.event_id DESC) = 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM conv)
    SELECT a.channel, CAST(COUNT(*) AS BIGINT) AS n_conversions,
           ROUND(CAST(COUNT(*) AS DOUBLE) / n.total, 6) AS share_of_conv
    FROM attributed a CROSS JOIN n
    GROUP BY a.channel, n.total
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase credits the
    most recent view/click touchpoint within a 6-hour lookback —
    the marketing staple behind channel ROI. Shape: the conv×touch
    join is keyed on user_id (per-user touch lists, never a cross
    join across users) with the lookback bound as a row predicate;
    the per-conversion argmax is a window PARTITIONED BY conversion
    id — state bounded by one conversion's in-window touches. Output
    is |channels| rows with conversion shares (integer-count ratio,
    ROUND-safe at these denominators). Unattributed purchases (no
    touch in window) are excluded, matching the standard
    'direct/unattributed' bucket being reported separately."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts_us"
    )
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.col("ts_us").alias("conv_us"),
    )
    touch = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("channel"),
        F.col("ts_us").alias("touch_us"),
    )
    joined = conv.join(touch, "user_id").filter(
        (F.col("touch_us") < F.col("conv_us"))
        & (F.col("touch_us") >= F.col("conv_us") - F.lit(_ATTR_LOOKBACK_US))
    )
    w = Window.partitionBy("conv_id").orderBy(
        F.col("touch_us").desc(), F.col("touch_id").desc()
    )
    attributed = (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("conv_id", "channel")
    )
    n = conv.agg(F.count(F.lit(1)).cast("long").alias("total"))
    return (
        attributed.groupBy("channel")
        .agg(F.count(F.lit(1)).cast("long").alias("n_conversions"))
        .join(F.broadcast(n))
        .select(
            "channel",
            "n_conversions",
            F.round(
                F.col("n_conversions").cast("double") / F.col("total"), 6
            ).alias("share_of_conv"),
        )
    )


@query(
    "join_point_in_time_scd2",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    st AS (SELECT * FROM e WHERE event_type <> 'error'),
    flagged AS (
      SELECT user_id, event_type, us,
             CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM st
      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    grp AS (
      SELECT user_id, event_type, us,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS g
      FROM flagged
    ),
    runs AS (
      SELECT user_id, MIN(event_type) AS status,
             MIN(us) AS valid_from_us
      FROM grp GROUP BY user_id, g
    ),
    iv AS (
      SELECT user_id, status, valid_from_us,
             LEAD(valid_from_us)
               OVER (PARTITION BY user_id ORDER BY valid_from_us)
               AS valid_to_us
      FROM runs
    ),
    err AS (SELECT user_id, event_id, us FROM e
            WHERE event_type = 'error')
    SELECT iv.status AS status_at_error,
           CAST(COUNT(*) AS BIGINT) AS n_errors,
           CAST(COUNT(DISTINCT err.user_id) AS BIGINT) AS n_users
    FROM err JOIN iv
      ON iv.user_id = err.user_id
     AND err.us >= iv.valid_from_us
     AND (iv.valid_to_us IS NULL OR err.us < iv.valid_to_us)
    GROUP BY iv.status
    """,
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join — the feature-store correctness staple: each
    'error' event joins the SCD2 status interval VALID AT its
    timestamp ([valid_from, valid_to) half-open, open interval
    NULL-bounded), so features reflect what was knowable AT event
    time, never the future (the leakage a naive latest-value join
    causes). The interval relation is the events_scd2_intervals
    derivation; the PIT join is user-keyed with the containment
    predicate as a post-join filter — per-user interval lists are
    run-length-bounded, so the join never crosses users, and the
    output aggregates to |statuses| rows. Status intervals derive
    from the NON-error state events, so an error's PIT status is the
    last state entered before it; errors preceding any state event
    drop out (the standard 'no feature yet' bucket)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts_us"
    )
    state = ev.filter(F.col("event_type") != "error")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    chg = F.when(
        ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")),
        F.lit(1),
    ).otherwise(F.lit(0))
    grp = state.withColumn("chg", chg).withColumn(
        "g",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    runs = grp.groupBy("user_id", "g").agg(
        F.min("event_type").alias("status"),
        F.min("ts_us").alias("valid_from_us"),
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from_us")
    iv = runs.select(
        F.col("user_id").alias("iv_user"),
        "status",
        "valid_from_us",
        F.lead("valid_from_us").over(w2).alias("valid_to_us"),
    )
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", "event_id", F.col("ts_us").alias("err_us")
    )
    pit = err.join(iv, err.user_id == iv.iv_user).filter(
        (F.col("err_us") >= F.col("valid_from_us"))
        & (
            F.col("valid_to_us").isNull()
            | (F.col("err_us") < F.col("valid_to_us"))
        )
    )
    return pit.groupBy(F.col("status").alias("status_at_error")).agg(
        F.count(F.lit(1)).cast("long").alias("n_errors"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@query(
    "events_forecast_backtest",
    oracle="""
    WITH h AS (
      SELECT event_type AS et,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    cutoff AS (
      SELECT date_trunc('day', MAX(hr)) - INTERVAL 6 DAY AS c FROM h
    ),
    train AS (SELECT h.* FROM h, cutoff WHERE h.hr < cutoff.c),
    test AS (SELECT h.* FROM h, cutoff WHERE h.hr >= cutoff.c),
    prof AS (
      SELECT et, dayofweek(hr) AS dow, hour(hr) AS hod,
             CAST(SUM(n) AS DOUBLE) / COUNT(*) AS pred
      FROM train GROUP BY 1, 2, 3
    )
    SELECT t.et AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_test_hours,
           ROUND(SUM(ABS(p.pred - t.n)) / COUNT(*), 4) AS mae,
           ROUND(SUM(ABS(p.pred - t.n) / t.n) / COUNT(*), 4) AS mape
    FROM test t
    JOIN prof p ON p.et = t.et AND p.dow = dayofweek(t.hr)
               AND p.hod = hour(t.hr)
    GROUP BY t.et
    """,
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every real
    forecasting system must beat, evaluated the honest way: the last
    7 days are held out, each held-out hour is predicted by the TRAIN
    period's mean count for the same (day-of-week, hour-of-day) and
    event type, and per-type MAE/MAPE are reported. The profile is
    |types| x 7 x 24 rows (time-span-bounded, never event-bounded);
    the backtest join is a broadcast of that profile onto the held-out
    hours. Only observed hours participate on both sides — identical
    in both engines. All predictor inputs are integer sums, so both
    engines build the same doubles; error sums round at 4dp."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    )
    h = ev.groupBy(F.col("event_type").alias("et"), "hr").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    cutoff = h.agg(
        F.date_trunc("day", F.max("hr")).alias("mx")
    ).select((F.col("mx") - F.expr("INTERVAL 6 DAYS")).alias("c"))
    hc = h.join(F.broadcast(cutoff))
    train = hc.filter(F.col("hr") < F.col("c"))
    test = hc.filter(F.col("hr") >= F.col("c"))
    prof = train.groupBy(
        "et",
        F.dayofweek("hr").alias("dow"),
        F.hour("hr").alias("hod"),
    ).agg((F.sum("n").cast("double") / F.count(F.lit(1))).alias("pred"))
    joined = test.join(
        F.broadcast(prof),
        (prof.et == test.et)
        & (prof.dow == F.dayofweek(test.hr))
        & (prof.hod == F.hour(test.hr)),
    )
    err = F.abs(prof.pred - test.n)
    return joined.groupBy(test.et.alias("event_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_test_hours"),
        F.round(F.sum(err) / F.count(F.lit(1)), 4).alias("mae"),
        F.round(
            F.sum(err / test.n) / F.count(F.lit(1)), 4
        ).alias("mape"),
    )


@query(
    "events_rolling_corr",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', MIN(CAST(ts AS TIMESTAMP))) AS lo,
             date_trunc('hour', MAX(CAST(ts AS TIMESTAMP))) AS hi
      FROM events WHERE event_type IN ('click', 'view')
    ),
    spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                  AS TIMESTAMP) AS hr
      FROM bounds
    ),
    hc AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS clicks,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS views
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
    ),
    filled AS (
      SELECT s.hr, COALESCE(hc.clicks, 0) AS clicks,
             COALESCE(hc.views, 0) AS views
      FROM spine s LEFT JOIN hc ON s.hr = hc.hr
    ),
    roll AS (
      SELECT hr, clicks, views,
             COUNT(*) OVER w AS n_window,
             SUM(clicks) OVER w AS sx, SUM(views) OVER w AS sy,
             SUM(clicks * views) OVER w AS sxy,
             SUM(clicks * clicks) OVER w AS sxx,
             SUM(views * views) OVER w AS syy
      FROM filled
      WINDOW w AS (ORDER BY hr ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT hr, CAST(clicks AS BIGINT) AS clicks,
           CAST(views AS BIGINT) AS views,
           CASE WHEN (sxx - sx * sx / 24) > 1e-12
                 AND (syy - sy * sy / 24) > 1e-12
                THEN ROUND((sxy - sx * sy / 24)
                           / sqrt((sxx - sx * sx / 24)
                                  * (syy - sy * sy / 24)), 6)
                ELSE NULL END AS corr_24h
    FROM roll WHERE n_window = 24
    """,
)
def events_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-hour Pearson correlation between the hourly 'click'
    and 'view' count series — the co-movement diagnostic behind
    "did these two metrics decouple?" alerting. Hour spine built with
    sequence() so silent hours contribute zeros instead of vanishing
    (a missing-row gap would silently shrink the window and bias the
    correlation). The window is over the HOUR spine — bounded by the
    calendar span of the data, not its row count — so the empty
    partitionBy is the documented bounded-domain case; the per-hour
    counts underneath shuffle in parallel. The correlation is derived
    from explicit moment sums with a guarded denominator: Spark's
    window corr() throws DIVIDE_BY_ZERO under ANSI mode on a
    constant 24-hour stretch where DuckDB's returns NULL, so neither
    engine's builtin is used."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    hr = F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz")
    hc = ev.groupBy(hr.alias("hr")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("clicks"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("double")
        .alias("views"),
    )
    spine = (
        ev.agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr")
        )
        .select(F.col("hr").cast("timestamp_ntz").alias("hr"))
    )
    filled = spine.join(hc, "hr", "left").select(
        "hr",
        F.coalesce("clicks", F.lit(0.0)).alias("clicks"),
        F.coalesce("views", F.lit(0.0)).alias("views"),
    )
    w = Window.orderBy("hr").rowsBetween(-23, 0)
    roll = filled.select(
        "hr",
        "clicks",
        "views",
        F.count(F.lit(1)).over(w).alias("n_window"),
        F.sum("clicks").over(w).alias("sx"),
        F.sum("views").over(w).alias("sy"),
        F.sum(F.col("clicks") * F.col("views")).over(w).alias("sxy"),
        F.sum(F.col("clicks") * F.col("clicks")).over(w).alias("sxx"),
        F.sum(F.col("views") * F.col("views")).over(w).alias("syy"),
    )
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / 24
    vy = F.col("syy") - F.col("sy") * F.col("sy") / 24
    cov = F.col("sxy") - F.col("sx") * F.col("sy") / 24
    return roll.filter(F.col("n_window") == 24).select(
        "hr",
        F.col("clicks").cast("long").alias("clicks"),
        F.col("views").cast("long").alias("views"),
        F.when(
            (vx > 1e-12) & (vy > 1e-12),
            F.round(cov / F.sqrt(vx * vy), 6),
        ).alias("corr_24h"),
    )


@query(
    "events_kaplan_meier",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS m FROM events),
    users AS (
      SELECT user_id,
             CAST(datediff('day',
                           date_trunc('day', MIN(CAST(ts AS TIMESTAMP))),
                           date_trunc('day', MAX(CAST(ts AS TIMESTAMP))))
                  AS INT) AS dur,
             CASE WHEN MAX(CAST(ts AS TIMESTAMP))
                       < (SELECT m FROM mx) - INTERVAL 7 DAY
                  THEN 1 ELSE 0 END AS churned
      FROM events GROUP BY user_id
    ),
    at_t AS (
      SELECT dur AS t, CAST(SUM(churned) AS BIGINT) AS d,
             CAST(SUM(1 - churned) AS BIGINT) AS c
      FROM users GROUP BY dur
    ),
    risk AS (
      SELECT t, d, c,
             CAST((SELECT COUNT(*) FROM users) AS BIGINT)
               - COALESCE(SUM(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_at_risk
      FROM at_t
    ),
    surv AS (
      SELECT t, d, c, n_at_risk,
             MAX(CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t) AS hit_zero,
             SUM(CASE WHEN d < n_at_risk
                      THEN ln(1.0 - CAST(d AS DOUBLE) / n_at_risk)
                      ELSE 0 END) OVER (ORDER BY t) AS logsum
      FROM risk
    )
    SELECT t, d AS n_churned, c AS n_censored,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CASE WHEN hit_zero = 1 THEN 0.0
                ELSE ROUND(exp(logsum), 6) END AS survival
    FROM surv
    """,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of user lifetime (days between
    first and last activity), right-censoring users still active in
    the final 7 days of the corpus. S(t) is the running product of
    (1 - d_i/n_i) computed as exp(sum(ln .)) — Spark's log() returns
    NULL at 0 where DuckDB returns -inf, so the d_i = n_i terminal
    factor is handled by an explicit hit-zero flag on both sides
    instead of relying on engine-specific ln(0). The ordered windows
    run over DISTINCT lifetime days — bounded by the calendar span,
    not the user count; the per-user aggregate underneath is the only
    full-data shuffle."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    mx = ev.agg(F.max("ts").alias("m"))
    users = (
        ev.groupBy("user_id")
        .agg(
            F.datediff(F.max(day), F.min(day)).cast("int").alias("dur"),
            F.max("ts").alias("last_ts"),
        )
        .join(F.broadcast(mx))
        .select(
            "dur",
            F.when(
                F.col("last_ts") < F.col("m") - F.expr("INTERVAL 7 DAYS"),
                1,
            )
            .otherwise(0)
            .alias("churned"),
        )
    )
    at_t = users.groupBy(F.col("dur").alias("t")).agg(
        F.sum("churned").cast("long").alias("d"),
        F.sum(1 - F.col("churned")).cast("long").alias("c"),
    )
    total = users.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("t")
    risk = at_t.join(F.broadcast(total)).select(
        "t",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0))
        ).alias("n_at_risk"),
    )
    factor_ok = F.col("d") < F.col("n_at_risk")
    surv = risk.select(
        "t",
        "d",
        "c",
        "n_at_risk",
        F.max(F.when(~factor_ok, 1).otherwise(0)).over(wcum).alias("hit_zero"),
        F.sum(
            F.when(
                factor_ok,
                F.log(1.0 - F.col("d").cast("double") / F.col("n_at_risk")),
            ).otherwise(0.0)
        )
        .over(wcum)
        .alias("logsum"),
    )
    return surv.select(
        "t",
        F.col("d").alias("n_churned"),
        F.col("c").alias("n_censored"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("logsum"), 6))
        .alias("survival"),
    )


@query(
    "events_ab_proportion_test",
    oracle="""
    WITH users AS (
      SELECT user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4))
                  ::UBIGINT AS INT) % 2 AS arm,
             CASE WHEN COALESCE(AVG(CASE WHEN event_type = 'purchase'
                                         THEN value END), 0) >= 50
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv
      FROM users GROUP BY arm
    ),
    wide AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n_a,
             MAX(CASE WHEN arm = 0 THEN conv END) AS conv_a,
             MAX(CASE WHEN arm = 1 THEN n END) AS n_b,
             MAX(CASE WHEN arm = 1 THEN conv END) AS conv_b
      FROM arms
    )
    SELECT n_a, conv_a, n_b, conv_b,
           ROUND(CAST(conv_a AS DOUBLE) / n_a, 6) AS p_a,
           ROUND(CAST(conv_b AS DOUBLE) / n_b, 6) AS p_b,
           CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
                THEN NULL
                ELSE ROUND((CAST(conv_a AS DOUBLE) / n_a
                            - CAST(conv_b AS DOUBLE) / n_b)
                     / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                            * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                                     / (n_a + n_b))
                            * (1.0 / n_a + 1.0 / n_b)), 6) END AS z_score
    FROM wide
    """,
)
def events_ab_proportion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test over a deterministic 50/50 experiment
    split: users are hashed into arms by the first 16 bits of
    md5(user_id) (the same engine-portable hash the sampling family
    uses), conversion is "mean purchase value >= 50" (a metric with
    real variance — every user has *some* purchase, so bare
    did-purchase would be degenerate and make the pooled SE zero),
    and the z-score uses the pooled-proportion standard error with
    an explicit NULL guard on the all-converted/none-converted
    degenerate cases (Spark ANSI raises DIVIDE_BY_ZERO there; DuckDB
    does not). One user-keyed aggregate then a 2-row pivot — the
    statistic itself is computed on a single 1-row relation, so the
    heavy lifting is exactly one shuffle regardless of corpus
    size."""
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(
                F.md5(F.col("user_id").cast("string").cast("binary")), 1, 4
            ),
            16,
            10,
        ).cast("int")
        % 2
    )
    users = ev.groupBy("user_id").agg(
        F.first(arm).alias("arm"),
        F.when(
            F.coalesce(
                F.avg(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                ),
                F.lit(0.0),
            )
            >= 50,
            1,
        )
        .otherwise(0)
        .alias("converted"),
    )
    arms = users.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("conv"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == 0, F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == 1, F.col("conv"))).alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    se = F.sqrt(pool * (1.0 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    conv_tot = F.col("conv_a") + F.col("conv_b")
    n_tot = F.col("n_a") + F.col("n_b")
    return wide.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.when(
            (conv_tot != 0) & (conv_tot != n_tot),
            F.round((p_a - p_b) / se, 6),
        ).alias("z_score"),
    )


# Poisson(1) inverse-CDF thresholds (cumulative e^-1 * sum 1/k!):
# identical literal doubles on both engines so the deterministic
# md5-uniform draw maps to the identical weight.
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.919698602928606,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)
_B_REPS = 32


def _pois1_case_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t!r} THEN {w}" for w, t in enumerate(_POIS1_CDF)
    )
    return f"CASE {branches} ELSE 7 END"


@query(
    "agg_poisson_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
      SELECT e.event_id, e.value,
             unnest(generate_series(0, {_B_REPS - 1})) AS rep
      FROM events e
    ),
    draw AS (
      SELECT rep, value,
             (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)
                                       || '_' || CAST(rep AS VARCHAR)),
                                   1, 4))::UBIGINT AS INT) + 0.5)
               / 65536.0 AS u
      FROM reps
    ),
    means AS (
      SELECT rep,
             ROUND(SUM({_pois1_case_sql('u')} * value), 2)
               / SUM({_pois1_case_sql('u')}) AS m
      FROM draw GROUP BY rep
    ),
    full_mean AS (
      SELECT ROUND(SUM(value), 2) / COUNT(*) AS fm FROM events
    )
    SELECT {_B_REPS} AS n_reps,
           FLOOR(fm * 1e6) / 1e6 AS mean_value,
           FLOOR(quantile_cont(m, 0.025) * 1e6) / 1e6 AS ci_lo,
           FLOOR(quantile_cont(m, 0.975) * 1e6) / 1e6 AS ci_hi
    FROM means, full_mean
    GROUP BY fm
    """,
)
def agg_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean event value via
    the POISSON bootstrap — the resampling scheme that actually
    works distributed (Chamandy et al.): instead of drawing n rows
    with replacement (which needs global coordination), every row draws
    an independent Poisson(1) replication weight per replicate, from
    a deterministic md5 inverse-CDF lookup so both engines draw the
    identical resample. The explode to {_B_REPS} replicates looks
    like a {_B_REPS}x blowup but map-side partial aggregation
    collapses it to {_B_REPS} rows per task before the shuffle —
    one pass over the data, constant-size shuffle. Replicate means
    follow the money-grid rule (ROUND(SUM,2)/SUM(w)); the percentile
    interpolates 32 identical doubles in both engines."""
    ev = load_table(spark, sf_dir, "events")
    reps = ev.select(
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(_B_REPS - 1))).alias("rep"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.col("event_id").cast("string"),
                        F.col("rep").cast("string"),
                    ).cast("binary")
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("int")
        + 0.5
    ) / 65536.0
    # u is MATERIALIZED as a column before the CDF walk: the 8-branch
    # CASE references it eight times, and inside aggregate expressions
    # there is no common-subexpression elimination — inlined, the md5
    # chain re-evaluated per branch probe (measured ~8 s at sf0.1;
    # two-projection form ~2.5 s). Same rule as the PCM sign fixup.
    with_u = reps.select("value", "rep", u.alias("u"))
    w = F.lit(7)
    for wt, t in reversed(list(enumerate(_POIS1_CDF))):
        w = F.when(F.col("u") < t, wt).otherwise(w)
    with_w = with_u.select("value", "rep", w.alias("w"))
    means = with_w.groupBy("rep").agg(
        (
            F.round(F.sum(F.col("w") * F.col("value")), 2)
            / F.sum("w")
        ).alias("m")
    )
    full_mean = ev.agg(
        (F.round(F.sum("value"), 2) / F.count(F.lit(1))).alias("fm")
    )

    def floor6(c):
        return F.floor(c * 1e6) / 1e6

    return (
        means.agg(
            F.percentile(F.col("m"), F.lit(0.025)).alias("qlo"),
            F.percentile(F.col("m"), F.lit(0.975)).alias("qhi"),
        )
        .join(F.broadcast(full_mean))
        .select(
            F.lit(_B_REPS).alias("n_reps"),
            floor6(F.col("fm")).alias("mean_value"),
            floor6(F.col("qlo")).alias("ci_lo"),
            floor6(F.col("qhi")).alias("ci_hi"),
        )
    )


@query(
    "events_time_to_convert",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'click'
                      THEN CAST(ts AS TIMESTAMP) END) AS first_click
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT f.user_id,
             MIN(CASE WHEN e.event_type = 'purchase'
                       AND CAST(e.ts AS TIMESTAMP) >= f.first_click
                      THEN CAST(e.ts AS TIMESTAMP) END) AS first_purchase,
             f.first_click
      FROM firsts f JOIN events e ON e.user_id = f.user_id
      WHERE f.first_click IS NOT NULL
      GROUP BY f.user_id, f.first_click
    )
    SELECT CAST(FLOOR(epoch(first_purchase - first_click) / 3600.0)
                AS BIGINT) AS delay_hours,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM conv WHERE first_purchase IS NOT NULL
    GROUP BY 1
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: hours between each user's first
    'click' and their first 'purchase' at-or-after it, histogrammed
    by whole hours — the funnel-latency curve behind "how long does
    conversion take". Emitting the HISTOGRAM (not a percentile
    scalar) is deliberate scale design: exact percentiles over
    per-user delays would concentrate every delay in one reducer,
    while the bucket counts stay one user-keyed aggregate + one
    bounded-key aggregate. FLOOR (both engines truncate toward
    -inf on positive values) avoids the cast-rounds gotcha."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("first_click")
    )
    conv = (
        ev.join(firsts, "user_id")
        .filter(F.col("first_click").isNotNull())
        .groupBy("user_id", "first_click")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("first_click")),
                    F.col("ts"),
                )
            ).alias("first_purchase")
        )
    )
    delay = F.floor(
        (
            F.unix_timestamp("first_purchase")
            - F.unix_timestamp("first_click")
        )
        / 3600.0
    ).cast("long")
    return (
        conv.filter(F.col("first_purchase").isNotNull())
        .groupBy(delay.alias("delay_hours"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@query(
    "events_user_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
      FROM events
    ),
    isl AS (
      SELECT user_id, d,
             CAST(d AS DATE)
               - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INT) AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
      FROM isl GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM streaks GROUP BY user_id
    """,
)
def events_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user by the gaps-and-
    islands trick: within a user's distinct active days, day minus
    its per-user row number is CONSTANT across a consecutive run, so
    grouping on that difference splits the runs with no self-join —
    the engagement metric (current/longest streak) every retention
    dashboard carries. The only windows are partitioned by user and
    bounded by that user's active-day count (calendar-bounded), and
    the distinct + two aggregates all shuffle on user_id — one
    partitioning reused end to end."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        "d",
        F.date_sub(
            F.col("d").cast("date"), F.row_number().over(w)
        ).alias("grp"),
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("len").cast("long").alias("longest_streak"),
    )


@query(
    "events_theilsen_trend",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT CAST(datediff('day', (SELECT MIN(day) FROM daily), day)
                  AS DOUBLE) AS x, y
      FROM daily
    ),
    slopes AS (
      SELECT (b.y - a.y) / (b.x - a.x) AS s
      FROM idx a JOIN idx b ON a.x < b.x
    ),
    med AS (SELECT median(s) AS slope FROM slopes),
    icpt AS (
      SELECT median(y - med.slope * x) AS intercept
      FROM idx CROSS JOIN med
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM idx) AS n_days,
           FLOOR(med.slope * 1e6) / 1e6 AS slope,
           FLOOR(icpt.intercept * 1e6) / 1e6 AS intercept
    FROM med CROSS JOIN icpt
    """,
)
def events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event volume: the median of
    all pairwise slopes (breakdown point 29%, immune to the outlier
    days that wreck OLS) plus the median-residual intercept. The
    pairwise self-join is quadratic in DISTINCT DAYS — bounded by
    the calendar, not the corpus, the legitimate bounded-domain
    case (30 days -> 435 pairs; ten years -> 6.7M, still trivial) —
    while the daily aggregate underneath is the only full-data
    shuffle. Slopes are exact ratios of identical doubles in both
    engines; the median interpolates them identically; FLOOR-6 at
    the boundary."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    mn = daily.agg(F.min("day").alias("d0"))
    idx = daily.join(F.broadcast(mn)).select(
        F.datediff("day", "d0").cast("double").alias("x"), "y"
    )
    a, b = idx.alias("a"), idx.alias("b")
    slopes = a.join(b, F.col("a.x") < F.col("b.x")).select(
        ((F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x"))).alias(
            "s"
        )
    )
    med = slopes.agg(F.median("s").alias("slope"))
    icpt = idx.join(F.broadcast(med)).agg(
        F.median(F.col("y") - F.col("slope") * F.col("x")).alias("intercept")
    )
    n = idx.agg(F.count(F.lit(1)).cast("long").alias("n_days"))

    def floor6(c):
        return F.floor(c * 1e6) / 1e6

    return (
        n.join(F.broadcast(med))
        .join(F.broadcast(icpt))
        .select(
            "n_days",
            floor6(F.col("slope")).alias("slope"),
            floor6(F.col("intercept")).alias("intercept"),
        )
    )


@query(
    "events_max_concurrency",
    oracle="""
    WITH iv AS (
      SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             MIN(CAST(ts AS TIMESTAMP)) AS s,
             MAX(CAST(ts AS TIMESTAMP)) AS e
      FROM events GROUP BY 1, 2
    ),
    sweep AS (
      SELECT day, s AS t, 1 AS delta, user_id FROM iv
      UNION ALL
      SELECT day, e AS t, -1 AS delta, user_id FROM iv
    ),
    run AS (
      SELECT day,
             SUM(delta) OVER (ORDER BY t, delta DESC, user_id
                              ROWS UNBOUNDED PRECEDING) AS conc
      FROM sweep
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(MAX(conc) AS BIGINT) AS max_concurrent
    FROM run GROUP BY day
    """,
)
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day by the classic interval sweep: each
    user's daily activity span becomes a (+1 at start, -1 at end)
    event pair, and the maximum of the running sum over the global
    time order is the largest number of simultaneously-active users
    — capacity planning's load-peak metric. The running sum is a
    GLOBAL ordered prefix (starts sort before ends at the same
    instant so touching intervals count as concurrent), computed via
    operators/prefix.ordered_prefix — no single-task window — then
    maxed per day. The span relation is one user-day aggregate of
    the log."""
    from free_etl_spark.operators.prefix import ordered_prefix

    ev = load_table(spark, sf_dir, "events")
    iv = ev.groupBy(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    sweep = iv.select(
        "day", F.col("s").alias("t"), F.lit(1).alias("delta"), "user_id"
    ).unionAll(
        iv.select(
            "day", F.col("e").alias("t"), F.lit(-1).alias("delta"), "user_id"
        )
    )
    run = ordered_prefix(
        sweep,
        [F.col("t"), F.col("delta").desc(), F.col("user_id")],
        cache_tag="concurrency_sweep",
        sums={"conc": "delta"},
    )
    return run.groupBy(F.col("day").cast("timestamp_ntz").alias("day")).agg(
        F.max("conc").cast("long").alias("max_concurrent")
    )


@query(
    "agg_quantile_sketch",
    oracle="""
    WITH b AS (
      SELECT CAST(FLOOR(64 * LOG10(1 + value)) AS INT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events WHERE value >= 0 GROUP BY 1
    ),
    cum AS (
      SELECT bin, n,
             SUM(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS c,
             SUM(n) OVER () AS tot
      FROM b
    ),
    est AS (
      SELECT
        MIN(CASE WHEN c >= 0.50 * tot THEN bin END) AS b50,
        MIN(CASE WHEN c >= 0.95 * tot THEN bin END) AS b95,
        MIN(CASE WHEN c >= 0.99 * tot THEN bin END) AS b99,
        CAST(MAX(tot) AS BIGINT) AS n_rows
      FROM cum
    ),
    ex AS (
      SELECT quantile_cont(value, 0.50) AS q50,
             quantile_cont(value, 0.95) AS q95,
             quantile_cont(value, 0.99) AS q99
      FROM events WHERE value >= 0
    )
    SELECT n_rows,
           abs(POW(10, (b50 + 0.5) / 64.0) - 1 - q50)
             <= GREATEST(0.15 * q50, 0.5) AS p50_ok,
           abs(POW(10, (b95 + 0.5) / 64.0) - 1 - q95)
             <= GREATEST(0.15 * q95, 0.5) AS p95_ok,
           abs(POW(10, (b99 + 0.5) / 64.0) - 1 - q99)
             <= GREATEST(0.15 * q99, 0.5) AS p99_ok
    FROM est CROSS JOIN ex
    """,
)
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch: a log-spaced histogram (64 bins per
    decade of 1+value, giving ~3.7% relative bin width) whose
    per-bin counts merge associatively across partitions, streams
    and days — the property exact quantiles lack and the reason
    production monitoring uses sketches (t-digest/KLL are this plus
    adaptive bins). Quantile estimate = back-transformed midpoint of
    the first bin whose cumulative count crosses q*N; the query
    verifies p50/p95/p99 against the EXACT quantile within
    max(15%, 0.5) and exposes the booleans (the HLL-family oracle
    contract — the sketch itself is integer-deterministic). The
    cumulative walk is over the BIN relation (<=160 rows by
    construction at any corpus size)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") >= 0)
    b = ev.groupBy(
        F.floor(64 * F.log10(1 + F.col("value"))).cast("int").alias("bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = b.select(
        "bin",
        F.sum("n").over(w).alias("c"),
        F.sum("n").over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("tot"),
    )
    est = cum.agg(
        F.min(F.when(F.col("c") >= 0.50 * F.col("tot"), F.col("bin"))).alias(
            "b50"
        ),
        F.min(F.when(F.col("c") >= 0.95 * F.col("tot"), F.col("bin"))).alias(
            "b95"
        ),
        F.min(F.when(F.col("c") >= 0.99 * F.col("tot"), F.col("bin"))).alias(
            "b99"
        ),
        F.max("tot").cast("long").alias("n_rows"),
    )
    ex = ev.agg(
        F.percentile("value", F.lit(0.50)).alias("q50"),
        F.percentile("value", F.lit(0.95)).alias("q95"),
        F.percentile("value", F.lit(0.99)).alias("q99"),
    )

    def ok(bcol, qcol):
        approx = F.pow(10.0, (F.col(bcol) + 0.5) / 64.0) - 1
        return (
            F.abs(approx - F.col(qcol))
            <= F.greatest(0.15 * F.col(qcol), F.lit(0.5))
        )

    return est.join(F.broadcast(ex)).select(
        "n_rows",
        ok("b50", "q50").alias("p50_ok"),
        ok("b95", "q95").alias("p95_ok"),
        ok("b99", "q99").alias("p99_ok"),
    )


@query(
    "events_conformal_interval",
    oracle="""
    WITH tagged AS (
      SELECT event_id, event_type, value,
             CASE
               WHEN CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                         1, 4))::UBIGINT AS INT)
                    < CAST(FLOOR(0.5 * 65536) AS INT) THEN 'train'
               WHEN CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                         1, 4))::UBIGINT AS INT)
                    < CAST(FLOOR(0.75 * 65536) AS INT) THEN 'cal'
               ELSE 'test' END AS part
      FROM events
    ),
    pred AS (
      SELECT event_type, ROUND(SUM(value), 2) / COUNT(*) AS mu
      FROM tagged WHERE part = 'train' GROUP BY event_type
    ),
    cal AS (
      SELECT t.event_type,
             quantile_disc(ROUND(abs(t.value - p.mu), 6), 0.95) AS qhat,
             CAST(COUNT(*) AS BIGINT) AS n_cal
      FROM tagged t JOIN pred p ON t.event_type = p.event_type
      WHERE t.part = 'cal' GROUP BY t.event_type
    )
    SELECT t.event_type, cal.n_cal, cal.qhat AS interval_halfwidth,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           FLOOR(SUM(CASE WHEN ROUND(abs(t.value - p.mu), 6) <= cal.qhat
                          THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE) * 1e6) / 1e6 AS coverage
    FROM tagged t
    JOIN pred p ON t.event_type = p.event_type
    JOIN cal ON cal.event_type = t.event_type
    WHERE t.part = 'test'
    GROUP BY t.event_type, cal.n_cal, cal.qhat
    """,
)
def events_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals per event type: 50/25/25
    hash split (train/calibration/test), per-type mean predictor
    from train, interval half-width = the 95th DISCRETE percentile
    of calibration |residual| (an actual data value at sorted rank
    ceil(0.95*n) — matched in Spark by an explicit per-type rank, in
    DuckDB by quantile_disc), and the realized test coverage that
    conformal theory guarantees ~>= 95% distribution-free.
    Residuals are ROUND(6)-stabilized before ranking so both engines
    order identical doubles. The calibration ranking window is
    per-type over the 25% calibration slice — in production conformal
    runs the calibration set is a bounded sample by construction;
    at unbounded scale the rank would come from the log-histogram
    sketch (agg_quantile_sketch) instead."""
    ev = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(
            F.md5(F.col("event_id").cast("string").cast("binary")), 1, 4
        ),
        16,
        10,
    ).cast("int")
    part = (
        F.when(h < int(0.5 * 65536), "train")
        .when(h < int(0.75 * 65536), "cal")
        .otherwise("test")
    )
    tagged = ev.select("event_id", "event_type", "value", part.alias("part"))
    pred = (
        tagged.filter(F.col("part") == "train")
        .groupBy("event_type")
        .agg((F.round(F.sum("value"), 2) / F.count(F.lit(1))).alias("mu"))
    )
    resid = F.round(F.abs(F.col("value") - F.col("mu")), 6)
    calrows = (
        tagged.filter(F.col("part") == "cal")
        .join(F.broadcast(pred), "event_type")
        .select("event_type", "event_id", resid.alias("r"))
    )
    wrk = Window.partitionBy("event_type").orderBy("r", "event_id")
    ncal = calrows.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_cal")
    )
    ranked = calrows.withColumn("rk", F.row_number().over(wrk)).join(
        F.broadcast(ncal), "event_type"
    )
    cal = (
        ranked.filter(
            F.col("rk") == F.ceil(0.95 * F.col("n_cal")).cast("int")
        )
        .groupBy("event_type", "n_cal")
        .agg(F.min("r").alias("qhat"))
    )
    test = (
        tagged.filter(F.col("part") == "test")
        .join(F.broadcast(pred), "event_type")
        .join(F.broadcast(cal), "event_type")
    )
    covered = F.sum(F.when(resid <= F.col("qhat"), 1).otherwise(0))
    return test.groupBy("event_type", "n_cal", F.col("qhat").alias(
        "interval_halfwidth"
    )).agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        (
            F.floor(covered / F.count(F.lit(1)).cast("double") * 1e6) / 1e6
        ).alias("coverage"),
    )


@query(
    "events_periodogram",
    oracle="""
    WITH daily AS (
      SELECT CAST(datediff('day',
                           (SELECT MIN(date_trunc('day', CAST(ts AS TIMESTAMP)))
                            FROM events),
                           date_trunc('day', CAST(ts AS TIMESTAMP)))
                  AS DOUBLE) AS d,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY 1
    ),
    centered AS (
      SELECT d, ROUND(y - (SELECT SUM(y) / COUNT(*) FROM daily), 6) AS yc
      FROM daily
    ),
    per AS (SELECT unnest([2.0, 3.0, 7.0, 14.0, 30.0]) AS period)
    SELECT period,
           ROUND(POW(SUM(yc * cos(2 * pi() * d / period)), 2)
                 + POW(SUM(yc * sin(2 * pi() * d / period)), 2), 2)
             AS power
    FROM centered CROSS JOIN per
    GROUP BY period
    """,
)
def events_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete periodogram of daily event volume at candidate
    periods (2/3/7/14/30 days): spectral power |Σ y_c e^{-2πi d/T}|²
    of the mean-centered series — the seasonality detector behind
    "is this metric weekly?" (a strong 7-day peak = weekday
    pattern). Each period is two trig-weighted SUM aggregates over
    the daily relation — a 5-period cross join of a calendar-bounded
    series, all map-side math. Centered values are ROUND(6)-
    stabilized; the final power rounds to 2 (trig libm agrees to
    ~1 ulp, the summed error is orders below the grid)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    mn = daily.agg(
        F.min("day").alias("d0"),
        (F.sum("y") / F.count(F.lit(1))).alias("mu"),
    )
    centered = daily.join(F.broadcast(mn)).select(
        F.datediff("day", "d0").cast("double").alias("d"),
        F.round(F.col("y") - F.col("mu"), 6).alias("yc"),
    )
    per = spark.createDataFrame(
        [(2.0,), (3.0,), (7.0,), (14.0,), (30.0,)], "period double"
    )
    ang = 2 * F.lit(3.141592653589793) * F.col("d") / F.col("period")
    return (
        centered.crossJoin(F.broadcast(per))
        .groupBy("period")
        .agg(
            F.round(
                F.pow(F.sum(F.col("yc") * F.cos(ang)), 2)
                + F.pow(F.sum(F.col("yc") * F.sin(ang)), 2),
                2,
            ).alias("power")
        )
    )


@query(
    "events_behavior_entropy",
    oracle="""
    WITH tc AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT user_id, SUM(n) AS t FROM tc GROUP BY user_id),
    h_type AS (
      SELECT tc.user_id,
             -SUM((n / t) * ln(n / t)) AS h
      FROM tc JOIN tot ON tc.user_id = tot.user_id
      GROUP BY tc.user_id
    ),
    seq AS (
      SELECT user_id, event_type AS a,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS b
      FROM events
    ),
    pc AS (
      SELECT user_id, a, b, CAST(COUNT(*) AS DOUBLE) AS n
      FROM seq WHERE b IS NOT NULL GROUP BY 1, 2, 3
    ),
    pa AS (SELECT user_id, a, SUM(n) AS na FROM pc GROUP BY 1, 2),
    ptot AS (SELECT user_id, SUM(n) AS t FROM pc GROUP BY user_id),
    h_trans AS (
      SELECT pc.user_id,
             -SUM((pc.n / ptot.t) * ln(pc.n / pa.na)) AS h
      FROM pc JOIN pa ON pc.user_id = pa.user_id AND pc.a = pa.a
              JOIN ptot ON pc.user_id = ptot.user_id
      GROUP BY pc.user_id
    )
    SELECT tot.user_id, CAST(tot.t AS BIGINT) AS n_events,
           FLOOR(h_type.h * 1e6) / 1e6 AS type_entropy,
           FLOOR(h_trans.h * 1e6) / 1e6 AS transition_entropy
    FROM tot JOIN h_type ON h_type.user_id = tot.user_id
             JOIN h_trans ON h_trans.user_id = tot.user_id
    """,
)
def events_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral predictability per user: Shannon entropy of the
    event-type distribution plus the first-order Markov transition
    entropy rate -Σ π(a,b) ln P(b|a) — low transition entropy with
    high type entropy marks ritualized behavior (bots cycling
    through a fixed loop); both high marks noise. The bot/abuse
    screen that complements graph_kcore's structural one. All terms
    are ratios of per-user integer counts (identical doubles in both
    engines); sums run over at most |types|² per user; the only
    corpus-scale shuffles are the user-keyed aggregates and the
    per-user lag window (bounded by a user's history, the standard
    sessionize shape)."""
    ev = load_table(spark, sf_dir, "events")
    tc = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    tot = tc.groupBy("user_id").agg(F.sum("n").alias("t"))
    h_type = (
        tc.join(tot, "user_id")
        .groupBy("user_id")
        .agg(
            (-F.sum((F.col("n") / F.col("t")) * F.log(F.col("n") / F.col("t"))))
            .alias("h")
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    pc = seq.groupBy("user_id", "a", "b").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    pa = pc.groupBy("user_id", "a").agg(F.sum("n").alias("na"))
    ptot = pc.groupBy("user_id").agg(F.sum("n").alias("t"))
    h_trans = (
        pc.join(pa, ["user_id", "a"])
        .join(ptot, "user_id")
        .groupBy("user_id")
        .agg(
            (
                -F.sum(
                    (F.col("n") / F.col("t"))
                    * F.log(F.col("n") / F.col("na"))
                )
            ).alias("h")
        )
    )

    def floor6(c):
        return F.floor(c * 1e6) / 1e6

    return (
        tot.join(h_type.withColumnRenamed("h", "ht"), "user_id")
        .join(h_trans.withColumnRenamed("h", "htr"), "user_id")
        .select(
            "user_id",
            F.col("t").cast("long").alias("n_events"),
            floor6(F.col("ht")).alias("type_entropy"),
            floor6(F.col("htr")).alias("transition_entropy"),
        )
    )


@query(
    "events_chi_square_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type, hour(CAST(ts AS TIMESTAMP)) AS hr,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT c.event_type, c.hr, c.o,
             SUM(c.o) OVER (PARTITION BY c.event_type) AS rt,
             SUM(c.o) OVER (PARTITION BY c.hr) AS ct,
             SUM(c.o) OVER () AS n
      FROM cells c
    ),
    s AS (
      SELECT CAST(MAX(n) AS BIGINT) AS n,
             CAST((COUNT(DISTINCT event_type) - 1)
                  * (COUNT(DISTINCT hr) - 1) AS BIGINT) AS dof,
             SUM( (o * n - rt * ct) * (o * n - rt * ct)
                  / (CAST(n AS DOUBLE) * n * rt * ct) ) AS chi2,
             COUNT(DISTINCT event_type) AS r_cnt,
             COUNT(DISTINCT hr) AS c_cnt
      FROM m
    )
    SELECT n, dof, FLOOR(chi2 * 1e6) / 1e6 AS chi2,
           FLOOR(sqrt(chi2 / (n * LEAST(r_cnt - 1, c_cnt - 1))) * 1e6)
             / 1e6 AS cramers_v
    FROM s
    """,
)
def events_chi_square_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    hour-of-day, plus Cramer's V effect size — the categorical-drift
    screen that answers "does activity mix change across the day".
    One groupBy collapses the corpus to an r x c contingency relation
    (<=120 cells at ANY corpus size); marginals come from windows
    over those cells, never a second scan. Each term is computed as
    (O*N - rt*ct)^2 / (N*rt*ct) — a ratio of exact integer products
    (all < 2^53), so both engines sum identical doubles.
    Missing cells contribute rt*ct/N each, i.e. exactly
    (0*N - rt*ct)^2/(N*rt*ct); with this data every (type, hour)
    cell is occupied, and the cells relation is what both engines
    enumerate, so the sums range over the same terms."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.groupBy(
            "event_type", F.hour("ts").alias("hr")
        ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    m = (
        cells.withColumn("rt", F.sum("o").over(Window.partitionBy("event_type")))
        .withColumn("ct", F.sum("o").over(Window.partitionBy("hr")))
        .withColumn("n", F.sum("o").over(Window.partitionBy()))
    )
    diff = F.col("o") * F.col("n") - F.col("rt") * F.col("ct")
    s = m.agg(
        F.max("n").cast("long").alias("n"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("hr") - 1)
        )
        .cast("long")
        .alias("dof"),
        F.sum(
            diff * diff
            / (
                F.col("n").cast("double")
                * F.col("n")
                * F.col("rt")
                * F.col("ct")
            )
        ).alias("chi2"),
        F.countDistinct("event_type").alias("r_cnt"),
        F.countDistinct("hr").alias("c_cnt"),
    )
    return s.select(
        "n",
        "dof",
        (F.floor(F.col("chi2") * 1e6) / 1e6).alias("chi2"),
        (
            F.floor(
                F.sqrt(
                    F.col("chi2")
                    / (
                        F.col("n")
                        * F.least(F.col("r_cnt") - 1, F.col("c_cnt") - 1)
                    )
                )
                * 1e6
            )
            / 1e6
        ).alias("cramers_v"),
    )


@query(
    "events_activity_bitmap",
    oracle="""
    WITH base AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    masks AS (
      SELECT user_id,
             bit_or(CAST(1 AS BIGINT) << date_diff('day', base.d0,
                    CAST(ts AS DATE))) AS mask
      FROM events CROSS JOIN base
      WHERE date_diff('day', base.d0, CAST(ts AS DATE)) < 63
      GROUP BY user_id
    )
    SELECT CAST(bit_count(mask) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN (mask & 32767) <> 0
                          AND (mask & (32767 << 15)) <> 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_both_halves
    FROM masks GROUP BY 1
    """,
)
def events_activity_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity as a day-bitmap: one BIGINT per user where
    bit d = "active on day d since corpus start", built by
    bit_or(1 << day_offset) — the roaring-bitmap trick that turns
    retention analytics into bitwise ops (no per-day rows, no
    explode). Downstream: active-day histogram via bit_count, and
    both-halves retention via mask intersection with the first/second
    15-day windows. State per user is EIGHT BYTES regardless of event
    volume, vs the 28-row explode of events_dau_wau_mau — this is the
    form that survives a billion-user corpus. Bitmap covers the first
    63 days from corpus min (BIGINT width, calendar-bounded filter is
    explicit); shiftleft-by-column goes through F.expr because the
    Python shiftleft binding only accepts a literal shift."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    off = F.datediff(F.to_date("ts"), F.col("d0"))
    masks = (
        ev.join(F.broadcast(base))
        .withColumn("off", off)
        .filter(F.col("off") < 63)
        .groupBy("user_id")
        .agg(
            F.expr("bit_or(shiftleft(cast(1 as bigint), cast(off as int)))")
            .alias("mask")
        )
    )
    half1 = F.lit(32767).cast("long")
    half2 = F.lit(32767 << 15).cast("long")
    return (
        masks.groupBy(
            F.bit_count("mask").cast("long").alias("n_active_days")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(
                F.when(
                    (F.col("mask").bitwiseAND(half1) != 0)
                    & (F.col("mask").bitwiseAND(half2) != 0),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_both_halves"),
        )
    )


@query(
    "events_sequence_pattern",
    oracle="""
    WITH sym AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(length(regexp_extract_all(s, 'v[^e]*?c[^e]*?p'))
                AS BIGINT) AS n_matches
    FROM sym
    WHERE length(regexp_extract_all(s, 'v[^e]*?c[^e]*?p')) >= 1
    ORDER BY n_matches DESC, user_id LIMIT 20
    """,
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence detection: per user, count
    non-overlapping view -> click -> purchase journeys with no
    intervening error, by compiling each user's event stream to a
    symbol string (first letter of the type, ordered by ts with
    event_id tie-break) and running a lazy regex
    ('v[^e]*?c[^e]*?p') over it — the classic emulation of SQL row
    pattern matching on engines without the clause. State per user is
    one string bounded by that user's activity (a hot-user length cap
    is the knob at extreme skew — substr the symbol string); the
    leftmost-non-overlapping count semantics agree between Java regex
    and RE2 because the pattern is unambiguous under lazy
    quantifiers. Top-20 is a TakeOrdered, never a global sort."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"),
                F.substring("event_type", 1, 1).alias("sym"),
            ).alias("rec"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("rec")), lambda r: r["sym"]
                ),
                "",
            ).alias("s"),
        )
    )
    pat = r"v[^e]*?c[^e]*?p"
    return (
        per_user.withColumn(
            "n_matches", F.regexp_count("s", F.lit(pat)).cast("long")
        )
        .filter(F.col("n_matches") >= 1)
        .select("user_id", "n_events", "n_matches")
        .orderBy(F.col("n_matches").desc(), "user_id")
        .limit(20)
    )


@query(
    "events_mann_whitney",
    oracle="""
    WITH vals AS (
      SELECT value,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cnt_a
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY value
    ),
    ranked AS (
      SELECT value, cnt, cnt_a,
             CAST(SUM(cnt) OVER (ORDER BY value
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM vals
    ),
    s AS (
      SELECT CAST(SUM(cnt_a) AS BIGINT) AS n_a,
             CAST(SUM(cnt - cnt_a) AS BIGINT) AS n_b,
             SUM(cnt_a * (cum - cnt + (cnt + 1) / 2.0)) AS s_a,
             CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS t_ties
      FROM ranked
    ),
    u AS (
      SELECT n_a, n_b,
             s_a - n_a * (n_a + 1) / 2.0 AS u_a,
             n_a * CAST(n_b AS DOUBLE) / 2.0 AS mu,
             (n_a * CAST(n_b AS DOUBLE) / 12.0)
               * ((n_a + n_b + 1)
                  - t_ties / (CAST(n_a + n_b AS DOUBLE)
                              * (n_a + n_b - 1.0))) AS var
      FROM s
    )
    SELECT n_a, n_b, u_a AS u_stat,
           FLOOR((u_a - mu) / sqrt(var) * 1e6) / 1e6 AS z
    FROM u
    """,
)
def events_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (click vs purchase event values)
    with tie correction — the nonparametric A/B test that needs a
    GLOBAL rank over the pooled sample, which is exactly what breaks
    naive engines at scale (a corpus-wide ORDER BY). Here the pool
    first collapses to value-keyed counts (one shuffle), then the
    running rank comes from operators/prefix.ordered_prefix over the
    distinct-value relation — no single-task sort at any size. Every
    tied value's average rank is k + m/2 (a half), so cnt_a*avg_rank
    is an exact multiple of 0.5 and the rank-sum is EXACT in IEEE
    double regardless of aggregation order — both engines produce
    bit-identical U. The z-score is one division + sqrt of identical
    doubles (FLOOR-6 for display)."""
    from free_etl_spark.operators.prefix import ordered_prefix

    ev = load_table(spark, sf_dir, "events")
    vals = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("value")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            )
            .cast("long")
            .alias("cnt_a"),
        )
    )
    ranked = ordered_prefix(
        vals, [F.col("value")], cache_tag="mann_whitney_vals",
        sums={"cum": "cnt"},
    )
    avg_rank = F.col("cum") - F.col("cnt") + (F.col("cnt") + 1) / 2.0
    s = ranked.agg(
        F.sum("cnt_a").cast("long").alias("n_a"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("long").alias("n_b"),
        F.sum(F.col("cnt_a") * avg_rank).alias("s_a"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        )
        .cast("long")
        .alias("t_ties"),
    )
    n_tot = F.col("n_a") + F.col("n_b")
    u_a = F.col("s_a") - F.col("n_a") * (F.col("n_a") + 1) / 2.0
    mu = F.col("n_a") * F.col("n_b").cast("double") / 2.0
    var = (F.col("n_a") * F.col("n_b").cast("double") / 12.0) * (
        (n_tot + 1)
        - F.col("t_ties") / (n_tot.cast("double") * (n_tot - 1.0))
    )
    return s.select(
        "n_a",
        "n_b",
        u_a.alias("u_stat"),
        (F.floor((u_a - mu) / F.sqrt(var) * 1e6) / 1e6).alias("z"),
    )


@query(
    "events_burst_detection",
    oracle="""
    WITH hc AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, hr, n,
             CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY hr
                    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
                  AS BIGINT) AS base_sum,
             CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY hr
                    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
                  AS BIGINT) AS base_n
      FROM hc
    )
    SELECT event_type, hr, n,
           FLOOR(CAST(base_sum AS DOUBLE) / base_n * 1e6) / 1e6
             AS baseline,
           FLOOR(n * CAST(base_n AS DOUBLE) / base_sum * 1e6) / 1e6
             AS burst_ratio
    FROM w
    WHERE base_n >= 6 AND n * base_n >= 2 * base_sum
    """,
)
def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection per event type: an hour whose volume is >= 2x
    the trailing-24h baseline (with at least 6 hours of history) — the
    rate-anomaly screen behind incident alerts and trending surfacing
    (a lightweight Kleinberg state machine's 'elevated' state). The
    corpus collapses to per-type hourly counts first (<=720 rows per
    type per month — calendar-bounded), so the trailing window runs
    over the tiny series, never raw events. The burst predicate
    n*base_n >= 2*base_sum is pure integer arithmetic — no FP
    threshold boundary; displayed baseline/ratio are single exact
    divisions FLOOR-6ed."""
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    wspec = (
        Window.partitionBy("event_type").orderBy("hr").rowsBetween(-24, -1)
    )
    w = hc.withColumn(
        "base_sum", F.sum("n").over(wspec).cast("long")
    ).withColumn("base_n", F.count(F.lit(1)).over(wspec).cast("long"))
    return (
        w.filter(
            (F.col("base_n") >= 6)
            & (F.col("n") * F.col("base_n") >= 2 * F.col("base_sum"))
        )
        .select(
            "event_type",
            "hr",
            "n",
            (
                F.floor(
                    F.col("base_sum").cast("double") / F.col("base_n") * 1e6
                )
                / 1e6
            ).alias("baseline"),
            (
                F.floor(
                    F.col("n") * F.col("base_n").cast("double")
                    / F.col("base_sum")
                    * 1e6
                )
                / 1e6
            ).alias("burst_ratio"),
        )
    )


@query(
    "events_growth_accounting",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(date_diff('day', DATE '2024-01-01',
                  CAST(ts AS DATE)) / 7) AS BIGINT) AS wk
      FROM events
    ),
    flags AS (
      SELECT user_id, wk,
             LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
             MIN(wk) OVER (PARTITION BY user_id) AS first_wk
      FROM uw
    ),
    states AS (
      SELECT wk,
             CASE WHEN wk = first_wk THEN 'new'
                  WHEN prev_wk = wk - 1 THEN 'retained'
                  ELSE 'resurrected' END AS state,
             user_id
      FROM flags
    ),
    churn AS (
      SELECT wk + 1 AS wk, 'churned' AS state, user_id
      FROM flags f
      WHERE NOT EXISTS (SELECT 1 FROM uw n
                        WHERE n.user_id = f.user_id AND n.wk = f.wk + 1)
        AND wk + 1 <= (SELECT MAX(wk) FROM uw)
    )
    SELECT wk, state, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM (SELECT * FROM states UNION ALL SELECT * FROM churn)
    GROUP BY wk, state
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting (the new/retained/resurrected/churned
    decomposition every growth team reports): collapse events to the
    distinct (user, week) relation, then classify each active week by
    first-ever week (new), previous-week activity (retained), or a
    gap (resurrected); a user active in week w but not w+1 churns
    into w+1 (bounded by the corpus's last week). Per-user windows
    run over AT MOST weeks-per-user rows (calendar-bounded, ~5 here),
    never event volume; churn is an anti-join of the week-shifted
    relation against itself. Week is anchored to the fixed epoch
    Monday grid (2024-01-01), not per-corpus minima, so week ids are
    stable across incremental loads."""
    ev = load_table(spark, sf_dir, "events")
    uw = (
        ev.select(
            "user_id",
            F.floor(
                F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
                / 7
            )
            .cast("long")
            .alias("wk"),
        )
        .distinct()
    )
    w_user = Window.partitionBy("user_id").orderBy("wk")
    flags = uw.withColumn("prev_wk", F.lag("wk").over(w_user)).withColumn(
        "first_wk", F.min("wk").over(Window.partitionBy("user_id"))
    )
    states = flags.select(
        "wk",
        F.when(F.col("wk") == F.col("first_wk"), "new")
        .when(F.col("prev_wk") == F.col("wk") - 1, "retained")
        .otherwise("resurrected")
        .alias("state"),
        "user_id",
    )
    max_wk = uw.agg(F.max("wk").alias("max_wk"))
    nxt = uw.select(
        F.col("user_id").alias("nu"), (F.col("wk") - 1).alias("nwk")
    )
    churn = (
        flags.join(
            nxt,
            (F.col("user_id") == F.col("nu")) & (F.col("wk") == F.col("nwk")),
            "anti",
        )
        .join(F.broadcast(max_wk))
        .filter(F.col("wk") + 1 <= F.col("max_wk"))
        .select(
            (F.col("wk") + 1).alias("wk"),
            F.lit("churned").alias("state"),
            "user_id",
        )
    )
    return (
        states.unionAll(churn)
        .groupBy("wk", "state")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@query(
    "events_ratio_metric_delta_method",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
             SUM(CASE WHEN event_type = 'purchase' THEN value
                      ELSE 0 END) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                           ELSE 0 END) AS DOUBLE) AS y
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             var_samp(x) AS vxx, var_samp(y) AS vyy,
             covar_samp(x, y) AS vxy
      FROM per_user GROUP BY arm
    ),
    r AS (
      SELECT arm, n, sx / sy AS ratio,
             SQRT((vxx + (sx / sy) * (sx / sy) * vyy
                   - 2 * (sx / sy) * vxy)
                  / (n * (sy / n) * (sy / n))) AS se
      FROM s
    )
    SELECT a.n AS n_0, b.n AS n_1,
           FLOOR(a.ratio * 1e6) / 1e6 AS ratio_0,
           FLOOR(b.ratio * 1e6) / 1e6 AS ratio_1,
           FLOOR(a.se * 1e6) / 1e6 AS se_0,
           FLOOR(b.se * 1e6) / 1e6 AS se_1,
           FLOOR((b.ratio - a.ratio)
                 / SQRT(a.se * a.se + b.se * b.se) * 1e4) / 1e4 AS z
    FROM (SELECT * FROM r WHERE arm = 0) a
    CROSS JOIN (SELECT * FROM r WHERE arm = 1) b
    """,
)
def events_ratio_metric_delta_method(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta-method standard error for a RATIO metric (revenue per
    purchase event, users split into two arms by user_id parity) —
    the correct variance for per-user-clustered ratio metrics, where
    naive per-event variance is wrong because the denominator is
    random too: var(X/Y) ~ (vxx + R^2 vyy - 2 R vxy) / (n my^2).
    One pass builds per-user numerators/denominators, one grouped
    aggregate per arm carries the five moments, and the z-score
    compares arms — the engine-side math every experimentation
    platform (CUPED/delta-method lineage) runs. FLOOR-6/4 absorbs
    the cross-engine summation-order ulps in the variance terms."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        (F.col("user_id") % 2).cast("long").alias("arm"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(
                0.0
            )
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("double")
        .alias("y"),
    )
    s = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.var_samp("x").alias("vxx"),
        F.var_samp("y").alias("vyy"),
        F.covar_samp("x", "y").alias("vxy"),
    )
    ratio = F.col("sx") / F.col("sy")
    my = F.col("sy") / F.col("n")
    se = F.sqrt(
        (
            F.col("vxx")
            + ratio * ratio * F.col("vyy")
            - 2 * ratio * F.col("vxy")
        )
        / (F.col("n") * my * my)
    )
    r = s.select("arm", "n", ratio.alias("ratio"), se.alias("se"))
    a = r.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_0"), F.col("ratio").alias("r0"), F.col("se").alias("s0")
    )
    b = r.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_1"), F.col("ratio").alias("r1"), F.col("se").alias("s1")
    )
    return a.join(b).select(
        "n_0",
        "n_1",
        (F.floor(F.col("r0") * 1e6) / 1e6).alias("ratio_0"),
        (F.floor(F.col("r1") * 1e6) / 1e6).alias("ratio_1"),
        (F.floor(F.col("s0") * 1e6) / 1e6).alias("se_0"),
        (F.floor(F.col("s1") * 1e6) / 1e6).alias("se_1"),
        (
            F.floor(
                (F.col("r1") - F.col("r0"))
                / F.sqrt(F.col("s0") * F.col("s0") + F.col("s1") * F.col("s1"))
                * 1e4
            )
            / 1e4
        ).alias("z"),
    )


@query(
    "events_power_analysis",
    oracle="""
    WITH base AS (
      SELECT CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                         THEN (user_id, CAST(ts AS DATE)) END) AS DOUBLE)
               / COUNT(DISTINCT (user_id, CAST(ts AS DATE))) AS p1,
             CAST(COUNT(DISTINCT (user_id, CAST(ts AS DATE)))
                  AS BIGINT) AS n_units
      FROM events
    ),
    mde AS (
      SELECT n_units, p1,
             LEAST(p1 * (1 + m.rel), 0.999999) AS p2, m.rel
      FROM base
      CROSS JOIN (SELECT unnest([0.02, 0.05, 0.10]) AS rel) m
    )
    SELECT FLOOR(rel * 1e6) / 1e6 AS rel_mde, n_units,
           FLOOR(p1 * 1e6) / 1e6 AS baseline_rate,
           CAST(CEIL(
             POWER(1.959964 * SQRT(2 * ((p1 + p2) / 2)
                                     * (1 - (p1 + p2) / 2))
                   + 0.841621 * SQRT(p1 * (1 - p1) + p2 * (1 - p2)), 2)
             / ((p2 - p1) * (p2 - p1))) AS BIGINT) AS n_per_arm
    FROM mde
    """,
)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment power analysis from observed data: take the
    measured user-day purchase-conversion baseline (randomization
    unit = active user-day; p2 clamped below 1), and for each
    relative MDE
    (2/5/10%) compute the required users per arm at alpha=0.05 /
    power=0.80 (two-proportion z-test closed form; z constants as
    exact literals in both engines). The corpus reduces to two
    distinct-counts in one pass; the sizing arithmetic runs on a
    constant 3-row MDE grid. The answer every 'how long must this
    A/B run' question needs, computed where the data lives."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "d", F.to_date("ts")
    )
    unit = F.struct(F.col("user_id"), F.col("d"))
    base = ev.agg(
        (
            F.countDistinct(
                F.when(F.col("event_type") == "purchase", unit)
            ).cast("double")
            / F.countDistinct(unit)
        ).alias("p1"),
        F.countDistinct(unit).cast("long").alias("n_units"),
    )
    mdes = spark.createDataFrame(
        [(0.02,), (0.05,), (0.10,)], "rel double"
    )
    m = base.join(F.broadcast(mdes))
    p1, rel = F.col("p1"), F.col("rel")
    p2 = F.least(p1 * (1 + rel), F.lit(0.999999))
    pbar = (p1 + p2) / 2
    za, zb = F.lit(1.959964), F.lit(0.841621)
    n_per_arm = F.ceil(
        F.pow(
            za * F.sqrt(2 * pbar * (1 - pbar))
            + zb * F.sqrt(p1 * (1 - p1) + p2 * (1 - p2)),
            F.lit(2.0),
        )
        / ((p2 - p1) * (p2 - p1))
    ).cast("long")
    return m.select(
        (F.floor(rel * 1e6) / 1e6).alias("rel_mde"),
        "n_units",
        (F.floor(p1 * 1e6) / 1e6).alias("baseline_rate"),
        n_per_arm.alias("n_per_arm"),
    )


@query(
    "events_session_window_native",
    oracle="""
    WITH o AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             LAG(CAST(ts AS TIMESTAMP)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    marked AS (
      SELECT user_id, ts,
             CASE WHEN prev IS NULL
                       OR epoch_us(ts) - epoch_us(prev) >= 600000000
                  THEN 1 ELSE 0 END AS is_start
      FROM o
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ),
    spans AS (
      SELECT user_id, sid,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             date_diff('second', MIN(ts), MAX(ts)) + 600 AS span_s
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(span_s) AS BIGINT) AS total_span_s,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events
    FROM spans GROUP BY user_id
    """,
)
def events_session_window_native(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sessionization via Spark's NATIVE session_window aggregate
    (10-minute gap): groupBy(user, session_window(ts)) runs as one
    mergeable aggregate — the engine merges overlapping windows
    map-side, so unlike the lag/island formulation
    (events_sessionize) there is no per-user ordered window at all,
    just a keyed shuffle. Session span = window end - start, where
    the native window end is last_event + gap by definition —
    matched exactly by the oracle's island reconstruction. The
    per-user rollup (n_sessions, total span, max events) keeps the
    result user-sized."""
    ev = load_table(spark, sf_dir, "events")
    per_session = (
        ev.groupBy(
            "user_id", F.session_window("ts", "10 minutes").alias("sw")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "user_id",
            "n_events",
            (
                F.unix_timestamp(F.col("sw.end"))
                - F.unix_timestamp(F.col("sw.start"))
            ).alias("span_s"),
        )
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("span_s").cast("long").alias("total_span_s"),
        F.max("n_events").cast("long").alias("max_session_events"),
    )


@query(
    "events_cumulative_users",
    oracle="""
    WITH first_day AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events
      GROUP BY user_id
    ),
    daily AS (
      SELECT d0 AS day, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM first_day GROUP BY d0
    )
    SELECT CAST(day AS TIMESTAMP) AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM daily
    """,
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-acquisition curve: running count of distinct users
    ever seen, by day. The naive form (per-day COUNT(DISTINCT) over
    growing prefixes) rescans the corpus per day; this is the
    first-touch trick — min(day) per user (one keyed aggregate),
    per-day new-user counts, then a running sum over the
    CALENDAR-BOUNDED daily relation (30 rows/month at any corpus
    size, so the ordered window is bounded, not corpus-scale). All
    integers — engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("d0")
    )
    daily = first_day.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("day").cast("timestamp_ntz").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_users"),
    )


@query(
    "events_error_budget_burn",
    oracle="""
    WITH daily AS (
      SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_err
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT day, n, n_err,
             CAST(SUM(n) OVER (ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_7d,
             CAST(SUM(n_err) OVER (ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS err_7d
      FROM daily
    )
    SELECT CAST(day AS TIMESTAMP) AS day, n, n_err,
           FLOOR(CAST(n_err AS DOUBLE) / n / 0.25 * 1e6) / 1e6
             AS burn_1d,
           FLOOR(CAST(err_7d AS DOUBLE) / n_7d / 0.25 * 1e6) / 1e6
             AS burn_7d,
           n_err * 4 > n AS alert_fast,
           err_7d * 4 > n_7d AS alert_slow
    FROM w
    """,
)
def events_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn-rate (the Google SRE multi-window alert):
    with an error budget of 25% of events, burn = error_rate/budget
    over a fast (1-day) and slow (7-day) window; alerting requires
    the fast window to catch spikes and the slow one to catch
    sustained burn. The corpus collapses to the calendar-bounded
    daily relation first (one shuffle); the rolling window runs over
    ~30 rows. Alert predicates are pure integer cross-products
    (n_err*4 > n) — no FP threshold; displayed burn rates are exact
    single divisions FLOOR-6ed."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_err"),
    )
    wspec = Window.orderBy("day").rowsBetween(-6, 0)
    w = daily.withColumn(
        "n_7d", F.sum("n").over(wspec).cast("long")
    ).withColumn("err_7d", F.sum("n_err").over(wspec).cast("long"))
    return w.select(
        F.col("day").cast("timestamp_ntz").alias("day"),
        "n",
        "n_err",
        (
            F.floor(F.col("n_err").cast("double") / F.col("n") / 0.25 * 1e6)
            / 1e6
        ).alias("burn_1d"),
        (
            F.floor(
                F.col("err_7d").cast("double") / F.col("n_7d") / 0.25 * 1e6
            )
            / 1e6
        ).alias("burn_7d"),
        (F.col("n_err") * 4 > F.col("n")).alias("alert_fast"),
        (F.col("err_7d") * 4 > F.col("n_7d")).alias("alert_slow"),
    )


@query(
    "events_cuped_adjustment",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
             SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                       AND event_type = 'purchase'
                      THEN value ELSE 0 END) AS pre,
             SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                       AND event_type = 'purchase'
                      THEN value ELSE 0 END) AS post
      FROM events GROUP BY user_id
    ),
    pooled AS (
      SELECT covar_samp(pre, post) / var_samp(pre) AS theta,
             AVG(pre) AS mu_pre
      FROM per_user
    ),
    adj AS (
      SELECT u.arm, u.post,
             u.post - p.theta * (u.pre - p.mu_pre) AS y
      FROM per_user u CROSS JOIN pooled p
    )
    SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(ROUND(SUM(post), 2) / COUNT(*) * 1e4) / 1e4 AS mean_post,
           FLOOR(AVG(y) * 1e4) / 1e4 AS mean_adjusted,
           FLOOR(var_samp(post) * 1e2) / 1e2 AS var_post,
           FLOOR(var_samp(y) * 1e2) / 1e2 AS var_adjusted,
           FLOOR((1 - var_samp(y) / var_samp(post)) * 1e4) / 1e4
             AS var_reduction
    FROM adj GROUP BY arm
    """,
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13 — the standard
    experimentation-platform technique): adjust each user's
    experiment-period purchase metric by their PRE-period baseline,
    y = post - theta*(pre - mu_pre) with theta = cov(pre,post)/
    var(pre), which strictly shrinks variance by the squared
    pre/post correlation and therefore the experiment's required
    runtime. One pass builds per-user (pre, post) sums; theta and
    mu_pre are a 1-row pooled aggregate broadcast back; per-arm
    adjusted variances are a second grouped aggregate. Reported
    var_reduction is the realized shrinkage. FLOOR-2/4 absorbs
    summation-order ulps in the second moments (welch precedent;
    variances here are O(1e5)). ``post`` sums lie on the 0.01 grid,
    so mean_post divides the ROUNDed sum (one IEEE division, the same
    in both engines); a floored AVG's last digit would depend on the
    summation order."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("date")
    is_p = F.col("event_type") == "purchase"
    per_user = ev.groupBy("user_id").agg(
        (F.col("user_id") % 2).cast("long").alias("arm"),
        F.sum(
            F.when(is_p & (F.to_date("ts") < cut), F.col("value")).otherwise(
                0.0
            )
        ).alias("pre"),
        F.sum(
            F.when(is_p & (F.to_date("ts") >= cut), F.col("value")).otherwise(
                0.0
            )
        ).alias("post"),
    )
    pooled = per_user.agg(
        (F.covar_samp("pre", "post") / F.var_samp("pre")).alias("theta"),
        F.avg("pre").alias("mu_pre"),
    )
    adj = per_user.join(F.broadcast(pooled)).select(
        "arm",
        "post",
        (
            F.col("post")
            - F.col("theta") * (F.col("pre") - F.col("mu_pre"))
        ).alias("y"),
    )
    return adj.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.floor(F.round(F.sum("post"), 2) / F.count(F.lit(1)) * 1e4) / 1e4
        ).alias("mean_post"),
        (F.floor(F.avg("y") * 1e4) / 1e4).alias("mean_adjusted"),
        (F.floor(F.var_samp("post") * 1e2) / 1e2).alias("var_post"),
        (F.floor(F.var_samp("y") * 1e2) / 1e2).alias("var_adjusted"),
        (
            F.floor(
                (1 - F.var_samp("y") / F.var_samp("post")) * 1e4
            )
            / 1e4
        ).alias("var_reduction"),
    )


@query(
    "events_peak_detection",
    oracle="""
    WITH hc AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT hr, n,
             LAG(n) OVER (ORDER BY hr) AS prev_n,
             LEAD(n) OVER (ORDER BY hr) AS next_n,
             CAST(SUM(n) OVER (ORDER BY hr
                    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
                  AS BIGINT) AS win_sum,
             CAST(COUNT(*) OVER (ORDER BY hr
                    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
                  AS BIGINT) AS win_n
      FROM hc
    )
    SELECT hr, n, prev_n, next_n,
           FLOOR(n * CAST(win_n AS DOUBLE) / win_sum * 1e6) / 1e6
             AS prominence
    FROM w
    WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
      AND n > prev_n AND n > next_n
      AND n * win_n * 10 >= win_sum * 12
    """,
)
def events_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection in the hourly volume series: an hour
    strictly above both neighbors with prominence >= 1.2x the
    centered 25-hour window mean — the 'find the spikes' primitive
    behind seasonality inspection and alert post-mortems
    (complementary to events_burst_detection's trailing-baseline
    form: peaks are local maxima, bursts are level shifts). Corpus
    collapses to the calendar-bounded hourly relation first; the
    neighbor/window comparisons run over ~720 rows. The prominence
    gate n*win_n*10 >= win_sum*12 is exact integer arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wo = Window.orderBy("hr")
    wc = Window.orderBy("hr").rowsBetween(-12, 12)
    w = (
        hc.withColumn("prev_n", F.lag("n").over(wo))
        .withColumn("next_n", F.lead("n").over(wo))
        .withColumn("win_sum", F.sum("n").over(wc).cast("long"))
        .withColumn("win_n", F.count(F.lit(1)).over(wc).cast("long"))
    )
    return (
        w.filter(
            F.col("prev_n").isNotNull()
            & F.col("next_n").isNotNull()
            & (F.col("n") > F.col("prev_n"))
            & (F.col("n") > F.col("next_n"))
            & (F.col("n") * F.col("win_n") * 10 >= F.col("win_sum") * 12)
        )
        .select(
            "hr",
            "n",
            "prev_n",
            "next_n",
            (
                F.floor(
                    F.col("n")
                    * F.col("win_n").cast("double")
                    / F.col("win_sum")
                    * 1e6
                )
                / 1e6
            ).alias("prominence"),
        )
    )


@query(
    "events_resample_interpolate",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day,
             ROUND(SUM(value), 2) / COUNT(*) AS v
      FROM events GROUP BY 1, 2
    ),
    seg AS (
      SELECT event_type, day, v,
             LEAD(day) OVER (PARTITION BY event_type ORDER BY day)
               AS next_day,
             LEAD(v) OVER (PARTITION BY event_type ORDER BY day)
               AS next_v
      FROM daily
    ),
    grid AS (
      SELECT s.event_type, g.t,
             -- frac parenthesized to match the Spark tree a*(b/c):
             -- left-assoc (a*b)/c differs in the last ulp and flips
             -- the FLOOR at integer boundaries of iv*1e6 (seen at
             -- sf0.001 r11: 41.4465 vs 41.446499)
             s.v + (s.next_v - s.v)
                 * ((epoch_us(g.t) - epoch_us(s.day))
                    / (epoch_us(s.next_day) - epoch_us(s.day))) AS iv
      FROM seg s
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(s.day,
                 s.next_day - INTERVAL 1 SECOND,
                 INTERVAL 6 HOUR)) AS t
      ) g
      WHERE s.next_day IS NOT NULL
    )
    SELECT event_type, t, FLOOR(iv * 1e6) / 1e6 AS value_interp
    FROM grid
    """,
)
def events_resample_interpolate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-series resampling with LINEAR interpolation: the daily
    mean-value series per event type, resampled onto a 6-hour grid
    where off-sample points lerp between the bracketing daily
    observations — the upsampling primitive behind aligning series
    of different cadences before correlation/regression (gap_fill
    covers forward-fill; this is the interpolating form). Each
    consecutive-day segment EXPLODES its own grid points (sequence
    with a 6-hour step), so there is no grid-to-series join at all —
    the interpolation weight is computed from the segment the point
    was born in. All work happens on the calendar-bounded daily
    relation; the interpolation is exact integer-fraction arithmetic
    over deterministic daily means, FLOOR-6ed."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").cast("timestamp_ntz").alias("day")
    ).agg((F.round(F.sum("value"), 2) / F.count(F.lit(1))).alias("v"))
    w = Window.partitionBy("event_type").orderBy("day")
    seg = (
        daily.withColumn("next_day", F.lead("day").over(w))
        .withColumn("next_v", F.lead("v").over(w))
        .filter(F.col("next_day").isNotNull())
    )
    grid = seg.select(
        "event_type",
        "v",
        "next_v",
        "day",
        "next_day",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("next_day") - F.expr("INTERVAL 1 SECOND"),
                F.expr("INTERVAL 6 HOURS"),
            )
        ).alias("t"),
    )
    frac = (
        F.unix_micros(F.col("t").cast("timestamp"))
        - F.unix_micros(F.col("day").cast("timestamp"))
    ) / (
        F.unix_micros(F.col("next_day").cast("timestamp"))
        - F.unix_micros(F.col("day").cast("timestamp"))
    )
    iv = F.col("v") + (F.col("next_v") - F.col("v")) * frac
    return grid.select(
        "event_type",
        "t",
        (F.floor(iv * 1e6) / 1e6).alias("value_interp"),
    )


@query(
    "events_attribution_position_based",
    oracle="""
    WITH base AS (
      SELECT user_id, event_type, ts, event_id,
             COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS BIGINT), 0) + 1
               AS grp
      FROM events
    ),
    nc AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_conv
      FROM events GROUP BY user_id
    ),
    touches AS (
      SELECT b.user_id, b.event_type, b.grp,
             ROW_NUMBER() OVER (PARTITION BY b.user_id, b.grp
                                ORDER BY b.ts, b.event_id) AS pos,
             COUNT(*) OVER (PARTITION BY b.user_id, b.grp) AS k
      FROM base b JOIN nc ON nc.user_id = b.user_id
      WHERE b.event_type <> 'purchase' AND b.grp <= nc.n_conv
    )
    SELECT event_type AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           FLOOR(SUM(CASE WHEN k = 1 THEN 1.0
                          WHEN k = 2 THEN 0.5
                          WHEN pos = 1 OR pos = k THEN 0.4
                          ELSE 0.2 / (k - 2) END) * 1e4) / 1e4
             AS credit
    FROM touches GROUP BY event_type
    """,
)
def events_attribution_position_based(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution:
    each purchase credits the touches since the previous purchase —
    40% to the first touch, 40% to the last, 20% split across the
    middle (collapsing to 1.0 / 0.5+0.5 for 1- and 2-touch paths) —
    the marketing-mix model that complements
    events_attribution_last_touch's winner-take-all. Journey
    segmentation is a per-user running purchase count (strict-prefix
    frame); position/path-length are per-(user, journey) windows —
    everything bounded by per-user activity, nothing corpus-wide.
    Touches after the final purchase attribute to nothing and are
    dropped via the per-user conversion-count join. Credit weights
    are identical literals in both engines; FLOOR-4 on the summed
    credit absorbs addition-order ulps of the inexact 0.4s."""
    ev = load_table(spark, sf_dir, "events")
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    w_prefix = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        (
            F.coalesce(F.sum(is_p).over(w_prefix), F.lit(0)).cast("long")
            + 1
        ).alias("grp"),
    )
    nc = ev.groupBy("user_id").agg(
        F.sum(is_p).cast("long").alias("n_conv")
    )
    w_grp = Window.partitionBy("user_id", "grp").orderBy("ts", "event_id")
    w_grp_all = Window.partitionBy("user_id", "grp")
    touches = (
        base.join(nc, "user_id")
        .filter(
            (F.col("event_type") != "purchase")
            & (F.col("grp") <= F.col("n_conv"))
        )
        .withColumn("pos", F.row_number().over(w_grp))
        .withColumn("k", F.count(F.lit(1)).over(w_grp_all))
    )
    credit = (
        F.when(F.col("k") == 1, 1.0)
        .when(F.col("k") == 2, 0.5)
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("k")), 0.4)
        .otherwise(0.2 / (F.col("k") - 2))
    )
    return touches.groupBy(F.col("event_type").alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        (F.floor(F.sum(credit) * 1e4) / 1e4).alias("credit"),
    )


@query(
    "events_ab_srm_check",
    oracle="""
    WITH arms AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1
      FROM arms
    )
    SELECT n0, n1,
           FLOOR(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1)
                 * 1e6) / 1e6 AS chi2,
           (n0 - n1) * (n0 - n1) > 4 * (n0 + n1) AS srm_detected
    FROM s
    """,
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-Ratio Mismatch guardrail: chi-square of the observed
    arm split against the designed 50/50 — the FIRST check any A/B
    readout must pass, because a biased assignment invalidates every
    downstream metric no matter how significant. For two equal-
    expected arms the statistic collapses to (n0-n1)^2/(n0+n1); the
    detection predicate (chi2 > 4, i.e. |z| > 2) is pure integer
    arithmetic. One distinct-count aggregate — trivially scale-free."""
    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy((F.col("user_id") % 2).cast("long").alias("arm")).agg(
        F.countDistinct("user_id").cast("long").alias("n")
    )
    s = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
    )
    d = F.col("n0") - F.col("n1")
    tot = F.col("n0") + F.col("n1")
    return s.select(
        "n0",
        "n1",
        (F.floor(d * d / tot.cast("double") * 1e6) / 1e6).alias("chi2"),
        (d * d > 4 * tot).alias("srm_detected"),
    )


@query(
    "events_ks_drift",
    oracle="""
    WITH tagged AS (
      SELECT event_type, value,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                  THEN 0 ELSE 1 END AS half
      FROM events
    ),
    vc AS (
      SELECT event_type, value,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c0,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c1
      FROM tagged GROUP BY event_type, value
    ),
    tot AS (
      SELECT event_type, CAST(SUM(c0) AS BIGINT) AS n0,
             CAST(SUM(c1) AS BIGINT) AS n1
      FROM vc GROUP BY event_type
    ),
    cum AS (
      SELECT vc.event_type,
             CAST(SUM(c0) OVER (PARTITION BY vc.event_type ORDER BY value
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum0,
             CAST(SUM(c1) OVER (PARTITION BY vc.event_type ORDER BY value
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1
      FROM vc
    ),
    ks AS (
      SELECT cum.event_type, tot.n0, tot.n1,
             MAX(abs(cum0 * tot.n1 - cum1 * tot.n0)) AS max_num
      FROM cum JOIN tot ON tot.event_type = cum.event_type
      GROUP BY cum.event_type, tot.n0, tot.n1
    )
    SELECT event_type, n0, n1,
           FLOOR(CAST(max_num AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1)
                 * 1e6) / 1e6 AS ks_stat,
           CAST(max_num AS DOUBLE) / (CAST(n0 AS DOUBLE) * n1)
             > 1.358 * sqrt((n0 + n1) / (CAST(n0 AS DOUBLE) * n1))
             AS drift_5pct
    FROM ks
    """,
)
def events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test per event type
    (first vs second half of the month): KS = max |ECDF0 - ECDF1| —
    the distribution-shape complement to quality_psi_drift's binned
    PSI (KS needs no binning choice and catches shifts PSI's bins
    can smear). The pooled sample collapses to value-keyed counts;
    running CDFs come from a window over the per-type distinct-value
    relation (the prefix-sum shape), and the max runs over the same
    relation. The statistic is computed as an INTEGER cross-product
    max — max|cum0*n1 - cum1*n0| — so the ranking/threshold
    comparison has no FP inside the scan; one division + one sqrt at
    the end (KS 5% critical value c(alpha)=1.358)."""
    ev = load_table(spark, sf_dir, "events")
    half = F.when(
        F.to_date("ts") < F.lit("2024-01-16").cast("date"), 0
    ).otherwise(1)
    vc = (
        ev.select("event_type", "value", half.alias("half"))
        .groupBy("event_type", "value")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("long")
            .alias("c0"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("long")
            .alias("c1"),
        )
    )
    tot = vc.groupBy("event_type").agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = vc.select(
        "event_type",
        F.sum("c0").over(w).cast("long").alias("cum0"),
        F.sum("c1").over(w).cast("long").alias("cum1"),
    )
    ks = (
        cum.join(tot, "event_type")
        .groupBy("event_type", "n0", "n1")
        .agg(
            F.max(
                F.abs(
                    F.col("cum0") * F.col("n1") - F.col("cum1") * F.col("n0")
                )
            ).alias("max_num")
        )
    )
    stat = F.col("max_num").cast("double") / (
        F.col("n0").cast("double") * F.col("n1")
    )
    crit = 1.358 * F.sqrt(
        (F.col("n0") + F.col("n1"))
        / (F.col("n0").cast("double") * F.col("n1"))
    )
    return ks.select(
        "event_type",
        "n0",
        "n1",
        (F.floor(stat * 1e6) / 1e6).alias("ks_stat"),
        (stat > crit).alias("drift_5pct"),
    )


@query(
    "events_bot_regularity_score",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS gap_us
      FROM events
    ),
    s AS (
      SELECT user_id,
             CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
             AVG(CAST(gap_us AS DOUBLE)) AS mu,
             stddev_samp(CAST(gap_us AS DOUBLE)) AS sd
      FROM gaps WHERE gap_us IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_gaps,
           FLOOR(sd / mu * 1e6) / 1e6 AS gap_cv,
           sd * 2 < mu AS suspiciously_regular
    FROM s WHERE n_gaps >= 20
    ORDER BY sd / mu, user_id LIMIT 25
    """,
)
def events_bot_regularity_score(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bot detection by timing regularity: humans produce bursty
    inter-event gaps (coefficient of variation near or above 1);
    schedulers and scripts produce metronomic ones (CV near 0). Per
    user, the CV of inter-event microsecond gaps — computed from a
    per-user ordered lag (bounded by user activity) and one moment
    aggregate — with the 25 most regular high-activity accounts
    surfaced. The flag sd*2 < mu is arithmetic on the two moments;
    the ranking key sd/mu is a single division of identical doubles
    (stddev over integer microsecond gaps)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = ev.select(
        "user_id", (ep - F.lag(ep).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    s = gaps.groupBy("user_id").agg(
        F.count("gap_us").cast("long").alias("n_gaps"),
        F.avg(F.col("gap_us").cast("double")).alias("mu"),
        F.stddev_samp(F.col("gap_us").cast("double")).alias("sd"),
    )
    return (
        s.filter(F.col("n_gaps") >= 20)
        .orderBy(F.col("sd") / F.col("mu"), "user_id")
        .limit(25)
        .select(
            "user_id",
            "n_gaps",
            (F.floor(F.col("sd") / F.col("mu") * 1e6) / 1e6).alias(
                "gap_cv"
            ),
            (F.col("sd") * 2 < F.col("mu")).alias("suspiciously_regular"),
        )
    )


@query(
    "agg_anova_oneway",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(value) AS s,
             SUM(value * value) AS ss
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt,
             SUM(s) AS st,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(s * s / n) AS sum_gm,
             SUM(ss) AS sst
      FROM g
    )
    SELECT k AS n_groups, nt AS n_total,
           FLOOR((sum_gm - st * st / nt) / (k - 1) * 1e4) / 1e4
             AS ms_between,
           FLOOR((sst - sum_gm) / (nt - k) * 1e4) / 1e4 AS ms_within,
           FLOOR(((sum_gm - st * st / nt) / (k - 1))
                 / ((sst - sum_gm) / (nt - k)) * 1e6) / 1e6 AS f_stat
    FROM tot
    """,
)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across event types (does mean value
    differ by type?) — the k-group generalization of the pairwise
    Welch test, from the classic sum-of-squares identity: SSB =
    sum(s_g^2/n_g) - S^2/N, SSW = SS_total - that. ONE grouped
    moment pass (n, sum, sum-of-squares per group — all mergeable),
    then the F arithmetic on the k-row relation; nothing but three
    doubles per group crosses the shuffle. FLOOR-4/6 absorbs
    summation-order ulps in the squared sums."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").alias("st"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sum_gm"),
        F.sum("ss").alias("sst"),
    )
    ssb = F.col("sum_gm") - F.col("st") * F.col("st") / F.col("nt")
    ssw = F.col("sst") - F.col("sum_gm")
    msb = ssb / (F.col("k") - 1)
    msw = ssw / (F.col("nt") - F.col("k"))
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("nt").alias("n_total"),
        (F.floor(msb * 1e4) / 1e4).alias("ms_between"),
        (F.floor(msw * 1e4) / 1e4).alias("ms_within"),
        (F.floor(msb / msw * 1e6) / 1e6).alias("f_stat"),
    )


@query(
    "events_diff_in_diff",
    oracle="""
    WITH cells AS (
      SELECT CAST(user_id % 2 AS BIGINT) AS treated,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                  THEN 0 ELSE 1 END AS post,
             CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(SUM(value), 2) / COUNT(*) AS mean_v,
             var_samp(value) AS var_v
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1, 2
    ),
    p AS (
      SELECT MAX(CASE WHEN treated = 0 AND post = 0 THEN mean_v END) AS c0,
             MAX(CASE WHEN treated = 0 AND post = 1 THEN mean_v END) AS c1,
             MAX(CASE WHEN treated = 1 AND post = 0 THEN mean_v END) AS t0,
             MAX(CASE WHEN treated = 1 AND post = 1 THEN mean_v END) AS t1,
             SUM(var_v / n) AS var_did
      FROM cells
    )
    SELECT FLOOR((t1 - t0) * 1e6) / 1e6 AS treated_delta,
           FLOOR((c1 - c0) * 1e6) / 1e6 AS control_delta,
           FLOOR(((t1 - t0) - (c1 - c0)) * 1e6) / 1e6 AS did_estimate,
           FLOOR(((t1 - t0) - (c1 - c0)) / sqrt(var_did) * 1e4) / 1e4
             AS z
    FROM p
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: (treated post - pre) minus
    (control post - pre) on purchase values, with the 2x2-cell
    normal-approximation z — the workhorse causal estimator when
    treatment wasn't randomized over TIME (controls absorb the
    secular trend the simple before/after comparison confounds).
    The corpus reduces to FOUR (n, mean, var) cells in one grouped
    pass; cell means use the ROUND(SUM,2)/COUNT grid idiom so both
    engines difference identical doubles; the pooled SE is the
    standard independent-cells sum of var/n."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cells = ev.groupBy(
        (F.col("user_id") % 2).cast("long").alias("treated"),
        F.when(
            F.to_date("ts") < F.lit("2024-01-16").cast("date"), 0
        )
        .otherwise(1)
        .alias("post"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.round(F.sum("value"), 2) / F.count(F.lit(1))).alias("mean_v"),
        F.var_samp("value").alias("var_v"),
    )

    def cell(t, p):
        return F.max(
            F.when(
                (F.col("treated") == t) & (F.col("post") == p),
                F.col("mean_v"),
            )
        )

    agg = cells.agg(
        cell(0, 0).alias("c0"),
        cell(0, 1).alias("c1"),
        cell(1, 0).alias("t0"),
        cell(1, 1).alias("t1"),
        F.sum(F.col("var_v") / F.col("n")).alias("var_did"),
    )
    td = F.col("t1") - F.col("t0")
    cd = F.col("c1") - F.col("c0")
    return agg.select(
        (F.floor(td * 1e6) / 1e6).alias("treated_delta"),
        (F.floor(cd * 1e6) / 1e6).alias("control_delta"),
        (F.floor((td - cd) * 1e6) / 1e6).alias("did_estimate"),
        (F.floor((td - cd) / F.sqrt(F.col("var_did")) * 1e4) / 1e4).alias(
            "z"
        ),
    )


@query(
    "events_autocorrelation_acf",
    oracle="""
    WITH hc AS (
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM events GROUP BY 1
    ),
    m AS (SELECT AVG(n) AS mu, CAST(COUNT(*) AS BIGINT) AS nt FROM hc),
    lags AS (SELECT unnest([1, 2, 3, 6, 12, 24]) AS lag_h),
    pairs AS (
      SELECT l.lag_h,
             (a.n - m.mu) * (b.n - m.mu) AS prod
      FROM hc a
      JOIN lags l ON TRUE
      JOIN hc b ON b.hr = a.hr + l.lag_h * INTERVAL 1 HOUR
      CROSS JOIN m
    ),
    denom AS (
      SELECT SUM((n - m.mu) * (n - m.mu)) AS ss
      FROM hc CROSS JOIN m
    )
    SELECT lag_h,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(SUM(prod) / MAX(denom.ss) * 1e6) / 1e6 AS acf
    FROM pairs CROSS JOIN denom
    GROUP BY lag_h
    """,
)
def events_autocorrelation_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly volume series at lags
    1/2/3/6/12/24 — the time-domain seasonality probe (a spike at
    lag 24 IS daily seasonality) complementing events_periodogram's
    frequency-domain view and events_seasonal_decompose's explicit
    model. The corpus collapses to the calendar-bounded hourly
    relation; each lag is an equi-join of the series against its
    hour-shifted self (a ~720-row relation joined 6 ways — constant
    work at any corpus size); the global mean/SS normalizer is a
    1-row broadcast. FLOOR-6 on the final ratio."""
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    m = hc.agg(F.avg("n").alias("mu"), F.count(F.lit(1)).alias("nt"))
    lags = spark.createDataFrame(
        [(1,), (2,), (3,), (6,), (12,), (24,)], "lag_h int"
    )
    b = hc.select(F.col("hr").alias("hrb"), F.col("n").alias("nb"))
    pairs = (
        hc.join(F.broadcast(lags))
        .join(
            b,
            F.col("hrb")
            == F.col("hr")
            + F.col("lag_h") * F.expr("INTERVAL 1 HOUR"),
        )
        .join(F.broadcast(m))
        .select(
            "lag_h",
            ((F.col("n") - F.col("mu")) * (F.col("nb") - F.col("mu"))).alias(
                "prod"
            ),
        )
    )
    denom = (
        hc.join(F.broadcast(m))
        .agg(
            F.sum(
                (F.col("n") - F.col("mu")) * (F.col("n") - F.col("mu"))
            ).alias("ss")
        )
    )
    return (
        pairs.join(F.broadcast(denom))
        .groupBy("lag_h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            (F.floor(F.sum("prod") / F.max("ss") * 1e6) / 1e6).alias("acf"),
        )
    )


@query(
    "events_littles_law_audit",
    oracle="""
    WITH bounds AS (
      SELECT epoch_us(MIN(CAST(ts AS TIMESTAMP))) AS t0,
             epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS t1,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events
    ),
    sess AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ep,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= 600000000
                       OR lag(epoch_us(CAST(ts AS TIMESTAMP)))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
    ),
    sids AS (
      SELECT user_id, ep,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ep
               ROWS UNBOUNDED PRECEDING) AS sid
      FROM sess
    ),
    spans AS (
      SELECT user_id, sid,
             MAX(ep) - MIN(ep) + 600000000 AS dur_us
      FROM sids GROUP BY user_id, sid
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
             SUM(dur_us) AS total_dur_us
      FROM spans
    )
    SELECT n_sessions,
           FLOOR(n_sessions
                 / ((bounds.t1 - bounds.t0) / 3600e6) * 1e6) / 1e6
             AS lambda_per_hour,
           FLOOR(total_dur_us / n_sessions / 3600e6 * 1e6) / 1e6
             AS w_hours,
           FLOOR(total_dur_us / CAST(bounds.t1 - bounds.t0 AS DOUBLE)
                 * 1e6) / 1e6 AS l_avg_concurrent
    FROM agg CROSS JOIN bounds
    """,
)
def events_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law (L = lambda x W) over user sessions: arrival rate
    lambda (sessions/hour over the corpus span), mean session
    duration W, and average concurrency L computed as total
    session-time over wall-time — by construction these satisfy
    L = lambda*W EXACTLY, so the three numbers cross-validate the
    sessionization pipeline (a mismatch means sessions were dropped
    or double-counted; queueing dashboards run exactly this sanity
    triangle). Sessions use the same 10-minute-gap definition as
    events_session_window_native (gap >= 600s opens, duration =
    span + gap); per-user windows bounded by activity; everything
    else is two scalar aggregates on integer microseconds."""
    ev = load_table(spark, sf_dir, "events")
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = ev.agg(
        F.min(ep).alias("t0"),
        F.max(ep).alias("t1"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(ep).over(w)
    sess = ev.select(
        "user_id",
        ep.alias("ep"),
        F.when(prev.isNull() | (ep - prev >= 600000000), 1)
        .otherwise(0)
        .alias("is_start"),
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ep")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sids = sess.withColumn("sid", F.sum("is_start").over(wc))
    spans = sids.groupBy("user_id", "sid").agg(
        (F.max("ep") - F.min("ep") + 600000000).alias("dur_us")
    )
    agg = spans.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("dur_us").alias("total_dur_us"),
    )
    j = agg.join(F.broadcast(bounds))
    wall_us = (F.col("t1") - F.col("t0")).cast("double")
    return j.select(
        "n_sessions",
        (
            F.floor(F.col("n_sessions") / (wall_us / 3600e6) * 1e6) / 1e6
        ).alias("lambda_per_hour"),
        (
            F.floor(
                F.col("total_dur_us") / F.col("n_sessions") / 3600e6 * 1e6
            )
            / 1e6
        ).alias("w_hours"),
        (F.floor(F.col("total_dur_us") / wall_us * 1e6) / 1e6).alias(
            "l_avg_concurrent"
        ),
    )


@query(
    "events_delta_encoding_stats",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP))
               - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS gap_us
      FROM events
    ),
    bits AS (
      SELECT CAST(CASE WHEN gap_us <= 0 THEN 1
                       ELSE FLOOR(ln(CAST(gap_us AS DOUBLE)) / ln(2)) + 1
                  END AS BIGINT) AS n_bits
      FROM gaps WHERE gap_us IS NOT NULL
    )
    SELECT n_bits,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(SUM(n_bits) AS BIGINT) AS total_bits
    FROM bits GROUP BY n_bits
    """,
)
def events_delta_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-encoding width histogram: per-user inter-event gaps in
    microseconds, bucketed by the bit width needed to store each
    delta — the measurement behind columnar timestamp encoding
    choices (delta + bit-packing beats raw int64 exactly when this
    histogram concentrates below ~32 bits; Parquet's DELTA_BINARY_
    PACKED makes the same decision per block). Per-user lag is
    bounded by user activity; bit width = floor(log2(gap))+1
    computed identically in both engines (ln ratio on exact integer
    inputs — the log2(2^k) boundary cases land identically because
    both engines evaluate the SAME IEEE expression); the histogram
    is one keyed aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ep = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = ev.select((ep - F.lag(ep).over(w)).alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    n_bits = F.when(F.col("gap_us") <= 0, F.lit(1)).otherwise(
        F.floor(
            F.log(F.col("gap_us").cast("double")) / F.log(F.lit(2.0))
        )
        + 1
    ).cast("long")
    return (
        gaps.select(n_bits.alias("n_bits"))
        .groupBy("n_bits")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.sum("n_bits").cast("long").alias("total_bits"),
        )
    )


@query(
    "events_retention_matrix",
    oracle="""
    WITH first AS (
      SELECT user_id,
             MIN(date_trunc('week', CAST(ts AS TIMESTAMP))) AS cohort_week
      FROM events GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id,
             date_trunc('week', CAST(ts AS TIMESTAMP)) AS w
      FROM events
    ),
    cohort_sizes AS (
      SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_cohort
      FROM first GROUP BY cohort_week
    ),
    cells AS (
      SELECT f.cohort_week,
             CAST(datediff('day', f.cohort_week, a.w) / 7 AS INT)
               AS week_offset,
             CAST(COUNT(*) AS BIGINT) AS n_active
      FROM active a JOIN first f ON a.user_id = f.user_id
      GROUP BY 1, 2
    )
    SELECT CAST(c.cohort_week AS TIMESTAMP) AS cohort_week,
           c.week_offset, s.n_cohort, c.n_active,
           CAST(c.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE)
             AS retention_rate
    FROM cells c JOIN cohort_sizes s ON c.cohort_week = s.cohort_week
    ORDER BY cohort_week, week_offset
    """,
)
def events_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort retention triangle — THE product-analytics table:
    users grouped by first-activity week (cohort), and for each
    (cohort, week-offset) cell the count and share of the cohort
    still active that week. Complements events_growth_accounting
    (which nets new/churned per period) with the per-cohort decay
    curve.

    Scale shape: two aggregates over the event scan (first-touch per
    user, distinct user-weeks) joined on user_id — both shuffle on
    the uniform user key; the output is O(cohorts x offsets) cells,
    independent of event volume. Week offsets are exact integer
    day-diffs / 7 (both weeks are Monday-truncated so the division is
    exact); the retention rate is one IEEE division of two exact
    integers — engine-deterministic without rounding."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts").cast("timestamp"))
    first = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    active = ev.select("user_id", wk.alias("w")).distinct()
    cohort_sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    cells = (
        active.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff("w", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    return (
        cells.join(cohort_sizes, "cohort_week")
        .select(
            F.col("cohort_week").cast("timestamp").alias("cohort_week"),
            "week_offset",
            "n_cohort",
            "n_active",
            (
                F.col("n_active").cast("double")
                / F.col("n_cohort").cast("double")
            ).alias("retention_rate"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ) AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ),
    totals AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
      FROM trans GROUP BY from_type
    )
    SELECT t.from_type, t.to_type, t.n,
           CAST(t.n AS DOUBLE) / CAST(tt.n_from AS DOUBLE) AS p
    FROM trans t JOIN totals tt ON t.from_type = tt.from_type
    ORDER BY t.from_type, t.to_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for
    each ordered per-user event pair, count (from_type -> to_type)
    transitions and row-normalize into transition probabilities — the
    input to next-action prediction, anomaly scoring (improbable
    chains), and bot detection (near-deterministic rows). Differs
    from events_sequence_pattern (which matches a fixed regex motif):
    this estimates the full behavior chain.

    Scale shape: one user-keyed window (lag) over the event scan —
    the same partitioning every sessionization query uses — then a
    (from,to)-keyed aggregate whose output is |event_type|^2 cells,
    independent of volume. Probabilities are single IEEE divisions of
    exact integer counts — engine-deterministic without rounding."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), "event_id"
    )
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    totals = trans.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("n_from")
    )
    return (
        trans.join(totals, "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            (F.col("n").cast("double") / F.col("n_from").cast("double")).alias(
                "p"
            ),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "agg_theta_kmv_intersection",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  ::UBIGINT AS BIGINT) AS h
      FROM events WHERE event_type IN ('view', 'purchase')
    ),
    ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM h
    ),
    sk AS (SELECT event_type, h, rn FROM ranked WHERE rn <= 64),
    side AS (
      SELECT event_type, MAX(h) AS kth, COUNT(*) AS k_used
      FROM sk GROUP BY event_type
    ),
    theta AS (SELECT MIN(kth) AS theta FROM side),
    inter AS (
      SELECT COUNT(*) AS c
      FROM sk a JOIN sk b ON a.h = b.h
       AND a.event_type = 'view' AND b.event_type = 'purchase'
      CROSS JOIN theta t
      WHERE a.h < t.theta
    ),
    exact AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_inter FROM (
        SELECT user_id FROM events WHERE event_type = 'view'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'purchase'
      )
    )
    SELECT CAST(i.c AS BIGINT) AS n_common_hashes,
           CAST(t.theta AS BIGINT) AS theta,
           ROUND(i.c * 4294967296.0 / t.theta, 4) AS est_inter,
           e.exact_inter
    FROM inter i CROSS JOIN theta t CROSS JOIN exact e
    """,
)
def agg_theta_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV sketch INTERSECTION (the DataSketches-style bottom-k
    alternative to HLL): each segment keeps only its K=64 smallest
    distinct md5 user hashes; |A∩B| is estimated from hash survivors
    below θ = min(θ_A, θ_B) scaled by M/θ — set algebra directly on
    KB-sized sketches, with an estimator HLL cannot provide natively
    (agg_hll_set_algebra gets intersection only via inclusion-
    exclusion, compounding three errors). Because the hash is md5 —
    not an engine-private seed — the WHOLE sketch is replayed by the
    oracle and gated by VALUE, no tolerance band needed. Scale path:
    the bottom-k per segment is a two-phase top-K (threshold prefilter
    → exact rank of survivors), never a global sort of the fact table;
    sketches merge by keeping the k smallest of the union, so per-day
    segment sketches roll up without rescans."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select("event_type", "user_id")
        .distinct()
    )
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 8),
        16,
        10,
    ).cast("long")
    hashes = ev.select("event_type", h.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    sk = hashes.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 64
    )
    side = sk.groupBy("event_type").agg(F.max("h").alias("kth"))
    theta = side.agg(F.min("kth").alias("theta"))
    a = sk.filter(F.col("event_type") == "view").select("h")
    b = sk.filter(F.col("event_type") == "purchase").select("h")
    inter = (
        a.join(b, "h")
        .crossJoin(F.broadcast(theta))
        .filter(F.col("h") < F.col("theta"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    v = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "view"
    ).select("user_id").distinct()
    p = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("user_id").distinct()
    exact = v.join(p, "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_inter")
    )
    return (
        inter.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(exact))
        .select(
            F.col("c").cast("long").alias("n_common_hashes"),
            F.col("theta").cast("long").alias("theta"),
            F.round(
                F.col("c") * F.lit(4294967296.0) / F.col("theta"), 4
            ).alias("est_inter"),
            "exact_inter",
        )
    )
