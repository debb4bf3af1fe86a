"""Event-stream analytics (batch form) over the ``events`` table.

The reference has no streaming surface (SURVEY.md §2.11); these are the
beyond-reference extensions: time-bucketed aggregation, pivot,
sessionization, per-group top-k, JSON prop extraction. The same logic is
mirrored in ``streaming/`` on ``readStream`` — these batch forms are the
oracle-checkable twins.

Timestamps are never returned raw (Spark µs vs DuckDB ns precision could
diverge at the driver's comparison); bucketed times are cast to strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.window import Window

from .base import QuerySpec, t


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation (batch twin of the streaming
    tumbling-window query)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", col("ts")).cast("string").alias("hour_start"),
            col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


_EVENTS_HOURLY_SQL = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


def q_events_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into columns per day (groupBy().pivot() — Spark
    plans it as a single partial-aggregable hash agg)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date(col("ts")).cast("string").alias("day"))
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "view", "purchase", "signup", "error"])
    )


_EVENTS_PIVOT_SQL = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
       count(*) FILTER (event_type = 'click')    AS click,
       count(*) FILTER (event_type = 'view')     AS view,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup')   AS signup,
       count(*) FILTER (event_type = 'error')    AS error
FROM events
GROUP BY 1
"""


def q_events_hourly_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed pivot (one driver slot for the former
    ``events_hourly`` + ``events_daily_pivot``): tumbling 1-hour
    truncation, event_type pivoted to columns with pinned values (a
    pivot with explicit values plans as ONE partial-aggregable hash agg
    — no second pass to discover the pivot domain), plus the row total.
    Batch twin of the streaming tumbling-window query."""
    ev = t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    pivoted = (
        ev.groupBy(F.date_trunc("hour", col("ts")).cast("string").alias("hour_start"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )
    return pivoted.withColumn(
        "n_events", sum(col(c) for c in types).cast("long")
    )


_EVENTS_HOURLY_PIVOT_SQL = """
SELECT hour_start, click, view, purchase, signup, error,
       click + view + purchase + signup + error AS n_events
FROM (
    SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_start,
           count(*) FILTER (event_type = 'click')    AS click,
           count(*) FILTER (event_type = 'view')     AS view,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup')   AS signup,
           count(*) FILTER (event_type = 'error')    AS error
    FROM events
    GROUP BY 1
)
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session):
    lag + cumulative sum over a per-user window, then per-user session
    stats. Batch twin of the streaming session-window query."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    with_session = (
        ev.withColumn("prev_us", F.lag(F.unix_micros(col("ts"))).over(w))
        .withColumn(
            "new_session",
            F.when(
                col("prev_us").isNull()
                | (F.unix_micros(col("ts")) - col("prev_us") > gap_us),
                1,
            ).otherwise(0),
        )
        .withColumn("session_seq", F.sum("new_session").over(w))
    )
    return (
        with_session.groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.max("session_seq").alias("n_sessions"),
            # integer-sum / count quotient: repr-free floor rounding
            # (Spark repr-round vs DuckDB binary-round split exact ties)
            (
                F.floor(
                    F.sum("n_events") / F.count(F.lit(1)) * 100 + F.lit(0.5)
                ).cast("double")
                / 100
            ).alias("avg_events_per_session"),
            F.max("n_events").alias("max_session_events"),
        )
    )


_EVENTS_SESSIONIZE_SQL = """
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
    SELECT user_id, event_id,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
    FROM flagged
), per_session AS (
    SELECT user_id, session_seq, count(*) AS n_events
    FROM sessions GROUP BY 1, 2
)
SELECT user_id,
       CAST(max(session_seq) AS BIGINT) AS n_sessions,
       CAST(floor(sum(n_events) / count(*) * 100 + 0.5) AS DOUBLE) / 100
         AS avg_events_per_session,
       max(n_events) AS max_session_events
FROM per_session
GROUP BY 1
"""


def q_events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: top 3 users by total value within each
    event_type (agg → window → filter)."""
    ev = t(spark, sf_dir, "events")
    totals = ev.groupBy("event_type", "user_id").agg(
        F.round(F.sum("value"), 2).alias("user_value")
    )
    w = Window.partitionBy("event_type").orderBy(col("user_value").desc(), col("user_id"))
    return (
        totals.withColumn("user_rank", F.row_number().over(w))
        .filter(col("user_rank") <= 3)
    )


_EVENTS_TOP_USERS_SQL = """
SELECT event_type, user_id, user_value, user_rank
FROM (
    SELECT event_type, user_id, round(sum(value), 2) AS user_value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY round(sum(value), 2) DESC, user_id) AS user_rank
    FROM events
    GROUP BY event_type, user_id
)
WHERE user_rank <= 3
"""


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the semi-structured ``props``
    column (the read-side mirror of the reference's to_json packing,
    propnex_transformation.py:80-90)."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object(col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            (
                F.floor(F.sum("k") / F.count("k") * 100 + F.lit(0.5)).cast("double")
                / 100
            ).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(col("k") > 50, 1)).alias("n_high"),
        )
    )


_EVENTS_JSON_SQL = """
SELECT event_type,
       CAST(floor(sum(k) / count(k) * 100 + 0.5) AS DOUBLE) / 100 AS avg_k,
       max(k) AS max_k,
       count(*) FILTER (k > 50) AS n_high
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
GROUP BY 1
"""


def q_events_salted_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe per-user totals: salted two-stage aggregation
    (operators/skew.py). The oracle is the PLAIN group-by — salting must
    be semantically invisible."""
    from ..operators.skew import salted_sum_count

    ev = t(spark, sf_dir, "events")
    return salted_sum_count(
        ev, keys=["user_id"], value_col="value", n_salts=16, salt_source=col("event_id")
    )


_EVENTS_SALTED_SQL = """
SELECT user_id,
       round(sum(value), 2) AS total_value,
       count(*) AS n_rows
FROM events
GROUP BY user_id
"""


def q_events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): attribute each purchase to the
    user's most recent prior-or-simultaneous click. Oracle = DuckDB's
    native ASOF JOIN; ours is the union-sort formulation (one shuffle,
    linear merge per key)."""
    from ..operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", col("value").alias("purchase_value")
    )
    clicks = ev.filter(col("event_type") == "click").select(
        "user_id", "ts", col("event_id").alias("click_id"), col("value").alias("click_value")
    )
    joined = asof_join(
        purchases, clicks, key="user_id", ts="ts",
        right_value_cols=["click_id", "click_value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        col("ts").cast("string").alias("purchase_ts"),
        "purchase_value",
        col("click_id_asof").alias("click_id"),
        col("click_value_asof").alias("click_value"),
    )


_EVENTS_ASOF_SQL = """
SELECT p.event_id AS event_id,
       p.user_id AS user_id,
       CAST(p.ts AS VARCHAR) AS purchase_ts,
       p.value AS purchase_value,
       c.event_id AS click_id,
       c.value AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_events_above_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas API (applyInPandas): flag events above their
    event_type's median value. Median interpolation is (a+b)/2 in both
    pandas and DuckDB — exact parity, so this Python-boundary operator
    still gets a full oracle."""
    import pandas as pd

    from ..shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def flag(pdf: pd.DataFrame) -> pd.DataFrame:
        med = pdf["value"].median()
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "above_median": (pdf["value"] > med).astype("int32"),
            }
        )

    return ev.groupBy("event_type").applyInPandas(
        flag, schema="event_id long, event_type string, above_median int"
    )


_EVENTS_ABOVE_MEDIAN_SQL = """
SELECT event_id, event_type,
       CAST(value > median(value) OVER (PARTITION BY event_type) AS INT) AS above_median
FROM events
"""


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join (operators/rangejoin.py): classify event
    values into value bands derived from nation (band i = [i·20, i·20+20)
    doubled width for odd ids — non-uniform so bucketization is honest).
    Oracle is the plain theta join."""
    from ..operators.rangejoin import range_join_bucketed

    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    bands = t(spark, sf_dir, "nation").select(
        col("n_name").alias("band_name"),
        (col("n_nationkey") * 20.0).alias("lo"),
        (col("n_nationkey") * 20.0 + F.when(col("n_nationkey") % 2 == 1, 40.0).otherwise(20.0)).alias("hi"),
    )
    joined = range_join_bucketed(ev, bands, "value", "lo", "hi", bucket_width=25.0)
    return joined.groupBy("band_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


_EVENTS_RANGE_JOIN_SQL = """
WITH bands AS (
    SELECT n_name AS band_name,
           n_nationkey * 20.0 AS lo,
           n_nationkey * 20.0 + CASE WHEN n_nationkey % 2 = 1 THEN 40.0 ELSE 20.0 END AS hi
    FROM nation
)
SELECT band_name,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
JOIN bands ON value >= lo AND value < hi
GROUP BY band_name
"""


QUERIES: dict[str, QuerySpec] = {
    "events_range_join": QuerySpec(q_events_range_join, _EVENTS_RANGE_JOIN_SQL),
    # r5 session 4: events_above_median demoted to LOCAL_QUERIES (median
    # window demo; the percentile family stays anchored by
    # events_sessionize/orders_window_frames) in favor of the
    # deterministic-HLL sketch — registered after its definition below.
    "events_asof_attribution": QuerySpec(q_events_asof_attribution, _EVENTS_ASOF_SQL),
    # r6 session 3: events_salted_totals demoted to LOCAL_QUERIES (the
    # salting lesson — map-side partial agg already absorbs hot keys —
    # is recorded in tools/scale_probe.py's skew findings, and the agg
    # family stays anchored by pricing_summary/events_hll_users) in
    # favor of the composed entity-resolution pipeline
    # (er_golden_record: block → match → cluster → survivorship).
    # r6 rotation: events_hourly_pivot demoted to LOCAL_QUERIES (hourly
    # aggregation stays graded via stream_hourly_tumbling; the pivot
    # shape stays local-oracled via events_daily_pivot) in favor of the
    # model-based streaming ingest gate (stream_lr_gate).
    "events_sessionize": QuerySpec(q_events_sessionize, _EVENTS_SESSIONIZE_SQL),
    "events_json_props": QuerySpec(q_events_json_props, _EVENTS_JSON_SQL),
}

def q_events_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily stats answered from the MATERIALIZED hourly rollup
    (operators/rollup.py) — the hypertable/continuous-aggregate
    pattern. The oracle aggregates the RAW table directly, so this
    query proves the re-aggregation is exact: counts/sums are
    algebraic and value is carried as DECIMAL (order-free addition);
    a double sum here would fail the hash on the last ulp."""
    from ..operators.rollup import build_hourly_rollup, daily_from_hourly

    ev = t(spark, sf_dir, "events")
    return daily_from_hourly(build_hourly_rollup(ev))


_EVENTS_DAILY_ROLLUP_SQL = """
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS total_value,
       CAST(floor(CAST(sum(CAST(value AS DECIMAL(18, 6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) AS DOUBLE) / 1000000
         AS avg_value
FROM events
GROUP BY 1, 2
"""


def q_events_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream attribution join
    (the matched rows of streaming/events.stream_view_purchase_outer,
    served as ``stream_attribution_join``): every (purchase, view)
    pair by the same user with the view in the 30 minutes before the
    purchase. Equi-join on user_id with a residual time-range predicate
    — one shuffle on the join key; the time bound is applied post-match,
    which AQE can skew-split if one user dominates. The streaming
    variant is the scale path for unbounded data (bounded state via
    watermark + range condition); this twin gives the family an exact
    oracle."""
    from ..streaming.events import ATTRIBUTION_HORIZON_MIN

    ev = t(spark, sf_dir, "events")
    views = ev.where(col("event_type") == "view").select(
        col("event_id").alias("view_id"),
        col("user_id"),
        col("ts").alias("view_ts"),
    )
    purchases = ev.where(col("event_type") == "purchase").select(
        col("event_id").alias("purchase_id"),
        col("user_id").alias("p_user_id"),
        col("ts").alias("purchase_ts"),
    )
    return views.join(
        purchases,
        (col("user_id") == col("p_user_id"))
        & (col("purchase_ts") >= col("view_ts"))
        & (
            col("purchase_ts")
            <= col("view_ts") + F.expr(f"interval {ATTRIBUTION_HORIZON_MIN} minutes")
        ),
    ).select(
        "purchase_id",
        "view_id",
        "user_id",
        (F.unix_micros(col("purchase_ts")) - F.unix_micros(col("view_ts"))).alias(
            "micros_to_purchase"
        ),
    )


_EVENTS_ATTRIBUTION_SQL = """
SELECT p.event_id AS purchase_id,
       v.event_id AS view_id,
       v.user_id,
       epoch_us(p.ts) - epoch_us(v.ts) AS micros_to_purchase
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 30 MINUTES
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


# Subsumed by events_hourly_pivot (hourly/daily time-bucket + pivot) or a
# near-duplicate of graded top-k demos; oracle-verified locally.
def q_events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read via the VARIANT type (Spark 4): ``parse_json``
    ingests ``props`` once into a binary variant, fields are extracted
    with ``variant_get`` path expressions — no StructType declared
    anywhere, the 100 TB answer to schema-drifting telemetry (new keys
    need no reader change, unlike the ``from_json``/``get_json_object``
    twins which re-parse text per access). Per-type distinct-key count +
    typed extraction, both engines on their native JSON paths."""
    ev = t(spark, sf_dir, "events")
    v = F.parse_json(col("props"))
    k = F.variant_get(v, "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count_distinct(col("k")).alias("n_distinct_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(col("k").isNull(), 1)).alias("n_null_k"),
        )
    )


_EVENTS_VARIANT_SQL = """
SELECT event_type,
       count(DISTINCT k) AS n_distinct_k,
       min(k) AS min_k,
       max(k) AS max_k,
       count(*) FILTER (k IS NULL) AS n_null_k
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
GROUP BY 1
"""


LOCAL_QUERIES: dict[str, QuerySpec] = {
    # r6 rotation demotions (see QUERIES notes):
    "events_hourly_pivot": QuerySpec(
        q_events_hourly_pivot, _EVENTS_HOURLY_PIVOT_SQL
    ),
    "events_salted_totals": QuerySpec(
        q_events_salted_totals, _EVENTS_SALTED_SQL
    ),
    "events_attribution_join": QuerySpec(
        q_events_attribution_join, _EVENTS_ATTRIBUTION_SQL
    ),
    "events_variant_props": QuerySpec(q_events_variant_props, _EVENTS_VARIANT_SQL),
    "events_daily_rollup": QuerySpec(q_events_daily_rollup, _EVENTS_DAILY_ROLLUP_SQL),
    "events_hourly": QuerySpec(q_events_hourly, _EVENTS_HOURLY_SQL),
    "events_daily_pivot": QuerySpec(q_events_daily_pivot, _EVENTS_PIVOT_SQL),
    "events_top_users": QuerySpec(q_events_top_users, _EVENTS_TOP_USERS_SQL),
}


# --- funnel analysis ---------------------------------------------------------

def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence conversion funnel (view → click → purchase):
    a user converts a stage only with an event STRICTLY LATER than
    their earliest qualifying event of the previous stage — the
    product-analytics shape sessionize/pivot don't cover.

    Plan: two running-min window passes over ONE per-user sort (same
    partitioning, Catalyst plans a single Exchange+Sort and chains the
    Window operators), then one per-user aggregate and a 1-row report.
    No self-joins — the naive 3-way event⋈event⋈event funnel join is
    quadratic in hot users; this is linear with a per-user-events
    window state."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r1 = F.min(F.when(col("event_type") == "view", col("ts"))).over(w)
    staged = ev.select("user_id", "event_id", "ts", "event_type").withColumn(
        "r1", r1
    )
    qual_click = (
        (col("event_type") == "click") & col("r1").isNotNull() & (col("ts") > col("r1"))
    )
    staged = staged.withColumn(
        "r2", F.min(F.when(qual_click, col("ts"))).over(w)
    )
    qual_purchase = (
        (col("event_type") == "purchase")
        & col("r2").isNotNull()
        & (col("ts") > col("r2"))
    )
    per_user = staged.groupBy("user_id").agg(
        F.min(F.when(col("event_type") == "view", col("ts"))).alias("t1"),
        F.min(F.when(qual_click, col("ts"))).alias("t2"),
        F.min(F.when(qual_purchase, col("ts"))).alias("t3"),
    )
    return per_user.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click_after_view"),
        F.count("t3").alias("n_purchase_after_click"),
        F.round(
            F.count("t2").cast("double") / F.nullif(F.count("t1"), F.lit(0)), 4
        ).alias("view_to_click"),
        F.round(
            F.count("t3").cast("double") / F.nullif(F.count("t2"), F.lit(0)), 4
        ).alias("click_to_purchase"),
        F.round(
            F.count("t3").cast("double") / F.nullif(F.count("t1"), F.lit(0)), 4
        ).alias("overall"),
    )


_EVENTS_FUNNEL_SQL = """
WITH w1 AS (
    SELECT user_id, event_id, ts, event_type,
           min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS r1
    FROM events
), w2 AS (
    SELECT *,
           min(CASE WHEN event_type = 'click' AND r1 IS NOT NULL AND ts > r1
                    THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS r2
    FROM w1
), per_user AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
           min(CASE WHEN event_type = 'click' AND r1 IS NOT NULL AND ts > r1
                    THEN ts END) AS t2,
           min(CASE WHEN event_type = 'purchase' AND r2 IS NOT NULL AND ts > r2
                    THEN ts END) AS t3
    FROM w2 GROUP BY user_id
)
SELECT count(t1) AS n_view,
       count(t2) AS n_click_after_view,
       count(t3) AS n_purchase_after_click,
       round(CAST(count(t2) AS DOUBLE) / nullif(count(t1), 0), 4) AS view_to_click,
       round(CAST(count(t3) AS DOUBLE) / nullif(count(t2), 0), 4) AS click_to_purchase,
       round(CAST(count(t3) AS DOUBLE) / nullif(count(t1), 0), 4) AS overall
FROM per_user
"""


LOCAL_QUERIES["events_funnel"] = QuerySpec(q_events_funnel, _EVENTS_FUNNEL_SQL)


# --- cohort retention --------------------------------------------------------

def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, then
    the share of each cohort active again N days later — the classic
    growth-analytics triangle.

    Plan: one user-grained min-day aggregate, one distinct over
    (user, day) — both shuffles on user_id, so AQE reuses the exchange
    for the activity⋈cohort join — then a (cohort, offset) aggregate
    and a broadcast join of the days-sized cohort totals for the
    retention ratio. Nothing wider than (user, day) ever shuffles."""
    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date(col("ts"))).alias("cohort_day")
    )
    activity = ev.select("user_id", F.to_date(col("ts")).alias("day")).distinct()
    cohort_sizes = firsts.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    cells = (
        activity.join(firsts, "user_id")
        .select(
            "cohort_day",
            F.datediff(col("day"), col("cohort_day")).alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        cells.join(F.broadcast(cohort_sizes), "cohort_day")
        .select(
            col("cohort_day").cast("string").alias("cohort_day"),
            "day_offset",
            "n_active",
            "cohort_users",
            F.round(
                col("n_active").cast("double") / col("cohort_users"), 4
            ).alias("retention"),
        )
    )


_EVENTS_COHORT_SQL = """
WITH firsts AS (
    SELECT user_id, min(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
    FROM events GROUP BY user_id
), activity AS (
    SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
    FROM events
), cohort_sizes AS (
    SELECT cohort_day, count(*) AS cohort_users FROM firsts GROUP BY cohort_day
), cells AS (
    SELECT f.cohort_day, (a.day - f.cohort_day) AS day_offset,
           count(*) AS n_active
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
)
SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
       c.day_offset, c.n_active, s.cohort_users,
       round(CAST(c.n_active AS DOUBLE) / s.cohort_users, 4) AS retention
FROM cells c JOIN cohort_sizes s USING (cohort_day)
"""


LOCAL_QUERIES["events_cohort_retention"] = QuerySpec(
    q_events_cohort_retention, _EVENTS_COHORT_SQL
)


# --- daily anomaly detection -------------------------------------------------

def q_events_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly flags on the daily event-count series per event
    type — the monitoring query a production ingest pipeline runs to
    catch volume regressions.

    Plan: one (day, type) partial-aggregated shuffle builds the daily
    series; the per-type stats are a types-sized aggregate of THAT
    (never a second corpus pass) and broadcast back onto the series.
    Variance comes from exact integer sums (n, Σx, Σx²) pushed through
    the identical double expression in both engines, so the z-scores
    are bit-reproducible — no stddev_samp whose merge order floats.
    At 100 TB the corpus shuffles once at (day, type) grain; everything
    downstream is days×types-sized."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(col("ts")).alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").alias("s1"),
        F.sum(col("n_events") * col("n_events")).alias("s2"),
    )
    z = F.expr(
        "(CAST(n_events AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n_days AS DOUBLE))"
        " / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
        " / CAST(n_days AS DOUBLE)) / CAST(n_days AS DOUBLE))"
    )
    return (
        daily.join(F.broadcast(stats), "event_type")
        .filter(col("s2") * col("n_days") > col("s1") * col("s1"))
        .select(
            col("day").cast("string").alias("day"),
            "event_type",
            "n_events",
            F.floor(z * 1e4 + F.lit(0.5)).cast("long").alias("z_q"),
            (F.abs(z) > 2).cast("int").alias("is_anomaly"),
        )
    )


_EVENTS_ANOMALY_SQL = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           count(*) AS n_events
    FROM events GROUP BY 1, 2
), stats AS (
    SELECT event_type, count(*) AS n_days,
           CAST(sum(n_events) AS BIGINT) AS s1,
           CAST(sum(n_events * n_events) AS BIGINT) AS s2
    FROM daily GROUP BY event_type
), scored AS (
    SELECT d.day, d.event_type, d.n_events,
           (CAST(d.n_events AS DOUBLE) - CAST(s.s1 AS DOUBLE) / CAST(s.n_days AS DOUBLE))
           / sqrt((CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE)
             / CAST(s.n_days AS DOUBLE)) / CAST(s.n_days AS DOUBLE)) AS z
    FROM daily d JOIN stats s USING (event_type)
    WHERE s.s2 * s.n_days > s.s1 * s.s1
)
SELECT CAST(day AS VARCHAR) AS day, event_type, n_events,
       CAST(floor(z * 1e4 + 0.5) AS BIGINT) AS z_q,
       CAST(abs(z) > 2 AS INT) AS is_anomaly
FROM scored
"""


LOCAL_QUERIES["events_anomaly_days"] = QuerySpec(
    q_events_anomaly_days, _EVENTS_ANOMALY_SQL
)


# --- deterministic HyperLogLog -----------------------------------------------

from ..functions.hashing import (  # noqa: E402 — sketch helpers
    HLL_ALPHA as _HLL_ALPHA,
    avalanche_hash,
    duck_shr,
    duck_xor,
    hll_rho as _hll_rho,
    spark_shr,
    spark_xor,
)


def q_events_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user estimate per event type via a from-scratch
    HyperLogLog sketch (p=8) that is BIT-IDENTICAL across engines —
    unlike approx_count_distinct, whose sketch internals can only be
    bound-checked (queries/tpch_extra.py q_approx_stats), this one's
    registers, estimate, and error all hash-match the DuckDB twin.

    The sketch is built the way a 1000-executor run would: per
    (type, register) MAX of the rank — associative, partial-agg'd
    map-side, one shuffle at register grain (types × 256 rows), then a
    types-sized final fold. The 2^-rank harmonic sum is held as an
    exact integer (Σ 2^(24−rho) at fixed 2^24 scale) so no
    float-addition order can diverge; the linear-counting small-range
    branch is applied identically in both engines. Exact distinct
    rides alongside for the observed relative error."""
    ev = t(spark, sf_dir, "events")
    registers = hll_registers(ev)
    return hll_fold(registers, ev)


def hll_registers(ev: DataFrame) -> DataFrame:
    """(event_type, idx) → max rho. Pure aggregation — the SAME plan
    fragment serves batch and streaming (streaming/events.py
    stream_hll_registers wraps it): max is associative, so partial
    aggregation / state-store merge both apply."""
    h = avalanche_hash("user_id", xor=spark_xor, shr=spark_shr)
    return (
        ev.select("event_type", F.expr(h).alias("h"))
        .select(
            "event_type",
            F.expr("h % 256").alias("idx"),
            F.expr("shiftright(h, 8)").alias("q"),
        )
        .select("event_type", "idx", F.expr(_hll_rho()).alias("rho"))
        .groupBy("event_type", "idx")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_est_expr(n_present: str = "n_present", sum_hi: str = "sum_hi") -> str:
    """The HLL estimate over a folded register row — IDENTICAL text in
    both engines (exact-integer harmonic sum at 2^24 scale; linear-
    counting branch below 2.5·m when zero registers exist)."""
    denom = (
        f"(CAST({sum_hi} + (256 - {n_present}) * 16777216 AS DOUBLE) / 16777216.0)"
    )
    raw = f"(CAST({_HLL_ALPHA} AS DOUBLE) * 65536.0 / {denom})"
    return (
        f"(CASE WHEN (256 - {n_present}) > 0 AND {raw} <= 640.0 "
        f"THEN 256.0 * ln(256.0 / CAST(256 - {n_present} AS DOUBLE)) "
        f"ELSE {raw} END)"
    )


def hll_fold(registers: DataFrame, ev: DataFrame) -> DataFrame:
    """Fold a register table into the estimate + observed error columns
    (shared by the batch query and the streaming twin)."""
    folded = registers.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 24 - max_rho)")).alias("sum_hi"),
    )
    est = hll_est_expr()
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        folded.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "exact_users",
            F.expr(f"CAST(floor({est} * 1e4 + 0.5) AS BIGINT)").alias("est_q"),
            F.expr(
                f"CAST(floor(abs({est} - CAST(exact_users AS DOUBLE))"
                " / CAST(exact_users AS DOUBLE) * 1e4 + 0.5) AS BIGINT)"
            ).alias("rel_err_q"),
        )
    )


def _events_hll_sql() -> str:
    d_hash = avalanche_hash("user_id", xor=duck_xor, shr=duck_shr)
    est = hll_est_expr()
    return f"""
WITH hashed AS (
    SELECT event_type, {d_hash} AS h FROM events
), qs AS (
    SELECT event_type, h % 256 AS idx, (h >> 8) AS q FROM hashed
), registers AS (
    SELECT event_type, idx, max({_hll_rho()}) AS max_rho
    FROM qs GROUP BY event_type, idx
), folded AS (
    SELECT event_type, count(*) AS n_present,
           CAST(sum((CAST(1 AS BIGINT) << (24 - max_rho))) AS BIGINT) AS sum_hi
    FROM registers GROUP BY event_type
), exact AS (
    SELECT event_type, count(DISTINCT user_id) AS exact_users
    FROM events GROUP BY event_type
)
SELECT f.event_type, e.exact_users,
       CAST(floor({est} * 1e4 + 0.5) AS BIGINT) AS est_q,
       CAST(floor(abs({est} - CAST(e.exact_users AS DOUBLE))
           / CAST(e.exact_users AS DOUBLE) * 1e4 + 0.5) AS BIGINT) AS rel_err_q
FROM folded f JOIN exact e USING (event_type)
"""


QUERIES["events_hll_users"] = QuerySpec(q_events_hll_users, _events_hll_sql())
LOCAL_QUERIES["events_above_median"] = QuerySpec(
    q_events_above_median, _EVENTS_ABOVE_MEDIAN_SQL
)


def q_events_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch mergeability — the property that makes HLL the 100 TB
    rollup primitive: each time partition (here the month's two
    fortnights) builds its register table INDEPENDENTLY, and the union
    estimate comes from a max-merge of registers with ZERO re-scan of
    either partition. This is how a warehouse serves "distinct users
    last N days" — N partial sketches, one register-grain merge —
    where exact distinct would re-shuffle every partition's raw keys.

    Emits per-type fortnight estimates, the merged estimate, and the
    exact union distinct for the observed error; every column
    hash-matches the DuckDB twin."""
    ev = t(spark, sf_dir, "events")
    part_a = ev.filter(F.dayofmonth(col("ts")) <= 15)
    part_b = ev.filter(F.dayofmonth(col("ts")) > 15)
    regs_a = hll_registers(part_a)
    regs_b = hll_registers(part_b)
    merged = (
        regs_a.unionByName(regs_b)
        .groupBy("event_type", "idx")
        .agg(F.max("max_rho").alias("max_rho"))
    )

    def est_of(regs: DataFrame, alias: str) -> DataFrame:
        folded = regs.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_present"),
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 24 - max_rho)")).alias(
                "sum_hi"
            ),
        )
        return folded.select(
            "event_type",
            F.expr(
                f"CAST(floor({hll_est_expr()} * 1e4 + 0.5) AS BIGINT)"
            ).alias(alias),
        )

    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_union")
    )
    return (
        est_of(regs_a, "est_a_q")
        .join(est_of(regs_b, "est_b_q"), "event_type")
        .join(est_of(merged, "est_merged_q"), "event_type")
        .join(F.broadcast(exact), "event_type")
    )


def _events_hll_merge_sql() -> str:
    d_hash = avalanche_hash("user_id", xor=duck_xor, shr=duck_shr)

    def regs(pred: str, name: str) -> str:
        return f"""{name} AS (
    SELECT event_type, idx, max({_hll_rho()}) AS max_rho
    FROM (SELECT event_type, h % 256 AS idx, (h >> 8) AS q
          FROM (SELECT event_type, {d_hash} AS h FROM events
                WHERE {pred}))
    GROUP BY event_type, idx
)"""

    def fold(src: str, name: str, alias: str) -> str:
        return f"""{name} AS (
    SELECT event_type,
           CAST(floor({hll_est_expr()} * 1e4 + 0.5) AS BIGINT) AS {alias}
    FROM (SELECT event_type, count(*) AS n_present,
                 CAST(sum((CAST(1 AS BIGINT) << (24 - max_rho))) AS BIGINT)
                     AS sum_hi
          FROM {src} GROUP BY event_type)
)"""

    return f"""
WITH {regs("day(ts) <= 15", "regs_a")},
{regs("day(ts) > 15", "regs_b")},
merged AS (
    SELECT event_type, idx, max(max_rho) AS max_rho
    FROM (SELECT * FROM regs_a UNION ALL SELECT * FROM regs_b)
    GROUP BY event_type, idx
),
{fold("regs_a", "fa", "est_a_q")},
{fold("regs_b", "fb", "est_b_q")},
{fold("merged", "fm", "est_merged_q")},
exact AS (
    SELECT event_type, count(DISTINCT user_id) AS exact_union
    FROM events GROUP BY event_type
)
SELECT fa.event_type, fa.est_a_q, fb.est_b_q, fm.est_merged_q, e.exact_union
FROM fa JOIN fb USING (event_type) JOIN fm USING (event_type)
JOIN exact e USING (event_type)
"""


LOCAL_QUERIES["events_hll_merge"] = QuerySpec(
    q_events_hll_merge, _events_hll_merge_sql()
)


def q_events_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-overlap estimation from sketches: |viewers ∩ buyers| via
    inclusion–exclusion over HLL registers — est(A) + est(B) −
    est(A∪B), where the union sketch is the zero-rescan max-merge of
    the two segment sketches. This is the audience-overlap readout HLL
    union alone can't give (HLL has no native intersect): at 100 TB
    each segment keeps 256 registers, the union is register-grain, and
    the exact countDistinct-per-segment re-shuffle never happens. The
    intersection estimate is computed from the ALREADY-QUANTIZED
    per-segment estimates (integer arithmetic on the 1e-4 grid, floored
    at 0 — inclusion–exclusion can go negative at sketch error), so the
    readout is bit-stable cross-engine; the exact intersection rides
    along for the observed error."""
    ev = t(spark, sf_dir, "events")
    regs_v = hll_registers(ev.filter(col("event_type") == "view"))
    regs_p = hll_registers(ev.filter(col("event_type") == "purchase"))
    regs_u = (
        regs_v.unionByName(regs_p)
        .groupBy("idx")
        .agg(F.max("max_rho").alias("max_rho"))
    )

    def est1(regs: DataFrame, alias: str) -> DataFrame:
        folded = regs.agg(
            F.count(F.lit(1)).alias("n_present"),
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 24 - max_rho)")).alias(
                "sum_hi"
            ),
        )
        return folded.select(
            F.expr(f"CAST(floor({hll_est_expr()} * 1e4 + 0.5) AS BIGINT)").alias(
                alias
            )
        )

    both = (
        ev.filter(col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("nt"))
        .agg(F.sum((col("nt") == 2).cast("bigint")).alias("exact_intersect"))
    )
    return (
        est1(regs_v.select("idx", "max_rho"), "est_view_q")
        .crossJoin(F.broadcast(est1(regs_p.select("idx", "max_rho"), "est_buy_q")))
        .crossJoin(F.broadcast(est1(regs_u, "est_union_q")))
        .crossJoin(F.broadcast(both))
        .select(
            "est_view_q",
            "est_buy_q",
            "est_union_q",
            F.greatest(
                F.lit(0).cast("bigint"),
                col("est_view_q") + col("est_buy_q") - col("est_union_q"),
            ).alias("est_intersect_q"),
            "exact_intersect",
        )
    )


def _events_hll_overlap_sql() -> str:
    d_hash = avalanche_hash("user_id", xor=duck_xor, shr=duck_shr)

    def regs(pred: str, name: str) -> str:
        return f"""{name} AS (
    SELECT idx, max({_hll_rho()}) AS max_rho
    FROM (SELECT h % 256 AS idx, (h >> 8) AS q
          FROM (SELECT {d_hash} AS h FROM events WHERE {pred}))
    GROUP BY idx
)"""

    def fold(src: str, name: str, alias: str) -> str:
        return f"""{name} AS (
    SELECT CAST(floor({hll_est_expr()} * 1e4 + 0.5) AS BIGINT) AS {alias}
    FROM (SELECT count(*) AS n_present,
                 CAST(sum((CAST(1 AS BIGINT) << (24 - max_rho))) AS BIGINT)
                     AS sum_hi
          FROM {src})
)"""

    return f"""
WITH {regs("event_type = 'view'", "regs_v")},
{regs("event_type = 'purchase'", "regs_p")},
regs_u AS (
    SELECT idx, max(max_rho) AS max_rho
    FROM (SELECT * FROM regs_v UNION ALL SELECT * FROM regs_p)
    GROUP BY idx
),
{fold("regs_v", "fv", "est_view_q")},
{fold("regs_p", "fp", "est_buy_q")},
{fold("regs_u", "fu", "est_union_q")},
exact AS (
    SELECT CAST(sum(CASE WHEN nt = 2 THEN 1 ELSE 0 END) AS BIGINT)
        AS exact_intersect
    FROM (SELECT user_id, count(DISTINCT event_type) AS nt FROM events
          WHERE event_type IN ('view', 'purchase') GROUP BY user_id)
)
SELECT est_view_q, est_buy_q, est_union_q,
       greatest(CAST(0 AS BIGINT),
                est_view_q + est_buy_q - est_union_q) AS est_intersect_q,
       exact_intersect
FROM fv, fp, fu, exact
"""


LOCAL_QUERIES["events_hll_overlap"] = QuerySpec(
    q_events_hll_overlap, _events_hll_overlap_sql()
)


# --- mergeable quantile sketch -----------------------------------------------

def q_events_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 of ``value`` per event type through a MERGEABLE
    fixed-grid histogram sketch (bucket = floor(value·10); counts merge
    by +, the same map-side-combine property as the HLL/CMS family) —
    completing the sketch trio: cardinality (HLL), frequency (CMS),
    quantiles (this). The exact rank-r value rides alongside purely to
    verify the sketch's ≤0.1 bucket-width error; the sketch path is
    the one that scales (a 100 TB run never sorts the data — the
    histogram is bucket-grain, its cumulative window runs over ≤5k
    rows per type).

    All rank arithmetic is ceil(q·n) on exact integers through
    identical double literals; the estimate is the smallest bucket
    whose cumulative count reaches the rank."""
    ev = t(spark, sf_dir, "events")
    # bucket-grain (≤5k rows/type) and consumed by three branches (cum,
    # totals, est) — checkpoint so the corpus aggregation runs once
    # (operators/components.py precedent; lazy, GC-managed)
    hist = (
        ev.groupBy(
            "event_type",
            F.floor(col("value") * 10).cast("long").alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    wb = Window.partitionBy("event_type").orderBy("bucket")
    cum = hist.withColumn("cum", F.sum("cnt").over(wb))
    totals = hist.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    qq = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(pct).alias("q_pct"),
                    F.ceil(col("n") * F.lit(pct / 100.0)).cast("long").alias("r"),
                )
                for pct in (50, 95, 99)
            ]
        )
    )
    ranks = totals.select("event_type", "n", qq.alias("qq")).select(
        "event_type", "n", col("qq.q_pct").alias("q_pct"), col("qq.r").alias("r")
    )
    est = (
        ranks.join(cum, "event_type")
        .filter(col("cum") >= col("r"))
        .groupBy("event_type", "n", "q_pct", "r")
        .agg(F.min("bucket").alias("est_tenths"))
    )
    we = Window.partitionBy("event_type").orderBy("value", "event_id")
    rk = ranks.select(
        col("event_type").alias("rk_type"), "q_pct", col("r").alias("rk_r")
    )
    exact = (
        ev.withColumn("rn", F.row_number().over(we))
        .join(
            F.broadcast(rk),
            (col("rn") == col("rk_r")) & (col("event_type") == col("rk_type")),
        )
        .select(
            "event_type",
            "q_pct",
            F.floor(col("value") * 10000 + F.lit(0.5)).cast("long").alias("exact_q"),
        )
    )
    return est.join(exact, ["event_type", "q_pct"]).select(
        "event_type", "q_pct", "n", "r", "est_tenths", "exact_q"
    )


_EVENTS_QUANTILE_SQL = """
WITH hist AS (
    SELECT event_type, CAST(floor(value * 10) AS BIGINT) AS bucket,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
), cum AS (
    SELECT event_type, bucket, cnt,
           sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum
    FROM hist
), totals AS (
    SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM hist GROUP BY 1
), ranks AS (
    SELECT event_type, n, q_pct,
           CAST(ceil(n * q_pct / 100.0) AS BIGINT) AS r
    FROM totals, (SELECT unnest([50, 95, 99]) AS q_pct)
), est AS (
    SELECT rk.event_type, rk.n, rk.q_pct, rk.r,
           min(c.bucket) AS est_tenths
    FROM ranks rk JOIN cum c USING (event_type)
    WHERE c.cum >= rk.r
    GROUP BY 1, 2, 3, 4
), ranked AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn
    FROM events
), exact AS (
    SELECT rk.event_type, rk.q_pct,
           CAST(floor(x.value * 10000 + 0.5) AS BIGINT) AS exact_q
    FROM ranks rk JOIN ranked x
      ON x.event_type = rk.event_type AND x.rn = rk.r
)
SELECT e.event_type, e.q_pct, e.n, e.r, e.est_tenths, x.exact_q
FROM est e JOIN exact x USING (event_type, q_pct)
"""


LOCAL_QUERIES["events_quantile_sketch"] = QuerySpec(
    q_events_quantile_sketch, _EVENTS_QUANTILE_SQL
)


# --- EWMA daily smoothing ------------------------------------------------

EWMA_ALPHA = 0.3


def q_events_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily event volume per
    event type — the standard smoothing behind alert thresholds and
    trend dashboards (s_t = α·x_t + (1-α)·s_{t-1}, s_0 = 0).

    EWMA is inherently sequential, but only at DAY grain: the corpus
    collapses to a ≤(types × days) table in one partial-aggregable
    shuffle, and the recurrence runs as a per-row SEQUENTIAL fold over
    the collect_list prefix of that tiny table (prefix volume is
    days²/2 per type — trivial forever). Bit-exact across engines
    because both sides fold left-to-right in day order with the same
    acc·0.7 + x·0.3 double expression (IEEE ops are deterministic
    given order); the quantized result is hash-compared."""
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        col("event_type"),
        F.to_date(col("ts")).cast("string").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return ewma_fold(daily)


def ewma_fold(daily: DataFrame) -> DataFrame:
    """The day-grain EWMA recurrence (shared by the batch query and the
    streaming twin, which maintains the same day table as a
    complete-mode streaming aggregate)."""
    from pyspark.sql.window import Window as W

    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "n",
        F.floor(
            F.aggregate(
                F.collect_list("n").over(w),
                F.lit(0.0),
                lambda acc, x: acc * F.lit(1.0 - EWMA_ALPHA)
                + x.cast("double") * F.lit(EWMA_ALPHA),
            )
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("ewma_q"),
    )


_EVENTS_EWMA_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           count(*) AS n
    FROM events GROUP BY 1, 2
)
SELECT event_type, day, n,
       CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(CAST(n AS DOUBLE)) OVER (PARTITION BY event_type ORDER BY day
                         ROWS UNBOUNDED PRECEDING)),
           (acc, x) -> acc * {1.0 - EWMA_ALPHA} + x * {EWMA_ALPHA})
           * 1e6 + 0.5) AS BIGINT) AS ewma_q
FROM daily
"""


LOCAL_QUERIES["events_ewma_daily"] = QuerySpec(q_events_ewma_daily, _EVENTS_EWMA_SQL)


# --- key-skew profile ---------------------------------------------------

SKEW_TOP_K = 10


def q_events_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key skew profile for the event stream's user_id — the
    diagnostic run BEFORE choosing a shuffle key at scale (a Gini near
    1 or a fat top-k share says: salt this key or expect straggler
    tasks). Emits one row: key count, event total, max key load, the
    exact Gini coefficient of the load distribution, and the share
    held by the top-{K} keys.

    Gini needs sorted ranks, but never sorts the keys: loads are
    small integers, so the exact sorted-rank formula
    G = Σ v·m·(2·cb + m − n) / (n·Σ v·m) runs over the VALUE
    HISTOGRAM (one cumulative window over a ≤distinct-loads-sized
    table; ties contribute in closed form). All moments are exact
    BIGINTs (overflow only past v_max·m·n ≈ 9e18 — re-grid the
    histogram first at that scale); the single division happens once,
    in an identical double expression. Top-k is TakeOrderedAndProject.
    Plan: one key-grain shuffle + histogram agg; the key frame is
    localCheckpoint'ed for its two consumers."""
    ev = t(spark, sf_dir, "events")
    keys = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    hist = keys.groupBy("c").agg(F.count(F.lit(1)).alias("m"))
    stats = (
        hist.select(
            "c",
            "m",
            F.expr(
                "sum(m) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING"
                " AND CURRENT ROW) - m"
            ).alias("cb"),
            F.expr("sum(m) OVER ()").alias("n"),
        )
        .agg(
            F.max("n").alias("n_users"),
            F.sum(F.expr("c * m")).alias("total_events"),
            F.max("c").alias("max_c"),
            F.sum(F.expr("c * m * (2 * cb + m - n)")).alias("numer"),
        )
    )
    top = (
        keys.orderBy(col("c").desc(), col("user_id"))
        .limit(SKEW_TOP_K)
        .agg(F.sum("c").alias("top_c"))
    )
    return stats.crossJoin(F.broadcast(top)).select(
        "n_users",
        "total_events",
        "max_c",
        F.floor(
            F.expr("CAST(numer AS DOUBLE)"
                   " / (CAST(n_users AS DOUBLE) * CAST(total_events AS DOUBLE))")
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("gini_q"),
        F.floor(
            F.expr("CAST(top_c AS DOUBLE) / CAST(total_events AS DOUBLE)")
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("topk_share_q"),
    )


_EVENTS_KEY_SKEW_SQL = f"""
WITH keys AS (
    SELECT user_id, count(*) AS c FROM events GROUP BY user_id
), hist AS (
    SELECT c, count(*) AS m FROM keys GROUP BY c
), cum AS (
    SELECT c, m,
           sum(m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) - m AS cb,
           sum(m) OVER () AS n
    FROM hist
), stats AS (
    SELECT CAST(max(n) AS BIGINT) AS n_users,
           CAST(sum(c * m) AS BIGINT) AS total_events,
           max(c) AS max_c,
           CAST(sum(c * m * (2 * cb + m - n)) AS BIGINT) AS numer
    FROM cum
), top AS (
    SELECT CAST(sum(c) AS BIGINT) AS top_c
    FROM (SELECT c FROM keys ORDER BY c DESC, user_id LIMIT {SKEW_TOP_K})
)
SELECT s.n_users, s.total_events, s.max_c,
       CAST(floor(CAST(s.numer AS DOUBLE)
           / (CAST(s.n_users AS DOUBLE) * CAST(s.total_events AS DOUBLE))
           * 1e6 + 0.5) AS BIGINT) AS gini_q,
       CAST(floor(CAST(t.top_c AS DOUBLE) / CAST(s.total_events AS DOUBLE)
           * 1e6 + 0.5) AS BIGINT) AS topk_share_q
FROM stats s CROSS JOIN top t
"""


LOCAL_QUERIES["events_key_skew"] = QuerySpec(q_events_key_skew, _EVENTS_KEY_SKEW_SQL)


# --- Markov transition matrix ---------------------------------------------


def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: for every
    (event_type → next event_type) step in a user's timeline, the count
    and the conditional transition probability — the model behind
    next-action prediction, funnel leak detection, and session
    simulation.

    The lead() window is partitioned per user (never a global sort);
    transitions then partial-aggregate to a types²-sized matrix, and
    the row-normalizing marginal is a types-sized broadcast join. At
    100 TB: one user-grain shuffle for the window, one types²-sized
    agg — the matrix never grows with the corpus."""
    from pyspark.sql.window import Window as W

    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.select(
            "user_id",
            col("event_type").alias("src_type"),
            F.lead("event_type").over(w).alias("dst_type"),
        )
        .filter(col("dst_type").isNotNull())
    )
    # types²-sized and consumed twice (matrix + row marginal) — one
    # materialization beats re-running the user-window subtree for the
    # broadcast build side
    trans = (
        steps.groupBy("src_type", "dst_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    marg = trans.groupBy("src_type").agg(F.sum("n").alias("src_total"))
    return trans.join(F.broadcast(marg), "src_type").select(
        "src_type",
        "dst_type",
        "n",
        "src_total",
        F.floor(
            F.expr("CAST(n AS DOUBLE) / CAST(src_total AS DOUBLE)") * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("p_q"),
    )


_EVENTS_MARKOV_SQL = """
WITH steps AS (
    SELECT event_type AS src_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst_type
    FROM events
), trans AS (
    SELECT src_type, dst_type, count(*) AS n
    FROM steps WHERE dst_type IS NOT NULL GROUP BY 1, 2
), marg AS (
    SELECT src_type, CAST(sum(n) AS BIGINT) AS src_total
    FROM trans GROUP BY src_type
)
SELECT t.src_type, t.dst_type, t.n, m.src_total,
       CAST(floor(CAST(t.n AS DOUBLE) / CAST(m.src_total AS DOUBLE)
           * 1e6 + 0.5) AS BIGINT) AS p_q
FROM trans t JOIN marg m USING (src_type)
"""


LOCAL_QUERIES["events_markov_transitions"] = QuerySpec(
    q_events_markov_transitions, _EVENTS_MARKOV_SQL
)


# --- position-based multi-touch attribution ----------------------------------


def q_events_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution: every
    view/click in the 30 minutes before a purchase shares that
    purchase's credit — 40% to the first touch, 40% to the last, the
    middle 20% split across interior touches — aggregated to credit per
    touch channel. The fractional-credit complement of the last-touch
    (events_asof_attribution) and pair-enumeration
    (events_attribution_join) family members.

    Pairs come from the same user-key equi-join + residual time-range
    predicate as the stream-stream twin; position windows are
    partitioned PER PURCHASE (pair-grain, horizon-bounded — never a
    global sort). Credits are integer millionths assigned per touch
    (k=1 → 1e6; ends 4e5; interiors floor(2e5/(k−2))), so the channel
    sums are exact BIGINTs — a double credit summed across partitions
    would be order-dependent."""
    from pyspark.sql.window import Window as W

    ev = t(spark, sf_dir, "events")
    touches = ev.where(col("event_type").isin("view", "click")).select(
        col("event_id").alias("touch_id"),
        col("user_id"),
        col("ts").alias("touch_ts"),
        col("event_type").alias("channel"),
    )
    purchases = ev.where(col("event_type") == "purchase").select(
        col("event_id").alias("purchase_id"),
        col("user_id").alias("p_user_id"),
        col("ts").alias("purchase_ts"),
    )
    pairs = touches.join(
        purchases,
        (col("user_id") == col("p_user_id"))
        & (col("purchase_ts") >= col("touch_ts"))
        & (col("purchase_ts") <= col("touch_ts") + F.expr("interval 30 minutes")),
    )
    w = W.partitionBy("purchase_id").orderBy("touch_ts", "touch_id")
    ranked = pairs.select(
        "purchase_id",
        "channel",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(W.partitionBy("purchase_id")).alias("k"),
    )
    credit = F.expr(
        "CASE WHEN k = 1 THEN 1000000"
        " WHEN pos = 1 OR pos = k THEN 400000"
        " ELSE 200000 DIV (k - 2) END"
    )
    return (
        ranked.select("channel", credit.alias("credit_q"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("credit_q").alias("total_credit_q"),
        )
    )


_EVENTS_MULTITOUCH_SQL = """
WITH pairs AS (
    SELECT p.event_id AS purchase_id, v.event_type AS channel,
           v.ts AS touch_ts, v.event_id AS touch_id
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTES
    WHERE v.event_type IN ('view', 'click') AND p.event_type = 'purchase'
), ranked AS (
    SELECT channel,
           row_number() OVER (PARTITION BY purchase_id
                              ORDER BY touch_ts, touch_id) AS pos,
           count(*) OVER (PARTITION BY purchase_id) AS k
    FROM pairs
)
SELECT channel,
       count(*) AS n_touches,
       CAST(sum(CASE WHEN k = 1 THEN 1000000
                     WHEN pos = 1 OR pos = k THEN 400000
                     ELSE 200000 // (k - 2) END) AS BIGINT) AS total_credit_q
FROM ranked
GROUP BY channel
"""


LOCAL_QUERIES["events_multitouch_attribution"] = QuerySpec(
    q_events_multitouch_attribution, _EVENTS_MULTITOUCH_SQL
)


# --- A/B experiment readout ----------------------------------------------


AB_CONVERT_MIN = 14


def q_events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion experiment readout: bucket users into variants by
    id hash (deterministic assignment — how experiments actually
    bucket), measure per-variant conversion (user made ≥ AB_CONVERT_MIN
    purchases — a threshold above 1 because the fixture's synthetic
    users nearly all purchase at least once, so the band split only
    separates variants at a higher cut), and emit the pooled
    two-proportion z statistic with the absolute lift — the
    significance gate behind every ship/no-ship decision.

    All moments are exact integers from ONE user-grain aggregate
    (conversion is max-over-events, partial-aggregable); the z formula
    runs once, driver-free, as an identical double expression in both
    engines. At 100 TB: one user_id shuffle, then a 2-row reduction."""
    ev = t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(col("event_type") == "purchase", 1).otherwise(0))
            >= AB_CONVERT_MIN,
            1,
        )
        .otherwise(0)
        .alias("converted")
    )
    variants = users.select(
        F.when(col("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
        "converted",
    )
    # 2 rows, consumed by both variant branches — one materialization
    # beats re-running the user-grain aggregate per branch
    counts = (
        variants.groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("converted").alias("n_converted"),
        )
        .localCheckpoint(eager=False)
    )
    a = counts.filter(col("variant") == "A").select(
        col("n_users").alias("na"), col("n_converted").alias("xa")
    )
    b = counts.filter(col("variant") == "B").select(
        col("n_users").alias("nb"), col("n_converted").alias("xb")
    )
    # degenerate experiments (nobody or everybody converts) have zero
    # pooled variance — the z statistic is undefined, not infinite;
    # NULL in both engines (an unguarded quotient is an ANSI
    # divide-by-zero crash in Spark 4)
    z_expr = (
        "CASE WHEN xa + xb = 0 OR xa + xb = na + nb THEN NULL ELSE"
        " (CAST(xa AS DOUBLE) / CAST(na AS DOUBLE)"
        " - CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE))"
        " / sqrt((CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))"
        " * (1.0 - CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))"
        " * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))) END"
    )
    lift_expr = (
        "CAST(xa AS DOUBLE) / CAST(na AS DOUBLE)"
        " - CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE)"
    )
    return a.crossJoin(F.broadcast(b)).select(
        "na",
        "xa",
        "nb",
        "xb",
        F.floor(F.expr(lift_expr) * 1e6 + F.lit(0.5)).cast("long").alias("lift_q"),
        F.floor(F.expr(z_expr) * 1e6 + F.lit(0.5)).cast("long").alias("z_q"),
    )


_EVENTS_AB_SQL = f"""
WITH users AS (
    SELECT user_id,
           CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                     >= {AB_CONVERT_MIN} THEN 1 ELSE 0 END AS converted
    FROM events GROUP BY user_id
), counts AS (
    SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
           count(*) AS n_users, CAST(sum(converted) AS BIGINT) AS n_converted
    FROM users GROUP BY 1
), a AS (SELECT n_users AS na, n_converted AS xa FROM counts WHERE variant = 'A'),
b AS (SELECT n_users AS nb, n_converted AS xb FROM counts WHERE variant = 'B')
SELECT na, xa, nb, xb,
       CAST(floor((CAST(xa AS DOUBLE) / CAST(na AS DOUBLE)
            - CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
           AS lift_q,
       CAST(floor(CASE WHEN xa + xb = 0 OR xa + xb = na + nb THEN NULL ELSE
            (CAST(xa AS DOUBLE) / CAST(na AS DOUBLE)
            - CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE))
            / sqrt((CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))
            * (1.0 - CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))
            * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))) END
            * 1e6 + 0.5) AS BIGINT) AS z_q
FROM a CROSS JOIN b
"""


LOCAL_QUERIES["events_ab_test"] = QuerySpec(q_events_ab_test, _EVENTS_AB_SQL)


# --- time-decayed leaderboard -------------------------------------------------

DECAY_AS_OF = "2024-02-01"
DECAY_HALF_LIFE_DAYS = 7
DECAY_TOP_K = 10


def q_events_decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed activity leaderboard: each event is
    worth 2^(-days_ago / half_life) points and the top-{K} users by
    decayed score win — the recency-weighted ranking behind trending
    lists and engagement scores, where plain counts would let dead
    accounts coast forever.

    DETERMINISM BY CONSTRUCTION: days_ago is an integer, so with a
    power-of-two base every per-day weight 2^(-d/7) rounds once to a
    double and each (user, day)-count × weight product is one rounding;
    the per-user SUM over ≤30 distinct days is then ASSOCIATIVITY-SAFE
    in practice only if ordered — so the fold runs over the day-grain
    prefix per user in day order (collect_list + sequential fold, the
    EWMA precedent), never a shuffle-order-dependent double sum. One
    (user, day) shuffle; the fold table is users × active-days;
    TakeOrderedAndProject picks the K."""
    from pyspark.sql.window import Window as W

    ev = t(spark, sf_dir, "events")
    ud = ev.groupBy(
        "user_id",
        F.datediff(
            F.lit(DECAY_AS_OF).cast("date"), F.to_date(col("ts"))
        ).alias("d"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        W.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    terms = F.transform(
        F.collect_list(F.struct("d", "n")).over(w),
        lambda s: s["n"].cast("double")
        * F.pow(
            F.lit(2.0),
            -s["d"].cast("double") / F.lit(float(DECAY_HALF_LIFE_DAYS)),
        ),
    )
    score = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
    scored = (
        ud.select(
            "user_id",
            F.floor(score * 1e6 + F.lit(0.5)).cast("long").alias("score_q"),
        )
        .distinct()
    )
    return (
        scored.orderBy(col("score_q").desc(), col("user_id"))
        .limit(DECAY_TOP_K)
    )


_EVENTS_DECAYED_SQL = f"""
WITH ud AS (
    SELECT user_id,
           date_diff('day', CAST(ts AS DATE), DATE '{DECAY_AS_OF}') AS d,
           count(*) AS n
    FROM events GROUP BY 1, 2
), folded AS (
    SELECT user_id,
           CAST(floor(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list({{'d': d, 'n': n}} ORDER BY d),
                   s -> CAST(s['n'] AS DOUBLE)
                   * power(2.0, -CAST(s['d'] AS DOUBLE) / {DECAY_HALF_LIFE_DAYS}))),
               (acc, x) -> acc + x)
               * 1e6 + 0.5) AS BIGINT) AS score_q
    FROM ud GROUP BY user_id
)
SELECT user_id, score_q FROM folded
ORDER BY score_q DESC, user_id LIMIT {DECAY_TOP_K}
"""


LOCAL_QUERIES["events_decayed_leaderboard"] = QuerySpec(
    q_events_decayed_leaderboard, _EVENTS_DECAYED_SQL
)


# --- activity streaks (gaps and islands) --------------------------------------

STREAK_TOP_K = 15


def q_events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streaks: the gaps-and-islands
    pattern (day − row_number = island id over each user's distinct
    active days) that powers engagement streaks, SLA uptime runs, and
    sensor-outage reports. Emits the top-{K} streaks by length.

    Every window is partitioned PER USER over that user's DISTINCT
    ACTIVE DAYS (≤ elapsed days per user — bounded, never a global
    sort); the distinct collapse is one partial-aggregable shuffle.
    Top-k is TakeOrderedAndProject with a full deterministic
    tiebreak."""
    from pyspark.sql.window import Window as W

    ev = t(spark, sf_dir, "events")
    days = (
        ev.select("user_id", F.to_date(col("ts")).alias("day"))
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "island",
        F.datediff(col("day"), F.lit("1970-01-01").cast("date"))
        - F.row_number().over(w),
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_days"),
        F.min("day").cast("string").alias("streak_start"),
        F.max("day").cast("string").alias("streak_end"),
    )
    return (
        streaks.select("user_id", "streak_days", "streak_start", "streak_end")
        .orderBy(
            col("streak_days").desc(), col("user_id"), col("streak_start")
        )
        .limit(STREAK_TOP_K)
    )


_EVENTS_STREAKS_SQL = f"""
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), islands AS (
    SELECT user_id, day,
           date_diff('day', DATE '1970-01-01', day)
           - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
    FROM days
), streaks AS (
    SELECT user_id, island, count(*) AS streak_days,
           CAST(min(day) AS VARCHAR) AS streak_start,
           CAST(max(day) AS VARCHAR) AS streak_end
    FROM islands GROUP BY user_id, island
)
SELECT user_id, streak_days, streak_start, streak_end
FROM streaks
ORDER BY streak_days DESC, user_id, streak_start
LIMIT {STREAK_TOP_K}
"""


LOCAL_QUERIES["events_activity_streaks"] = QuerySpec(
    q_events_activity_streaks, _EVENTS_STREAKS_SQL
)


# --- per-group exact value percentiles -------------------------------------


def q_events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of event value PER event type — the per-group
    latency/value distribution readout dashboards page on. Values are
    2-decimal currency, so they live on an integer-cents grid: each
    group's percentiles come from its value HISTOGRAM via one
    cumulative window over a ≤(types × distinct-cents) table (the
    histogram-quantile pattern, grouped) — the corpus is never
    sorted, and every emitted number is an exact integer. Percentile
    convention: smallest value with cum ≥ ceil(p·n), identical in
    both engines via k·cum ≥ p_num·n integer predicates."""
    from pyspark.sql.window import Window as W

    ev = t(spark, sf_dir, "events")
    hist = ev.groupBy(
        "event_type",
        F.floor(col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    ).agg(F.count(F.lit(1)).alias("m"))
    w = (
        W.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = hist.select(
        "event_type",
        "cents",
        F.sum("m").over(w).alias("cum"),
        F.sum("m").over(W.partitionBy("event_type")).alias("n"),
    )
    return cum.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        F.min(F.when(F.expr("2 * cum >= n"), col("cents"))).alias("p50_cents"),
        F.min(F.when(F.expr("10 * cum >= 9 * n"), col("cents"))).alias("p90_cents"),
        F.min(F.when(F.expr("100 * cum >= 99 * n"), col("cents"))).alias("p99_cents"),
        F.max("cents").alias("max_cents"),
    )


_EVENTS_PCTL_SQL = """
WITH hist AS (
    SELECT event_type,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
           count(*) AS m
    FROM events GROUP BY 1, 2
), cum AS (
    SELECT event_type, cents,
           sum(m) OVER (PARTITION BY event_type ORDER BY cents
                        ROWS UNBOUNDED PRECEDING) AS cum,
           sum(m) OVER (PARTITION BY event_type) AS n
    FROM hist
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_events,
       min(CASE WHEN 2 * cum >= n THEN cents END) AS p50_cents,
       min(CASE WHEN 10 * cum >= 9 * n THEN cents END) AS p90_cents,
       min(CASE WHEN 100 * cum >= 99 * n THEN cents END) AS p99_cents,
       max(cents) AS max_cents
FROM cum GROUP BY event_type
"""


LOCAL_QUERIES["events_value_percentiles"] = QuerySpec(
    q_events_value_percentiles, _EVENTS_PCTL_SQL
)


# --- active users (DAU / WAU / stickiness) ----------------------------------

WAU_WINDOW_DAYS = 7


def q_events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-analytics actives: per day, the distinct active users
    that day (DAU), in the trailing {W}-day window (WAU), and the
    DAU/WAU stickiness ratio. Rolling DISTINCT counts cannot partial-
    aggregate, so the rolling window is a RANGE JOIN of the (user, day)
    distinct table onto the day spine — |user_days| × {W} join rows,
    bounded by the activity table times the window, never
    users × days. Exact integers; the one quotient quantizes once."""
    ev = t(spark, sf_dir, "events")
    user_days = (
        ev.select(
            "user_id",
            F.datediff(F.to_date(col("ts")), F.lit("1970-01-01").cast("date")).alias(
                "dnum"
            ),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    days = user_days.select(col("dnum").alias("d")).distinct()
    dau = user_days.groupBy(col("dnum").alias("d")).agg(
        F.count(F.lit(1)).alias("dau")
    )
    wau = (
        days.join(
            user_days,
            (col("dnum") <= col("d"))
            & (col("dnum") > col("d") - WAU_WINDOW_DAYS),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "d")
        .select(
            F.date_format(
                F.expr("date_add(DATE '1970-01-01', CAST(d AS INT))"), "yyyy-MM-dd"
            ).alias("day"),
            "dau",
            "wau",
            F.floor(
                F.expr("CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE)") * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("stickiness_q"),
        )
    )


_EVENTS_ACTIVE_SQL = f"""
WITH user_days AS (
    SELECT DISTINCT user_id,
           date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dnum
    FROM events
), days AS (
    SELECT DISTINCT dnum AS d FROM user_days
), dau AS (
    SELECT dnum AS d, count(*) AS dau FROM user_days GROUP BY dnum
), wau AS (
    SELECT dy.d, count(DISTINCT ud.user_id) AS wau
    FROM days dy JOIN user_days ud
      ON ud.dnum <= dy.d AND ud.dnum > dy.d - {WAU_WINDOW_DAYS}
    GROUP BY dy.d
)
SELECT strftime(DATE '1970-01-01' + to_days(CAST(a.d AS INT)), '%Y-%m-%d') AS day,
       a.dau, w.wau,
       CAST(floor(CAST(a.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) * 1e6 + 0.5)
           AS BIGINT) AS stickiness_q
FROM dau a JOIN wau w ON a.d = w.d
"""


LOCAL_QUERIES["events_active_users"] = QuerySpec(
    q_events_active_users, _EVENTS_ACTIVE_SQL
)


# --- bitmap-index retention --------------------------------------------------

BITMAP_WORD_BITS = 32


def q_events_retention_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention through BITMAP INDEXES — the warehouse
    technique (roaring-bitmap style) that turns distinct-user
    intersection into bitwise AND + popcount: each day's active-user
    set packs into (word, 32-bit mask) rows via a partial-aggregable
    bit_or, and "day-0 users still active on day d" is one word-aligned
    join with bit_count(b_d & b_0) — no distinct-user shuffle per day
    pair, state is |users|/32 words per day regardless of event
    volume. 32-bit words keep every mask positive in a BIGINT (a bit
    at position 63 flips sign — two's-complement behavior both engines
    share, but staying positive removes the hazard class entirely)."""
    ev = t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date(col("ts")).cast("string").alias("day")
    ).distinct()
    bitmaps = (
        ud.select(
            "day",
            F.expr(f"user_id DIV {BITMAP_WORD_BITS}").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT),"
                f" CAST(user_id % {BITMAP_WORD_BITS} AS INT))"
            ).alias("m"),
        )
        .groupBy("day", "word")
        .agg(F.expr("bit_or(m)").alias("mask"))
        .localCheckpoint(eager=False)
    )
    day0 = bitmaps.agg(F.min("day").alias("d0")).select("d0")
    cohort = (
        bitmaps.join(F.broadcast(day0), bitmaps.day == col("d0"))
        .select("word", col("mask").alias("mask0"))
    )
    per_day = (
        bitmaps.join(F.broadcast(cohort), "word")
        .groupBy("day")
        .agg(
            F.sum(F.expr("bit_count(mask & mask0)")).alias("retained"),
            F.sum(F.expr("bit_count(mask0)")).alias("_cohort_words"),
        )
    )
    cohort_n = cohort.agg(F.sum(F.expr("bit_count(mask0)")).alias("cohort_n"))
    return per_day.crossJoin(F.broadcast(cohort_n)).select(
        "day",
        "retained",
        "cohort_n",
        F.floor(
            F.expr("CAST(retained AS DOUBLE) / CAST(cohort_n AS DOUBLE)") * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("retention_q"),
    )


_EVENTS_RETENTION_BITMAP_SQL = f"""
WITH ud AS (
    SELECT DISTINCT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
    FROM events
), bitmaps AS (
    SELECT day, user_id // {BITMAP_WORD_BITS} AS word,
           bit_or(CAST(1 AS BIGINT) << CAST(user_id % {BITMAP_WORD_BITS} AS INT))
               AS mask
    FROM ud GROUP BY 1, 2
), d0 AS (SELECT min(day) AS d0 FROM bitmaps),
cohort AS (
    SELECT word, mask AS mask0 FROM bitmaps, d0 WHERE bitmaps.day = d0.d0
), per_day AS (
    SELECT b.day,
           CAST(sum(bit_count(b.mask & c.mask0)) AS BIGINT) AS retained
    FROM bitmaps b JOIN cohort c USING (word)
    GROUP BY b.day
), n AS (SELECT CAST(sum(bit_count(mask0)) AS BIGINT) AS cohort_n FROM cohort)
SELECT p.day, p.retained, n.cohort_n,
       CAST(floor(CAST(p.retained AS DOUBLE) / CAST(n.cohort_n AS DOUBLE)
           * 1e6 + 0.5) AS BIGINT) AS retention_q
FROM per_day p CROSS JOIN n
"""


LOCAL_QUERIES["events_retention_bitmap"] = QuerySpec(
    q_events_retention_bitmap, _EVENTS_RETENTION_BITMAP_SQL
)


# --- sequence pattern with negation -------------------------------------------


def q_events_pattern_no_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching WITH NEGATION (MATCH_RECOGNIZE
    territory): users whose timeline contains a view followed by a
    purchase with NO error in between — the pattern class funnels
    can't express (events_funnel orders stages; it cannot say "and
    nothing bad happened in the gap").

    Runs as a deterministic AUTOMATON FOLD over each user's
    time-ordered event codes (0=view-armed trigger, reset on error,
    accept on purchase): one per-user collect + one integer
    left-fold — no self-joins (the naive formulation is an
    event⋈event⋈NOT EXISTS anti-range-join, quadratic in hot users).
    Event types map to small ints FIRST so the fold list is
    homogeneous in both engines. Emits the 1-row match-rate report."""
    ev = t(spark, sf_dir, "events")
    code = (
        "CASE event_type WHEN 'view' THEN 1 WHEN 'error' THEN 2"
        " WHEN 'purchase' THEN 3 ELSE 0 END"
    )
    step = (
        "CASE WHEN acc = 2 THEN 2"
        " WHEN acc = 0 AND x = 1 THEN 1"
        " WHEN acc = 1 AND x = 2 THEN 0"
        " WHEN acc = 1 AND x = 3 THEN 2"
        " ELSE acc END"
    )
    per_user = ev.groupBy("user_id").agg(
        F.expr(
            f"aggregate(transform(array_sort(collect_list("
            f"struct(ts, event_id, {code} AS c))), s -> s.c),"
            f" 0, (acc, x) -> {step})"
        ).alias("state")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.expr("IF(state = 2, 1, 0)")).alias("n_matched"),
        F.floor(
            F.expr(
                "CAST(sum(IF(state = 2, 1, 0)) AS DOUBLE)"
                " / CAST(count(1) AS DOUBLE)"
            )
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("match_rate_q"),
    )


_EVENTS_PATTERN_SQL = """
WITH coded AS (
    SELECT user_id, ts, event_id,
           CASE event_type WHEN 'view' THEN 1 WHEN 'error' THEN 2
                WHEN 'purchase' THEN 3 ELSE 0 END AS c
    FROM events
), per_user AS (
    SELECT user_id,
           list_reduce(list_prepend(0, list(c ORDER BY ts, event_id)),
               (acc, x) -> CASE WHEN acc = 2 THEN 2
                                WHEN acc = 0 AND x = 1 THEN 1
                                WHEN acc = 1 AND x = 2 THEN 0
                                WHEN acc = 1 AND x = 3 THEN 2
                                ELSE acc END) AS state
    FROM coded GROUP BY user_id
)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN state = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(floor(CAST(sum(CASE WHEN state = 2 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS match_rate_q
FROM per_user
"""


LOCAL_QUERIES["events_pattern_no_error"] = QuerySpec(
    q_events_pattern_no_error, _EVENTS_PATTERN_SQL
)


# --- peak session concurrency ---------------------------------------------------


def q_events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity number
    (connection pools, rate limits, license seats) — via the classic
    INTERVAL SWEEP: each gap-sessionized (user, session) interval
    emits a +1 boundary at its start and a −1 at its end, and the
    day's peak is the max running sum over boundaries ordered by
    (time, +1-before-−1, user, session) — CLOSED intervals, fully
    deterministic under ties: a session occupies its endpoints, so a
    single-event session (start == end) still counts as concurrency 1
    and two sessions meeting exactly at an instant overlap there (r5
    advisory: the half-open order reported peak 0 for a day of
    single-event sessions). Sessions are attributed to their start
    day (documented clip; midnight-spanners are rare at a 30-min gap).

    The sweep window is partitioned PER DAY over SESSION boundaries
    (2 rows per session — far below event grain; a day with extreme
    session volume would shard the sweep by hour with carry-in
    offsets, same algebra). Sessionization itself is the same per-user
    lag/cumsum pass events_sessionize uses."""
    from pyspark.sql.window import Window as W

    ev = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    flagged = (
        ev.withColumn("prev_us", F.lag(F.unix_micros(col("ts"))).over(w))
        .withColumn(
            "new_session",
            F.when(
                col("prev_us").isNull()
                | (F.unix_micros(col("ts")) - col("prev_us") > gap_us),
                1,
            ).otherwise(0),
        )
        .withColumn("session_seq", F.sum("new_session").over(w))
    )
    sessions = flagged.groupBy("user_id", "session_seq").agg(
        F.min(F.unix_micros(col("ts"))).alias("start_us"),
        F.max(F.unix_micros(col("ts"))).alias("end_us"),
    )
    starts = sessions.select(
        "user_id",
        "session_seq",
        col("start_us").alias("t_us"),
        F.lit(1).alias("delta"),
        F.to_date(F.timestamp_micros(col("start_us"))).cast("string").alias("day"),
    )
    ends = sessions.select(
        "user_id",
        "session_seq",
        col("end_us").alias("t_us"),
        F.lit(-1).alias("delta"),
        F.to_date(F.timestamp_micros(col("start_us"))).cast("string").alias("day"),
    )
    bounds = starts.unionByName(ends)
    sweep = W.partitionBy("day").orderBy(
        "t_us", col("delta").desc(), "user_id", "session_seq"
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        bounds.withColumn("running", F.sum("delta").over(sweep))
        .groupBy("day")
        .agg(
            F.max("running").alias("peak_concurrent"),
            (F.count(F.lit(1)) / 2).cast("long").alias("n_sessions"),
        )
    )


_EVENTS_PEAK_SQL = """
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS session_seq
    FROM flagged
), sessions AS (
    SELECT user_id, session_seq,
           min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
    FROM numbered GROUP BY 1, 2
), bounds AS (
    SELECT user_id, session_seq, start_us AS t_us, 1 AS delta,
           CAST(CAST(make_timestamp(start_us) AS DATE) AS VARCHAR) AS day
    FROM sessions
    UNION ALL
    SELECT user_id, session_seq, end_us AS t_us, -1 AS delta,
           CAST(CAST(make_timestamp(start_us) AS DATE) AS VARCHAR) AS day
    FROM sessions
), swept AS (
    SELECT day,
           sum(delta) OVER (PARTITION BY day
               ORDER BY t_us, delta DESC, user_id, session_seq
               ROWS UNBOUNDED PRECEDING) AS running
    FROM bounds
)
SELECT day,
       CAST(max(running) AS BIGINT) AS peak_concurrent,
       CAST(count(*) / 2 AS BIGINT) AS n_sessions
FROM swept GROUP BY day
"""


LOCAL_QUERIES["events_peak_concurrency"] = QuerySpec(
    q_events_peak_concurrency, _EVENTS_PEAK_SQL
)


# --- exact heavy hitters (Misra-Gries candidates + verify) -------------------

HH_FACTOR = 8  # heavy = count * 8 > N (strictly more than 1/8 of all events)
HH_CAPACITY = 15  # MG counters/partition; 15+1 >= 8 covers the threshold


def q_events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters over the event stream's type column via the
    two-pass Misra-Gries structure (operators/frequent.py): per-
    partition fixed-memory candidate sketch (Arrow mapInPandas, ≤
    HH_CAPACITY keys/partition), then an exact verify pass counting
    ONLY the bounded candidate set — the full-domain group-by the
    DuckDB oracle runs is exactly what the operator avoids at 100 TB.
    Output is exact and partition-layout-independent (the sketch's
    superset guarantee: capacity+1 ≥ factor)."""
    from ..operators.frequent import exact_heavy_hitters

    events = t(spark, sf_dir, "events")
    return exact_heavy_hitters(
        events, "event_type", factor=HH_FACTOR, capacity=HH_CAPACITY
    ).withColumnRenamed("event_type", "key")


_EVENTS_HH_SQL = f"""
WITH n AS (SELECT count(*) AS n FROM events)
SELECT event_type AS key, count(*) AS cnt
FROM events CROSS JOIN n
GROUP BY event_type, n
HAVING count(*) * {HH_FACTOR} > n
"""


LOCAL_QUERIES["events_heavy_hitters"] = QuerySpec(
    q_events_heavy_hitters, _EVENTS_HH_SQL
)


# --- time-series densification: gap fill + forward fill -----------------------

def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: densify each user's daily activity series
    to a contiguous calendar (one row per day between the user's first
    and last active day) and forward-fill the last observed daily spend
    into the gaps — the standard prep step before per-entity trend
    models, EWMA smoothing, or as-of feature joins, where a missing day
    must mean "carried value", not "absent row".

    Daily spend is an exact cents grid (per-event floor(value·100+0.5)
    summed per day). The calendar derives from ``sequence(min_day,
    max_day)`` + explode — per-KEY bounded (a user's own span), never a
    cross join against a global calendar dim, so the row blow-up is
    Σ_user span_days, not |users|·|calendar|. Forward fill is one
    ``last(ignorenulls)`` running window per user — a single range
    partition per key, the same shape both engines implement natively.
    Scale: one (user, day) grain aggregate + one explode (no shuffle —
    explode rides the agg's partitioning) + one window shuffle on
    user_id."""
    ev = t(spark, sf_dir, "events")
    cents = F.floor(col("value") * 100 + F.lit(0.5)).cast("bigint")
    daily = (
        ev.select(
            "user_id", F.to_date(col("ts")).alias("day"), cents.alias("c")
        )
        .groupBy("user_id", "day")
        .agg(F.sum("c").alias("day_cents"))
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    calendar = spans.select(
        "user_id",
        F.explode(F.sequence(col("d0"), col("d1"))).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return calendar.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        col("day").cast("string").alias("day"),
        col("day_cents").isNull().cast("int").alias("is_gap"),
        F.last("day_cents", ignorenulls=True).over(w).alias("filled_cents"),
    )


_EVENTS_GAP_FILL_SQL = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS day_cents
    FROM events GROUP BY 1, 2
), spans AS (
    SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
), calendar AS (
    SELECT s.user_id, CAST(u.d AS DATE) AS day
    FROM spans s, unnest(generate_series(CAST(s.d0 AS TIMESTAMP),
                                         CAST(s.d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS u(d)
)
SELECT c.user_id, CAST(c.day AS VARCHAR) AS day,
       CAST(d.day_cents IS NULL AS INT) AS is_gap,
       last_value(d.day_cents IGNORE NULLS) OVER (
           PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS filled_cents
FROM calendar c
LEFT JOIN daily d ON d.user_id = c.user_id AND d.day = c.day
"""


LOCAL_QUERIES["events_gap_fill"] = QuerySpec(
    q_events_gap_fill, _EVENTS_GAP_FILL_SQL
)


# --- robust outlier detection: median absolute deviation ----------------------

MAD_K = 5  # |v - median| > K·MAD flags an outlier


def q_events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier profile via MAD (median absolute
    deviation) — the heavy-tail-safe twin of ``events_anomaly_days``'s
    mean/σ z-score: one extreme reading moves a mean/σ gate's own
    threshold, but the median/MAD fence only moves when half the data
    does (50% breakdown point — the standard robust monitor for skewed
    telemetry).

    Both medians run on the exact cents grid, so each lands on an
    integer or an exact .5 (the average of two grid points) — the one
    value class where Spark's exact ``median`` and DuckDB's agree bit
    for bit (no interpolation between arbitrary doubles); the fence
    compare ``adev > K·MAD`` is exact half-grid arithmetic. Three
    passes, each ONE type-grain aggregate with the medians' sort
    confined to per-type partitions: median → broadcast-join deviations
    → MAD → broadcast-join fence + count. The documented 100 TB relief
    is approx_percentile(0.5) with identical fence logic (the sketch
    path events_quantile_sketch already exercises); exact median here
    keeps the oracle bit-exact."""
    ev = t(spark, sf_dir, "events").filter(col("value").isNotNull())
    cents = F.floor(col("value") * 100 + F.lit(0.5)).cast("bigint")
    base = ev.select("event_type", cents.alias("c"))
    med = base.groupBy("event_type").agg(F.median("c").alias("med_cents"))
    dev = base.join(F.broadcast(med), "event_type").select(
        "event_type",
        "c",
        F.abs(col("c") - col("med_cents")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad_cents"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (col("adev") > F.lit(MAD_K) * col("mad_cents")).cast("bigint")
            ).alias("n_outliers"),
        )
        .join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .select("event_type", "n", "med_cents", "mad_cents", "n_outliers")
    )


_EVENTS_MAD_SQL = f"""
WITH base AS (
    SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
    FROM events WHERE value IS NOT NULL
), med AS (
    SELECT event_type, median(c) AS med_cents FROM base GROUP BY 1
), dev AS (
    SELECT b.event_type, abs(b.c - m.med_cents) AS adev
    FROM base b JOIN med m USING (event_type)
), mad AS (
    SELECT event_type, median(adev) AS mad_cents FROM dev GROUP BY 1
)
SELECT d.event_type, count(*) AS n,
       any_value(m.med_cents) AS med_cents,
       any_value(a.mad_cents) AS mad_cents,
       CAST(sum(CAST(d.adev > {MAD_K} * a.mad_cents AS INT)) AS BIGINT)
           AS n_outliers
FROM dev d JOIN med m USING (event_type) JOIN mad a USING (event_type)
GROUP BY d.event_type
"""


LOCAL_QUERIES["events_mad_outliers"] = QuerySpec(
    q_events_mad_outliers, _EVENTS_MAD_SQL
)


# --- incremental materialized-rollup maintenance -------------------------------

def q_events_rollup_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized day/type rollup: the
    stored state holds PARTIAL aggregates (count, sum, min, max — the
    commutative-monoid family) for the already-ingested corpus
    (event_id % 5 != 0); a new batch (event_id % 5 == 0) is aggregated
    at the same grain and MERGED — counts/sums add, min/max fold, and
    derived metrics (the average) are recomputed from merged partials
    at read time, never stored. The corpus is NEVER rescanned: the
    merge is a state-grain full-outer join against a batch-grain
    aggregate, which is what makes a 100 TB rollup refreshable in
    batch-sized time (the same batch-vs-corpus discipline as
    ``curation_increment``; sketch-valued state — HLL distincts —
    merges the same way via events_hll_merge). Non-algebraic aggregates
    (exact medians) deliberately can't ride this path — that's what the
    MAD query's full-pass shape is for. Exact cents grid; avg is ONE
    final division onto the 1e-4 grid after merge. The oracle is the
    full recompute over corpus ∪ batch (semantics, not mechanism)."""
    ev = t(spark, sf_dir, "events").filter(col("value").isNotNull())
    cents = F.floor(col("value") * 100 + F.lit(0.5)).cast("bigint")
    base = ev.select(
        "event_id",
        F.to_date(col("ts")).cast("string").alias("day"),
        "event_type",
        cents.alias("c"),
    )

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("sum_c"),
            F.min("c").alias("min_c"),
            F.max("c").alias("max_c"),
        )

    stored = partials(base.filter(col("event_id") % 5 != 0))
    batch = partials(base.filter(col("event_id") % 5 == 0))
    s, b = stored.alias("s"), batch.alias("b")
    merged = s.join(b, ["day", "event_type"], "full_outer").select(
        "day",
        "event_type",
        (
            F.coalesce(col("s.n"), F.lit(0)) + F.coalesce(col("b.n"), F.lit(0))
        ).alias("n"),
        (
            F.coalesce(col("s.sum_c"), F.lit(0))
            + F.coalesce(col("b.sum_c"), F.lit(0))
        ).alias("sum_c"),
        F.least(
            F.coalesce(col("s.min_c"), col("b.min_c")),
            F.coalesce(col("b.min_c"), col("s.min_c")),
        ).alias("min_c"),
        F.greatest(
            F.coalesce(col("s.max_c"), col("b.max_c")),
            F.coalesce(col("b.max_c"), col("s.max_c")),
        ).alias("max_c"),
    )
    return merged.withColumn(
        "avg_c",
        F.floor(col("sum_c").cast("double") / col("n") * 10000 + F.lit(0.5))
        / 10000,
    )


_EVENTS_ROLLUP_INC_SQL = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_c,
       CAST(min(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS min_c,
       CAST(max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS max_c,
       floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / count(*) * 10000 + 0.5) / 10000 AS avg_c
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2
"""


LOCAL_QUERIES["events_rollup_increment"] = QuerySpec(
    q_events_rollup_increment, _EVENTS_ROLLUP_INC_SQL
)
