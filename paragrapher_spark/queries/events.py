"""Event-stream queries over ``events``: hourly counts, sessions, funnels,
as-of and range joins, attribution, rollups, cohorts, transitions, bursts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from paragrapher_spark.queries import query
from paragrapher_spark.sources.edges import load_table
from paragrapher_spark.streaming.events import funnel_stages


@query("sessions", oracle="""
            WITH o AS (
                SELECT user_id, ts, event_id, value,
                       CASE WHEN epoch_us(ts) - COALESCE(
                               epoch_us(lag(ts) OVER (
                                   PARTITION BY user_id ORDER BY ts, event_id
                               )), 0) > 30 * 60 * 1000000
                            THEN 1 ELSE 0 END AS nw
                FROM events
            ),
            s AS (
                SELECT *, SUM(nw) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING
                ) AS sid
                FROM o
            )
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events,
                   ROUND(SUM(value), 6) AS sum_value
            FROM s GROUP BY user_id, sid
        """)
def _q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from paragrapher_spark.streaming.events import sessionize_batch

    ev = load_table(spark, sf_dir, "events")
    return sessionize_batch(ev, gap_minutes=30).select(
        F.col("user_id").cast("long"),
        "session_start",
        "session_end",
        F.col("n_events").cast("long"),
        "sum_value",
    )


@query("events_hourly", oracle="""
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   ROUND(SUM(value), 6) AS sum_value
            FROM events GROUP BY 1, 2
        """)
def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


_FUNNEL_STEPS = ["signup", "view", "purchase"]


_EVENT_FUNNEL_SQL = """
    WITH ev AS (
        SELECT user_id, event_type, epoch_ms(ts) AS t_ms FROM events
    ),
    s1 AS (
        SELECT user_id, MIN(t_ms) AS t1 FROM ev
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.t_ms) AS t2
        FROM ev e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'view' AND e.t_ms > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.t_ms) AS t3
        FROM ev e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.t_ms > s2.t2
        GROUP BY e.user_id
    )
    SELECT CAST(s1.user_id AS BIGINT) AS user_id,
           CAST(CASE WHEN t3 IS NOT NULL THEN 3
                     WHEN t2 IS NOT NULL THEN 2
                     ELSE 1 END AS BIGINT) AS stage,
           CAST(t1 AS BIGINT) AS t_first_ms,
           CAST(COALESCE(t3, t2, t1) AS BIGINT) AS t_last_ms
    FROM s1
    LEFT JOIN s2 ON s2.user_id = s1.user_id
    LEFT JOIN s3 ON s3.user_id = s1.user_id
"""


@query("event_funnel", oracle=_EVENT_FUNNEL_SQL)
def _q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis over the events table
    (streaming/events.py:funnel_stages): deepest signup -> view ->
    purchase stage per user with strictly-increasing event times; every
    column an exact integer (epoch millis), so the oracle gates all of
    them."""
    ev = load_table(spark, sf_dir, "events")
    return funnel_stages(ev, _FUNNEL_STEPS)


@query("events_asof", oracle="""
    WITH p AS (
        SELECT user_id, event_id AS purchase_id, ts FROM events
        WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id, ts, MAX(event_id) AS click_id FROM events
        WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT CAST(p.user_id AS BIGINT) AS user_id,
           CAST(p.purchase_id AS BIGINT) AS purchase_id,
           epoch_us(p.ts) AS t_us,
           epoch_us(c.ts) AS t_click_us,
           CAST(c.click_id AS BIGINT) AS click_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """)
def _q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py — one of the brief's named custom
    operators): every purchase matched to the same user's LATEST click
    at-or-before it (pandas merge_asof backward semantics, microsecond
    precision; LEFT — purchases with no prior click keep nulls). Clicks
    are deduped to one row per (user, ts) keeping the max event_id so
    the tie rule is total; DuckDB's native ASOF JOIN replays the match
    exactly. Plan: one union + one window = ONE shuffle on user_id."""
    from paragrapher_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    res = asof_join(purchases, clicks, keys=["user_id"], right_cols=["click_id"])
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    return res.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("purchase_id").cast("long").alias("purchase_id"),
        t_us.alias("t_us"),
        F.col("ts_r").alias("t_click_us"),
        F.col("click_id_r").cast("long").alias("click_id"),
        (t_us - F.col("ts_r")).alias("gap_us"),
    )


@query("events_range_join", oracle="""
    WITH cl AS (
        SELECT user_id, ts, event_id AS click_id FROM events
        WHERE event_type = 'click'
    ),
    er AS (
        SELECT user_id, ts, event_id AS error_id FROM events
        WHERE event_type = 'error'
    )
    SELECT CAST(cl.user_id AS BIGINT) AS user_id,
           CAST(cl.click_id AS BIGINT) AS click_id,
           CAST(er.error_id AS BIGINT) AS error_id,
           epoch_us(cl.ts) AS t_us,
           epoch_us(er.ts) AS t_err_us,
           epoch_us(er.ts) - epoch_us(cl.ts) AS gap_us
    FROM cl JOIN er
      ON er.user_id = cl.user_id
     AND epoch_us(er.ts) BETWEEN epoch_us(cl.ts) + 1
                             AND epoch_us(cl.ts) + 600000000
    """)
def _q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join (operators/asof.py — the other named custom
    operator): every (click, error) pair of the same user with the error
    STRICTLY after the click and within 10 minutes. The interval
    predicate is planned as a bucketed EQUI-join (each click probes <=2
    time buckets), never Spark's default BroadcastNestedLoopJoin for
    theta joins; the exact [lo, hi] filter runs post-join."""
    from paragrapher_spark.operators.asof import range_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_id")
    )
    res = range_join(
        clicks, errors, keys=["user_id"], lower_us=1, upper_us=600_000_000
    )
    return res.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("click_id").cast("long").alias("click_id"),
        F.col("error_id_r").cast("long").alias("error_id"),
        F.col("t_us"),
        F.col("t_us_r").alias("t_err_us"),
        (F.col("t_us_r") - F.col("t_us")).alias("gap_us"),
    )


_EVENTS_ROLLUP_SQL = """
    WITH base AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    )
    SELECT COALESCE(event_type, 'ALL') AS event_type,
           COALESCE(day, 'ALL') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           CAST(GROUPING(event_type) * 2 + GROUPING(day) AS BIGINT) AS gid
    FROM base
    GROUP BY ROLLUP (event_type, day)
"""


@query("events_rollup", oracle=_EVENTS_ROLLUP_SQL)
def _q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP rollup (the grouping-sets operator class): event counts and
    exact value cents at (event_type, day), (event_type), and grand
    total levels in ONE pass — Spark plans rollup as a single Expand +
    aggregation, the map-side-combinable form of the 100 TB cube.
    grouping_id disambiguates levels; value summed in exact integer
    cents (round half-even per row, the double is data not arithmetic);
    NULL grouping placeholders surfaced as 'ALL' literals so the
    column-sorted gate compares cleanly."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return (
        base.rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.grouping_id().cast("long").alias("gid"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("day"), F.lit("ALL")).alias("day"),
            "n_events",
            "total_cents",
            "gid",
        )
    )


_PIVOT_TYPES = ("click", "view", "purchase", "signup", "error")


def _events_pivot_sql() -> str:
    cols = ",\n           ".join(
        f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT) AS n_{t}"
        for t in _PIVOT_TYPES
    )
    return f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           {cols}
    FROM events
    GROUP BY 1
    """


@query("events_pivot", oracle=_events_pivot_sql())
def _q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (crosstab) with an EXPLICIT value list — the schema-stable
    form (a values-less pivot collects the distinct set to the driver
    and bakes data into the schema; at 100 TB that is both a scan and a
    schema-drift hazard, so the value list is pinned). One groupBy +
    per-type conditional counts; the oracle is the same conditional
    aggregation spelled out."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd").alias("day"),
        "event_type",
    )
    return (
        base.groupBy("day")
        .pivot("event_type", list(_PIVOT_TYPES))
        .agg(F.count(F.lit(1)))
        .select(
            "day",
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
                for t in _PIVOT_TYPES
            ],
        )
    )


_LAST_CLICK_SQL = """
    WITH c AS (
        SELECT user_id, event_id AS click_id, epoch_us(ts) AS t_click_us
        FROM events WHERE event_type = 'click'
    ),
    e AS (
        SELECT user_id, event_id AS error_id, epoch_us(ts) AS t_err_us
        FROM events WHERE event_type = 'error'
    ),
    pairs AS (
        SELECT e.error_id, e.user_id, e.t_err_us, c.click_id, c.t_click_us,
               e.t_err_us - c.t_click_us AS gap_us,
               row_number() OVER (
                   PARTITION BY e.error_id
                   ORDER BY c.t_click_us DESC, c.click_id DESC
               ) AS rn
        FROM e JOIN c ON c.user_id = e.user_id
         AND e.t_err_us > c.t_click_us
         AND e.t_err_us <= c.t_click_us + 600000000
    )
    SELECT error_id, user_id, t_err_us, click_id, t_click_us, gap_us
    FROM pairs WHERE rn = 1
"""


@query("last_click_attribution", oracle=_LAST_CLICK_SQL)
def _q_last_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-click attribution (streaming/events.py — the deduplicating
    layer over the stream-stream-joinable pair feed): each error
    attributed to the latest same-user click strictly before it within
    10 minutes, ties on click time to the higher click_id. All columns
    exact epoch-micros longs; the oracle replays the argmax with the
    same ROW_NUMBER ordering."""
    from paragrapher_spark.streaming.events import last_click_attribution

    ev = load_table(spark, sf_dir, "events")
    return last_click_attribution(ev, max_gap_minutes=10).select(
        F.col("error_id").cast("long"),
        F.col("user_id").cast("long"),
        "t_err_us",
        F.col("click_id").cast("long"),
        "t_click_us",
        "gap_us",
    )


_COHORT_RETENTION_SQL = """
    WITH ev AS (
        SELECT user_id,
               (datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) - 4) // 7
                   AS week
        FROM events
    ),
    first AS (
        SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT ev.user_id, f.cohort_week,
               ev.week - f.cohort_week AS week_offset
        FROM ev JOIN first f ON f.user_id = ev.user_id
    )
    SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
           CAST(week_offset AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM act GROUP BY 1, 2
"""


@query("cohort_retention", oracle=_COHORT_RETENTION_SQL)
def _q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over events (streaming/events.py
    cohort_retention): users bucketed by first-seen week, counted per
    (cohort_week, week_offset) cell. Week index is Monday-anchored
    integer division of epoch days, so every column is an exact long."""
    from paragrapher_spark.streaming.events import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev)


_EVENT_TRANSITIONS_SQL = """
    WITH ordered AS (
        SELECT user_id, event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
               ) AS to_type
        FROM events
    ),
    pairs AS (
        SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM ordered WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (
        SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        FROM pairs GROUP BY 1
    )
    SELECT p.from_type, p.to_type, p.n, t.n_from,
           CAST(p.n * 1000000 // t.n_from AS BIGINT) AS p_fp
    FROM pairs p JOIN tot t ON t.from_type = p.from_type
"""


@query("event_transitions", oracle=_EVENT_TRANSITIONS_SQL)
def _q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between consecutive event
    types per user (streaming/events.py event_transitions). Order key
    (ts, event_id) is total, and the probability is integer floor
    division in 1e-6 fixed point — every column gates bit-exactly."""
    from paragrapher_spark.streaming.events import event_transitions

    ev = load_table(spark, sf_dir, "events")
    return event_transitions(ev)


_EVENT_BURSTS_SQL = """
    WITH daily AS (
        SELECT user_id,
               CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
                   AS day_idx,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT user_id, n_events,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY n_events, day_idx
               ) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_days
        FROM daily
    ),
    med AS (
        SELECT user_id, n_events AS median_n FROM ranked
        WHERE rn = CAST(ceil(n_days / 2.0) AS BIGINT)
    )
    SELECT d.user_id, d.day_idx, d.n_events, CAST(m.median_n AS BIGINT) AS median_n
    FROM daily d JOIN med m ON m.user_id = d.user_id
    WHERE d.n_events > 3 * m.median_n
"""


@query("event_bursts", oracle=_EVENT_BURSTS_SQL)
def _q_event_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-day detection (streaming/events.py event_bursts): days where
    a user's event count strictly exceeds 3× their median daily count —
    integer-only robust outlier rule (type-1 median, (n_events, day_idx)
    rank order), every column an exact long."""
    from paragrapher_spark.streaming.events import event_bursts

    ev = load_table(spark, sf_dir, "events")
    return event_bursts(ev, factor=3)
