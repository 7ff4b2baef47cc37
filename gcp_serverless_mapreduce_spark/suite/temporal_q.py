"""Temporal-join queries over ``events`` — as-of and range joins, gated
against DuckDB's *native* ASOF JOIN / inequality join (strongest possible
oracle: a different algorithm computing the same relation)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import temporal
from ..registry import register
from ..tables import load_table

_FMT = "yyyy-MM-dd HH:mm:ss"
_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@register("asof_click_before_purchase", f"""
WITH p AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, MAX(value) AS click_value FROM events
      WHERE event_type = 'click' GROUP BY user_id, ts)
SELECT p.event_id, p.user_id,
       strftime(p.ts, '{_FMT_DUCK}') AS purchase_at,
       c.click_value,
       strftime(c.ts, '{_FMT_DUCK}') AS clicked_at
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
""")
def asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase + the user's most recent click at or
    before it.  Union + window plan (operators/temporal.py): one shuffle
    on user_id, no range explosion; DuckDB verifies with native ASOF."""
    events = load_table(spark, sf_dir, "events")
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts"))
    clicks = (events.filter(F.col("event_type") == "click")
              .groupBy("user_id", "ts")
              .agg(F.max("value").alias("click_value")))
    joined = temporal.asof_join(purchases, clicks, on="user_id")
    return joined.select(
        "event_id", "user_id",
        F.date_format("ts", _FMT).alias("purchase_at"),
        F.col("click_value_asof").alias("click_value"),
        F.date_format("ts_asof", _FMT).alias("clicked_at"),
    )


@register("clicks_within_1h_of_error", """
SELECT e.event_id, e.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_clicks,
       CAST(SUM(CAST(c.value AS DECIMAL(14,2))) AS DOUBLE) AS click_value_sum
FROM events e JOIN events c
  ON c.user_id = e.user_id
 AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 1 HOUR
WHERE e.event_type = 'error' AND c.event_type = 'click'
GROUP BY e.event_id, e.user_id
""")
def clicks_within_1h_of_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: clicks in [error.ts, error.ts + 1 h] per user, as a
    bin-bucketed equi-join (operators/temporal.py) — sparse shuffle on
    (user, time-bin), never a nested-loop theta join; DuckDB verifies
    with its native inequality join."""
    events = load_table(spark, sf_dir, "events")
    errors = (events.filter(F.col("event_type") == "error")
              .select("event_id", "user_id", "ts"))
    clicks = (events.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "value"))
    joined = temporal.range_join_binned(
        errors, clicks, lo_s=0, hi_s=3600)
    return (
        joined.groupBy("event_id", "user_id")
        .agg(F.count("*").alias("n_clicks"),
             F.sum(F.col("value").cast("decimal(14,2)"))
             .cast("double").alias("click_value_sum"))
    )


@register("time_weighted_avg_value", """
WITH s AS (
    SELECT user_id, value, epoch_us(ts) AS t_us,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS t_next_us
    FROM events),
w AS (
    SELECT user_id,
           CAST(round(value * 100) AS BIGINT) * (t_next_us - t_us)
               AS weighted,
           t_next_us - t_us AS dur_us
    FROM s WHERE t_next_us IS NOT NULL)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
       round(CAST(SUM(weighted) AS DOUBLE) / SUM(dur_us) / 100, 6)
           AS time_weighted_avg
FROM w GROUP BY user_id
""")
def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of ``value`` per user (TimescaleDB-style
    ``time_weight('LOCF')``): each observation weighted by how long it
    remained current (lead-ts delta).  The weights are exact BIGINT
    micros x integer cents, so the cross-row sums are partition-order-
    independent; one window sort on user_id, reused by the final agg.

    Scale: the interval sum per user is bounded by max_cents x the
    user's total time span (durations telescope), so the BIGINT
    accumulator has ~300x headroom even for a 30-day span at the
    fixture's value range.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = events.select(
        "user_id", "value", F.unix_micros("ts").alias("t_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("t_next_us"))
    dur = F.col("t_next_us") - F.col("t_us")
    weighted = F.round(F.col("value") * 100).cast("long") * dur
    return (s.filter(F.col("t_next_us").isNotNull())
            .select("user_id", weighted.alias("weighted"),
                    dur.alias("dur_us"))
            .groupBy("user_id")
            .agg(F.count("*").alias("n_intervals"),
                 F.round(F.sum("weighted").cast("double")
                         / F.sum("dur_us") / 100, 6)
                 .alias("time_weighted_avg")))


@register("m4_downsample_hourly", f"""
WITH b AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket, value,
           row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY ts, event_id) AS rn_a,
           row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM events)
SELECT event_type, strftime(bucket, '{_FMT_DUCK}') AS bucket_start,
       CAST(count(*) AS BIGINT) AS n_points,
       min(value) AS v_min, max(value) AS v_max,
       min(CASE WHEN rn_a = 1 THEN value END) AS v_first,
       min(CASE WHEN rn_d = 1 THEN value END) AS v_last
FROM b GROUP BY event_type, bucket
""")
def m4_downsample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 time-series downsampling (min/max/first/last per pixel bucket —
    the error-free line-chart reduction from Jugel et al.): hourly
    buckets per event_type.  min/max are plain aggregates; first/last
    come from two row_number passes over the SAME partition keys (one
    exchange, two in-partition sorts), with (ts, event_id) making tie
    order deterministic.  No value accumulates across rows, so doubles
    pass through bit-exact.
    """
    events = load_table(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("ts"))
    wa = (Window.partitionBy("event_type", "bucket")
          .orderBy(F.col("ts").asc(), F.col("event_id").asc()))
    wd = (Window.partitionBy("event_type", "bucket")
          .orderBy(F.col("ts").desc(), F.col("event_id").desc()))
    b = (events.withColumn("bucket", bucket)
         .withColumn("rn_a", F.row_number().over(wa))
         .withColumn("rn_d", F.row_number().over(wd)))
    return (b.groupBy("event_type", "bucket")
            .agg(F.count("*").alias("n_points"),
                 F.min("value").alias("v_min"),
                 F.max("value").alias("v_max"),
                 F.min(F.when(F.col("rn_a") == 1, F.col("value")))
                 .alias("v_first"),
                 F.min(F.when(F.col("rn_d") == 1, F.col("value")))
                 .alias("v_last"))
            .select("event_type",
                    F.date_format("bucket", _FMT).alias("bucket_start"),
                    "n_points", "v_min", "v_max", "v_first", "v_last"))


# ---- interval x interval overlap join -------------------------------------

OV_DUR_US = "CAST(floor(value * 60000000) AS BIGINT)"  # value minutes -> us


@register("user_error_purchase_overlap", f"""
WITH iv AS (
    SELECT user_id, event_id, event_type,
           epoch_us(ts) AS s_us,
           epoch_us(ts) + {OV_DUR_US} AS e_us
    FROM events WHERE event_type IN ('error', 'purchase'))
SELECT a.user_id,
       a.event_id AS error_id, b.event_id AS purchase_id,
       round(CAST(least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us)
                  AS DOUBLE) / 1000000.0, 6) AS overlap_secs
FROM iv a JOIN iv b
  ON a.user_id = b.user_id
 AND a.event_type = 'error' AND b.event_type = 'purchase'
 AND a.s_us <= b.e_us AND b.s_us <= a.e_us
WHERE least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us) > 0
""")
def user_error_purchase_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: each event defines an activity interval
    [ts, ts + value minutes]; find, per user, every (error, purchase)
    interval pair that overlaps, with the overlap length — "purchases
    made while an error condition was live".  The Spark plan bins both
    interval sets into days and equi-joins on (user, day) with the
    overlap-start-bin dedup rule (operators/temporal.py:
    interval_overlap_join) — bounded fan-out, no theta join; the oracle
    states the same pairs declaratively (DuckDB's IEJoin handles the
    inequality form at fixture scale)."""
    ev = load_table(spark, sf_dir, "events")
    s = F.unix_micros("ts")
    e = s + F.floor(F.col("value") * 60000000).cast("long")
    iv = ev.where(F.col("event_type").isin("error", "purchase")).select(
        "user_id", F.col("event_id").alias("id"), "event_type",
        s.alias("s_us"), e.alias("e_us"))
    errors = iv.where(F.col("event_type") == "error").drop("event_type")
    purchases = iv.where(F.col("event_type") == "purchase").drop("event_type")
    out = temporal.interval_overlap_join(errors, purchases)
    return out.select(
        "user_id",
        F.col("a_id").alias("error_id"),
        F.col("b_id").alias("purchase_id"),
        F.round(F.col("overlap_us").cast("double") / 1000000.0, 6)
         .alias("overlap_secs"))


@register("scd2_user_event_state", """
WITH o AS (
    SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
m AS (
    SELECT user_id, event_type, us, event_id,
           CASE WHEN lag(event_type) OVER w
                     IS NOT DISTINCT FROM event_type
                THEN 0 ELSE 1 END AS chg
    FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
r AS (
    SELECT user_id, event_type, us,
           SUM(chg) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS run_id
    FROM m),
g AS (
    SELECT user_id, run_id, event_type AS state,
           MIN(us) AS valid_from_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM r GROUP BY user_id, run_id, event_type)
SELECT user_id, state, valid_from_us,
       lead(valid_from_us) OVER w2 AS valid_to_us,
       n_events,
       lead(valid_from_us) OVER w2 IS NULL AS is_current
FROM g WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)
""")
def scd2_user_event_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build (operators/temporal.scd2_intervals):
    consecutive same-event_type runs per user collapse to validity
    intervals via gaps-and-islands — one user_id-keyed shuffle drives
    the change-flag window, the run aggregate, and the valid_to lead.
    The oracle replays the identical construction in window SQL."""
    events = load_table(spark, sf_dir, "events")
    return temporal.scd2_intervals(events)
