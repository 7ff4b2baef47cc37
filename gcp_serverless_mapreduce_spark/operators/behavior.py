"""Behavioral sequence operators over per-user ordered event streams:
ordered conversion funnel, first-order transition matrix, retention
cohorts.  Spark has no MATCH_RECOGNIZE; these compose the standard
window-function equivalents so Catalyst still owns the physical plan.

All three share the same scale shape: a single shuffle on the user key
(window sort or groupBy), map-side partial aggregation for everything
keyed coarser, and constant-size results.  Nothing here self-joins the
event table or loops on the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _ordered_window(user_col: str, ts_col: str, id_col: str):
    return (Window.partitionBy(user_col).orderBy(ts_col, id_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))


def funnel_stage_times(events: DataFrame, stages: Sequence[str],
                       user_col: str = "user_id", ts_col: str = "ts",
                       id_col: str = "event_id",
                       type_col: str = "event_type") -> DataFrame:
    """Per-user first-completion time of each ordered funnel stage.

    Stage k+1 counts only events at-or-after stage k's first completion
    (ties ordered by ``id_col``): a running ``min(stage-k ts)`` window
    carries completion forward, so the whole K-stage funnel is ONE
    window sort plus a per-user reduction that reuses its partitioning.

    Returns (user_col, t1..tK) with NULL for unreached stages — tk is
    non-null only if t1..t(k-1) are, by construction.
    """
    w = _ordered_window(user_col, ts_col, id_col)
    df = events
    reached_prev = F.lit(True)
    stage_time_exprs: list[Column] = []
    for k, stage in enumerate(stages, start=1):
        hit = (F.col(type_col) == stage) & reached_prev
        stage_time_exprs.append(
            F.min(F.when(hit, F.col(ts_col))).alias(f"t{k}"))
        if k < len(stages):
            run_col = f"_t{k}r"
            df = df.withColumn(run_col,
                               F.min(F.when(hit, F.col(ts_col))).over(w))
            reached_prev = F.col(run_col).isNotNull()
    return df.groupBy(user_col).agg(*stage_time_exprs)


def funnel_summary(events: DataFrame, stages: Sequence[str],
                   **cols) -> DataFrame:
    """One-row funnel: users reaching each stage in order + mean
    time-to-convert.  The mean is an exact BIGINT micros sum divided
    once at the end, so the value is independent of partition order."""
    u = funnel_stage_times(events, stages, **cols)
    last = f"t{len(stages)}"
    converted = F.when(F.col(last).isNotNull(),
                       F.unix_micros(last) - F.unix_micros("t1"))
    aggs = [F.count(f"t{k}").alias(f"n_{stage}" if k == 1
                                   else f"n_{stage}_after")
            for k, stage in enumerate(stages, start=1)]
    return u.agg(*aggs,
                 F.round(F.sum(converted).cast("double")
                         / F.nullif(F.count(last), F.lit(0)) / 1e6,
                         6).alias("avg_convert_s"))


def transition_matrix(events: DataFrame) -> DataFrame:
    """First-order Markov transitions of per-user event sequences:
    ``lag`` pairs each event with its predecessor, one groupBy counts
    the (prev, next) cells, and ``p_next`` row-normalizes over the tiny
    |types|² result."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = events.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"))
    c = (t.filter(F.col("prev_type").isNotNull())
         .groupBy("prev_type", "next_type")
         .agg(F.count("*").alias("n_transitions")))
    share_w = Window.partitionBy("prev_type")
    return c.select(
        "prev_type", "next_type", "n_transitions",
        F.round(F.col("n_transitions").cast("double")
                / F.sum("n_transitions").over(share_w), 6).alias("p_next"))


def retention_cohorts(events: DataFrame, epoch: str) -> DataFrame:
    """Weekly retention cohorts from a FIXED epoch date (stable week
    numbers under incremental appends — no engine-specific week
    truncation, no shifting ``min(ts)`` epoch).

    Plan: two co-partitioned shuffles on the user key (first-week agg +
    activity join, AQE-mergeable) and one tiny cohort-week aggregate;
    cohort sizes broadcast into the final join."""
    week_no = F.floor(
        F.datediff(F.col("ts").cast("date"),
                   F.lit(epoch).cast("date")) / 7).cast("long")
    wk = events.select(F.col("user_id"), week_no.alias("week_no"))
    coh = wk.groupBy("user_id").agg(F.min("week_no").alias("cohort_week"))
    act = (wk.join(coh, "user_id")
           .select(F.col("user_id"), "cohort_week",
                   (F.col("week_no") - F.col("cohort_week"))
                   .alias("week_offset"))
           .distinct())
    sizes = coh.groupBy("cohort_week").agg(F.count("*").alias("cohort_size"))
    return (act.join(F.broadcast(sizes), "cohort_week")
            .groupBy("cohort_week", "week_offset")
            .agg(F.count("*").alias("n_active_users"),
                 F.round(F.count("*").cast("double")
                         / F.any_value("cohort_size"), 6)
                 .alias("retention")))


TOUCH_TYPES = ("click", "view")
REV_U = 1_000_000  # revenue in exact micro-units (the BIGINT-sum rule)


def touch_attribution(events: DataFrame) -> DataFrame:
    """-> (model, touch_type, n_purchases, revenue): marketing
    attribution — every purchase's value credited to the user's FIRST
    and LAST preceding touch event (click/view), the two classic
    single-touch models, side by side.

    One window pass over the user-ordered stream computes both running
    touch columns (first/last with ignorenulls — no self-join of
    purchases back onto touches, which is the naive O(purchases x
    touches) shape); purchases with no preceding touch are credited to
    '(none)' rather than dropped, so the two models' totals both
    reconcile to total purchase revenue.  Revenue is summed as exact
    BIGINT micro-units (one rounded double multiply per row, then
    integer addition), so the aggregate is partition-order-independent
    and the oracle matches bit-for-bit.
    """
    w = _ordered_window("user_id", "ts", "event_id")
    touch = F.when(F.col("event_type").isin(*TOUCH_TYPES),
                   F.col("event_type"))
    base = (events
            .withColumn("_last_t", F.last(touch, ignorenulls=True).over(w))
            .withColumn("_first_t", F.first(touch, ignorenulls=True).over(w))
            .where(F.col("event_type") == "purchase")
            .withColumn("_vu", F.round(F.col("value") * REV_U).cast("long")))
    melted = base.select(F.explode(F.array(
        F.struct(F.lit("last").alias("model"),
                 F.coalesce(F.col("_last_t"), F.lit("(none)"))
                 .alias("touch_type"), F.col("_vu")),
        F.struct(F.lit("first").alias("model"),
                 F.coalesce(F.col("_first_t"), F.lit("(none)"))
                 .alias("touch_type"), F.col("_vu")))).alias("m"))
    return (melted
            .groupBy(F.col("m.model").alias("model"),
                     F.col("m.touch_type").alias("touch_type"))
            .agg(F.count(F.lit(1)).alias("n_purchases"),
                 F.round(F.sum("m._vu").cast("double") / REV_U, 6)
                 .alias("revenue")))
