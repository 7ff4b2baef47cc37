"""Temporal join operators Spark has no native form of: as-of join and
range join — composed from built-in ops so Catalyst/AQE still drive the
physical plan (SURVEY §2.6: the reference has no joins at all; these are
the time-series additions a 100 TB event store needs).

**As-of join** (most recent right row at or before each left row, per
key): the union + window plan — tag both inputs, sort within key by
(ts, tag), carry the last seen right value forward with
``last(..., ignorenulls)``.  ONE shuffle on the key, no range explosion,
no per-key driver loop; skewed keys are AQE's problem like any window.

**Range join** (left row × right rows with ts in [left.ts+lo, left.ts+hi]):
the bin-bucketed plan — both sides bucket time into ceil((hi-lo)) wide
bins, equi-join on (key, bin) with each left row probing the two bins its
window can touch, then filter exactly.  Turns an O(n·m) theta join into a
sparse equi-join whose fan-out is bounded by events-per-bin — the standard
interval-join strategy streaming engines use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, on: str) -> DataFrame:
    """Left as-of join: every left row + the latest right values whose
    timestamp is <= the left timestamp, matched on ``on``.

    Right-side duplicates at the same (key, ts) must be pre-aggregated by
    the caller if tie-breaking matters.

    Right value columns must not collide with any left column: the union
    plan null-pads each side's missing columns, and a shared name would
    let a left row's OWN value be carried forward as the "as-of" value
    for later left rows (silent corruption).  Rejected here rather than
    auto-renamed so the output schema stays predictable.
    """
    value_cols = [c for c in right.columns if c not in (on, "ts")]
    clash = set(value_cols) & set(left.columns)
    if clash:
        raise ValueError(
            f"asof_join: right value column(s) {sorted(clash)} collide with "
            f"left columns; rename them before joining")

    lhs = left.withColumn("_tag", F.lit(1)).withColumn("_ats", F.col("ts"))
    rhs = right.select(
        F.col(on),
        F.col("ts").alias("_ats"),
        F.lit(0).alias("_tag"),
        *[F.col(c) for c in value_cols],
    ).withColumn("ts_asof", F.col("_ats"))

    missing_in_rhs = [c for c in lhs.columns if c not in rhs.columns]
    missing_in_lhs = [c for c in rhs.columns if c not in lhs.columns]
    for c in missing_in_rhs:
        rhs = rhs.withColumn(c, F.lit(None))
    for c in missing_in_lhs:
        lhs = lhs.withColumn(c, F.lit(None))
    unioned = lhs.unionByName(rhs)

    # right rows (tag 0) sort before left rows at the same timestamp, so
    # "at or before" includes exact ts matches
    w = (Window.partitionBy(on)
         .orderBy(F.col("_ats").asc(), F.col("_tag").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = [F.last(c, ignorenulls=True).over(w).alias(f"{c}_asof")
               for c in value_cols] + [
        F.last("ts_asof", ignorenulls=True).over(w).alias("_ts_asof")]
    out = (unioned.select("*", *carried)
           .filter(F.col("_tag") == 1))
    keep = [c for c in left.columns]
    renames = [F.col(f"{c}_asof") for c in value_cols] + [
        F.col("_ts_asof").alias("ts_asof")]
    return out.select(*keep, *renames)


def range_join_binned(left: DataFrame, right: DataFrame,
                      lo_s: int = 0, hi_s: int = 300) -> DataFrame:
    """Rows of ``right`` whose ts lies in [left.ts + lo_s, left.ts + hi_s]
    (seconds), per ``user_id`` — as a sparse equi-join on (user_id, time
    bin).

    Bin width = window span: each left row's window touches at most two
    bins, so the left side explodes ×2 (bounded), the right side not at
    all, and the join is a plain shuffle/broadcast equi-join Catalyst can
    plan normally — never an O(n·m) BroadcastNestedLoopJoin.
    """
    right_cols = [c for c in right.columns if c not in ("user_id", "ts")]
    span = max(hi_s - lo_s, 1)

    # Timestamp-type-agnostic epoch seconds: TIMESTAMP_NTZ cannot cast to
    # BIGINT directly, but casts to TIMESTAMP exactly under the pinned UTC
    # session TZ (session.py); for TIMESTAMP the extra cast is a no-op that
    # Catalyst folds away.
    l_epoch = F.col("ts").cast("timestamp").cast("long")
    r_epoch = F.col("ts").cast("timestamp").cast("long")
    lbins = F.array_distinct(F.array(
        ((l_epoch + lo_s) / span).cast("long"),
        ((l_epoch + hi_s) / span).cast("long"),
    ))
    lhs = left.withColumn("_bin", F.explode(lbins))
    rhs = right.select(
        F.col("user_id").alias("_rk"),
        (r_epoch / span).cast("long").alias("_bin"),
        F.col("ts").alias("_rts"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    )
    # exact filter on full-precision timestamps (epoch casts above are
    # second-truncated — fine for conservative binning, wrong for the
    # comparison itself)
    joined = lhs.join(
        rhs,
        (F.col("user_id") == F.col("_rk")) & (lhs["_bin"] == rhs["_bin"]),
    ).filter(
        (F.col("_rts") >= F.col("ts") + F.expr(f"INTERVAL {lo_s} SECOND"))
        & (F.col("_rts") <= F.col("ts") + F.expr(f"INTERVAL {hi_s} SECOND"))
    )
    return joined.select(
        *[F.col(c) for c in left.columns],
        F.col("_rts").alias("ts_right"),
        *[F.col(f"_r_{c}").alias(c) for c in right_cols],
    )


DAY_US = 86_400_000_000


def interval_overlap_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Interval x interval overlap join per ``user_id`` — the third
    temporal-join shape next to as-of (point x latest-point) and range
    (point x window).

    Inputs carry ``(user_id, id, s_us, e_us)`` with s <= e in epoch
    microseconds.  Both sides explode each interval into the time bins
    it covers (``sequence`` of floor(s/bin) .. floor(e/bin)); the join is
    an EQUI-join on (key, bin), so fan-out is bounded by
    intervals-per-key-per-bin — never the O(n*m) theta join a naive
    ``s_a <= e_b AND s_b <= e_a`` predicate would execute.  A pair
    spanning several shared bins is counted exactly once WITHOUT a
    distinct exchange: it is kept only in the bin containing the overlap
    start (floor(max(s_a, s_b)/bin)).

    -> left columns + right columns + ``overlap_us``, only pairs with
    positive-length overlap (touching endpoints drop).
    """
    def binned(df: DataFrame, tag: str) -> DataFrame:
        return (df.select(
            F.col("user_id"),
            F.col("id").alias(f"{tag}_id"),
            F.col("s_us").alias(f"s_{tag}"),
            F.col("e_us").alias(f"e_{tag}"),
            F.explode(F.sequence(F.floor(F.col("s_us") / DAY_US),
                                 F.floor(F.col("e_us") / DAY_US)))
             .alias("bin")))

    a, b = binned(left, "a"), binned(right, "b")
    start = F.greatest(F.col("s_a"), F.col("s_b"))
    overlap = F.least(F.col("e_a"), F.col("e_b")) - start
    out = (a.join(b, ["user_id", "bin"])
           .where(F.floor(start / DAY_US) == F.col("bin"))
           .withColumn("overlap_us", overlap)
           .drop("bin"))
    return out.where(F.col("overlap_us") > 0)


def scd2_intervals(events: DataFrame) -> DataFrame:
    """Slowly-changing-dimension type-2 history from an event log: per
    key, collapse consecutive runs of the same state into validity
    intervals — the warehouse operator that turns an append-only event
    stream into a point-in-time dimension (the reference engine's data
    model has no temporal dimension at all; this is the standard
    gaps-and-islands construction).

    -> (key, state, valid_from_us, valid_to_us, n_events, is_current):
    ``valid_to_us`` is the next run's start (NULL on the open current
    run).  Ties on ``ts`` break on ``event_id`` so run boundaries are
    deterministic cross-engine.

    Scale shape: ONE shuffle on the key drives both windows and the run
    aggregate (all three are partitioned by the key); no self-join, no
    per-key collect.  100 TB of events with a bounded key space flows
    through as an ordinary windowed aggregation.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # eqNullSafe, not `!=`: a NULL state must open its own run (plain
    # inequality evaluates to NULL there, silently merging a NULL-state
    # event into the prior run and leaving two groupBy rows sharing one
    # run id — a nondeterministic lead() downstream).  The first row of
    # a partition (lag NULL vs non-NULL state) still flags 1.
    prev = F.lag("event_type").over(w)
    chg = F.when(prev.eqNullSafe(F.col("event_type")), 0).otherwise(1)
    runs = (events
            .withColumn("_run", F.sum(chg).over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy("user_id", "_run", "event_type")
            .agg(F.min(F.unix_micros("ts")).alias("valid_from_us"),
                 F.count(F.lit(1)).cast("long").alias("n_events")))
    # order on the run id, not valid_from_us: two adjacent runs can
    # share a start microsecond when ts ties straddle a state change
    # (event_id breaks the ordering inside the run window above),
    # and the run id is monotone in that same (ts, tie) order.
    w2 = Window.partitionBy("user_id").orderBy("_run")
    nxt = F.lead("valid_from_us").over(w2)
    return (runs
            .select(F.col("user_id"),
                    F.col("event_type").alias("state"),
                    "valid_from_us",
                    nxt.alias("valid_to_us"),
                    "n_events",
                    nxt.isNull().alias("is_current")))
