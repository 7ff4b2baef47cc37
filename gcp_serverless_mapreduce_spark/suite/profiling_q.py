"""Profiling / maintenance queries: mergeable-histogram quantiles,
trailing-window anomaly detection, incremental aggregate maintenance.
Exact DuckDB oracle twins throughout; quantile targets are computed in
DOUBLE on both sides (a DECIMAL target could pick a different covering
bin at exact integer boundaries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import profiling
from ..operators.profiling import ANOM_TRAIL, ANOM_Z, HIST_BIN_WIDTH, HIST_QS
from ..registry import register
from ..tables import load_table
from .temporal_q import _FMT, _FMT_DUCK

IVM_SPLIT_DATE = "2000-01-01"

_QS_SQL = ", ".join(repr(q) for q in HIST_QS)


@register("value_histogram_quantiles", f"""
WITH b AS (
    SELECT event_type AS grp,
           CAST(floor(value / CAST({HIST_BIN_WIDTH!r} AS DOUBLE))
                AS BIGINT) AS bin,
           COUNT(*) AS c
    FROM events GROUP BY 1, 2),
cum AS (
    SELECT grp, bin, c,
           SUM(c) OVER (PARTITION BY grp ORDER BY bin) AS cum,
           SUM(c) OVER (PARTITION BY grp) AS n
    FROM b),
probe AS (
    SELECT grp, bin, c, cum, n, CAST(qq.q AS DOUBLE) AS q
    FROM cum, (SELECT unnest([{_QS_SQL}]) AS q) qq)
SELECT grp AS event_type, q,
       round(CAST(bin AS DOUBLE) * CAST({HIST_BIN_WIDTH!r} AS DOUBLE)
             + CAST({HIST_BIN_WIDTH!r} AS DOUBLE)
               * (q * CAST(n AS DOUBLE) - CAST(cum - c AS DOUBLE))
               / CAST(c AS DOUBLE), 6) AS est
FROM probe
WHERE CAST(cum AS DOUBLE) >= q * CAST(n AS DOUBLE)
  AND CAST(cum - c AS DOUBLE) < q * CAST(n AS DOUBLE)
""")
def value_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a fixed-width counting histogram (the
    Prometheus/monitoring pattern): per-event-type p50/p90/p99 of
    ``value`` interpolated inside the covering {HIST_BIN_WIDTH}-wide
    bin.  Unlike exact percentile (sorts each group) or
    approx_percentile (engine-specific sketch), the histogram state is
    a bounded MERGEABLE (group, bin) grid and the estimate is pure
    arithmetic — so the DuckDB oracle gates the estimate exactly,
    quantization error included.  See operators/profiling.py."""
    ev = load_table(spark, sf_dir, "events")
    return profiling.histogram_quantiles(ev, "event_type", "value")


@register("hourly_event_anomalies", f"""
WITH c AS (
    SELECT event_type, date_trunc('hour', ts) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2),
w AS (
    SELECT *, COUNT(*) OVER tw AS k,
           AVG(n) OVER tw AS m,
           stddev_samp(n) OVER tw AS sd
    FROM c
    WINDOW tw AS (PARTITION BY event_type ORDER BY bucket
                  ROWS BETWEEN {ANOM_TRAIL} PRECEDING AND 1 PRECEDING))
SELECT event_type, strftime(bucket, '{_FMT_DUCK}') AS bucket_start, n,
       CASE WHEN k = {ANOM_TRAIL} THEN round(m, 6) END AS mean_t,
       CASE WHEN k = {ANOM_TRAIL} THEN round(sd, 6) END AS sd_t,
       CASE WHEN k = {ANOM_TRAIL} AND sd > 0
            THEN round((CAST(n AS DOUBLE) - m) / sd, 4) END AS z,
       COALESCE(CASE WHEN k = {ANOM_TRAIL} AND sd > 0
                     THEN abs(round((CAST(n AS DOUBLE) - m) / sd, 4))
                          >= CAST({ANOM_Z!r} AS DOUBLE) END,
                FALSE)
       OR COALESCE(k = {ANOM_TRAIL} AND sd = 0
                   AND CAST(n AS DOUBLE) <> m, FALSE) AS is_anomaly
FROM w
""")
def hourly_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: hourly event counts per type,
    z-scored against the mean/stddev of the {ANOM_TRAIL} PRECEDING
    hours (self-excluded; partial windows emit NULL), flagged at
    |z| >= {ANOM_Z}.  One exchange on the series key; the window state
    is {ANOM_TRAIL} rows per series forever, independent of history
    length.  See operators/profiling.py:trailing_zscore."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.withColumn("bucket", F.date_trunc("hour", F.col("ts")))
              .groupBy("event_type", "bucket")
              .agg(F.count(F.lit(1)).cast("long").alias("n")))
    scored = profiling.trailing_zscore(hourly, "event_type")
    return scored.select(
        "event_type", F.date_format("bucket", _FMT).alias("bucket_start"),
        "n", "mean_t", "sd_t", "z", "is_anomaly")


@register("incremental_order_totals", f"""
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_spend
FROM orders GROUP BY o_custkey
""")
def incremental_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: per-customer order count + spend
    maintained by MERGING a delta partial aggregate (orders on/after
    {IVM_SPLIT_DATE}) into the base aggregate (orders before it) via
    one full-outer join on the key — the base is never re-aggregated
    from raw rows.  The oracle is the FULL recompute over all orders,
    so the gate is exactly the IVM contract merge(base, delta) ==
    recompute.  Money sums in DECIMAL (order-independent), cast to
    DOUBLE at the edge.  See operators/profiling.py:merge_agg_delta."""
    orders = load_table(spark, sf_dir, "orders")
    spend = F.sum(F.col("o_totalprice").cast("decimal(18,2)"))

    def agg(part: DataFrame) -> DataFrame:
        return (part.groupBy("o_custkey")
                .agg(F.count(F.lit(1)).alias("n_orders"),
                     spend.alias("spend")))

    cut = F.lit(IVM_SPLIT_DATE).cast("timestamp")
    base = agg(orders.where(F.col("o_orderdate") < cut))
    delta = agg(orders.where(F.col("o_orderdate") >= cut))
    merged = profiling.merge_agg_delta(base, delta, ["o_custkey"],
                                       ["n_orders", "spend"])
    return merged.select(
        "o_custkey",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("spend").cast("double").alias("total_spend"))


# ---- walk-forward (expanding-window) backtest folds -----------------------

WF_START = "1998-01-01"
WF_FOLDS = 4
WF_STEP_MONTHS = 6


@register("walkforward_fold_counts", f"""
WITH f AS (SELECT unnest(generate_series(0, {WF_FOLDS - 1})) AS fold),
b AS (
    SELECT f.fold,
           TIMESTAMP '{WF_START}'
               + INTERVAL ({WF_STEP_MONTHS}) MONTH * f.fold AS cut,
           TIMESTAMP '{WF_START}'
               + INTERVAL ({WF_STEP_MONTHS}) MONTH * (f.fold + 1) AS hi
    FROM f),
s AS (
    SELECT b.fold,
           CASE WHEN o.o_orderdate < b.cut THEN 'train' ELSE 'test' END
               AS split,
           CAST(o.o_totalprice AS DECIMAL(18,2)) AS price
    FROM b JOIN orders o
      ON o.o_orderdate < b.hi)
SELECT fold, split,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(price) AS DOUBLE) AS total_spend
FROM s GROUP BY fold, split
""")
def walkforward_fold_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward (expanding-window) backtest folds — the
    leakage-free evaluation protocol for temporal models: fold k trains
    on everything before {WF_START} + k*{WF_STEP_MONTHS} months and
    tests on the following {WF_STEP_MONTHS}-month slice.  One scan of
    orders range-joined to a {WF_FOLDS}-row broadcast fold table (each
    row lands in every fold whose horizon covers it) — no per-fold
    re-scan.  Money in DECIMAL, cast at the edge."""
    orders = load_table(spark, sf_dir, "orders")
    folds = spark.range(WF_FOLDS).select(F.col("id").cast("int").alias("fold"))
    start = F.lit(WF_START).cast("timestamp")
    cut = F.expr(f"timestampadd(MONTH, {WF_STEP_MONTHS} * fold, "
                 f"TIMESTAMP '{WF_START}')")
    hi = F.expr(f"timestampadd(MONTH, {WF_STEP_MONTHS} * (fold + 1), "
                f"TIMESTAMP '{WF_START}')")
    b = folds.select("fold", cut.alias("cut"), hi.alias("hi"))
    s = (F.broadcast(b).join(orders, orders["o_orderdate"] < b["hi"])
         .select("fold",
                 F.when(F.col("o_orderdate") < F.col("cut"), "train")
                  .otherwise("test").alias("split"),
                 F.col("o_totalprice").cast("decimal(18,2)").alias("price")))
    return (s.groupBy("fold", "split")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum("price").cast("double").alias("total_spend")))


# ---- distributed logistic-regression training -----------------------------

from ..operators.profiling import GD_ITERS, GD_LR, GD_Q


def _gd_sql(iters: int) -> str:
    """Unrolled DuckDB twin of profiling.logistic_gd_train: step k's
    exact integer gradient sums steer step k's double weight update."""
    p = ("(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) "
         "+ exp(-(w{j}.w * d.x + w{j}.b))))")
    parts = ["""WITH d AS (
    SELECT value / CAST(100.0 AS DOUBLE) AS x,
           CASE WHEN event_type = 'purchase' THEN CAST(1 AS DOUBLE)
                ELSE CAST(0 AS DOUBLE) END AS y
    FROM events),
w0 AS (SELECT CAST(0 AS DOUBLE) AS w, CAST(0 AS DOUBLE) AS b)"""]
    for k in range(1, iters + 1):
        j = k - 1
        pj = p.format(j=j)
        parts.append(f""",
g{k} AS (
    SELECT SUM(CAST(floor(({pj} - d.y) * d.x * {GD_Q}) AS BIGINT)) AS gw,
           SUM(CAST(floor(({pj} - d.y) * {GD_Q}) AS BIGINT)) AS gb,
           COUNT(*) AS n
    FROM d CROSS JOIN w{j}),
w{k} AS (
    SELECT w{j}.w - CAST({GD_LR!r} AS DOUBLE)
               * (CAST(g{k}.gw AS DOUBLE)
                  / ({GD_Q} * CAST(g{k}.n AS DOUBLE))) AS w,
           w{j}.b - CAST({GD_LR!r} AS DOUBLE)
               * (CAST(g{k}.gb AS DOUBLE)
                  / ({GD_Q} * CAST(g{k}.n AS DOUBLE))) AS b
    FROM w{j} CROSS JOIN g{k})""")
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS iter, round(w, 9) AS w, "
        f"round(b, 9) AS b FROM w{k}" for k in range(1, iters + 1))
    return "".join(parts) + "\n" + union


@register("logistic_gd_train", _gd_sql(GD_ITERS))
def logistic_gd_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed model training held to the exact-correctness gate:
    one-feature logistic regression (purchase ~ value/100) trained by
    {GD_ITERS} synchronous batch-GD steps.  Per-row gradient
    contributions are quantized to fixed-point BIGINTs before summation
    (a float SUM would depend on partition order AND on cross-engine
    exp() ulps), each step is one map-side-combined aggregate + a
    one-row scalar collect, and the oracle unrolls every step — the
    trained weight trajectory must match bit-for-bit.  See
    operators/profiling.py:logistic_gd_train."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select((F.col("value") / F.lit(100.0)).alias("x"),
                  (F.col("event_type") == "purchase")
                  .cast("double").alias("y"))
    return profiling.logistic_gd_train(d)


# ---------------------------------------------------------------------------
# Distributed linear algebra: exact Gram + integer power iteration.

PI_DIM = 64


def _pi_sql(rounds: int) -> str:
    """Unrolled DuckDB twin of profiling.power_iteration_pc1: the same
    fixed-point Gram cells, then one (w, max, renormalize) CTE triple
    per round in HUGEINT — floor division reproduced exactly via the
    pmod identity (a - ((a % m) + m) % m) // m."""
    q, s = profiling.PI_EMB_Q, profiling.PI_SCALE
    parts = [f"""
WITH x AS (
    SELECT vec_id, i.i - 1 AS i,
           CAST(floor(CAST(embedding[i.i] AS DOUBLE) * {q})
                AS BIGINT) AS xq
    FROM embeddings,
         LATERAL (SELECT unnest(generate_series(1, {PI_DIM})) AS i) i
    WHERE len(embedding) = {PI_DIM}),
g AS (
    SELECT a.i AS i, b.i AS j, CAST(sum(a.xq * b.xq) AS HUGEINT) AS g
    FROM x a JOIN x b USING (vec_id) GROUP BY a.i, b.i),
v0 AS (SELECT unnest(generate_series(0, {PI_DIM - 1})) AS i,
              CAST({s} AS HUGEINT) AS v)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
w{r} AS (SELECT g.i, sum(g.g * p.v) AS w
         FROM g JOIN v{r - 1} p ON g.j = p.i GROUP BY g.i),
m{r} AS (SELECT max(abs(w)) AS mx FROM w{r}),
v{r} AS (SELECT i,
                CASE WHEN mx = 0 THEN CAST(0 AS HUGEINT)
                     ELSE ((w * {s}) - (((w * {s}) % mx) + mx) % mx) // mx
                END AS v
         FROM w{r}, m{r})""")
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS rnd, CAST(i AS BIGINT) AS i,"
        f" CAST(v AS BIGINT) AS v FROM v{r}"
        for r in range(rounds + 1))
    return "".join(parts) + "\n" + unions


@register("power_iteration_pc1", _pi_sql(profiling.PI_ROUNDS))
def power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-direction power iteration over the embeddings
    table in EXACT integer arithmetic: one distributed job builds the
    64x64 fixed-point Gram matrix (in-row outer-product expansion, one
    exchange over the fixed dim^2 cell grid — shuffle width independent
    of row count, the Count-Min property applied to linear algebra),
    then the driver iterates w = G @ v with integer renormalization —
    a dim^2-bounded sketch collect, never a data collect.  Every round
    of the trajectory is emitted and hash-gated against a HUGEINT
    oracle, so iteration DYNAMICS (not just the fixed point) are
    correctness-checked bit-for-bit.  This is the distributed-PCA /
    spectral-embedding building block a training-data pipeline uses for
    whitening and semantic-dedup projections.
    See operators/profiling.py:power_iteration_pc1."""
    emb = load_table(spark, sf_dir, "embeddings")
    return profiling.power_iteration_pc1(emb, PI_DIM)


def _pc1_hist_sql() -> str:
    """DuckDB twin of profiling.pc1_projection_hist: the _pi_sql CTE
    chain re-used up to v{rounds}, then an exact HUGEINT projection and
    the same pmod-identity floor-division bucketing."""
    r = profiling.PI_ROUNDS
    w = profiling.PC1_BUCKET_WIDTH
    body = _pi_sql(r)
    ctes = body[:body.index("\nSELECT CAST(0")]
    return f"""{ctes},
proj AS (
    SELECT x.vec_id, sum(x.xq * vv.v) AS proj
    FROM x JOIN v{r} vv ON x.i = vv.i GROUP BY x.vec_id),
pl AS (
    SELECT p.proj,
           (p.proj - ((p.proj % {w}) + {w}) % {w}) // {w} AS bucket,
           e.label
    FROM proj p JOIN embeddings e USING (vec_id))
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
       CAST(min(proj) AS BIGINT) AS min_proj,
       CAST(max(proj) AS BIGINT) AS max_proj
FROM pl GROUP BY bucket
"""


@register("pc1_projection_buckets", _pc1_hist_sql())
def pc1_projection_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus histogrammed along its top principal direction: each
    embedding's exact integer projection onto the converged
    power-iteration vector, floor-divided into fixed-width buckets,
    with per-bucket label diversity — the semantic-bucketing step
    SemDeDup-style pipelines run before bucketed near-dup search, and
    the first diagnostic of a whitening pass.  The pc1 vector rides the
    plan as a LITERAL array<long> (the Bloom-bitmap trick), so the
    projection is an in-row zip_with/aggregate fold in whole-stage
    codegen; the only exchange is the final aggregate over the fixed
    bucket grid.  Exact integers end-to-end — the oracle reproduces
    bucketing bit-for-bit via the pmod identity in HUGEINT.
    See operators/profiling.py:pc1_projection_hist."""
    emb = load_table(spark, sf_dir, "embeddings")
    return profiling.pc1_projection_hist(emb, PI_DIM)


@register("value_outliers_mad", """
WITH v AS (SELECT event_type,
                  CAST(round(value * 100) AS BIGINT) AS vc FROM events),
med AS (SELECT event_type, quantile_cont(vc, 0.5) AS med
        FROM v GROUP BY event_type),
dev AS (SELECT v.event_type, v.vc, med.med,
               abs(CAST(v.vc AS DOUBLE) - med.med) AS adev
        FROM v JOIN med USING (event_type)),
mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(MIN(d.med), 4) AS median_cents,
       round(MIN(m.mad), 4) AS mad_cents,
       CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
           AS n_outliers,
       round(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS outlier_rate
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
""")
def value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event_type: median / MAD (median
    absolute deviation) of the cent-quantized value, and how many rows
    sit beyond 3 MADs — the heavy-tail-safe alternative to mean±3σ for
    flagging corrupt metering before values feed training weights.
    Cross-engine exact: medians interpolate (a+b)/2 over BIGINTs (exact
    in double at these magnitudes).  Three event_type-keyed aggregates;
    the per-type median/MAD frames are broadcast back, so only the
    first aggregation shuffles data rows.  At 100 TB the exact median
    swaps for the mergeable-histogram quantile (approx_stats_parts) —
    same plan shape, bounded state."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_type",
                  F.round(F.col("value") * 100).cast("long").alias("vc")))
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(vc, 0.5)").alias("med"))
    dev = (ev.join(F.broadcast(med), "event_type")
           .withColumn("adev", F.abs(F.col("vc").cast("double")
                                     - F.col("med"))))
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad"))
    is_out = F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
    return (dev.join(F.broadcast(mad), "event_type")
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.round(F.min("med"), 4).alias("median_cents"),
                 F.round(F.min("mad"), 4).alias("mad_cents"),
                 F.sum(is_out).cast("long").alias("n_outliers"),
                 F.round(F.sum(is_out) / F.count("*").cast("double"), 6)
                 .alias("outlier_rate")))


# Join-key skew audit: the key columns a 100 TB deployment would join on.
SKEW_KEYS = [
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
    ("events.user_id", "events", "user_id"),
]


def _skew_sql(label: str, tbl: str, col: str) -> str:
    """One UNION ALL branch of the skew profile: count-of-counts
    histogram + cumulative quantile pick (same shape as the Spark
    side)."""
    cnts = f"(SELECT count(*) AS cnt FROM {tbl} GROUP BY {col})"
    return f"""
SELECT '{label}' AS key_name, s.n_keys, s.total_rows, s.max_cnt,
       q.p50_cnt, q.p99_cnt,
       s.max_cnt * 10000 // s.total_rows AS top_share_bp
FROM (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(cnt) AS BIGINT) AS total_rows,
             CAST(max(cnt) AS BIGINT) AS max_cnt
      FROM {cnts}) s,
     (SELECT CAST(min(CASE WHEN cum >= (n_keys + 1) // 2
                           THEN cnt END) AS BIGINT) AS p50_cnt,
             CAST(min(CASE WHEN cum >= (99 * n_keys + 99) // 100
                           THEN cnt END) AS BIGINT) AS p99_cnt
      FROM (SELECT cnt, sum(k) OVER (ORDER BY cnt) AS cum,
                   sum(k) OVER () AS n_keys
            FROM (SELECT cnt, count(*) AS k FROM {cnts}
                  GROUP BY cnt))) q"""


@register("join_key_skew_profile",
          "\nUNION ALL\n".join(_skew_sql(*t) for t in SKEW_KEYS))
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join-key skew audit: for each would-be join key, the
    distinct-key count, total rows, the hottest key's row count and its
    share (basis points), and the p50/p99 of the per-key count
    distribution.  This is the diagnostic that decides a 100 TB join
    strategy — broadcast vs shuffle, salting factor, AQE skew-join
    thresholds — BEFORE paying for a skewed exchange.

    Scale shape: each base table is scanned ONCE — its audited key
    columns are stacked in-row into (key_name, val) pairs via inline(),
    and ALL per-key counts ride map-side-combined hash-aggregates keyed
    on (key_name, val).  Integral keys stack in a LONG lane and
    everything else (string/date/decimal) in a STRING lane, each lane
    its own stack + hash aggregate, unioned AFTER aggregation where only
    (key_name, cnt) survives — so no cross-type cast is ever needed, no
    non-numeric key truncates to NULL, and the numeric keys that
    dominate real join audits skip a long→string cast and wider shuffle
    rows (A/B-measured — TUNING.md "Join-key skew-profile stacking
    A/B").  NULLs survive either lane as their own group, matching the
    oracle's GROUP BY on the raw column.  Shuffle volume equals the sum
    of per-key distinct counts, the same bytes a per-column loop would
    shuffle across five separate aggregates, but lineitem is read once
    instead of three times and the plan carries 6 exchanges instead of
    35.  Everything downstream of the count-of-counts histogram (scalar
    stats, cumulative quantile pick) operates on hundreds of rows per
    key_name, windowed/broadcast on key_name — never an N-distinct-key
    sort."""
    from pyspark.sql import Window
    from pyspark.sql.types import (ByteType, IntegerType, LongType,
                                   ShortType)
    by_tbl: dict[str, list[tuple[str, str]]] = {}
    for label, tbl, col in SKEW_KEYS:
        by_tbl.setdefault(tbl, []).append((label, col))
    lanes: dict[str, DataFrame | None] = {"long": None, "str": None}
    for tbl, cols in by_tbl.items():
        df = load_table(spark, sf_dir, tbl)
        groups: dict[str, list] = {"long": [], "str": []}
        for label, col in cols:
            integral = isinstance(df.schema[col].dataType,
                                  (ByteType, ShortType, IntegerType,
                                   LongType))
            if integral:
                groups["long"].append(
                    (label, F.col(col).cast("long")))
            else:
                groups["str"].append(
                    (label, F.col(col).cast("string")))
        for lane, items in groups.items():
            if not items:
                continue
            pairs = F.array(*[
                F.struct(F.lit(label).alias("key_name"),
                         v.alias("val")) for label, v in items])
            part = df.select(F.inline(pairs))
            lanes[lane] = (part if lanes[lane] is None
                           else lanes[lane].unionByName(part))
    counted = [
        lane_df.groupBy("key_name", "val")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("key_name", "cnt")
        for lane_df in lanes.values() if lane_df is not None]
    cnts = counted[0]
    for extra in counted[1:]:
        cnts = cnts.unionByName(extra)
    # count-of-counts histogram; EVERYTHING downstream (scalar stats:
    # n_keys = sum k, total_rows = sum cnt*k, max_cnt = max cnt; the
    # cumulative quantile pick) derives from it via windows + one final
    # aggregate, so the plan is one linear lineage — no self-joins, no
    # branch that would re-execute the expensive stacked aggregate.
    cc = cnts.groupBy("key_name", "cnt").agg(F.count(F.lit(1)).alias("k"))
    w_all = Window.partitionBy("key_name")
    w_cum = w_all.orderBy("cnt")
    cum = (cc.withColumn("cum", F.sum("k").over(w_cum))
           .withColumn("nk", F.sum("k").over(w_all)))
    agg = (cum.groupBy("key_name")
           .agg(F.sum("k").cast("long").alias("n_keys"),
                F.sum(F.col("cnt") * F.col("k")).cast("long")
                .alias("total_rows"),
                F.max("cnt").cast("long").alias("max_cnt"),
                F.min(F.when(
                    F.col("cum") >= F.floor((F.col("nk") + 1) / 2),
                    F.col("cnt"))).cast("long").alias("p50_cnt"),
                F.min(F.when(
                    F.col("cum") >= F.floor(
                        (99 * F.col("nk") + 99) / 100),
                    F.col("cnt"))).cast("long").alias("p99_cnt")))
    # Every audited key ALWAYS yields a row, even when its base table is
    # empty (groupBy over zero stacked rows emits nothing, but the
    # oracle's UNION ALL of scalar aggregates emits one n_keys=0 row per
    # label) — left-join the aggregate against the literal label frame.
    labels = spark.createDataFrame(
        [(label,) for label, _, _ in SKEW_KEYS], "key_name string")
    return (labels.join(F.broadcast(agg), "key_name", "left")
            .select("key_name",
                    F.coalesce("n_keys", F.lit(0)).cast("long")
                    .alias("n_keys"),
                    "total_rows", "max_cnt", "p50_cnt", "p99_cnt",
                    F.floor(F.col("max_cnt") * 10000
                            / F.col("total_rows")).cast("long")
                    .alias("top_share_bp")))


# ---- corpus snapshot drift (PSI) ------------------------------------------

PSI_BUCKETS = 12       # fixed log2-length grid: bucket = len(bin(n_chars))
PSI_QUANTUM = 1e9      # per-bucket terms quantized to BIGINT nano-units


@register("source_drift_psi", f"""
WITH d AS (
    SELECT source,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
                THEN 0 ELSE 1 END AS cur,
           least(length(bin(n_chars)), {PSI_BUCKETS}) AS bucket
    FROM documents),
c AS (SELECT source, bucket,
             CAST(SUM(1 - cur) AS BIGINT) AS nref,
             CAST(SUM(cur) AS BIGINT) AS ncur
      FROM d GROUP BY source, bucket),
t AS (SELECT source,
             CAST(SUM(nref) AS BIGINT) AS tref,
             CAST(SUM(ncur) AS BIGINT) AS tcur
      FROM c GROUP BY source),
g AS (SELECT t.source, t.tref, t.tcur, b.bucket,
             coalesce(c.nref, 0) AS nref, coalesce(c.ncur, 0) AS ncur
      FROM t
      CROSS JOIN (SELECT unnest(generate_series(1, {PSI_BUCKETS}))
                  AS bucket) b
      LEFT JOIN c ON c.source = t.source AND c.bucket = b.bucket),
q AS (SELECT source, tref, tcur,
             CAST(round(((ncur + 1.0) / (tcur + {PSI_BUCKETS})
                         - (nref + 1.0) / (tref + {PSI_BUCKETS}))
                        * ln(((ncur + 1.0) / (tcur + {PSI_BUCKETS}))
                             / ((nref + 1.0) / (tref + {PSI_BUCKETS})))
                        * {PSI_QUANTUM:.1f}) AS BIGINT) AS qt
      FROM g)
SELECT source, tref AS n_ref, tcur AS n_cur,
       round(CAST(SUM(qt) AS DOUBLE) / {PSI_QUANTUM:.1f}, 6) AS psi_len
FROM q GROUP BY source, tref, tcur
""")
def source_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus snapshots, per
    source — the data-drift monitor a continuously-ingesting 100 TB
    pipeline runs before retraining: PSI >= 0.2 on a feature
    distribution means the incoming crawl no longer looks like the
    corpus the filters were tuned on.

    Snapshots are the md5(doc_id) halves (a pure function of doc_id —
    the dataset_split_counts idiom — so membership is repartition- and
    append-stable); the audited feature is the doc-length distribution
    over a FIXED {PSI_BUCKETS}-bucket log2 grid (bucket =
    len(bin(n_chars)), an integer/string computation both engines get
    exactly — no data-dependent bin edges, so buckets mean the same
    thing across snapshots and scales).  Add-one smoothing over the
    full grid keeps every term finite; PSI =
    sum_b (p_cur - p_ref) * ln(p_cur / p_ref).

    -> (source, n_ref, n_cur, psi_len).

    Plan shape: ONE corpus scan into a map-side-combined
    (source, bucket) count with the snapshot halves pivoted as
    conditional sums (never a half-keyed shuffle); everything after is
    catalog-sized — the fixed grid materializes IN-ROW per source
    (sequence + map lookup, no spine join, no second scan).
    Determinism: each bucket's PSI term quantizes to BIGINT nano-units
    before the cross-bucket sum (the bigram_coherence_score rule), so
    no double accumulates across rows; the single ln() per bucket
    rides inside the rounded quantum.
    """
    docs = load_table(spark, sf_dir, "documents")
    cur = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8",
        F.lit(0)).otherwise(F.lit(1))
    bucket = F.least(F.length(F.bin(F.col("n_chars"))),
                     F.lit(PSI_BUCKETS))
    c = (docs.select("source", cur.alias("cur"), bucket.alias("bucket"))
         .groupBy("source", "bucket")
         .agg(F.sum(1 - F.col("cur")).cast("long").alias("nref"),
              F.sum("cur").cast("long").alias("ncur")))
    per_src = (c.groupBy("source")
               .agg(F.map_from_entries(
                        F.collect_list(F.struct(
                            "bucket",
                            F.struct("nref", "ncur")))).alias("m"),
                    F.sum("nref").cast("long").alias("tref"),
                    F.sum("ncur").cast("long").alias("tcur")))
    g = (per_src
         .select("source", "tref", "tcur", "m",
                 F.explode(F.sequence(F.lit(1), F.lit(PSI_BUCKETS)))
                 .alias("bucket"))
         .select("source", "tref", "tcur", "bucket",
                 F.coalesce(F.col("m")[F.col("bucket")]["nref"],
                            F.lit(0).cast("long")).alias("nref"),
                 F.coalesce(F.col("m")[F.col("bucket")]["ncur"],
                            F.lit(0).cast("long")).alias("ncur")))
    p_cur = (F.col("ncur") + F.lit(1.0)) \
        / (F.col("tcur") + F.lit(PSI_BUCKETS))
    p_ref = (F.col("nref") + F.lit(1.0)) \
        / (F.col("tref") + F.lit(PSI_BUCKETS))
    qt = F.round((p_cur - p_ref) * F.log(p_cur / p_ref)
                 * F.lit(PSI_QUANTUM)).cast("long")
    return (g.select("source", "tref", "tcur", qt.alias("qt"))
            .groupBy("source", "tref", "tcur")
            .agg(F.round(F.sum("qt").cast("double") / PSI_QUANTUM, 6)
                 .alias("psi_len"))
            .select("source", F.col("tref").alias("n_ref"),
                    F.col("tcur").alias("n_cur"), "psi_len"))


# ---- privacy release audit (k-anonymity / l-diversity) ---------------------

KANON_K = 5        # minimum group size per quasi-identifier combination
LDIV_L = 3         # minimum distinct sensitive values per QI group
SENS_BUCKET = 1000 # sensitive attribute: floor(c_acctbal / 1000)


@register("k_anonymity_audit", f"""
WITH g AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT CAST(floor(c_acctbal / {SENS_BUCKET})
                                    AS BIGINT)) AS BIGINT) AS l_distinct
    FROM customer GROUP BY c_nationkey, c_mktsegment)
SELECT c_nationkey, c_mktsegment, n_rows, l_distinct,
       CAST(floor(10000.0 / n_rows) AS BIGINT) AS reident_risk_bp,
       (n_rows < {KANON_K}) AS violates_k,
       (l_distinct < {LDIV_L}) AS violates_l
FROM g
""")
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy release audit over the customer dimension — the gate a
    training-data release runs before shipping rows containing
    quasi-identifiers (Sweeney 2002 k-anonymity; Machanavajjhala et al.
    2007 l-diversity): every (nation, market segment) QI combination
    must contain >= {KANON_K} rows (else its members are
    re-identifiable by linking) AND >= {LDIV_L} distinct sensitive
    values (else the group leaks the sensitive attribute even when
    anonymous — here the account-balance bucket, floor(acctbal /
    {SENS_BUCKET})).

    -> (c_nationkey, c_mktsegment, n_rows, l_distinct, reident_risk_bp,
    violates_k, violates_l): one row per QI combination with its
    re-identification risk in basis points (floor(10000 / n)) and both
    violation flags — the rows a suppression pass would drop or
    generalize.

    Plan shape: ONE scan into a single (QI-keyed) hash aggregate —
    count + count-distinct-sensitive ride the same exchange (Spark
    plans the distinct as a two-level expand-aggregate on the SAME
    keys, still one shuffle family); output cardinality is the QI
    domain (catalog-bounded), never the row count.  At 100 TB the QI
    key space is what it is — the aggregate is map-side combined and
    the result stays tiny."""
    cust = load_table(spark, sf_dir, "customer")
    sens = F.floor(F.col("c_acctbal") / SENS_BUCKET).cast("long")
    g = (cust.groupBy("c_nationkey", "c_mktsegment")
         .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
              F.countDistinct(sens).cast("long").alias("l_distinct")))
    return g.select(
        "c_nationkey", "c_mktsegment", "n_rows", "l_distinct",
        F.floor(10000.0 / F.col("n_rows")).cast("long")
        .alias("reident_risk_bp"),
        (F.col("n_rows") < KANON_K).alias("violates_k"),
        (F.col("l_distinct") < LDIV_L).alias("violates_l"))
