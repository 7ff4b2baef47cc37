"""Relational breadth over the fixture star schema: aggregations, joins,
windows, set operations, date/JSON/string functions, sort/limit,
rollup/cube/grouping sets and hash-bucketing (SURVEY §2.6 — operator
categories the reference lacks, taken from Spark built-ins).

Most queries are one SQL text registered with ``register_sql``: Spark runs
it with ``spark.sql`` over views of the fixture tables, DuckDB runs it as
the twin.  Catalyst plans the text: dimension joins broadcast under the
auto-broadcast threshold, aggregates are partial+final hash aggregates,
``ORDER BY ... LIMIT`` is a TakeOrderedAndProject, EXISTS / NOT EXISTS
become semi / anti joins, and filters and projections reach the parquet
scan (pushdown audited in tests/test_plans_and_sinks.py).  A DataFrame
builder remains where the twin uses DuckDB-only SQL (``strftime``,
``epoch_us``, ``QUALIFY``, ``generate_series`` ...) or where the query
pins a Spark surface the text does not use: the pandas UDAF, ``pivot``,
the merge hint and checkpoint behind the AQE skew split, and streaming.

Cross-engine determinism: money math in DECIMAL (exact, order-independent)
cast to DOUBLE at the end; counts cast to BIGINT; timestamps formatted or
epoch-cast; every ORDER BY under a LIMIT made total with key tiebreakers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import profiling, sketches
from ..operators.sketches import KMV_HEX_DIGITS, KMV_K, KMV_NUMER
from ..registry import register, register_sql
from ..tables import load_table

# Decimal fragments of the SQL texts.  Widths chosen so products stay
# within DuckDB's multiplication width caps: the money columns are
# exactly 2dp and rates 2dp (verified against the fixtures), so
# (18,2)*(8,4) -> scale 6 is exact; revenue is recast to DECIMAL(18,6)
# (no rounding: same scale) before the tax multiply.
_SQL_PRICE = "CAST(l_extendedprice AS DECIMAL(18,2))"
_SQL_DISC = "CAST(l_discount AS DECIMAL(8,4))"
_SQL_TAX = "CAST(l_tax AS DECIMAL(8,4))"
_SQL_QTY = "CAST(l_quantity AS DECIMAL(18,2))"
_SQL_REV = f"CAST({_SQL_PRICE} * (CAST(1 AS DECIMAL(8,4)) - {_SQL_DISC}) AS DECIMAL(18,6))"


# --------------------------------------------------------------------------
# Aggregations (A-family generalized: sum/avg/min/max/count, having)
# --------------------------------------------------------------------------

register_sql("q1_pricing_summary", f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM({_SQL_QTY}) AS DOUBLE) AS sum_qty,
       CAST(SUM({_SQL_PRICE}) AS DOUBLE) AS sum_base_price,
       CAST(SUM({_SQL_REV}) AS DOUBLE) AS sum_disc_price,
       CAST(SUM({_SQL_REV} * (CAST(1 AS DECIMAL(8,4)) + {_SQL_TAX})) AS DOUBLE) AS sum_charge,
       CAST(SUM({_SQL_QTY}) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM({_SQL_PRICE}) AS DOUBLE) / COUNT(*) AS avg_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")


register_sql("having_orders_per_customer", """
SELECT o_custkey, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 12
""")


register_sql("rollup_lineitem_status", f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       CAST(SUM({_SQL_QTY}) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""")


register_sql("cube_orders_status_priority", """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
""")


register_sql("distinct_status_priority", """
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
""")


# --------------------------------------------------------------------------
# Joins (absent in reference — SURVEY §2.6; broadcast for dims)
# --------------------------------------------------------------------------

@register("q3_top_unshipped_orders", f"""
SELECT l_orderkey,
       CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""")
def q3_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact joins -> agg -> top-k.
    Catalyst broadcasts the filtered customer side; top-k compiles to
    TakeOrderedAndProject (no global sort)."""
    cust, orders, li = (load_table(spark, sf_dir, n)
                        for n in ("customer", "orders", "lineitem"))
    cut = F.lit("1998-03-15").cast("timestamp_ntz")
    revenue = (F.col("l_extendedprice").cast("decimal(18,2)")
               * (F.lit(1).cast("decimal(8,4)")
                  - F.col("l_discount").cast("decimal(8,4)"))
               ).cast("decimal(18,6)")
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders.filter(F.col("o_orderdate") < cut),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(li.filter(F.col("l_shipdate") > cut),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


register_sql("q5_supplier_volume_by_nation", f"""
SELECT n_name, CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
FROM region JOIN nation   ON n_regionkey = r_regionkey
            JOIN supplier ON s_nationkey = n_nationkey
            JOIN lineitem ON l_suppkey = s_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1999-01-01'
GROUP BY n_name
""")


register_sql("orders_per_nation", """
SELECT n_name, COUNT(*) AS n_orders
FROM nation JOIN customer ON c_nationkey = n_nationkey
            JOIN orders   ON o_custkey = c_custkey
GROUP BY n_name
""")


register_sql("customers_without_orders", """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")


register_sql("customers_with_big_orders", """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
""")


# COUNT of the nullable side counts only matches; an order without lines
# keeps revenue 0.
register_sql("order_fill_stats", f"""
SELECT o_orderkey, COUNT(l_orderkey) AS n_items,
       COALESCE(CAST(SUM({_SQL_REV}) AS DOUBLE), 0.0) AS revenue
FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderkey
""")


# --------------------------------------------------------------------------
# Window functions (absent in reference — SURVEY §2.6)
# --------------------------------------------------------------------------

# Explicit ROWS frame and a unique tiebreaker: the default RANGE frame
# would add order-date peers and tie the result to row order.
register_sql("window_running_spend", """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           AS running_spend
FROM orders
""")


register_sql("window_top3_orders_per_customer", """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
              ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
  FROM orders) t
WHERE rn <= 3
""")


@register("window_event_value_delta", """
SELECT event_id, user_id,
       epoch_us(ts) AS ts_us,
       value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS value_delta
FROM events
""")
def window_event_value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG over an event stream (double subtraction is exact given equal
    operands; only double *accumulation* is order-sensitive)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return events.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("ts_us"),
        (F.col("value") - F.lag("value").over(w)).alias("value_delta"),
    )


# --------------------------------------------------------------------------
# Set operations (SURVEY §2.6)
# --------------------------------------------------------------------------

register_sql("setops_customer_segments", """
SELECT 'both' AS tag, c_custkey FROM (
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 1000)
UNION ALL
SELECT 'only_segment' AS tag, c_custkey FROM (
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal > 1000)
UNION ALL
SELECT 'either' AS tag, c_custkey FROM (
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal > 1000)
""")


# --------------------------------------------------------------------------
# Scalar function families: date, JSON, string (SURVEY §2.6 "numeric/date/
# JSON scalar functions — none in reference")
# --------------------------------------------------------------------------

register_sql("orders_by_month", """
SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(month(o_orderdate) AS BIGINT) AS mon,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY 1, 2
""")


@register("events_json_stats", """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
""")
def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (get_json_object) + integer aggregation."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


register_sql("part_string_functions", """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       CAST(length(p_name) AS BIGINT) AS name_len,
       substr(p_type, 1, 5) AS type_prefix,
       concat(p_brand, '/', p_type) AS brand_type
FROM part
""")


# --------------------------------------------------------------------------
# Global sort / top-k (SURVEY §2.6) and exchange (X2)
# --------------------------------------------------------------------------

register_sql("top20_lineitems_by_price", """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 20
""")


_HEX = "0123456789abcdef"


@register("bucket_histogram", f"""
WITH h AS (
  SELECT (strpos('{_HEX}', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 16
       + (strpos('{_HEX}', substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1) AS b
  FROM orders)
SELECT b % 10 AS bucket, COUNT(*) AS n
FROM h GROUP BY 1
""")
def bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2, cross-engine-deterministic form: hash-partitioner bucket
    assignment from md5 nibbles (the reference's FNV-32a mod N,
    shuffle.go:84-91; md5 here because DuckDB lacks FNV).  Production
    partitioning uses repartition(N, col) (Murmur3) — this query pins the
    *concept* (stable key->bucket map + histogram) cross-engine."""
    orders = load_table(spark, sf_dir, "orders")
    n1 = F.expr(f"instr('{_HEX}', substring(md5(CAST(o_orderkey AS STRING)), 1, 1))") - 1
    n2 = F.expr(f"instr('{_HEX}', substring(md5(CAST(o_orderkey AS STRING)), 2, 1))") - 1
    return (
        orders.select(((n1 * 16 + n2) % 10).cast("long").alias("bucket"))
        .groupBy("bucket").agg(F.count("*").alias("n"))
    )


@register("price_quantiles_by_flag", """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       quantile_cont(l_extendedprice, 0.25) AS p25,
       quantile_cont(l_extendedprice, 0.50) AS p50,
       quantile_cont(l_extendedprice, 0.75) AS p75,
       quantile_cont(l_extendedprice, 0.99) AS p99
FROM lineitem GROUP BY l_returnflag
""")
def price_quantiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``, verified identical to the bit).  Exact
    percentile sorts within groups — at 100 TB switch to
    ``approx_percentile`` (KLL-ish sketch, mergeable map-side); the
    approx twin is ``approx_stats_parts`` below."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE percentile aggregate with an array argument: four separate
    # percentile() calls each buffer the whole group — 4x the agg state
    qs = F.expr(
        "percentile(l_extendedprice, array(0.25, 0.50, 0.75, 0.99))")
    return (
        li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), qs.alias("_q"))
        .select("l_returnflag", "n",
                *[F.element_at("_q", i + 1).alias(a)
                  for i, a in enumerate(["p25", "p50", "p75", "p99"])])
    )


# Fixed-width histogram bin for l_extendedprice (~900..105k -> ~105 bins).
APPROX_BIN = 1000.0


@register("approx_stats_parts", f"""
WITH h AS (
    SELECT DISTINCT l_returnflag AS grp,
           CAST('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1,
                               {KMV_HEX_DIGITS}) AS BIGINT) AS h
    FROM lineitem),
rk AS (SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
       FROM h),
sk AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_hashes, max(h) AS h_k
       FROM rk WHERE rk <= {KMV_K} GROUP BY grp),
kmv AS (SELECT grp,
               round(CASE WHEN n_hashes < {KMV_K}
                          THEN CAST(n_hashes AS DOUBLE)
                          ELSE CAST({KMV_NUMER!r} AS DOUBLE)
                               / CAST(h_k AS DOUBLE) END, 6) AS approx_parts
        FROM sk),
b AS (SELECT l_returnflag AS grp,
             CAST(floor(CAST(l_extendedprice AS DOUBLE)
                        / CAST({APPROX_BIN!r} AS DOUBLE)) AS BIGINT) AS bin,
             COUNT(*) AS c
      FROM lineitem GROUP BY 1, 2),
cum AS (SELECT grp, bin, c,
               SUM(c) OVER (PARTITION BY grp ORDER BY bin) AS cum,
               SUM(c) OVER (PARTITION BY grp) AS n
        FROM b),
med AS (SELECT grp,
               round(CAST(bin AS DOUBLE) * CAST({APPROX_BIN!r} AS DOUBLE)
                     + CAST({APPROX_BIN!r} AS DOUBLE)
                       * (0.5 * CAST(n AS DOUBLE) - CAST(cum - c AS DOUBLE))
                       / CAST(c AS DOUBLE), 6) AS approx_p50
        FROM cum
        WHERE CAST(cum AS DOUBLE) >= 0.5 * CAST(n AS DOUBLE)
          AND CAST(cum - c AS DOUBLE) < 0.5 * CAST(n AS DOUBLE))
SELECT kmv.grp AS l_returnflag, kmv.approx_parts, med.approx_p50
FROM kmv JOIN med USING (grp)
""")
def approx_stats_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the mergeable-sketch path that replaces
    exact distinct/percentile at 100 TB — now built from DETERMINISTIC
    sketches so the estimates themselves are oracle-gated: distinct
    parts per return flag via the KMV
    (k-minimum-values) sketch over md5-prefix hashes, and the price
    median via a fixed-width mergeable counting histogram with linear
    interpolation.  Per-group state is bounded (k hashes / live bins)
    and mergeable, exactly like HLL/approx_percentile — but unlike
    engine sketches the DuckDB twin rebuilds both estimates
    bit-for-bit, quantization error included.  Exactness bounds vs the
    true answers stay asserted in tests/test_relational_extras.py."""
    li = load_table(spark, sf_dir, "lineitem")
    est = sketches.kmv_distinct(
        li.select("l_returnflag",
                  F.col("l_partkey").cast("string").alias("pk")),
        "l_returnflag", "pk")
    med = profiling.histogram_quantiles(
        li.select("l_returnflag",
                  F.col("l_extendedprice").cast("double").alias("px")),
        "l_returnflag", "px", bin_width=APPROX_BIN, qs=(0.5,))
    return (est.withColumn("approx_parts", F.round("kmv_est", 6))
            .join(med.select("l_returnflag",
                             F.col("est").alias("approx_p50")),
                  "l_returnflag")
            .select("l_returnflag", "approx_parts", "approx_p50"))


@register("pivot_priority_by_status", """
SELECT o_orderpriority,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
FROM orders GROUP BY o_orderpriority
""")
def pivot_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per priority, one column per status.  The
    explicit values list matters at scale — without it Spark runs an
    extra distinct pass over the pivot column to discover headers."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0, ["F", "O", "P"])
        .select("o_orderpriority",
                *[F.col(c).cast("long").alias(c) for c in ("F", "O", "P")])
    )


@register("daily_orders_gapfilled", """
WITH bounds AS (
    SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
           CAST(MAX(o_orderdate) AS DATE) AS hi FROM orders),
cal AS (
    SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
    FROM bounds),
daily AS (
    SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
    FROM orders GROUP BY 1)
SELECT strftime(cal.d, '%Y-%m-%d') AS day,
       CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_orders
FROM cal LEFT JOIN daily ON cal.d = daily.d
""")
def daily_orders_gapfilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a generated calendar dimension left-joined
    to daily counts, so zero-order days appear explicitly.  The calendar
    is sequence()+explode from the data's own bounds — a few thousand
    rows, broadcast side of the join at any fact-table scale."""
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"))
    cal = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d"))
    daily = (orders.groupBy(F.to_date("o_orderdate").alias("d"))
             .agg(F.count("*").alias("n")))
    return (
        F.broadcast(cal).join(daily, "d", "left")
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                F.coalesce("n", F.lit(0)).cast("long").alias("n_orders"))
    )


register_sql("q6_revenue_forecast", """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")


register_sql("q4_order_priority_check", """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
""")


register_sql("q13_customer_order_distribution", """
WITH per_cust AS (
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
""")


@register("q2_min_cost_supplier", """
WITH costs AS (
    SELECT l_partkey, l_suppkey,
           MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS min_price
    FROM lineitem GROUP BY l_partkey, l_suppkey),
best AS (SELECT l_partkey, MIN(min_price) AS best_price
         FROM costs GROUP BY l_partkey)
SELECT c.l_partkey AS partkey, c.l_suppkey AS suppkey,
       CAST(c.min_price AS DOUBLE) AS price
FROM costs c JOIN best b
  ON c.l_partkey = b.l_partkey AND c.min_price = b.best_price
QUALIFY row_number() OVER (PARTITION BY c.l_partkey
                           ORDER BY c.l_suppkey) = 1
""")
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: 'the supplier with the minimum price per part' —
    the correlated-scalar-subquery pattern, decorrelated by hand into
    agg + self-join (what Catalyst's RewriteCorrelatedScalarSubquery does
    internally); tie on price broken by lowest suppkey.  Both shuffles
    share the l_partkey key, so the second agg and the join reuse the
    first exchange's partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    costs = (li.groupBy("l_partkey", "l_suppkey")
             .agg(F.min(F.col("l_extendedprice").cast("decimal(18,2)"))
                  .alias("min_price"))
             .alias("c"))
    best = (costs.groupBy("l_partkey")
            .agg(F.min("min_price").alias("best_price")).alias("b"))
    return (
        costs.join(best, (F.col("c.l_partkey") == F.col("b.l_partkey"))
                   & (F.col("c.min_price") == F.col("b.best_price")))
        .select(F.col("c.l_partkey").alias("partkey"),
                F.col("c.l_suppkey").alias("suppkey"),
                F.col("c.min_price").cast("double").alias("price"))
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("partkey").orderBy(F.col("suppkey").asc())))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@register("window_trailing_7d_spend", """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
            RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trailing_7d_spend
FROM orders
""")
def window_trailing_7d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per customer, total spend over the trailing 7
    days (value-based frame on epoch seconds — unlike a ROWS frame, ties
    and gaps in time are handled by value distance).  DECIMAL sum keeps
    the frame aggregation order-independent."""
    orders = load_table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
         .rangeBetween(-7 * 24 * 3600, Window.currentRow))
    return orders.select(
        "o_custkey", "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
        .cast("double").alias("trailing_7d_spend"),
    )


@register("udaf_geomean_by_status", """
SELECT o_orderstatus,
       round(exp(avg(ln(CAST(o_totalprice AS DOUBLE)))), 6) AS geomean_price,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderstatus
""")
def udaf_geomean_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined AGGREGATE surface: a pandas GROUPED_AGG UDAF
    (Arrow-batched, partial-agg-free — each group's values reach one
    task).  Geometric mean = exp(mean(ln x)); the oracle recomputes it in
    pure SQL.  At scale a log-sum built-in (`exp(avg(ln(x)))` as an
    expression) is the faster plan — this entry pins the UDAF *API*; the
    oracle shape doubles as the scale recipe."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType given explicitly: the module's postponed annotations
    # (PEP 563) keep Spark from inferring GROUPED_AGG from the signature
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geomean(v):
        return float(np.exp(np.log(v.to_numpy(dtype="float64")).mean()))

    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def ngroup(v):
        # Spark disallows mixing pandas and JVM aggregates in one agg, so
        # the count is a (trivial) pandas aggregate too
        return len(v)

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(F.round(geomean("o_totalprice"), 6).alias("geomean_price"),
             ngroup("o_orderkey").alias("n"))
    )


@register("locf_hourly_event_values", """
WITH bounds AS (
    SELECT date_trunc('hour', MIN(ts)) AS lo,
           date_trunc('hour', MAX(ts)) AS hi FROM events),
cal AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM bounds),
types AS (SELECT DISTINCT event_type FROM events),
hourly AS (
    SELECT event_type, date_trunc('hour', ts) AS h,
           round(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE)
                 / COUNT(*), 6) AS v
    FROM events GROUP BY 1, 2),
grid AS (
    SELECT t.event_type, c.h, hourly.v
    FROM types t CROSS JOIN cal c
    LEFT JOIN hourly ON hourly.event_type = t.event_type AND hourly.h = c.h)
SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
       last_value(v IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
FROM grid
""")
def locf_hourly_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series LOCF (last-observation-carried-forward): hourly mean
    value per event type on a gap-free calendar grid, gaps filled by the
    most recent observed hour (``last(..., ignorenulls=True)`` running
    window).  Hours before a type's first observation stay NULL.

    Scale shape: the calendar×types grid is tiny and broadcast; the only
    data-sized shuffle is the hourly pre-aggregation; the fill window
    shuffles the GRID (not the events) by event_type."""
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"))
    cal = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"))
    types = events.select("event_type").distinct()
    hourly = (events.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
              .agg(F.round(F.sum(F.col("value").cast("decimal(14,2)"))
                           .cast("double") / F.count("*"), 6).alias("v")))
    grid = (F.broadcast(types.crossJoin(cal))
            .join(hourly, ["event_type", "h"], "left"))
    w = (Window.partitionBy("event_type").orderBy("h")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return grid.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.last("v", ignorenulls=True).over(w).alias("v_filled"))


@register("stratified_sample_by_lang", """
SELECT doc_id, lang, source
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 25, 8)) AS BIGINT)
      % 1000
      < CASE lang WHEN 'en' THEN 500 ELSE 1000 END
""")
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: per-language sampling rates — the
    training-data rebalancing op (e.g. downsample the dominant language).

    The sampler is a deterministic md5 bucket on doc_id (keep a row when
    bucket < rate*1000), not ``sampleBy``: identical keep-decisions from
    any engine, any partitioning, any run — which (a) upgrades this
    query's correctness check from rows-only to a full value-hash oracle
    and (b) is the semantics a reproducible training pipeline wants
    anyway (re-running the pipeline keeps the SAME documents).  Scale
    shape unchanged: a scan-side filter, no shuffle, rates inline."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 25, 8),
               16, 10).cast("long") % 1000)
    rate = F.when(F.col("lang") == "en", F.lit(500)).otherwise(F.lit(1000))
    return (docs.filter(bucket < rate)
            .select("doc_id", "lang", "source"))


# One Expand + hash aggregate reads orders once for all three sets;
# GROUPING() tells a set's NULLs from data NULLs.
register_sql("grouping_sets_order_stats", """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
           AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""")


# The global ORDER BY window is a single-partition sort: fine for a
# dimension table, the wrong tool for a fact table.
register_sql("ntile_customer_value_quartiles", """
WITH q AS (
    SELECT c_custkey, c_mktsegment,
           ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS quartile
    FROM customer)
SELECT quartile, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
FROM q GROUP BY quartile, c_mktsegment
""")


@register("hot_key_join_aqe", """
WITH e AS (
    SELECT CASE WHEN user_id % 10 < 5 THEN 0 ELSE user_id END AS k,
           event_type, props,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events),
d AS (
    SELECT k, CAST(COUNT(*) AS BIGINT) AS k_rows,
           CAST(SUM(cents) AS BIGINT) AS k_cents
    FROM e GROUP BY k)
SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(length(e.props)) AS BIGINT) AS sum_props_len,
       CAST(SUM(d.k_rows) AS BIGINT) AS sum_k_rows,
       CAST(SUM(d.k_cents) AS BIGINT) AS sum_k_cents
FROM e JOIN d ON e.k = d.k
GROUP BY e.event_type
""")
def hot_key_join_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately hot-keyed fact join on the UNSALTED path: ~50% of
    event rows collapse onto join key 0 (every user_id ending 0-4), and
    each row joins its per-key aggregate — the shuffle partition holding
    key 0 dwarfs the median, which is exactly the shape AQE's skew-join
    split handles at runtime (salting handles the *known*-hot-key case;
    AQE covers skew you didn't predict).  The merge hint pins the
    sort-merge strategy a fact-to-fact-derived join would use at scale,
    where the per-key side (|distinct user_id| rows) is not
    broadcastable; tests/test_aqe_skew.py asserts the executed plan
    carries skew=true splits under realistic thresholds.  Results are
    salting/split-invariant, so the oracle is plain SQL."""
    events = load_table(spark, sf_dir, "events")
    # The fixture is ONE small parquet file = one map task, but AQE
    # splits a skewed reduce partition into consecutive MAPPER ranges —
    # with a single mapper there is nothing to split.  The round-robin
    # repartition reproduces the many-mapper shape a 100 TB input has
    # naturally (thousands of scan tasks); results are unaffected.
    # props rides the join as the fact payload: it keeps the skewed
    # partition's BYTE size proportional to its row count (constant-key
    # rows alone compress so well the skew detector sees little
    # imbalance) — and carrying row payloads through a fact join is the
    # realistic shape anyway.
    e = events.select(
        F.when(F.col("user_id") % 10 < 5, F.lit(0))
        .otherwise(F.col("user_id")).alias("k"),
        "event_type", "props",
        F.round(F.col("value") * 100).cast("long").alias("cents")
    ).repartition(16)
    # Materialize the per-key side: AQE's OptimizeSkewedJoin only matches
    # a sort-merge join whose BOTH children are sorts directly over
    # shuffle stages, so an aggregate sitting between the exchange and
    # the join disqualifies the split.  Checkpointing is also the
    # realistic shape — at scale the per-key profile table arrives
    # materialized, not fused into the consuming join.
    d = (e.groupBy("k").agg(F.count("*").alias("k_rows"),
                            F.sum("cents").alias("k_cents"))
         .localCheckpoint(eager=False))
    return (e.join(d.hint("merge"), "k")
            .groupBy("event_type")
            .agg(F.count("*").alias("n_rows"),
                 F.sum(F.length("props")).alias("sum_props_len"),
                 F.sum("k_rows").alias("sum_k_rows"),
                 F.sum("k_cents").alias("sum_k_cents")))


@register("scd2_customer_order_versions", """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS BIGINT) AS version,
       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
       strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS valid_to,
       (lead(o_orderkey) OVER w IS NULL) AS is_current
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""")
def scd2_customer_order_versions(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: each customer's order
    stream becomes versioned rows with [valid_from, valid_to) intervals
    and an is_current flag — the warehouse history-table pattern (a
    MERGE-less SCD2 derivation: the full history is one window pass, no
    per-row upserts).  ONE shuffle on the customer key feeds
    row_number, both lead()s, and nothing else."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey", "o_orderkey",
        F.row_number().over(w).cast("long").alias("version"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.date_format(F.lead("o_orderdate").over(w), "yyyy-MM-dd")
        .alias("valid_to"),
        F.lead("o_orderkey").over(w).isNull().alias("is_current"))


# Pearson corr and OLS fit of price on quantity.  The five moments are
# exact DECIMAL sums and only the closed form runs in DOUBLE, so both
# engines agree; the built-in corr/regr_* sum floats in plan order.
register_sql("regression_price_vs_quantity", """
WITH m AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                    * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                    * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
    FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
       round((n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)),
             6) AS corr_qty_price,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
             6) AS intercept
FROM m
""")


# Snapshot boundary for the period-over-period reconciliation: orders
# strictly before this year are the "before" snapshot, the rest "after".
SNAPSHOT_YEAR = 1998


# Shared by the batch face and the CDC streaming face — the oracle is
# the period-over-period reconciliation itself; availableNow over the
# full fixture makes the streamed after-aggregate equal the batch one.
_SNAPSHOT_DIFF_ORACLE = f"""
WITH a AS (
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_before,
           SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS spend_before
    FROM orders WHERE year(o_orderdate) < {SNAPSHOT_YEAR}
    GROUP BY o_custkey),
b AS (
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_after,
           SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS spend_after
    FROM orders WHERE year(o_orderdate) >= {SNAPSHOT_YEAR}
    GROUP BY o_custkey)
SELECT COALESCE(a.o_custkey, b.o_custkey) AS custkey,
       CASE WHEN a.o_custkey IS NULL THEN 'new'
            WHEN b.o_custkey IS NULL THEN 'churned'
            ELSE 'retained' END AS status,
       COALESCE(n_before, 0) AS n_before, COALESCE(n_after, 0) AS n_after,
       CAST(COALESCE(spend_after, 0) - COALESCE(spend_before, 0) AS DOUBLE)
           AS spend_delta
FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
"""


register_sql("snapshot_diff_customers", _SNAPSHOT_DIFF_ORACLE)


@register("stream_snapshot_diff_customers", _SNAPSHOT_DIFF_ORACLE)
def stream_snapshot_diff_customers(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """CDC / snapshot-diff STREAMING face (round-14 frontier; the
    missing streaming twin of the SCD2 family): the "after" period's
    orders arrive as a change feed and fold into a per-customer
    stateful aggregate (count + exact-decimal spend — idempotent set
    semantics are not needed because the file source is exactly-once;
    a Kafka deployment would put dropDuplicatesWithinWatermark on
    o_orderkey in front); the stored "before" snapshot is a batch
    aggregate (timed as batch_side), and the reconciliation —
    FULL OUTER join + new/churned/retained classification — runs over
    the sink on the compactor's cadence, since stream-stream/static
    full-outer is not a streaming-supported join shape.

    At 100 TB the streaming state is one (custkey, count, decimal) row
    per ACTIVE customer of the period — bounded by entity cardinality,
    never order volume — and the batch-side join shuffles snapshot-
    sized frames on the same custkey both aggregates already hash on.
    availableNow over the full fixture makes the streamed after-
    aggregate equal the batch one, so the face is hash-gated by the
    SAME oracle as snapshot_diff_customers."""
    from ..streaming import pipeline

    orders = load_table(spark, sf_dir, "orders")
    spend = F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
    with pipeline.timed_batch_side():
        before = (orders.filter(F.year("o_orderdate") < SNAPSHOT_YEAR)
                  .groupBy(F.col("o_custkey").alias("custkey_a"))
                  .agg(F.count("*").alias("n_before"),
                       spend.alias("spend_before"))
                  .localCheckpoint())
    after_stream = (pipeline.stream_table(spark, sf_dir, "orders")
                    .filter(F.year("o_orderdate") >= SNAPSHOT_YEAR)
                    .groupBy(F.col("o_custkey").alias("custkey_b"))
                    .agg(F.count("*").alias("n_after"),
                         spend.alias("spend_after")))
    after = pipeline.run_available_now(
        after_stream, "stream_snapshot_diff_sink", mode="complete",
        no_data_batch=False)
    ak, bk = F.col("custkey_a"), F.col("custkey_b")
    return (before.join(after, ak == bk, "full_outer")
            .select(F.coalesce(ak, bk).alias("custkey"),
                    F.when(ak.isNull(), F.lit("new"))
                    .when(bk.isNull(), F.lit("churned"))
                    .otherwise(F.lit("retained")).alias("status"),
                    F.coalesce("n_before", F.lit(0)).alias("n_before"),
                    F.coalesce("n_after", F.lit(0)).alias("n_after"),
                    (F.coalesce("spend_after", F.lit(0))
                     - F.coalesce("spend_before", F.lit(0)))
                    .cast("double").alias("spend_delta")))
