"""Remaining distinctive TPC-H query shapes, adapted to the fixture schema
(SURVEY §2.6 — join/subquery breadth the reference lacks; the fixture star
schema has no partsupp and fewer columns, so each query keeps the *shape*
— the join topology and subquery pattern — with predicates re-targeted at
available columns).

Already covered in relational_q: Q1-Q6 and Q13.  This module adds the
Q7-Q12 and Q14-Q22 shapes and a data-contract audit:

- Q7/Q8/Q9/Q10: multi-hop fact-dim joins with one dim joined twice
  (nation), CASE-conditional shares, derived-year grouping, group-by top-k;
- Q11/Q15/Q17/Q22: scalar subqueries (global total, max, correlated
  per-part average, global average), written as subqueries; Catalyst
  rewrites each into an aggregate joined back to the outer query;
- Q12/Q14: conditional aggregation after a join;
- Q16: NOT IN (subquery) -> null-aware anti join, then COUNT(DISTINCT);
- Q18: IN (GROUP BY ... HAVING) -> left-semi join on an aggregated key;
- Q19: disjunctive (OR-of-ANDs) predicate bundle; Catalyst pushes the
  single-side conjuncts below the join;
- Q20/Q21: stacked aggregates that decorrelate per-group thresholds and
  EXISTS / NOT EXISTS into joins on the group key;
- ``table_quality_audit``: six data-contract checks as one UNION ALL of
  scalar subqueries.

Every query but Q18 is one SQL text registered with ``register_sql``:
Spark runs it with ``spark.sql``, DuckDB runs it as the twin.  Q18 keeps a
DataFrame builder because its twin formats dates with DuckDB's
``strftime``.  Money math in DECIMAL (order-independent), cast DOUBLE at
the edge; division done in DOUBLE on both engines (decimal division width
rules differ between engines, double division is IEEE-identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register, register_sql
from ..tables import load_table
from .relational_q import _SQL_PRICE, _SQL_QTY, _SQL_REV


# --------------------------------------------------------------------------
# Q7: bilateral trade volume — the nation self-join-twice shape
# --------------------------------------------------------------------------

register_sql("q7_nation_trade_volume", f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY n1.n_name, n2.n_name, EXTRACT(year FROM l_shipdate)
""")


# --------------------------------------------------------------------------
# Q8: market share — CASE-conditional share of a grouped total
# --------------------------------------------------------------------------

register_sql("q8_market_share", f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {_SQL_REV}
                     ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
       / CAST(SUM({_SQL_REV}) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
GROUP BY EXTRACT(year FROM o_orderdate)
""")


# --------------------------------------------------------------------------
# Q9: product-type profit — derived measure across a 4-way join
# --------------------------------------------------------------------------

register_sql("q9_product_profit", f"""
SELECT n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM({_SQL_REV} - CAST(CAST(p_retailprice AS DECIMAL(18,2))
                                  * {_SQL_QTY} AS DECIMAL(18,6))) AS DOUBLE)
       AS sum_profit
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, EXTRACT(year FROM o_orderdate)
""")


# --------------------------------------------------------------------------
# Q10: returned-item revenue — group-by top-k over a 3-way join
# --------------------------------------------------------------------------

register_sql("q10_returned_item_revenue", f"""
SELECT c_custkey, c_name, n_name,
       CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""")


# --------------------------------------------------------------------------
# Q11: value concentration — HAVING against a global-total scalar subquery
# --------------------------------------------------------------------------

register_sql("q11_part_value_concentration", f"""
WITH pv AS (
    SELECT l_partkey, SUM({_SQL_PRICE}) AS value FROM lineitem
    GROUP BY l_partkey)
SELECT l_partkey, CAST(value AS DOUBLE) AS value
FROM pv
WHERE CAST(value AS DOUBLE) >
      (SELECT CAST(SUM(value) AS DOUBLE) * 0.0006 FROM pv)
""")


# --------------------------------------------------------------------------
# Q12: shipping-priority counts — conditional agg after a fact-fact join
# --------------------------------------------------------------------------

register_sql("q12_priority_line_counts", """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
""")


# --------------------------------------------------------------------------
# Q14: promo revenue share — single-row conditional ratio
# --------------------------------------------------------------------------

register_sql("q14_promo_revenue", f"""
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_SQL_REV}
                             ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM({_SQL_REV}) AS DOUBLE) AS promo_revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate <  TIMESTAMP '1997-04-01'
""")


# --------------------------------------------------------------------------
# Q15: top supplier — equality against a MAX scalar subquery
# --------------------------------------------------------------------------

register_sql("q15_top_supplier", f"""
WITH rev AS (
    SELECT l_suppkey, SUM({_SQL_REV}) AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
""")


# --------------------------------------------------------------------------
# Q17: small-quantity revenue — correlated per-group AVG subquery
# --------------------------------------------------------------------------

# The brand's parts are selected before the per-part average, so the
# average reads only their lineitems (a correlated subquery decorrelates
# into an aggregate over all of lineitem).
register_sql("q17_small_quantity_revenue", f"""
WITH brand_parts AS (
    SELECT p_partkey FROM part WHERE p_brand = 'Brand#7'),
qty_limit AS (
    SELECT l_partkey AS lim_partkey, 0.2 * AVG(l_quantity) AS max_qty
    FROM lineitem JOIN brand_parts ON p_partkey = l_partkey
    GROUP BY l_partkey)
SELECT CAST(SUM({_SQL_PRICE}) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem JOIN qty_limit ON lim_partkey = l_partkey
WHERE l_quantity < max_qty
""")


# --------------------------------------------------------------------------
# Q18: large-order customers — IN (GROUP BY ... HAVING) semi join
# --------------------------------------------------------------------------

@register("q18_large_order_customers", f"""
WITH big AS (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM({_SQL_QTY}) > 120)
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(o_totalprice AS DOUBLE) AS totalprice,
       CAST(SUM({_SQL_QTY}) AS DOUBLE) AS total_qty
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY totalprice DESC, o_orderkey
LIMIT 100
""")
def q18_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with orders whose total quantity exceeds
    a threshold.  IN (GROUP BY...HAVING) becomes a left-semi join against
    the aggregated keys; the semi join, the re-aggregation, and the
    orders join all share the l_orderkey/o_orderkey key."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(qty).alias("_sq"))
           .filter(F.col("_sq") > 120).select("l_orderkey"))
    return (
        li.join(big.withColumnRenamed("l_orderkey", "b_orderkey"),
                F.col("l_orderkey") == F.col("b_orderkey"), "left_semi")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey",
                 F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
                 F.col("o_totalprice").cast("double").alias("totalprice"))
        .agg(F.sum(qty).cast("double").alias("total_qty"))
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q19: disjunctive predicate bundles (OR of ANDs) across a join
# --------------------------------------------------------------------------

register_sql("q19_disjunctive_revenue", f"""
SELECT CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_type = 'PROMO' AND p_size BETWEEN 20 AND 40
       AND l_quantity BETWEEN 20 AND 40)
""")


# --------------------------------------------------------------------------
# Q22: dormant high-balance customers — scalar-avg + NOT EXISTS + agg
# --------------------------------------------------------------------------

register_sql("q22_dormant_customers", """
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                               AS DOUBLE) / COUNT(*)
                   FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_mktsegment
""")


# --------------------------------------------------------------------------
# Q16: supplier-relationship counting — distinct-agg after an anti-join
# (no partsupp in the fixture; lineitem is the part-supplier bridge, and
# the "customer complaints" exclusion becomes negative-balance suppliers)
# --------------------------------------------------------------------------

register_sql("q16_parts_supplier_relationship", """
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""")


# --------------------------------------------------------------------------
# Q20: suppliers with above-average shipments of a part family — nested
# semi-join on an aggregated, per-part-correlated threshold
# (partsupp availqty becomes shipped quantity; "half the availqty"
# becomes half the per-part mean pair quantity, decorrelated EXACTLY:
# qty > avg/2  <=>  2*qty*n_pairs > total_qty, all-integer/decimal math)
# --------------------------------------------------------------------------

register_sql("q20_excess_shipments_suppliers", f"""
WITH shipped AS (
    SELECT l_suppkey AS suppkey, l_partkey AS partkey,
           SUM({_SQL_QTY}) AS qty
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE 'small%'
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2),
per_part AS (
    SELECT partkey, SUM(qty) AS total_qty, COUNT(*) AS n_pairs
    FROM shipped GROUP BY 1)
SELECT DISTINCT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal
FROM shipped
JOIN per_part USING (partkey)
JOIN supplier ON s_suppkey = suppkey
-- factors bounded so the product is EXACT in both engines' DECIMAL(38):
-- (24,2) x (1,0) x (9,0) peaks at precision 36 under Spark's
-- p1+p2+1 widening (DuckDB's p1+p2 is tighter still) — no
-- allowPrecisionLoss truncation at any scale factor
WHERE CAST(qty AS DECIMAL(24,2)) * CAST(2 AS DECIMAL(1,0))
      * CAST(n_pairs AS DECIMAL(9,0)) > total_qty
""")


# --------------------------------------------------------------------------
# Q21: suppliers who kept orders waiting — the EXISTS / NOT EXISTS
# double-correlation, decorrelated into one per-order aggregate
# (no receipt/commit dates in the fixture; "late" = shipped more than
# 60 days after the order date)
# --------------------------------------------------------------------------

register_sql("q21_suppliers_kept_orders_waiting", """
WITH fact AS (
    SELECT l_orderkey AS okey, l_suppkey AS skey,
           CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                THEN 1 ELSE 0 END AS late
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE o_orderstatus = 'F'),
per_order AS (
    SELECT okey, COUNT(DISTINCT skey) AS n_supp,
           COUNT(DISTINCT CASE WHEN late = 1 THEN skey END) AS n_late_supp
    FROM fact GROUP BY okey)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM fact
JOIN per_order USING (okey)
JOIN supplier ON s_suppkey = skey
WHERE late = 1 AND n_supp >= 2 AND n_late_supp = 1
GROUP BY s_name
""")


# --------------------------------------------------------------------------
# Data-contract audit: referential integrity, key uniqueness, ranges and
# nulls, one (check_name, n_violations) row each; 0 on intact fixtures
# --------------------------------------------------------------------------

register_sql("table_quality_audit", """
SELECT 'orders_orphan_custkey' AS check_name,
       CAST((SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
            AS BIGINT) AS n_violations
UNION ALL
SELECT 'lineitem_orphan_orderkey',
       CAST((SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT)
UNION ALL
SELECT 'customer_dup_custkey',
       CAST((SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer)
            AS BIGINT)
UNION ALL
SELECT 'lineitem_qty_nonpositive',
       CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
            AS BIGINT)
UNION ALL
SELECT 'lineitem_discount_out_of_range',
       CAST((SELECT COUNT(*) FROM lineitem
             WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
UNION ALL
SELECT 'orders_null_orderdate',
       CAST((SELECT COUNT(*) FROM orders WHERE o_orderdate IS NULL)
            AS BIGINT)
""")
