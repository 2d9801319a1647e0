"""TPC-H-shape query sweep beyond q1/q3/q5/q6/q10 (SURVEY.md §2.2).

The synthetic schema is a reduced TPC-H (no partsupp, no
commit/receipt dates), so each query here keeps the ORIGINAL's
operator shape — correlated scalar subqueries, EXISTS / NOT EXISTS,
IN / NOT IN with aggregated subqueries, HAVING over a scalar
subquery, CASE-ratio aggregates, outer-join count distributions —
re-targeted at the available columns.

Most queries are their oracle SQL (``register_sql``), and Catalyst
rewrites the subqueries into joins itself: EXISTS / IN become left semi
joins, NOT EXISTS a left anti join, NOT IN a null-aware anti join, and
an uncorrelated scalar subquery runs once. Q11, Q18 and Q21 keep
DataFrame builders, which measured faster at sf0.1; they spell the same
rewrites out by hand —

- correlated scalar agg  → groupBy + equi-join back (broadcast when
  the agg side is small);
- EXISTS / IN            → ``left_semi`` join;
- NOT EXISTS / NOT IN    → ``left_anti`` join (keys are non-null here,
  so anti-join and null-aware NOT IN coincide);
- uncorrelated scalar    → 1-row crossJoin(broadcast(...)).

All money sums follow the decimal determinism contract
(queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.queries import register, register_sql
from azurestorage_blueprints_spark.queries.relational import _dec, _dsum
from azurestorage_blueprints_spark.tables import table

register_sql(
    "q02_best_supplier_per_nation",
    oracle="""
    SELECT n.n_name, s.s_name, s.s_acctbal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2
                         WHERE s2.s_nationkey = s.s_nationkey)
    """,
    doc="TPC-H Q2 shape: correlated scalar-subquery (per-group max joined back). "
    "Spark plan: groupBy(nationkey).max → broadcast equi-join, no subquery "
    "machinery needed.",
)


register_sql(
    "q04_order_priority_check",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS correlated subquery → left_semi join "
    "(no duplication of the outer side, whatever the match multiplicity).",
)


register_sql(
    "q07_volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
    doc="TPC-H Q7 shape: 5-way join with a symmetric nation-pair predicate, "
    "grouped by both nations and ship year. Dimensions broadcast; the only "
    "shuffles are fact-fact (lineitem⋈orders) and the final agg.",
)


register_sql(
    "q08_market_share",
    oracle="""
    SELECT year(o.o_orderdate) AS o_year,
           CAST(sum(CASE WHEN n1.n_name = 'NATION_5'
                THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
           / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS mkt_share
    FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey  = c.c_custkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      JOIN region r   ON n2.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey  = s.s_suppkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    WHERE r.r_name = 'ASIA'
    GROUP BY year(o.o_orderdate)
    """,
    doc="TPC-H Q8 shape: market share = conditional-sum ratio per year over a "
    "region-restricted join; numerator/denominator in one aggregation pass "
    "(no second scan).",
)


register_sql(
    "q09_product_profit",
    oracle="""
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
                    - CAST(0.5 AS DECIMAL(4,2)) * CAST(p.p_retailprice AS DECIMAL(12,2)) * CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE)
           AS sum_profit
    FROM lineitem l
      JOIN part p     ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, year(o.o_orderdate)
    """,
    doc="TPC-H Q9 shape: profit per (supplier nation, year) for LIKE-matched "
    "parts; supply cost proxied as 0.5·retailprice·qty (no partsupp table). "
    "Exact decimal arithmetic end-to-end inside the sum.",
)


@register(
    "q11_important_parts",
    oracle="""
    SELECT l_partkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS part_value
    FROM lineitem
    GROUP BY l_partkey
    HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
         > 1.5 * (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
                         / count(DISTINCT l_partkey) FROM lineitem)
    """,
    doc="TPC-H Q11 shape: HAVING over an uncorrelated scalar subquery. The "
    "threshold is 1.5x the MEAN per-part value — scale-free, so the query "
    "stays non-empty at every sf (a fixed fraction of the total empties out "
    "as the part count grows). Spark plan: global agg → 1-row broadcast "
    "crossJoin → filter; both sums run through exact decimals so the "
    "threshold compare is bit-stable.",
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    value = _dec("l_extendedprice") * _dec("l_quantity")
    per_part = li.groupBy("l_partkey").agg(F.sum(value).cast("double").alias("part_value"))
    mean = li.agg(
        (F.sum(value).cast("double") / F.countDistinct("l_partkey")).alias("mean_value")
    )
    return (
        per_part.crossJoin(F.broadcast(mean))
        .filter(F.col("part_value") > F.lit(1.5) * F.col("mean_value"))
        .select("l_partkey", "part_value")
    )


register_sql(
    "q12_priority_lines",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_linestatus
    """,
    doc="TPC-H Q12 shape: fact-fact join with conditional-count split on the "
    "dimension attribute (linestatus stands in for shipmode).",
)


register_sql(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: left-outer join with an ON-clause residual predicate "
    "(customers with zero matching orders still count, at c_count=0), then a "
    "second aggregation over the counts.",
)


register_sql(
    "q14_promo_revenue",
    oracle="""
    SELECT 100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
               THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
               ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
           / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
    doc="TPC-H Q14 shape: promo-revenue percentage — conditional/total ratio in "
    "a single aggregation over a month of shipments, part dimension broadcast.",
)


register_sql(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15 shape: top supplier by quarterly revenue via a reused CTE "
    "and an uncorrelated max subquery. Equality on the double is safe: both "
    "sides derive it from the same exact-decimal sum.",
)


register_sql(
    "q16_part_supplier_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    doc="TPC-H Q16 shape: NOT IN subquery → left_anti join (suppkey is "
    "non-null, so anti-join equals null-aware NOT IN), then count distinct "
    "suppliers per part group.",
)


register_sql(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < 0.2 * (SELECT CAST(sum(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*)
                                FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
    doc="TPC-H Q17 shape: correlated per-part average threshold. Spark plan: "
    "per-part avg (exact decimal sum / count) joined back on partkey — the "
    "correlated subquery becomes one extra aggregation + equi-join.",
)


@register(
    "q18_large_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey
                           HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 180)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
    doc="TPC-H Q18 shape: IN over an aggregated subquery → left_semi join "
    "against the HAVING-filtered keys; then re-join and re-aggregate for the "
    "report columns.",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("q"))
        .filter(F.col("q") > 180)
        .select(F.col("l_orderkey").alias("big_key"))
    )
    return (
        o.join(big, o.o_orderkey == F.col("big_key"), "left_semi")
        .join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(_dsum("l_quantity", "total_qty"))
    )


register_sql(
    "q19_discounted_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 20 AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 30 AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: disjunction of multi-column predicate bundles "
    "spanning both join sides — exercises join + residual OR filter (not "
    "pushable to either scan alone).",
)


register_sql(
    "q20_part_supply_candidates",
    oracle="""
    SELECT s.s_name, s.s_acctbal
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_3'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey FROM lineitem l
        WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        GROUP BY l.l_suppkey
        HAVING sum(CAST(l.l_quantity AS DECIMAL(12,2))) > 100)
    """,
    doc="TPC-H Q20 shape: nested IN subqueries (parts by LIKE → suppliers by "
    "aggregated threshold) → two chained semi-join reductions before the "
    "dimension filter.",
)


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
      JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      JOIN orders o    ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
    doc="TPC-H Q21 shape: the only-failing-supplier pattern — EXISTS and NOT "
    "EXISTS on the same fact table with inequality correlation, expressed as "
    "a compound-condition left_semi plus left_anti join.",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = table(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("s_key")
    )
    l2 = li.select(F.col("l_orderkey").alias("l2_ok"), F.col("l_suppkey").alias("l2_sk"))
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l3_ok"), F.col("l_suppkey").alias("l3_sk")
    )
    waiting = (
        l1.join(o, F.col("o_key") == o.o_orderkey, "left_semi")
        .join(
            l2,
            (F.col("o_key") == F.col("l2_ok")) & (F.col("s_key") != F.col("l2_sk")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("o_key") == F.col("l3_ok")) & (F.col("s_key") != F.col("l3_sk")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), F.col("s_key") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


register_sql(
    "q22_sales_opportunity",
    oracle="""
    SELECT c.c_nationkey % 5 AS cntrycode,
           count(*) AS numcust,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / count(*)
                         FROM customer c2 WHERE c2.c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey % 5
    """,
    doc="TPC-H Q22 shape: above-average balance (uncorrelated scalar avg) and "
    "no-urgent-orders (NOT EXISTS → left_anti; in this dense synthetic data "
    "every customer has SOME order, so the original never-ordered predicate "
    "would be vacuously empty), grouped by a derived country code (nationkey "
    "mod 5 stands in for the phone prefix).",
)
