"""Core relational operator inventory (SURVEY.md §2.2).

Every category the reference lacks (joins, aggregations, grouping
sets, window functions, sorts/limits, set ops, scalar functions,
array/JSON functions) declared as oracle-checked queries. A query
whose oracle SQL runs verbatim on Spark is registered with
``register_sql``: that text is its Spark plan too, so Catalyst sees the
whole query in one ``spark.sql`` call. DataFrame builders remain where
the Spark form differs from the oracle text or measured faster.

Scale notes baked into each plan:
- dimension tables (region/nation/part/supplier/customer) are
  broadcast — no shuffle of the fact side for those joins;
- aggregations rely on Catalyst's partial (map-side) aggregation;
- top-k uses window rank bounded per partition, not a global sort of
  the full fact table;
- all money sums run through exact decimal arithmetic (see
  queries/__init__ determinism contract).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.functions.vectors import dot
from azurestorage_blueprints_spark.queries import register, register_sql
from azurestorage_blueprints_spark.tables import table

DEC = "decimal(12,2)"


def _dec(c: str | Column) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(DEC)


def _dsum(c: str | Column, alias: str) -> Column:
    """Order-insensitive exact sum of a money/quantity double column."""
    return F.sum(_dec(c)).cast("double").alias(alias)


def _one_minus(c: str) -> Column:
    return F.lit(1).cast("decimal(4,2)") - F.col(c).cast("decimal(4,2)")


# revenue = l_extendedprice * (1 - l_discount), exact decimal
def _revenue() -> Column:
    return _dec("l_extendedprice") * _one_minus("l_discount")


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


register_sql(
    "q01_pricing_summary",
    # every decimal sum converts through the SINGLE-ROUNDING path
    # cast(cast(sum * 10^s AS BIGINT) AS DOUBLE) / 10^s.0 — a direct
    # decimal→double CAST rounds once in Spark but twice in DuckDB
    # (int128→double, then ×10⁻ˢ), and at sf1 volume the 1-ulp
    # divergence finally fired on sum_charge (the r7 sf1 sweep
    # finding: one cell, 27864155010.94159 vs ...93). Bound: the
    # scaled sum must stay under 2^63 — sum_charge·10^6 ≈ 2.8e16 at
    # sf1, headroom to ~sf300.
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 AS sum_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                    * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS sum_charge,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 / count(*) AS avg_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 / count(*) AS avg_price,
           CAST(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: scan → filter → hash-agg (partial+final) → 8 "
    "aggregates; decimal sums leave through the single-rounding "
    "bigint→double conversion so the hash holds at any volume within "
    "the 2^63 scaled-sum bound (~sf300 for sum_charge).",
)


register_sql(
    "q06_forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: tight multi-predicate filter fully pushed to the parquet scan.",
)


register_sql(
    "q_agg_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_customers,
           count(DISTINCT o_orderstatus) AS n_statuses,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Distinct aggregation: multiple count(DISTINCT) in one hash-agg (Catalyst expand).",
)


register_sql(
    "q_agg_variance",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s1,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s2,
           (CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
            - CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
              * CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*)) / (count(*) - 1) AS variance
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Variance via exact decimal moments (sum, sum-of-squares) — order-insensitive, "
    "unlike a naive stddev over doubles.",
)


register_sql(
    "q_agg_median",
    oracle="""
    SELECT l_returnflag, median(l_quantity) AS median_qty,
           min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact median (quantities are integral doubles, so interpolation is exact in "
    "both engines).",
)


@register(
    "q_approx_count_distinct",
    oracle=None,  # HLL++ sketch values are engine-specific — rows-only check
    doc="approx_count_distinct (HyperLogLog++): the 100 TB path for distinct counts. "
    "No oracle: sketch estimates are engine-specific by design.",
)
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
    )


# ---------------------------------------------------------------------------
# Grouping sets / cube / rollup
# ---------------------------------------------------------------------------


register_sql(
    "q_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE: all 2^k grouping combinations in one pass (Catalyst Expand).",
)


register_sql(
    "q_rollup",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
           count(*) AS n
    FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    doc="ROLLUP: hierarchical subtotals priority → (priority,status) → grand total.",
)


register_sql(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="Explicit GROUPING SETS via Spark SQL (same Catalyst path as the DataFrame API).",
)


register_sql(
    "q_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_f,
           CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_o
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Pivot: one output column per pivoted value (conditional aggregation).",
)


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "q03_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    doc="TPC-H Q3 shape: 3-way join (customer broadcast) → agg → deterministic top-10.",
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q05_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5 shape: 6-way star join; all dimensions broadcast, single shuffle "
    "for the final agg.",
)
def q05_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(_revenue()).cast("double").alias("revenue"))
    )


register_sql(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue ranking, deterministic top-20.",
)


@register(
    "q_join_broadcast",
    oracle="""
    SELECT p.p_brand,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    doc="Broadcast-hash join: dimension ships to every executor; fact side never shuffles "
    "for the join.",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(_dsum("l_quantity", "sum_qty"), F.count(F.lit(1)).alias("n"))
    )


register_sql(
    "q_join_semi",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderstatus = 'F')
    GROUP BY c.c_mktsegment
    """,
    doc="Left-semi join (EXISTS): probes without duplicating matched rows.",
)


register_sql(
    "q_join_anti",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_mktsegment
    """,
    doc="Left-anti join (NOT EXISTS): customers with no urgent orders (in this "
    "dense synthetic data every customer has SOME order, so the unqualified "
    "predicate would be vacuously empty and test nothing).",
)


register_sql(
    "q_join_left_outer",
    oracle="""
    SELECT c.c_custkey, count(o.o_orderkey) AS n_orders,
           CAST(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total_spent
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
    doc="Left-outer join preserving customers with zero orders (count over nullable key).",
)


register_sql(
    "q_join_full_outer",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, count(*) AS n_customers FROM customer GROUP BY 1),
         sn AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers FROM supplier GROUP BY 1)
    SELECT coalesce(cn.nk, sn.nk) AS nationkey,
           coalesce(cn.n_customers, 0) AS n_customers,
           coalesce(sn.n_suppliers, 0) AS n_suppliers
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
    doc="Full-outer join of two pre-aggregated sides (aggregate-then-join keeps the "
    "shuffle small at scale).",
)


register_sql(
    "q_join_cross",
    oracle="""
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
    doc="Cross join (cartesian product) of two small dims — broadcast NLJ physically.",
)


register_sql(
    "q_join_theta",
    oracle="""
    SELECT s.s_suppkey, count(*) AS n_poorer_customers
    FROM supplier s JOIN customer c
      ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
    GROUP BY s.s_suppkey
    """,
    doc="Theta join: equi-key (nationkey) as blocking + non-equi residual predicate — "
    "the equi part keeps the plan a hash join, not an NLJ.",
)


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


register_sql(
    "q_window_topk_per_group",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, rn FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part) t
    WHERE rn <= 3
    """,
    doc="Top-k per group via ranking window — no global sort; each partition ranks "
    "locally after a hash shuffle on the group key.",
)


register_sql(
    "q_window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
    FROM orders
    """,
    doc="Running total per customer (cumulative frame); decimal arithmetic keeps the "
    "prefix sums exact.",
)


register_sql(
    "q_window_lag_lead",
    oracle="""
    SELECT user_id, event_id, value,
           lag(value)  OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           value - coalesce(lag(value) OVER w, 0.0) AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="lag/lead analytics over an event stream ordered by (ts, id).",
)


register_sql(
    "q_window_ntile_rank",
    oracle="""
    SELECT c_custkey, c_acctbal,
           ntile(4)     OVER w AS quartile,
           rank()       OVER (ORDER BY c_mktsegment)  AS seg_rank,
           dense_rank() OVER (ORDER BY c_mktsegment)  AS seg_dense_rank
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey)
    """,
    doc="ntile / rank / dense_rank over global windows with deterministic tie-breaks.",
)


register_sql(
    "q_window_first_last",
    oracle="""
    SELECT DISTINCT c_mktsegment,
           first_value(c_custkey) OVER w AS richest_cust,
           last_value(c_custkey)  OVER w AS poorest_cust
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="first_value/last_value with an unbounded frame, deduplicated per group.",
)


# ---------------------------------------------------------------------------
# Sorts / limits / set ops
# ---------------------------------------------------------------------------


register_sql(
    "q_topk_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="Global top-k: Spark's TakeOrderedAndProject — per-partition heaps, no full sort.",
)


register_sql(
    "q_setop_union",
    oracle="""
    SELECT nk, src FROM (
      SELECT DISTINCT c_nationkey AS nk, 'customer' AS src FROM customer
      UNION ALL
      SELECT DISTINCT s_nationkey AS nk, 'supplier' AS src FROM supplier)
    """,
    doc="UNION ALL of two distinct projections (tagged provenance).",
)


register_sql(
    "q_setop_intersect",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
    doc="INTERSECT (distinct): nations having both customers and suppliers.",
)


register_sql(
    "q_setop_except",
    oracle="""
    SELECT c_nationkey AS nk FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 8000
    """,
    doc="EXCEPT (distinct): nations with customers but no high-balance "
    "supplier (the unqualified variant is vacuously empty — every nation "
    "has some supplier in this synthetic data).",
)


# ---------------------------------------------------------------------------
# Scalar functions: string / date / math / conditional
# ---------------------------------------------------------------------------


@register(
    "q_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           lower(p_brand) AS brand_lower,
           length(p_name) AS name_len,
           substr(p_type, 1, 5) AS type_prefix,
           concat(p_brand, ':', p_type) AS brand_type,
           replace(p_name, ' ', '_') AS name_snake,
           reverse(p_brand) AS brand_rev,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           trim('  ' || p_brand || ' ') AS brand_trimmed
    FROM part
    """,
    doc="String scalar functions (all JVM-side, whole-stage-codegen'd).",
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.reverse("p_brand").alias("brand_rev"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit(" "))).alias("brand_trimmed"),
    )


@register(
    "q_regex_funcs",
    oracle="""
    SELECT doc_id,
           regexp_matches(text, 'data') AS mentions_data,
           regexp_extract(text, '([a-z]+) join', 1) AS join_qualifier,
           regexp_replace(text, '^the ', 'THE ') AS text_mod,
           source LIKE 'src1%' AS is_src1
    FROM documents
    """,
    doc="Regex predicate (rlike ≡ unanchored re.search, the reference's F1 filter "
    "semantics, upload_file.py:158-167), extraction, and anchored replace.",
)
def q_regex_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("text").rlike("data").alias("mentions_data"),
        F.regexp_extract("text", r"([a-z]+) join", 1).alias("join_qualifier"),
        F.regexp_replace("text", r"^the ", "THE ").alias("text_mod"),
        F.col("source").startswith("src1").alias("is_src1"),
    )


@register(
    "q_date_funcs",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)  AS order_year,
           month(o_orderdate) AS order_month,
           day(o_orderdate)   AS order_day,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month_start,
           datediff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS days_to_2002,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date
    FROM orders
    """,
    doc="Temporal scalar functions: extraction, truncation, diffs, interval arithmetic.",
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.date_trunc("month", "o_orderdate").cast("timestamp_ntz").alias("order_month_start"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_2002"
        ),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
    )


register_sql(
    "q_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_extendedprice - l_quantity * 1000.0) AS abs_diff,
           CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
           CAST(ceil(l_extendedprice) AS BIGINT)  AS price_ceil,
           sqrt(l_quantity) AS qty_sqrt,
           l_quantity * l_quantity AS qty_sq,
           CAST(l_quantity AS BIGINT) % 7 AS qty_mod7,
           CAST(sign(l_extendedprice - 50000.0) AS DOUBLE) AS price_side
    FROM lineitem
    """,
    doc="Math scalars restricted to the IEEE-deterministic subset (sqrt is correctly "
    "rounded; no libm-dependent exp/log in oracle-checked paths).",
)


register_sql(
    "q_case_when",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000  THEN 'small'
                WHEN o_totalprice < 150000 THEN 'medium'
                WHEN o_totalprice < 300000 THEN 'large'
                ELSE 'jumbo' END AS price_band,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders GROUP BY 1
    """,
    doc="CASE WHEN bucketing feeding an aggregation.",
)


# ---------------------------------------------------------------------------
# JSON / array functions
# ---------------------------------------------------------------------------


@register(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="JSON path extraction from the events.props payload column (get_json_object).",
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q_json_schema",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 90
    """,
    doc="Typed JSON parsing with from_json + schema, predicate on the parsed field.",
)
def q_json_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    parsed = ev.withColumn("js", F.from_json("props", "k BIGINT"))
    return parsed.filter(F.col("js.k") > 90).select("event_id", F.col("js.k").alias("k"))


@register(
    "q_array_funcs",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_elem,
           list_reduce(list_prepend(0.0, list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b) AS sq_norm,
           len(list_filter(embedding, x -> x > 0)) AS n_positive
    FROM embeddings
    """,
    doc="Higher-order array functions (zip_with/filter/aggregate) with an explicit "
    "left-fold so the double accumulation order matches the oracle exactly.",
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_elem"),
        F.expr(dot("embedding", "embedding")).alias("sq_norm"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_positive"),
    )


@register(
    "q_explode_tokens",
    oracle="""
    SELECT token, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token LIMIT 20
    """,
    doc="explode (lateral unnest) of tokenized text → word-count top-20.",
)
def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


# Correlation/covariance from exact decimal moment sums. The naive
# corr()/covar_samp() aggregates accumulate doubles in partition order,
# so two engines (or two runs at different parallelism) disagree in the
# last bits and the value hash diverges. Instead: accumulate the five
# moments (Σx, Σy, Σx², Σy², Σxy) in EXACT decimal arithmetic — order
# cannot matter — convert once to double, and derive the statistics
# with the IDENTICAL scalar formula on both engines (same IEEE
# expression tree → bit-equal results). The formulas are shared
# constants so the Spark and DuckDB texts cannot drift.
#
# One trap, found bitwise: a direct decimal→double CAST is one rounding
# in Spark (BigDecimal.doubleValue) but TWO in DuckDB (int128→double,
# then ×10⁻ˢ) — syy differed by 1 ulp. The conversion below scales the
# decimal to an integral bigint first (exact), casts bigint→double
# (correctly rounded everywhere), and divides by the scale as a double
# literal (one IEEE op) — a single-rounding path on both engines.
# Bound: |moment|·10ˢ must fit int64, which holds through sf0.1 here;
# beyond that, split the moment into quotient/remainder bigints.


def _dec_to_dbl(col: str, scale: int) -> str:
    return f"cast(cast({col} * {10**scale} as bigint) as double) / {float(10**scale)}"


def _dec_to_dbl_floor(col: str) -> str:
    """Decimal → double for moments too big for the ×10^scale bigint
    intermediate: floor to the integer part (decimal-exact in both
    engines, so truncate-vs-round cast semantics can't diverge), then
    bigint → double (correctly rounded in both). Drops < 1 unit of the
    fraction — relative error <= 1e-15 at the magnitudes that need this
    route, below double resolution. The r7 sf1 sweep caught the squared
    price moment at 7.4e15 units: ×10^4 = 7.4e19 overflowed BIGINT
    (CAST_OVERFLOW), while this route holds to ~9.2e18 units (~sf1000)."""
    return f"cast(cast(floor({col}) as bigint) as double)"


_CORR_F = "(nd*sxy - sx*sy) / sqrt((nd*sxx - sx*sx) * (nd*syy - sy*sy))"
_COV_F = "(sxy - sx*sy/nd) / (nd - 1.0)"
_STDX_F = "sqrt((sxx - sx*sx/nd) / (nd - 1.0))"
_STDY_F = "sqrt((syy - sy*sy/nd) / (nd - 1.0))"
_MOMENTS_DBL = (
    f"{_dec_to_dbl('sxd', 2)} AS sx, {_dec_to_dbl('syd', 2)} AS sy, "
    f"{_dec_to_dbl_floor('sxxd')} AS sxx, {_dec_to_dbl_floor('syyd')} AS syy, "
    f"{_dec_to_dbl_floor('sxyd')} AS sxy, CAST(n AS DOUBLE) AS nd"
)


@register(
    "q_stats_corr",
    oracle=f"""
    WITH m AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(CAST(l_quantity AS DECIMAL(12,2))) AS sxd,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS syd,
             sum(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))) AS sxxd,
             sum(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS syyd,
             sum(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxyd
      FROM lineitem GROUP BY l_returnflag),
    m2 AS (SELECT l_returnflag, n, {_MOMENTS_DBL} FROM m)
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           {_CORR_F} AS corr_qty_price,
           {_COV_F} AS covar_qty_price,
           {_STDX_F} AS std_qty,
           {_STDY_F} AS std_price
    FROM m2
    """,
    doc="Pearson correlation, sample covariance, and sample stddev of "
    "(l_quantity, l_extendedprice) per return flag — computed from exact "
    "decimal moment sums so the result is bit-deterministic at any "
    "parallelism (built-in corr/covar_samp accumulate doubles in "
    "partition order and cannot be hash-compared across engines). One "
    "scan, one map-side-combinable hash agg; the moments are mergeable, "
    "which is exactly how a 1000-executor cluster computes statistics.",
)
def q_stats_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast(DEC)
    y = F.col("l_extendedprice").cast(DEC)
    mom = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sxd"),
        F.sum(y).alias("syd"),
        F.sum(x * x).alias("sxxd"),
        F.sum(y * y).alias("syyd"),
        F.sum(x * y).alias("sxyd"),
    )
    return mom.selectExpr(
        "l_returnflag", "n", *_MOMENTS_DBL.replace(" AS ", " as ").split(", ")
    ).selectExpr(
        "l_returnflag",
        "cast(n as bigint) as n_rows",
        f"{_CORR_F} as corr_qty_price",
        f"{_COV_F} as covar_qty_price",
        f"{_STDX_F} as std_qty",
        f"{_STDY_F} as std_price",
    )


@register(
    "q_arg_max",
    oracle="""
    WITH keyed AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(round(o_totalprice * 100.0) AS BIGINT) * 10000000 + o_orderkey AS ord
      FROM orders)
    SELECT o_orderpriority,
           arg_max(o_orderkey, ord) AS best_order,
           arg_min(o_orderkey, ord) AS worst_order,
           CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price,
           CAST(min(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS min_price
    FROM keyed GROUP BY o_orderpriority
    """,
    doc="arg-max/arg-min aggregation (max_by/min_by): the order id holding "
    "each priority class's highest/lowest total price — the idiom that "
    "replaces a per-group sort or self-join with ONE hash agg. Price ties "
    "are broken deterministically by folding the unique order key into "
    "the ordering scalar (cents * 10^7 + orderkey), because max_by on a "
    "tied key is otherwise free to return either row and the result "
    "would not be hash-comparable.",
)
def q_arg_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").withColumn(
        "ord",
        F.expr("cast(round(o_totalprice * 100.0) as bigint) * 10000000 + o_orderkey"),
    )
    return o.groupBy("o_orderpriority").agg(
        F.expr("max_by(o_orderkey, ord)").alias("best_order"),
        F.expr("min_by(o_orderkey, ord)").alias("worst_order"),
        F.max(F.col("o_totalprice").cast(DEC)).cast("double").alias("max_price"),
        F.min(F.col("o_totalprice").cast(DEC)).cast("double").alias("min_price"),
    )


@register(
    "q_string_agg",
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(count(*) AS BIGINT) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="Ordered string aggregation (listagg/string_agg): comma-joined "
    "sorted nation names per region. Spark spells it "
    "array_join(array_sort(collect_list(...))) — collect_list order is "
    "partition-dependent, so the explicit sort is what makes the result "
    "deterministic at any parallelism (same reason DuckDB needs the "
    "WITHIN-GROUP ORDER BY). Dimension-sized groups only; for fact-scale "
    "groups prefer slice-limited collection or an explode-side join.",
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


register_sql(
    "q_null_semantics",
    oracle="""
    WITH g AS (
      SELECT nullif(o_orderstatus, 'O') AS maybe_status,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(count(nullif(o_orderstatus, 'O')) AS BIGINT) AS n_counted
      FROM orders GROUP BY 1)
    SELECT a.maybe_status, a.n_orders, a.n_counted,
           b.n_orders AS n_selfjoin,
           CAST(row_number() OVER (ORDER BY a.maybe_status ASC NULLS LAST) AS INT)
             AS rn_nulls_last
    FROM g a JOIN g b ON a.maybe_status IS NOT DISTINCT FROM b.maybe_status
    """,
    doc="NULL semantics in one plan: GROUP BY keeps a NULL group, "
    "count(col) skips NULLs while count(*) does not, the self-join uses "
    "null-safe equality (<=> / IS NOT DISTINCT FROM) so the NULL group "
    "joins to itself (a plain = would drop it), and the ordering column "
    "pins NULLS LAST explicitly — Spark ASC defaults to NULLS FIRST and "
    "DuckDB to NULLS LAST, the classic cross-engine drift. Null-safe "
    "join keys also hash-partition normally, so <=> joins shuffle like "
    "any equi-join at scale.",
)
