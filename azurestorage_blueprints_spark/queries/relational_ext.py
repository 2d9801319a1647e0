"""Relational surface extensions: boolean/bitwise aggregates, discrete
percentiles, calendar-spine densification, and snapshot diffing (CDC).

These round out the aggregate/temporal corners of the ANSI surface the
engine claims: ``bool_and/bool_or`` and ``bit_and/bit_or/bit_xor`` are
ordinary one-shuffle hash-aggs; ``percentile_disc`` picks an actual
data value (no interpolation, so the double compares exactly across
engines); the calendar spine is generated row-source + outer join —
the standard gap-densification pattern; the snapshot diff is the
full-outer-join change classification every CDC pipeline runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.queries import register, register_sql
from azurestorage_blueprints_spark.tables import table


register_sql(
    "q_bool_bit_aggs",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000.0) AS all_above_1k,
           bool_or(o_orderstatus = 'F') AS any_finished,
           CAST(bit_and(o_custkey) AS BIGINT) AS key_bit_and,
           CAST(bit_or(o_custkey) AS BIGINT) AS key_bit_or,
           CAST(bit_xor(o_custkey) AS BIGINT) AS key_bit_xor,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Boolean and bitwise aggregates (bool_and/bool_or, "
    "bit_and/bit_or/bit_xor) per order priority. All five are "
    "associative+commutative, so Spark computes them with map-side "
    "partial aggregation — the shuffle carries one partial per "
    "(partition, priority), constant-size regardless of row count. "
    "bit_xor over a key column is the classic distributed checksum.",
)


@register(
    "q_percentile_disc",
    oracle="""
    SELECT event_type,
           quantile_disc(value, 0.25) AS p25,
           quantile_disc(value, 0.50) AS p50,
           quantile_disc(value, 0.90) AS p90,
           CAST(count(value) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    doc="Discrete percentiles (percentile_disc / quantile_disc) of event "
    "value per event type. Unlike interpolated percentiles, disc "
    "returns an ACTUAL data value, so the doubles compare bit-exactly "
    "across engines with no decimal scaffolding. Exact percentile is a "
    "sort-based agg (per-group sort inside the hash-agg); at 100 TB "
    "swap to approx_percentile sketches (q_approx_percentile_sketch) — "
    "this query is the exactness rung of that ladder.",
)
def q_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").alias("p25"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY value)").alias("p50"),
        F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY value)").alias("p90"),
        F.count("value").alias("n"),
    )


#: calendar-spine bounds (testdata order dates span 1995-01..2001-08;
#: the spine runs past the data edge so the zero-fill rows are visible)
_SPINE_START, _SPINE_END = "1995-01-01", "2001-12-01"


@register(
    "q_calendar_spine",
    oracle=f"""
    WITH spine AS (
      SELECT CAST(unnest(generate_series(
               DATE '{_SPINE_START}', DATE '{_SPINE_END}', INTERVAL 1 MONTH))
             AS DATE) AS month
    ),
    monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
      FROM orders GROUP BY 1
    )
    SELECT s.month,
           COALESCE(m.n_orders, 0) AS n_orders,
           COALESCE(m.n_customers, 0) AS n_customers
    FROM spine s LEFT JOIN monthly m ON s.month = m.month
    """,
    doc="Calendar-spine densification: a generated month spine "
    "(sequence + explode — a row source with no input scan) LEFT JOINed "
    "to monthly order aggregates so months with zero orders appear "
    "explicitly — the gap-free axis every reporting/training-curve "
    "query needs. The spine is tiny and broadcast; the aggregate side "
    "is one hash-agg keyed on month (84 rows at any scale).",
)
def q_calendar_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.expr(
                f"sequence(DATE '{_SPINE_START}', DATE '{_SPINE_END}', interval 1 month)"
            )
        ).alias("month")
    )
    monthly = o.groupBy(F.trunc("o_orderdate", "month").alias("month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )
    return (
        F.broadcast(spine)
        .join(monthly, "month", "left")
        .select(
            "month",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        )
    )


#: snapshot cutoffs: state of the per-customer order ledger at A vs B
_SNAP_A, _SNAP_B = "1997-01-01", "1999-01-01"


register_sql(
    "q_snapshot_diff",
    oracle=f"""
    WITH snap_a AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders WHERE o_orderdate < DATE '{_SNAP_A}' GROUP BY o_custkey
    ),
    snap_b AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders WHERE o_orderdate < DATE '{_SNAP_B}' GROUP BY o_custkey
    )
    SELECT CASE WHEN a.o_custkey IS NULL THEN 'added'
                WHEN b.n_orders > a.n_orders THEN 'changed'
                ELSE 'same' END AS change_type,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(b.n_orders - COALESCE(a.n_orders, 0)) AS BIGINT)
             AS order_delta
    FROM snap_b b LEFT JOIN snap_a a ON a.o_custkey = b.o_custkey
    GROUP BY 1
    """,
    doc="Snapshot diff (CDC classification): the per-customer order "
    "ledger at two cutoff dates, outer-joined on the key and classified "
    "added / changed / same with the aggregate order delta per class. "
    "(The ledger is append-only so 'removed' cannot occur; the CASE arm "
    "order is the standard 4-way classifier.) Both snapshots scan the "
    "same table with pushed-down date predicates; the join keys on "
    "custkey — at 100 TB both sides are pre-aggregated BEFORE the "
    "join, so the shuffle carries one row per customer, not per order.",
)


register_sql(
    "q_ts_multires_rollup",
    oracle="""
    SELECT event_type,
           CAST(ts AS DATE) AS day,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
           CAST(GROUPING(CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS BIGINT) AS is_day_level,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY GROUPING SETS (
      (event_type, CAST(ts AS DATE)),
      (event_type, CAST(ts AS DATE), CAST(EXTRACT(hour FROM ts) AS BIGINT))
    )
    """,
    doc="Hypertable-style multi-resolution rollup: hourly AND daily "
    "aggregates of the event stream in ONE scan via GROUPING SETS — "
    "the continuous-aggregate pattern time-series stores maintain as "
    "materialized rollups. GROUPING() disambiguates the day-level rows "
    "(hr is NULL there); value is cent-quantized before the sum so "
    "every aggregate is exact. Spark expands the two sets in a single "
    "Expand node feeding one hash-agg — at 100 TB this halves the "
    "scan cost vs running per-resolution queries, and the output IS "
    "the rollup table you would persist.",
)


register_sql(
    "q_ratio_to_report",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
               AS nation_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name
    )
    SELECT region, nation, nation_cents,
           CAST(SUM(nation_cents) OVER (PARTITION BY region) AS BIGINT)
             AS region_cents,
           CAST(nation_cents AS DOUBLE)
             / SUM(nation_cents) OVER (PARTITION BY region) AS revenue_share
    FROM rev
    """,
    doc="Ratio-to-report: each nation's share of its region's order "
    "revenue — the windowed percent-of-total every BI layer computes. "
    "Revenue is cent-quantized (exact bigint sums); the share is one "
    "int→double divide per output row. The dimension joins (customer→"
    "nation→region) broadcast; the window partitions on the 5-row "
    "region key AFTER aggregation to 25 nation rows, so the window "
    "cost is nil at any input scale.",
)


@register(
    "q_stats_mad",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_disc(value, 0.5) AS med
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, m.med,
           quantile_disc(abs(e.value - m.med), 0.5) AS mad,
           CAST(count(e.value) AS BIGINT) AS n
    FROM events e JOIN med m USING (event_type)
    GROUP BY e.event_type, m.med
    """,
    doc="Median absolute deviation (robust dispersion) per event type: "
    "the two-pass exact computation — per-group discrete median, "
    "broadcast back, then the discrete median of absolute deviations. "
    "Both medians are percentile_disc (actual data values, so the "
    "doubles hash exactly; the deviation |x - med| is one per-row IEEE "
    "subtract). MAD is the outlier-resistant spread the z-score "
    "anomaly query (q_ts_zscore_anomaly) should graduate to when the "
    "value distribution is heavy-tailed.",
)
def q_stats_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("med")
    )
    return (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(
            F.expr(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY abs(value - med))"
            ).alias("mad"),
            F.count("value").alias("n"),
        )
        .select("event_type", "med", "mad", "n")
    )


register_sql(
    "q_rfm_segmentation",
    oracle="""
    WITH rfm AS (
      SELECT c.c_custkey, c.c_mktsegment,
             max(o.o_orderdate) AS last_order,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_mktsegment
    ),
    scored AS (
      SELECT c_mktsegment,
             ntile(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY last_order, c_custkey) AS r,
             ntile(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY freq, c_custkey) AS f,
             ntile(4) OVER (PARTITION BY c_mktsegment
                            ORDER BY cents, c_custkey) AS m
      FROM rfm
    )
    SELECT c_mktsegment,
           CAST(r * 100 + f * 10 + m AS BIGINT) AS rfm_segment,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY c_mktsegment, r * 100 + f * 10 + m
    """,
    doc="RFM segmentation: recency/frequency/monetary quartiles per "
    "customer (ntile(4) within each market segment, totally ordered "
    "with the customer key as tie-break so bucket edges are "
    "deterministic), combined into the classic 3-digit segment code "
    "and counted. All three windows share the c_mktsegment "
    "partitioning — one shuffle, three ntile passes over "
    "already-aggregated per-customer rows. At 100 TB the per-segment "
    "sort is the cost; pre-aggregation (one row per customer) keeps "
    "it proportional to customers, never orders.",
)


#: columns profiled by q_table_profile (name, typed min/max stringify
#: identically on both engines: bigint and date — doubles deliberately
#: excluded, their string renderings differ)
_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate")


def _profile_oracle() -> str:
    parts = [
        f"""
        SELECT '{c}' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_val,
               CAST(max({c}) AS VARCHAR) AS max_val
        FROM orders
        """
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


@register(
    "q_table_profile",
    oracle=_profile_oracle(),
    doc="Table profiling (ANALYZE-style statistics): per-column row "
    "count, null count, exact distinct count, and min/max — the "
    "data-quality summary every ingestion pipeline publishes. One "
    "branch per column unioned: each branch's scan prunes to a single "
    "column (columnar parquet reads exactly one column per branch), "
    "which beats a single multi-distinct pass — Spark plans that via "
    "Expand, replicating every row once per distinct column. Min/max "
    "are stringified for a uniform schema; double columns are excluded "
    "because float formatting is engine-specific.",
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    branches = []
    for c in _PROFILE_COLS:
        branches.append(
            o.agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(c).cast("string").alias("min_val"),
                F.max(c).cast("string").alias("max_val"),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.union(b)
    return out


register_sql(
    "q_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag, l_extendedprice,
             CAST(l_quantity AS BIGINT) AS wt,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(CAST(l_quantity AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS total
      FROM lineitem
    )
    SELECT l_returnflag,
           min(l_extendedprice) AS w_median,
           CAST(min(total) AS BIGINT) AS total_weight
    FROM w
    WHERE 2 * cum >= total
    GROUP BY l_returnflag
    """,
    doc="Weighted median of extended price per return flag, weighted by "
    "quantity: the first value (in a deterministic total order — price, "
    "then the unique line key) whose running weight reaches half the "
    "group total. Two windows sharing ONE partitioning (a single "
    "shuffle + sort per group), then a filter + min-agg — no self-join. "
    "The median is an actual data value, so the double is bit-exact "
    "across engines; weights stay integer.",
)


#: equi-depth bucket count for the value-distribution histogram
_EQUIDEPTH_BUCKETS = 8


register_sql(
    "q_histogram_equidepth",
    oracle=f"""
    WITH t AS (
      SELECT o_totalprice,
             ntile({_EQUIDEPTH_BUCKETS}) OVER (
               ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT bucket,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi,
           CAST(count(*) AS BIGINT) AS n
    FROM t GROUP BY bucket
    """,
    doc="Equi-depth (equal-frequency) histogram of order totals — the "
    "bucket-boundary statistic cost-based optimizers and data profilers "
    "keep, complementary to the equi-width q_histogram. ntile over a "
    "deterministic total order (value, unique key) assigns ranks; "
    "bounds are actual data values (bit-exact doubles). The global sort "
    "is the honest cost at small scale; at 100 TB this becomes "
    "approx_percentile boundaries + one partitioned pass (the sketch "
    "rung exists as q_approx_percentile_sketch).",
)


@register(
    "q_skyline_2d",
    oracle="""
    WITH spend AS (
      SELECT c.c_nationkey AS nationkey, c.c_custkey, c.c_acctbal AS bal,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey, c.c_custkey, c.c_acctbal
    ),
    pts AS (SELECT DISTINCT nationkey, bal, spend FROM spend)
    SELECT p.nationkey, p.bal, p.spend
    FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.nationkey = p.nationkey
        AND q.bal >= p.bal AND q.spend >= p.spend
        AND (q.bal > p.bal OR q.spend > p.spend)
    )
    """,
    doc="2D skyline (Pareto frontier) per nation over (account balance, "
    "total spend): the customers no one in their nation dominates on "
    "both axes. Spark avoids the quadratic NOT EXISTS the oracle uses: "
    "after reducing to distinct points, one window pass in (bal DESC, "
    "spend DESC) order keeps exactly the rows whose spend exceeds the "
    "running max of all earlier (higher-balance) rows — the classic "
    "sort-scan skyline, O(n log n) per group, one shuffle + sort. On "
    "distinct points the prefix-max test is equivalent to dominance "
    "(any earlier row has bal >= r; equal spend forces bal > r).",
)
def q_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    spend = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_nationkey", "c_custkey", "c_acctbal")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("spend")
        )
    )
    pts = spend.select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").alias("bal"),
        "spend",
    ).distinct()
    prev_max = (
        W.partitionBy("nationkey")
        .orderBy(F.desc("bal"), F.desc("spend"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        pts.withColumn("m", F.max("spend").over(prev_max))
        .filter(F.col("m").isNull() | (F.col("spend") > F.col("m")))
        .select("nationkey", "bal", "spend")
    )


register_sql(
    "q_mom_change",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT month, revenue, n_orders,
           lag(revenue) OVER (ORDER BY month) AS prev_revenue,
           (revenue - lag(revenue) OVER (ORDER BY month))
             / lag(revenue) OVER (ORDER BY month) AS mom_change
    FROM monthly
    """,
    doc="Month-over-month growth: monthly revenue (exact decimal sums "
    "cast to double) with the previous month's value and relative "
    "change via lag — the reporting primitive behind every trend "
    "dashboard and training-ingest volume monitor. The window runs over "
    "the 84-row monthly aggregate, not the fact table, so the "
    "single-partition ORDER BY is a non-issue at any scale; the "
    "fact-side cost is one hash-agg keyed on month.",
)


# average order value in cents, derived from exact integer moments and
# spelled identically into both engines (see determinism contract)
_AVG_CENTS = (
    "SELECT CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)"
    " / CAST(count(*) AS DOUBLE) FROM orders"
)


register_sql(
    "q_subquery_scalar",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_above,
           CAST(min(({_AVG_CENTS})) AS DOUBLE) AS global_avg_cents
    FROM orders
    WHERE CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) > ({_AVG_CENTS})
    GROUP BY o_orderpriority
    """,
    doc="Scalar-subquery predicate: orders whose value exceeds the "
    "GLOBAL average order value, counted per priority. The scalar "
    "subquery is declared in SQL on both engines; Catalyst executes it "
    "once as a separate subquery job and folds the result in as a "
    "literal before the main scan runs — the 100 TB shape is one "
    "moment-aggregation (map-side combined to a single row) followed "
    "by a filtered scan + O(priorities) hash-agg, never a join. The "
    "average itself is a derived double from exact integer cents via "
    "shared expression text, so the filter threshold is bit-identical "
    "on both engines.",
)


_CHURN_SQL = """
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_churned
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= DATE '1995-01-01'
                    AND o_orderdate < DATE '1996-01-01')
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= DATE '1996-01-01'
                        AND o_orderdate < DATE '1997-01-01')
    GROUP BY n_name
"""


register_sql(
    "q_subquery_exists",
    oracle=_CHURN_SQL,
    doc="Correlated EXISTS / NOT EXISTS: customers who ordered in 1995 "
    "but not in 1996 (churn), counted per nation. Declared as "
    "correlated subqueries on both engines; Catalyst rewrites them to "
    "a left-semi and a left-anti hash join on c_custkey with the date "
    "filters pushed below the joins into the orders scan (PushedFilters "
    "on o_orderdate — each EXISTS arm scans only its year). The 100 TB "
    "shape: two key-partitioned semi/anti joins that AQE can also turn "
    "into broadcasts when a year's distinct custkey set is small, then "
    "an O(nations) agg.",
)


register_sql(
    "q_join_null_safe",
    oracle="""
    WITH a AS (
      SELECT nullif(o_orderstatus, 'P') AS k, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ),
    b AS (
      SELECT nullif(l_linestatus, 'O') AS k, CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY 1
    )
    SELECT a.k AS status_key, n_orders, n_lines
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    doc="Null-safe equality join (Spark `<=>` / ANSI IS NOT DISTINCT "
    "FROM): reconcile order-side and line-side counts keyed on a "
    "nullable status bucket where NULL means 'other' and must match "
    "NULL — ordinary equi-join semantics would silently drop the NULL "
    "bucket. Both inputs are pre-aggregated to O(status) rows before "
    "the join, so the null-safe comparison — which cannot use ordinary "
    "hash-join null skipping — only ever touches a handful of rows; "
    "the fact scans shuffle on nothing wider than the status column "
    "with map-side partial aggregation.",
)


@register(
    "q_gaps_islands",
    oracle="""
    WITH months AS (
      SELECT DISTINCT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
      FROM orders
    ),
    islands AS (
      SELECT o_custkey,
             m - CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY m) AS BIGINT) AS isl
      FROM months
    ),
    streaks AS (
      SELECT o_custkey, isl, CAST(count(*) AS BIGINT) AS streak_len
      FROM islands GROUP BY o_custkey, isl
    )
    SELECT streak_len, CAST(count(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY streak_len
    """,
    doc="Gaps-and-islands: consecutive-month ordering streaks per "
    "customer via the classic dense_rank difference trick (consecutive "
    "months share `month_index - dense_rank`), then a histogram of "
    "streak lengths. All integer arithmetic — exact at any SF. Shape: "
    "ONE custkey shuffle total — the month-set dedup is a collect_set "
    "agg keyed on o_custkey (map-side combined), and exploding it back "
    "preserves that partitioning, so the dense_rank window reuses the "
    "same exchange instead of re-shuffling (a (custkey, month) distinct "
    "would force a second custkey exchange for the window); then two "
    "tiny count-aggs. The streak histogram is O(max streak) rows.",
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders")
    months = (
        o.groupBy("o_custkey")
        .agg(
            F.collect_set(
                (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
            ).alias("ms")
        )
        .select("o_custkey", F.explode("ms").alias("m"))
    )
    islands = months.select(
        "o_custkey",
        (
            F.col("m")
            - F.dense_rank().over(W.partitionBy("o_custkey").orderBy("m")).cast("bigint")
        ).alias("isl"),
    )
    streaks = islands.groupBy("o_custkey", "isl").agg(
        F.count(F.lit(1)).cast("bigint").alias("streak_len")
    )
    return streaks.groupBy("streak_len").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_streaks")
    )


# interpolated percentile from the two adjacent order statistics, exact
# integer inputs -> one shared IEEE expression tree on both engines
_PC_R = "(CAST(n - 1 AS DOUBLE) * 0.9)"


register_sql(
    "q_percentile_cont",
    oracle=f"""
    WITH ranked AS (
      SELECT o_orderpriority AS grp,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY floor(o_totalprice * 100.0 + 0.5))
                  AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n
      FROM orders
    ),
    picked AS (
      SELECT grp, n,
             min(CASE WHEN rn = CAST(floor({_PC_R}) AS BIGINT) + 1 THEN cents END) AS lo,
             min(CASE WHEN rn = CAST(ceil({_PC_R}) AS BIGINT) + 1 THEN cents END) AS hi
      FROM ranked GROUP BY grp, n
    )
    SELECT grp, n, lo,
           coalesce(hi, lo) AS hi,
           (CAST(lo AS DOUBLE) + ({_PC_R} - floor({_PC_R}))
              * (CAST(coalesce(hi, lo) AS DOUBLE) - CAST(lo AS DOUBLE))) AS p90_cents
    FROM picked
    """,
    doc="Interpolated (PERCENTILE_CONT) p90 of order value per priority, "
    "computed EXACTLY: rank the exact cents within each group, pick "
    "the two adjacent order statistics around rank (n-1)*0.9 via "
    "conditional MIN (when the rank index is integral hi falls back to "
    "lo), and interpolate as a derived double from identical integer "
    "inputs via shared expression text — the engine-native "
    "percentile_cont/quantile_cont interpolate in engine-specific "
    "float paths and do not hash-match across engines, which is "
    "exactly why the discrete variant (q_percentile_disc) existed "
    "alone until now. Shape: one rank window per group partition, one "
    "conditional-MIN agg riding the same partitioning, O(groups) rows "
    "out. Scale ceiling (same honesty note as the weighted median): "
    "the group key is low-cardinality, so each rank window is one "
    "task's sort — exact interpolation is the small/medium-scale rung; "
    "at 100 TB the answer comes from the mergeable sketch tier "
    "(q_approx_percentile_sketch) and this query is its calibration "
    "oracle.",
)


register_sql(
    "q_cumulative_distinct",
    oracle="""
    WITH first_seen AS (
      SELECT c_nationkey AS nationkey, o_custkey,
             min(CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)) AS m
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey, o_custkey
    ),
    monthly AS (
      SELECT nationkey, m, CAST(count(*) AS BIGINT) AS new_customers
      FROM first_seen GROUP BY nationkey, m
    )
    SELECT nationkey, m AS month_index, new_customers,
           CAST(sum(new_customers) OVER (PARTITION BY nationkey ORDER BY m
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_customers
    FROM monthly
    """,
    doc="Running distinct-customer count per nation by month — the "
    "windowed-COUNT-DISTINCT every growth dashboard needs, computed "
    "scalably: a distinct-over-window is quadratic state, so the "
    "engine reduces each customer to its FIRST month (one min-agg on "
    "the customer key), counts first-appearances per month, and runs "
    "a plain cumulative sum over the tiny monthly table. Exact "
    "integers end-to-end. Shape: one custkey-keyed agg (map-side "
    "combined), one O(nations x months) agg, one window over that "
    "table — the fact table never enters a window.",
)


@register(
    "q_histogram_equidepth_approx",
    oracle=None,  # fences come from Spark's KLL-style quantile sketch —
    # engine-specific by design; bucket-mass accuracy is gated in
    # tests/test_sketches.py against the exact ntile histogram
    doc="Approximate equi-depth histogram — the documented sketch-tier "
    "escalation of q_histogram_equidepth (whose global ntile sort is "
    "the honest cost ceiling at ~sf100): bucket fences come from "
    "approx_percentile's mergeable quantile sketch (one map-side-"
    "combined aggregation, no global sort — the only shuffle carries "
    "O(sketch) bytes per partition), then ONE more scan assigns rows "
    "to fence intervals and counts them exactly. Reported per bucket: "
    "fence bounds and the EXACT row count inside them, so the sketch "
    "error is visible in the result itself (gated <5% mass deviation "
    "in tests/test_sketches.py, the q_approx_percentile_sketch "
    "pairing). This is how a profiler actually computes equi-depth "
    "stats at 100 TB.",
)
def q_histogram_equidepth_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    probs = [i / _EQUIDEPTH_BUCKETS for i in range(1, _EQUIDEPTH_BUCKETS)]
    fences = o.agg(
        F.expr(
            f"approx_percentile(o_totalprice, array({', '.join(map(str, probs))}), 10000)"
        ).alias("f")
    )
    # bucket of a row = 1 + number of fences strictly below its value;
    # fence arrays are tiny (buckets-1 doubles) and ride a broadcast
    bucketed = o.crossJoin(F.broadcast(fences)).select(
        F.expr(
            "CAST(1 + aggregate(f, 0, (acc, x) ->"
            " acc + CASE WHEN o_totalprice > x THEN 1 ELSE 0 END) AS INT)"
        ).alias("bucket"),
        "o_totalprice",
    )
    return bucketed.groupBy("bucket").agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


_MODE_SQL = """
    WITH cnt AS (
      SELECT l_returnflag AS grp,
             CAST(l_quantity AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag, CAST(l_quantity AS BIGINT)
    ),
    ranked AS (
      SELECT grp, v, n,
             row_number() OVER (PARTITION BY grp ORDER BY n DESC, v) AS rn
      FROM cnt
    )
    SELECT grp AS l_returnflag, v AS mode_quantity, n AS mode_count
    FROM ranked WHERE rn = 1
"""


register_sql(
    "q_agg_mode_deterministic",
    oracle=_MODE_SQL,
    doc="Deterministic MODE aggregate: engine-native mode() is "
    "tie-arbitrary (Spark and DuckDB may pick different members of a "
    "tied class, and Spark's own answer can vary across partitionings) "
    "— the reproducible formulation is the count table plus a "
    "row_number with an explicit (count DESC, value) tie-break, which "
    "is also exactly how mode is computed at scale: one map-side-"
    "combined (group, value) count agg — the shuffle carries the "
    "bounded distinct-value cell table, not the fact rows — then a "
    "tiny per-group top-1 window. The determinism-contract twin of "
    "q_arg_max for the most-frequent-value question.",
)
