"""Statistical-modeling primitives as first-class queries.

Training-data curation and warehouse analytics both lean on in-engine
statistics: trend fits over time (drift detection, forecasting
features) and contingency/association tests (label-balance audits,
feature-target dependence). Both are expressed as single-pass
aggregations over EXACT integer moments — quantize the inputs once
(cents / day counts), accumulate bigint sums (order-insensitive), and
derive the float statistics at the very end from identical integer
inputs with a shared IEEE expression tree, so the result value-hash
matches the DuckDB oracle bit-for-bit (see the determinism contract in
queries/__init__.py).

Scale posture (100 TB): each query is one hash-aggregation keyed on a
low-cardinality group (nation / priority x status) — partial (map-side)
aggregation reduces every partition to a handful of moment rows before
the shuffle, so the exchange carries O(groups) rows regardless of input
size. The window-based marginal sums in the chi-square query operate on
the already-aggregated cell table (tens of rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.queries import register, register_sql
from azurestorage_blueprints_spark.tables import table

# OLS closed form over exact integer moments, spelled once and formatted
# into BOTH engines so the double expression tree is identical
# (doubles are deterministic iff inputs and operation order match).
_SLOPE = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_INTERCEPT = f"(CAST(sy AS DOUBLE) - ({_SLOPE}) * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"


@register(
    "q_stats_linreg",
    oracle=f"""
    WITH pts AS (
      SELECT n_name,
             datediff('day', DATE '1995-01-01', o_orderdate) AS x,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS y
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    ),
    m AS (
      SELECT n_name,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts GROUP BY n_name
    )
    SELECT n_name, n, {_SLOPE} AS slope_cents_per_day, {_INTERCEPT} AS intercept_cents
    FROM m
    """,
    doc="Per-nation OLS trend of order value (cents) over time (days since "
    "1995-01-01): one pass accumulates the five exact integer moments "
    "(n, Sx, Sy, Sxy, Sxx) as bigints — order-insensitive, map-side "
    "combined — then slope/intercept are derived doubles from identical "
    "integer inputs via a shared expression tree, so an order-sensitive "
    "double reduction never happens and the fit is value-hash exact. At "
    "100 TB the shuffle carries 5 longs per nation. The closed form keeps "
    "products inside doubles (not int64) because n*Sxy can exceed int64 at "
    "large SF; the moments themselves stay well inside both int64 and the "
    "2^53 double-exact range.",
)
def q_stats_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    pts = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias("x"),
            F.expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").alias("y"),
        )
    )
    m = pts.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return m.select(
        "n_name",
        "n",
        F.expr(_SLOPE).alias("slope_cents_per_day"),
        F.expr(_INTERCEPT).alias("intercept_cents"),
    )


# chi-square cell contribution from exact integer marginals; expected
# count and the squared deviation share one expression text across
# engines (same doubles in -> same doubles out)
_EXPECTED = "CAST(row_tot * col_tot AS DOUBLE) / CAST(grand AS DOUBLE)"
_CHISQ_TERM = (
    f"(CAST(obs AS DOUBLE) - ({_EXPECTED})) * (CAST(obs AS DOUBLE) - ({_EXPECTED}))"
    f" / ({_EXPECTED})"
)


register_sql(
    "q_stats_chisq",
    oracle=f"""
    WITH cells AS (
      SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS obs
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ),
    marg AS (
      SELECT o_orderpriority, o_orderstatus, obs,
             CAST(sum(obs) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS row_tot,
             CAST(sum(obs) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS col_tot,
             CAST(sum(obs) OVER () AS BIGINT) AS grand
      FROM cells
    )
    SELECT o_orderpriority, o_orderstatus, obs,
           {_EXPECTED} AS expected,
           {_CHISQ_TERM} AS chisq_term
    FROM marg
    """,
    doc="Chi-square contingency analysis of order priority x order status: "
    "one hash-agg builds the cell table (O(|priority| x |status|) rows), "
    "window sums over that tiny table produce the exact integer marginals, "
    "and each cell's expected count + chi-square contribution are derived "
    "doubles from identical integer inputs (shared expression text). The "
    "per-cell terms are emitted instead of the order-sensitive total sum "
    "so the result stays hash-deterministic; the caller sums the column "
    "for the statistic. The 100 TB pass is the first agg only — partial "
    "aggregation collapses each partition to at most 15 cells.",
)


# Spearman rho over exact integer ranks, spelled once and formatted into
# BOTH engines (identical IEEE expression tree — see _SLOPE above)
_RHO = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)


register_sql(
    "q_stats_spearman",
    oracle=f"""
    WITH spend AS (
      SELECT c.c_nationkey AS nationkey, c.c_custkey, c.c_acctbal,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_nationkey, c.c_custkey, c.c_acctbal
    ),
    ranked AS (
      SELECT nationkey,
             CAST(rank() OVER (PARTITION BY nationkey
                               ORDER BY c_acctbal, c_custkey) AS BIGINT) AS rx,
             CAST(rank() OVER (PARTITION BY nationkey
                               ORDER BY spend, c_custkey) AS BIGINT) AS ry
      FROM spend
    ),
    m AS (
      SELECT nationkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
             CAST(sum(rx * ry) AS BIGINT) AS sxy,
             CAST(sum(rx * rx) AS BIGINT) AS sxx,
             CAST(sum(ry * ry) AS BIGINT) AS syy
      FROM ranked GROUP BY nationkey
    )
    SELECT nationkey, n, {_RHO} AS spearman_rho FROM m
    """,
    doc="Spearman rank correlation between customer account balance and "
    "total spend, per nation: rank both variables inside the nation "
    "(deterministic total order — value then the unique customer key, "
    "so the ranks are an exact permutation and the statistic is "
    "hash-checkable; classical average-rank tie handling would drag "
    "engine-specific float averaging into the shuffle), then Pearson "
    "over the integer ranks from exact bigint moments. The monotone- "
    "association screen (outliers can't dominate like in q_stats_corr). "
    "Shape: one pre-aggregate join, both rank windows share the nation "
    "partitioning (one shuffle + sort), one moment hash-agg per nation "
    "— the shuffle carries O(nations) moment rows.",
)


@register(
    "q_stats_iqr_outliers",
    oracle="""
    WITH q AS (
      SELECT event_type,
             quantile_disc(value, 0.25) AS q1,
             quantile_disc(value, 0.75) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           min(q.q1) AS q1, min(q.q3) AS q3,
           CAST(sum(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                           OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN q ON e.event_type = q.event_type
    GROUP BY e.event_type
    """,
    doc="Tukey IQR outlier screen per event type: quartiles via "
    "percentile_disc (actual data values — bit-exact doubles across "
    "engines), fences at 1.5x IQR (per-row IEEE arithmetic from "
    "identical inputs), outlier counts as exact integers. The "
    "distribution-free third rung of the anomaly ladder next to the "
    "trailing z-score (q_ts_zscore_anomaly) and MAD (q_stats_mad). "
    "Shape: one percentile agg keyed on event_type (a handful of "
    "groups), the O(groups) fence table broadcast back onto the scan, "
    "one counting agg — the fact table never shuffles on anything "
    "wider than event_type.",
)
def q_stats_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").alias("q1"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    is_out = (F.col("value") < F.col("q1") - 1.5 * iqr) | (
        F.col("value") > F.col("q3") + 1.5 * iqr
    )
    return (
        e.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.min("q1").alias("q1"),
            F.min("q3").alias("q3"),
            F.sum(F.when(is_out, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
        )
    )


# Welch's t statistic and degrees of freedom from exact moments, spelled
# once into both engines. Variance uses the computational form
# (q - s^2/n) / (n-1) over exact decimal moments cast to double at the
# last step — identical IEEE expression tree on both sides.
_V1 = (
    "((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    " / CAST(n1 - 1 AS DOUBLE))"
)
_V2 = (
    "((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    " / CAST(n2 - 1 AS DOUBLE))"
)
_SE2 = f"({_V1} / CAST(n1 AS DOUBLE) + {_V2} / CAST(n2 AS DOUBLE))"
_WELCH_T = (
    "((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    f" / sqrt({_SE2}))"
)
_WELCH_DF = (
    f"(({_SE2}) * ({_SE2})"
    f" / (({_V1} / CAST(n1 AS DOUBLE)) * ({_V1} / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE)"
    f"  + ({_V2} / CAST(n2 AS DOUBLE)) * ({_V2} / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE)))"
)

# one-pass conditional moments: cents and cents^2 as exact decimals
_W_MOMENTS = """
      SELECT o_orderpriority,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             sum(CASE WHEN o_orderstatus = 'F' THEN CAST(c AS DECIMAL(18,0)) END) AS s1,
             sum(CASE WHEN o_orderstatus = 'F'
                      THEN CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0)) END) AS q1,
             CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             sum(CASE WHEN o_orderstatus = 'O' THEN CAST(c AS DECIMAL(18,0)) END) AS s2,
             sum(CASE WHEN o_orderstatus = 'O'
                      THEN CAST(c AS DECIMAL(18,0)) * CAST(c AS DECIMAL(18,0)) END) AS q2
      FROM (SELECT o_orderpriority, o_orderstatus,
                   CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
            FROM orders WHERE o_orderstatus IN ('F', 'O')) t
      GROUP BY o_orderpriority
"""


register_sql(
    "q_stats_ttest_welch",
    oracle=f"""
    WITH m AS ({_W_MOMENTS})
    SELECT o_orderpriority, n1, n2,
           {_WELCH_T} AS welch_t,
           {_WELCH_DF} AS welch_df
    FROM m
    """,
    doc="Welch's unequal-variance t-test of mean order value (cents), "
    "fulfilled vs open orders, per order priority: ONE conditional-moment "
    "hash-aggregation accumulates n / sum(c) / sum(c^2) for both arms as "
    "exact decimal(38,0) (cents^2 sums exceed int64 past ~sf10, decimals "
    "do not overflow until well past 100 TB), then the t statistic and "
    "Welch-Satterthwaite df are derived doubles from identical exact "
    "inputs via a shared expression tree. The A/B-test primitive for "
    "corpus experiments. Shape: partial aggregation collapses every "
    "partition to 5 moment rows before the only shuffle — O(priorities) "
    "rows move regardless of input size.",
)


register_sql(
    "q_stats_ks_test",
    oracle="""
    WITH cells AS (
      SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v,
             CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
      GROUP BY 1
    ),
    cum AS (
      SELECT v,
             CAST(sum(c1) OVER (ORDER BY v) AS DECIMAL(19,0)) AS f1,
             CAST(sum(c2) OVER (ORDER BY v) AS DECIMAL(19,0)) AS f2,
             CAST(sum(c1) OVER () AS DECIMAL(19,0)) AS n1,
             CAST(sum(c2) OVER () AS DECIMAL(19,0)) AS n2
      FROM cells
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           v AS at_cents,
           CAST(abs(f1 * n2 - f2 * n1) AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks_stat
    FROM cum
    ORDER BY abs(f1 * n2 - f2 * n1) DESC, v
    LIMIT 1
    """,
    doc="Two-sample Kolmogorov-Smirnov statistic between the returned (A) "
    "and refused (R) extended-price distributions, computed EXACTLY in integers: "
    "the ECDF difference |F1 - F2| at each distinct price is the exact "
    "decimal |f1*n2 - f2*n1| (cross-multiplied to avoid any float ECDF), "
    "so the argmax is an exact integer comparison and only the final "
    "reported statistic divides to double. Distribution-drift detection "
    "between corpus sources without binning error. Shape: one hash-agg "
    "to the distinct-value table (bounded by the price domain, not row "
    "count — ~O(10^6) cells at any SF), one single-partition window "
    "cumsum over that small table, top-1 by exact key. The fact scan "
    "never shuffles more than the cell table.",
)


# Benford expected first-digit frequencies log10(1 + 1/d), inlined as
# literal doubles so both engines consume identical constants (no
# engine-specific libm log10 in the hot path).
_BENFORD = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}
_BENFORD_CASE = "CASE first_digit " + " ".join(
    f"WHEN {d} THEN CAST({v!r} AS DOUBLE)" for d, v in _BENFORD.items()
) + " END"


@register(
    "q_benford_digits",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS first_digit
      FROM orders
    ),
    obs AS (
      SELECT first_digit, CAST(count(*) AS BIGINT) AS n
      FROM digits GROUP BY first_digit
    ),
    tot AS (
      SELECT first_digit, n, CAST(sum(n) OVER () AS BIGINT) AS total FROM obs
    )
    SELECT first_digit, n,
           CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS observed_freq,
           {_BENFORD_CASE} AS benford_freq,
           (CAST(n AS DOUBLE) / CAST(total AS DOUBLE) - ({_BENFORD_CASE}))
             * (CAST(n AS DOUBLE) / CAST(total AS DOUBLE) - ({_BENFORD_CASE}))
             / ({_BENFORD_CASE}) AS chisq_term
    FROM tot
    """,
    doc="Benford's-law first-digit audit of order values — the classic "
    "anomaly/fraud screen for ingested numeric feeds. The first "
    "significant digit is extracted from the EXACT integer cents via "
    "string head (no log10 on data — engine libm differences never "
    "touch values), counts are exact, and the expected Benford "
    "frequencies are python-precomputed literal doubles inlined "
    "identically into both engines' expression text. Shape: one "
    "hash-agg to 9 rows (partial agg collapses each partition to <=9 "
    "rows pre-shuffle), window total over 9 rows. O(1) output at any SF.",
)
def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = table(spark, sf_dir, "orders")
    # exact integer cents -> string head (Spark spells the string type
    # STRING where DuckDB says VARCHAR; the digit itself is exact either way)
    digits = o.select(
        F.expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")
        .cast("string")
        .substr(1, 1)
        .cast("bigint")
        .alias("first_digit")
    )
    obs = digits.groupBy("first_digit").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = obs.select(
        "first_digit", "n", F.sum("n").over(W.partitionBy()).cast("bigint").alias("total")
    )
    freq = "CAST(n AS DOUBLE) / CAST(total AS DOUBLE)"
    return tot.select(
        "first_digit",
        "n",
        F.expr(freq).alias("observed_freq"),
        F.expr(_BENFORD_CASE).alias("benford_freq"),
        F.expr(
            f"({freq} - ({_BENFORD_CASE})) * ({freq} - ({_BENFORD_CASE})) / ({_BENFORD_CASE})"
        ).alias("chisq_term"),
    )


register_sql(
    "q_gini_concentration",
    oracle="""
    WITH spend AS (
      SELECT c_nationkey AS nationkey, o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey, o_custkey
    ),
    ranked AS (
      SELECT nationkey, cents,
             CAST(row_number() OVER (PARTITION BY nationkey
                                     ORDER BY cents, o_custkey) AS BIGINT) AS i
      FROM spend
    ),
    m AS (
      SELECT nationkey,
             CAST(count(*) AS BIGINT) AS n,
             sum(CAST(cents AS DECIMAL(18,0))) AS ss,
             sum(CAST(i AS DECIMAL(18,0)) * CAST(cents AS DECIMAL(18,0))) AS sis
      FROM ranked GROUP BY nationkey
    )
    SELECT nationkey, n,
           (2.0 * CAST(sis AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) * CAST(ss AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)) AS gini
    FROM m
    """,
    doc="Gini coefficient of customer-spend concentration per nation "
    "(how unequal is revenue across customers — the inequality/"
    "concentration primitive, same math as data-source token-share "
    "audits). Rank-weighted closed form G = (2*sum(i*x_i) - (n+1)*"
    "sum(x)) / (n*sum(x)) over EXACT integer cents with a deterministic "
    "total order (spend, then unique custkey), rank-weighted sums "
    "accumulated as decimal(38,0) (i*x products pass int64 around sf30), "
    "final division the only doubles. Shape: per-customer pre-aggregate "
    "(one shuffle on custkey), one rank window partitioned by nation, "
    "one moment agg — the shuffle after ranking carries 3 exact columns.",
)


# one-way ANOVA over milli-cent-quantized group means: group moments are
# exact decimals, the quantized mean keeps dev^2 inside bigint, and the
# SSB/SSW accumulations are single decimal products — order-insensitive
# at any parallelism; only the final F divides to double
_ANOVA_SQL = """
    WITH x AS (
      SELECT c_nationkey AS g,
             CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS v
      FROM customer
    ),
    m AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s,
             CAST(sum(CAST(v * v AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss
      FROM x GROUP BY g
    ),
    mq AS (
      SELECT g, n, s, ss,
             CAST(floor(CAST(s AS DOUBLE) * 1000.0 / CAST(n AS DOUBLE)) AS BIGINT) AS mu_q,
             CAST(count(*) OVER () AS BIGINT) AS k,
             CAST(sum(n) OVER () AS BIGINT) AS ntot,
             CAST(sum(s) OVER () AS DECIMAL(38,0)) AS stot
      FROM m
    ),
    g2 AS (
      SELECT g, n, ss, mu_q, k, ntot,
             CAST(floor(CAST(stot AS DOUBLE) * 1000.0 / CAST(ntot AS DOUBLE)) AS BIGINT) AS mu_all_q
      FROM mq
    ),
    parts AS (
      SELECT k, ntot,
             CAST(sum(CAST(n AS DECIMAL(38,0))
                      * ((mu_q - mu_all_q) * (mu_q - mu_all_q))) AS DECIMAL(38,0)) AS ssb_q,
             CAST(sum(CAST(ss AS DECIMAL(38,0)) * 1000000
                      - CAST(n AS DECIMAL(38,0)) * (mu_q * mu_q)) AS DECIMAL(38,0)) AS ssw_q
      FROM g2 GROUP BY k, ntot
    )
    SELECT k AS n_groups, ntot AS n_rows,
           CAST(ssb_q AS DOUBLE) / 1000000.0 AS ss_between_cents2,
           CAST(ssw_q AS DOUBLE) / 1000000.0 AS ss_within_cents2,
           (CAST(ssb_q AS DOUBLE) / CAST(k - 1 AS DOUBLE))
             / (CAST(ssw_q AS DOUBLE) / CAST(ntot - k AS DOUBLE)) AS f_stat
    FROM parts
"""


register_sql(
    "q_stats_anova_oneway",
    oracle=_ANOVA_SQL,
    doc="One-way ANOVA F-statistic of customer account balance (cents) "
    "across nations — the k-group generalization of the Welch A/B "
    "primitive (does a partition/source assignment explain variance?). "
    "All accumulation is EXACT: per-group n / sum / sum-of-squares ride "
    "one hash-agg as decimal(38,0); the group mean is quantized to "
    "milli-cents with an IEEE-identical floor expression so every "
    "squared deviation is a bigint and SSB = sum(n*dev^2) / SSW = "
    "sum(ss*1e6 - n*mu^2) are single decimal products per group — "
    "order-insensitive at any parallelism (quantization bias ~1e-9 "
    "relative, identical on both engines). Only the final F divides to "
    "double via shared expression text. Shape: one map-side-combined "
    "hash-agg to k moment rows, then O(k) arithmetic; the shuffle "
    "carries 3 numbers per nation at 100 TB.",
)


# Pearson autocorrelation of the daily-revenue series at lags 1 and 7,
# from exact integer/decimal moments over lag pairs
_ACF_R = (
    "(CAST(n{L} AS DOUBLE) * CAST(sxy{L} AS DOUBLE)"
    " - CAST(sx{L} AS DOUBLE) * CAST(sy{L} AS DOUBLE))"
    " / sqrt((CAST(n{L} AS DOUBLE) * CAST(sxx{L} AS DOUBLE)"
    "         - CAST(sx{L} AS DOUBLE) * CAST(sx{L} AS DOUBLE))"
    "        * (CAST(n{L} AS DOUBLE) * CAST(syy{L} AS DOUBLE)"
    "           - CAST(sy{L} AS DOUBLE) * CAST(sy{L} AS DOUBLE)))"
)

_ACF_SQL = f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM orders GROUP BY o_orderdate
    ),
    lagged AS (
      SELECT v AS x,
             lag(v, 1) OVER (ORDER BY d) AS y1,
             lag(v, 7) OVER (ORDER BY d) AS y7
      FROM daily
    ),
    m AS (
      SELECT
        CAST(count(y1) AS BIGINT) AS n1,
        CAST(sum(CASE WHEN y1 IS NOT NULL THEN CAST(x AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS sx1,
        CAST(sum(CAST(y1 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy1,
        CAST(sum(CAST(x AS DECIMAL(19,0)) * y1) AS DECIMAL(38,0)) AS sxy1,
        CAST(sum(CASE WHEN y1 IS NOT NULL THEN CAST(x AS DECIMAL(19,0)) * x END) AS DECIMAL(38,0)) AS sxx1,
        CAST(sum(CAST(y1 AS DECIMAL(19,0)) * y1) AS DECIMAL(38,0)) AS syy1,
        CAST(count(y7) AS BIGINT) AS n7,
        CAST(sum(CASE WHEN y7 IS NOT NULL THEN CAST(x AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS sx7,
        CAST(sum(CAST(y7 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy7,
        CAST(sum(CAST(x AS DECIMAL(19,0)) * y7) AS DECIMAL(38,0)) AS sxy7,
        CAST(sum(CASE WHEN y7 IS NOT NULL THEN CAST(x AS DECIMAL(19,0)) * x END) AS DECIMAL(38,0)) AS sxx7,
        CAST(sum(CAST(y7 AS DECIMAL(19,0)) * y7) AS DECIMAL(38,0)) AS syy7
      FROM lagged
    )
    SELECT n1 AS n_pairs_lag1, n7 AS n_pairs_lag7,
           {_ACF_R.format(L=1)} AS acf_lag1,
           {_ACF_R.format(L=7)} AS acf_lag7
    FROM m
"""


register_sql(
    "q_stats_autocorr",
    oracle=_ACF_SQL,
    doc="Autocorrelation of the daily order-revenue series at lags 1 and "
    "7 (the seasonality/persistence diagnostic a forecasting feature "
    "pipeline computes before choosing lag features): daily totals are "
    "exact cents (one date-keyed hash-agg), the lag alignment is one "
    "window over the DAILY table — whose row count is bounded by the "
    "calendar, not the fact table, so the single-partition sort is "
    "O(days) at any SF — and the Pearson moments per lag accumulate as "
    "exact decimals (row-level products in decimal(19,0)x bigint, so "
    "day totals up to ~1e13 cents at 100 TB stay exact). r derives from "
    "identical exact moments via shared expression text; sqrt is "
    "IEEE-correctly-rounded on both engines.",
)


# trimmed mean: drop the exact top/bottom 5% by deterministic rank
_TRIM_SQL = """
    WITH x AS (
      SELECT o_orderpriority AS grp, o_orderkey,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    ranked AS (
      SELECT grp, cents,
             CAST(row_number() OVER (PARTITION BY grp ORDER BY cents, o_orderkey)
                  AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS n
      FROM x
    ),
    kept AS (
      SELECT grp, cents, n,
             CAST(floor(CAST(n AS DOUBLE) * 0.05) AS BIGINT) AS cut
      FROM ranked
      WHERE rn > CAST(floor(CAST(n AS DOUBLE) * 0.05) AS BIGINT)
        AND rn <= n - CAST(floor(CAST(n AS DOUBLE) * 0.05) AS BIGINT)
    )
    SELECT grp AS o_orderpriority,
           max(n) AS n_rows,
           max(cut) AS n_trimmed_each_side,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS trimmed_mean_cents
    FROM kept GROUP BY grp
"""


register_sql(
    "q_stats_trimmed_mean",
    oracle=_TRIM_SQL,
    doc="5% trimmed mean of order value per priority — the robust "
    "location estimate a metrics pipeline reports when heavy tails "
    "make the plain mean jumpy (the practical sibling of the exact "
    "median/MAD rungs). The trim boundary is an EXACT deterministic "
    "rank (row_number over value with the unique key as tie-break; "
    "cut = floor(n * 0.05) computed by an IEEE-identical expression), "
    "so both engines drop precisely the same rows, and the kept-row "
    "mean divides an exact decimal cent sum. Shape: one rank window "
    "per priority partition plus one hash-agg — the same partition "
    "sort the exact-percentile family already pays; at extreme group "
    "sizes the trim fences graduate to the quantile-sketch tier like "
    "percentile_cont does.",
)


# Theil-Sen robust trend: median of pairwise slopes over the daily series.
# The median rank index and interpolation are spelled once and shared by
# both engines so the derived doubles are IEEE-identical (same contract
# as q_percentile_cont); the daily CTE is the only dialect-split text
# (Spark datediff(end, start) vs DuckDB datediff('day', start, end)).
_THEIL_R = "((CAST(n AS DOUBLE) - 1.0) * 0.5)"
_THEIL_MED = f"(lo + ({_THEIL_R} - floor({_THEIL_R})) * (coalesce(hi, lo) - lo))"
_THEIL_DAILY_SPARK = """
      SELECT datediff(o_orderdate, DATE '1995-01-01') AS x,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
"""
_THEIL_DAILY_DUCK = """
      SELECT datediff('day', DATE '1995-01-01', o_orderdate) AS x,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
"""
_THEIL_BODY = f"""
    WITH daily AS ({{daily}}),
    pairs AS (
      SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
      FROM daily a JOIN daily b ON a.x < b.x
    ),
    ranked AS (
      SELECT slope,
             CAST(row_number() OVER (ORDER BY slope) AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM pairs
    ),
    slope_med AS (
      SELECT n AS n_pairs, {_THEIL_MED} AS slope
      FROM (
        SELECT n,
               min(CASE WHEN rn = CAST(floor({_THEIL_R}) AS BIGINT) + 1
                        THEN slope END) AS lo,
               min(CASE WHEN rn = CAST(ceil({_THEIL_R}) AS BIGINT) + 1
                        THEN slope END) AS hi
        FROM ranked GROUP BY n
      ) t
    ),
    resid AS (
      SELECT CAST(d.y AS DOUBLE) - s.slope * CAST(d.x AS DOUBLE) AS r0,
             s.slope, s.n_pairs
      FROM daily d CROSS JOIN slope_med s
    ),
    ranked2 AS (
      SELECT r0, slope, n_pairs,
             CAST(row_number() OVER (ORDER BY r0) AS BIGINT) AS rn,
             CAST(count(*) OVER () AS BIGINT) AS n
      FROM resid
    )
    SELECT n AS n_days, n_pairs, slope AS slope_cents_per_day,
           {_THEIL_MED} AS intercept_cents
    FROM (
      SELECT n, n_pairs, slope,
             min(CASE WHEN rn = CAST(floor({_THEIL_R}) AS BIGINT) + 1
                      THEN r0 END) AS lo,
             min(CASE WHEN rn = CAST(ceil({_THEIL_R}) AS BIGINT) + 1
                      THEN r0 END) AS hi
      FROM ranked2 GROUP BY n, n_pairs, slope
    ) t
"""


@register(
    "q_stats_theil_sen",
    oracle=_THEIL_BODY.format(daily=_THEIL_DAILY_DUCK),
    doc="Theil-Sen robust trend of daily order revenue (cents/day): the "
    "median of all pairwise slopes, plus the median-residual intercept "
    "- the breakdown-resistant sibling of q_stats_linreg the same way "
    "q_ts_moving_median backs the moving average (one wild day cannot "
    "drag the fit). Medians are EXACT via the deterministic "
    "rank-and-pick pattern (row_number over the slope, conditional MIN "
    "at floor/ceil of (n-1)*0.5, interpolation from identical doubles "
    "via shared expression text - engine-native quantiles never "
    "cross the comparison). Shape: the only fact-scale work is the "
    "date-keyed daily hash-agg (one map-side-combined shuffle); the "
    "O(days^2) pair enumeration and its sort ride the CALENDAR-bounded "
    "daily table - ~2.4k days -> ~3M pairs at ANY corpus size, so the "
    "cost is a constant, not a function of SF. Per-pair slope doubles "
    "divide exact integer diffs, so both engines rank identical "
    "values.",
)
def q_stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_THEIL_BODY.format(daily=_THEIL_DAILY_SPARK))


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) — the nonparametric sibling of Welch's t.
# Rank arithmetic runs on the distinct-cents CELL table (the KS-test
# discipline): tie-averaged ranks come from cumulative counts, doubled
# so every intermediate stays an exact integer (avg rank of a tie run
# is half-integral).
_MWU_VAR = (
    "((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)"
    " * ((CAST(n1 + n2 AS DOUBLE) + 1.0)"
    "    - CAST(tie3 AS DOUBLE)"
    "      / (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1.0))))"
)
_MWU_U1 = "(CAST(r1x2 AS DOUBLE) / 2.0 - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1.0) / 2.0)"
_MWU_Z = (
    f"(({_MWU_U1} - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)"
    f" / sqrt({_MWU_VAR}))"
)

_MWU_SQL = f"""
    WITH cells AS (
      SELECT CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS v,
             CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM lineitem WHERE l_returnflag IN ('A', 'R')
      GROUP BY 1
    ),
    cum AS (
      SELECT v, c1, c2, c1 + c2 AS t,
             CAST(sum(c1 + c2) OVER (ORDER BY v) AS BIGINT) - (c1 + c2) AS nbefore
      FROM cells
    ),
    m AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2,
             CAST(sum(CAST(c1 AS DECIMAL(18,0))
                      * CAST(2 * nbefore + t + 1 AS DECIMAL(18,0)))
                  AS DECIMAL(38,0)) AS r1x2,
             CAST(sum(CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0))
                      * CAST(t AS DECIMAL(12,0)) - t)
                  AS DECIMAL(38,0)) AS tie3
      FROM cum
    )
    SELECT n1, n2,
           {_MWU_U1} AS u1,
           {_MWU_Z} AS z_stat
    FROM m
"""


@register(
    "q_stats_mann_whitney",
    oracle=_MWU_SQL,
    doc="Mann-Whitney U rank-sum test between the returned (A) and "
    "refused (R) extended-price distributions — the nonparametric "
    "location test a curation pipeline reaches for when Welch's t is "
    "invalidated by heavy tails. EXACT integer rank arithmetic on the "
    "distinct-cents cell table (the q_stats_ks_test discipline): the "
    "tie-averaged rank of a run is half-integral, so the group-1 rank "
    "sum is carried DOUBLED (2*sum(rank) = sum(c1*(2*before+t+1)) — "
    "pure bigint/decimal), the tie-correction term sum(t^3-t) "
    "accumulates as DECIMAL(38,0) (t^3 passes int64 once a single "
    "price cell holds >2M rows), and U and the tie-corrected normal "
    "z-statistic are derived doubles from identical exact inputs via "
    "shared expression text. Shape: one hash-agg to the "
    "price-domain-bounded cell table, one single-partition window "
    "cumsum over it, one 4-column moment row out — the fact scan "
    "never shuffles more than the cell table at any SF.",
)
def q_stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_MWU_SQL)


# ---------------------------------------------------------------------------
# Kendall tau-b — the concordance-based rank correlation (vs Spearman's
# rho over ranks): exact pair counts over the calendar-bounded daily
# series, tie-corrected denominator, derived-double statistic.
_TAU_B = (
    "((CAST(n_concordant AS DOUBLE) - CAST(n_discordant AS DOUBLE))"
    " / sqrt((CAST(n_pairs AS DOUBLE) - CAST(ties_x AS DOUBLE))"
    "        * (CAST(n_pairs AS DOUBLE) - CAST(ties_y AS DOUBLE))))"
)

_KENDALL_SQL = f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS y,
             CAST(count(*) AS BIGINT) AS m
      FROM orders GROUP BY o_orderdate
    ),
    p AS (
      SELECT CASE WHEN (a.y < b.y AND a.m < b.m)
                    OR (a.y > b.y AND a.m > b.m) THEN 1 ELSE 0 END AS conc,
             CASE WHEN (a.y < b.y AND a.m > b.m)
                    OR (a.y > b.y AND a.m < b.m) THEN 1 ELSE 0 END AS disc,
             CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.m = b.m THEN 1 ELSE 0 END AS ty
      FROM daily a JOIN daily b ON a.d < b.d
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(conc) AS BIGINT) AS n_concordant,
             CAST(sum(disc) AS BIGINT) AS n_discordant,
             CAST(sum(tx) AS BIGINT) AS ties_x,
             CAST(sum(ty) AS BIGINT) AS ties_y
      FROM p
    )
    SELECT n_pairs, n_concordant, n_discordant, ties_x, ties_y,
           {_TAU_B} AS tau_b
    FROM m
"""


register_sql(
    "q_stats_kendall_tau",
    oracle=_KENDALL_SQL,
    doc="Kendall tau-b rank correlation between daily revenue and daily "
    "order count — the concordance-counting complement to "
    "q_stats_spearman (tau is the probability-of-agreement statistic; "
    "rho is rank-Pearson), robust to monotone transformations and the "
    "standard drift check between two operational series. Every pair "
    "of days is classified concordant / discordant / tied by EXACT "
    "integer comparisons, the tie-corrected tau-b denominator uses "
    "exact pair counts, and only the final statistic divides to "
    "double via shared expression text (sqrt is correctly rounded on "
    "both engines). Shape: the fact table reduces to the "
    "CALENDAR-bounded daily series in one map-side-combined hash-agg; "
    "the O(days^2) pair classification (~3M comparisons at ANY corpus "
    "size — a constant, not a function of SF) rides the q_stats_theil_sen "
    "self-join discipline and collapses to a single 5-integer row.",
)


# ---------------------------------------------------------------------------
# Brown-Forsythe (median-based Levene) homogeneity-of-variance test:
# the gatekeeper run BEFORE trusting ANOVA's equal-variance assumption.
# The five TPC-H priorities are pivoted into ONE moment row so the
# 5-term between/within sums are spelled in FIXED textual order — a
# bare sum() over the 5-row group table would fold doubles in
# engine-dependent order (the Welch-test discipline, extended to k=5).
_BF_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

def _bf_pivot() -> str:
    cols = []
    for i, p in enumerate(_BF_PRIOS, start=1):
        cols.append(f"CAST(sum(CASE WHEN g = '{p}' THEN n END) AS BIGINT) AS n{i}")
        cols.append(f"CAST(sum(CASE WHEN g = '{p}' THEN sz END) AS DECIMAL(38,0)) AS sz{i}")
        cols.append(f"CAST(sum(CASE WHEN g = '{p}' THEN qz END) AS DECIMAL(38,0)) AS qz{i}")
    return ",\n             ".join(cols)

#: Σ sz_j as exact decimal (order-insensitive), then every double
#: expression folds its 5 terms left-to-right in priority order on
#: both engines via identical expression text
_BF_N = "(n1 + n2 + n3 + n4 + n5)"
_BF_SZT = "CAST(sz1 + sz2 + sz3 + sz4 + sz5 AS DOUBLE)"
_BF_SB = " + ".join(
    f"CAST(sz{i} AS DOUBLE) * CAST(sz{i} AS DOUBLE) / CAST(n{i} AS DOUBLE)"
    for i in range(1, 6)
)
_BF_SSB = f"(({_BF_SB}) - ({_BF_SZT}) * ({_BF_SZT}) / CAST({_BF_N} AS DOUBLE))"
_BF_SSW = "(" + " + ".join(
    f"(CAST(qz{i} AS DOUBLE)"
    f" - CAST(sz{i} AS DOUBLE) * CAST(sz{i} AS DOUBLE) / CAST(n{i} AS DOUBLE))"
    for i in range(1, 6)
) + ")"
_BF_F = (
    f"((CAST({_BF_N} - 5 AS DOUBLE) / 4.0)"
    f" * ({_BF_SSB} / {_BF_SSW}))"
)

#: the cell table feeds BOTH the median pick and the deviation
#: moments; as one SQL statement Catalyst inlines it per reference and
#: the FACT TABLE is scanned 4x (measured) — so the shared tail is
#: templated over the cell source: the oracle inlines the cells CTE,
#: the Spark side persists the cell DataFrame and references the view
#: (the q_graph_assortativity discipline)
_BF_CELLS = """
      SELECT o_orderpriority AS g,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v,
             CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1, 2
"""

_BF_TAIL = f"""
    cum AS (
      SELECT g, v, cnt,
             CAST(sum(cnt) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cm,
             CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
      FROM cells
    ),
    med AS (
      SELECT g, min(v) AS med
      FROM cum
      WHERE cm >= CAST(floor((CAST(n AS DOUBLE) + 1.0) / 2.0) AS BIGINT)
      GROUP BY g
    ),
    zm AS (
      SELECT c.g,
             CAST(sum(c.cnt) AS BIGINT) AS n,
             CAST(sum(CAST(c.cnt AS DECIMAL(18,0))
                      * CAST(abs(c.v - m.med) AS DECIMAL(18,0)))
                  AS DECIMAL(38,0)) AS sz,
             CAST(sum(CAST(c.cnt AS DECIMAL(12,0))
                      * CAST(abs(c.v - m.med) AS DECIMAL(12,0))
                      * CAST(abs(c.v - m.med) AS DECIMAL(12,0)))
                  AS DECIMAL(38,0)) AS qz
      FROM cells c JOIN med m ON c.g = m.g
      GROUP BY c.g
    ),
    piv AS (
      SELECT {_bf_pivot()}
      FROM zm
    )
    SELECT CAST(5 AS BIGINT) AS k_groups,
           CAST({_BF_N} AS BIGINT) AS n_total,
           {_BF_F} AS bf_f
    FROM piv
"""

_BF_SQL = f"""
    WITH cells AS ({_BF_CELLS}),
{_BF_TAIL}"""


register_sql(
    "q_stats_levene_bf",
    oracle=_BF_SQL,
    doc="Brown-Forsythe test (median-based Levene) for homogeneity of "
    "variance of order value across the five order priorities — the "
    "assumption gate a pipeline runs BEFORE trusting q_stats_anova_oneway "
    "(classic ANOVA is anti-robust to unequal spread). Group medians "
    "are EXACT low-medians picked by cumulative count on the "
    "(priority x distinct-cents) CELL table — no engine-native "
    "quantile ever crosses the comparison — absolute deviations from "
    "the median are exact integers, and their per-group sum / "
    "sum-of-squares accumulate as DECIMAL(38,0) (|dev|^2 sums pass "
    "int64 near 1e6-cent spreads x billions of rows). The five groups "
    "then PIVOT into one moment row on the literal priority values so "
    "the between/within sums of squares are spelled as explicit "
    "5-term double expressions in fixed textual order — a bare sum() "
    "over the group table would fold doubles in engine-dependent "
    "order and break the hash (the Welch-test discipline at k=5). "
    "Shape: one fact-scale hash-agg to the cell table, per-group "
    "window cumsums over it (price-domain-bounded), a 5-row moment "
    "pivot — nothing wider than the cell table ever shuffles.",
)


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank — the PAIRED nonparametric test (vs Mann-Whitney's
# independent two-sample U): daily revenue against its 7-day seasonal
# lag. Zero differences drop (standard Wilcoxon), |diff| ranks come
# from the same doubled-rank cell arithmetic as q_stats_mann_whitney,
# and the tie-corrected normal approximation derives from exact
# integer/decimal moments via shared expression text.
_WSR_VAR = (
    "((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)"
    " * (2.0 * CAST(n AS DOUBLE) + 1.0)) / 24.0"
    " - CAST(tie3 AS DOUBLE) / 48.0)"
)
_WSR_WPLUS = "(CAST(wp2 AS DOUBLE) / 2.0)"
_WSR_Z = (
    f"(({_WSR_WPLUS} - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)"
    f" / sqrt({_WSR_VAR}))"
)

_WSR_SQL = f"""
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS y,
             CAST(row_number() OVER (ORDER BY o_orderdate) AS BIGINT) AS rn
      FROM orders GROUP BY o_orderdate
    ),
    paired AS (
      SELECT a.y - b.y AS diff
      FROM daily a JOIN daily b ON a.rn = b.rn + 7
    ),
    nz AS (SELECT diff, abs(diff) AS ad FROM paired WHERE diff <> 0),
    cells AS (
      SELECT ad,
             CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
             CAST(count(*) AS BIGINT) AS t
      FROM nz GROUP BY ad
    ),
    cum AS (
      SELECT ad, cpos, t,
             CAST(sum(t) OVER (ORDER BY ad) AS BIGINT) - t AS nbefore
      FROM cells
    ),
    m AS (
      SELECT CAST(sum(t) AS BIGINT) AS n,
             CAST(sum(CAST(cpos AS DECIMAL(18,0))
                      * CAST(2 * nbefore + t + 1 AS DECIMAL(18,0)))
                  AS DECIMAL(38,0)) AS wp2,
             CAST(sum(CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0))
                      * CAST(t AS DECIMAL(12,0)) - t)
                  AS DECIMAL(38,0)) AS tie3
      FROM cum
    )
    SELECT n AS n_nonzero_pairs,
           {_WSR_WPLUS} AS w_plus,
           {_WSR_Z} AS z_stat
    FROM m
"""


register_sql(
    "q_stats_wilcoxon_signed_rank",
    oracle=_WSR_SQL,
    doc="Wilcoxon signed-rank test of daily revenue against its 7-day "
    "seasonal lag — the PAIRED nonparametric drift check (Mann-Whitney "
    "handles independent samples; this one asks whether this week "
    "systematically beats last week on matched days, robust to heavy "
    "tails where the paired t-test is not). Pairing rides the "
    "calendar-bounded daily table via an exact row_number self-join "
    "(the q_stats_theil_sen discipline); zero differences drop per "
    "the standard definition; |diff| ranks use the DOUBLED "
    "tie-averaged rank arithmetic of q_stats_mann_whitney (2*W+ = "
    "sum(cpos*(2*before+t+1)) — pure bigint/decimal, no float ranks); "
    "and W+ plus the tie-corrected z derive from identical exact "
    "inputs via shared expression text. Shape: one date-keyed "
    "map-side-combined hash-agg at fact scale, then every window, "
    "join, and cell agg runs on the O(days) table — constant work at "
    "ANY corpus size.",
)


# ---------------------------------------------------------------------------
# Cramér's V (r7) — the effect size on top of q_stats_chisq: the test
# says priority x status are dependent, V says HOW dependent on a
# [0, 1] scale that survives growing n (chi-square itself scales with
# n, so at 100 TB every test is "significant" and only the effect size
# carries information). The total chi-square is an order-dependent
# double sum, so each cell's term is quantized to exact micro-units
# (floor(term * 1e6 + 0.5), shared text) and summed as integers —
# order-free, bit-exact, 1e-6 quantization far below the effect-size
# resolution anyone acts on.


register_sql(
    "q_stats_cramers_v",
    oracle=f"""
    WITH cells AS (
      SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS obs
      FROM orders GROUP BY o_orderpriority, o_orderstatus
    ),
    marg AS (
      SELECT o_orderpriority, o_orderstatus, obs,
             CAST(sum(obs) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS row_tot,
             CAST(sum(obs) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS col_tot,
             CAST(sum(obs) OVER () AS BIGINT) AS grand
      FROM cells
    ),
    terms AS (
      SELECT grand,
             CAST(floor(({_CHISQ_TERM}) * 1000000.0 + 0.5) AS BIGINT) AS term_u,
             o_orderpriority, o_orderstatus
      FROM marg
    ),
    agg AS (
      SELECT CAST(max(grand) AS BIGINT) AS n,
             CAST(sum(term_u) AS BIGINT) AS chi2_u,
             CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS r,
             CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS c
      FROM terms
    )
    SELECT n, chi2_u, r, c,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           CAST(chi2_u AS DOUBLE) / 1000000.0 AS chi2,
           sqrt(CAST(chi2_u AS DOUBLE) / 1000000.0
                / (CAST(n AS DOUBLE)
                   * CAST(CASE WHEN r < c THEN r - 1 ELSE c - 1 END AS DOUBLE)))
             AS cramers_v
    FROM agg
    """,
    doc="Cramér's V effect size for the priority x status contingency "
    "table — the scale-invariant companion to q_stats_chisq (at 100 TB "
    "n makes every chi-square 'significant'; V = sqrt(chi2 / (n * "
    "min(r-1, c-1))) is what actually carries information). Per-cell "
    "chi-square terms quantize to exact micro-units through the shared "
    "floor(x*1e6+0.5) before the total sum, so the statistic is an "
    "integer sum (order-free, bit-exact across engines) instead of an "
    "engine-ordered double accumulation; r/c come from exact distinct "
    "counts over the cell table. Shape: identical to q_stats_chisq — "
    "one map-side-combined cell agg is the only fact-scale work, "
    "everything downstream is O(15) rows.",
)


# ---------------------------------------------------------------------------
# Exact distributed quantiles (r12) — the two-phase histogram selection
# generalized out of the CCNet family into a standalone relational
# operator (operators/selection.py). Spark's built-in is
# percentile_approx (a GK sketch: approximate AND engine-specific); the
# naive exact form sorts each group's whole corpus slice in one task.


@register(
    "q_quantiles_exact",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders)
    SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                    THEN o_totalprice END) AS q1,
           max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                    THEN o_orderkey END) AS q1_key,
           max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT)
                    THEN o_totalprice END) AS q2,
           max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT)
                    THEN o_orderkey END) AS q2_key,
           max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT)
                    THEN o_totalprice END) AS q3,
           max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT)
                    THEN o_orderkey END) AS q3_key
    FROM ranked GROUP BY o_orderpriority
    """,
    doc="EXACT per-group order statistics (p50/p90/p99 of order value "
    "per priority class) WITHOUT a per-group sort: Spark only ships "
    "percentile_approx (GK sketch — approximate and engine-specific), "
    "and the naive exact plan windows over a constant-cardinality "
    "group key (5 priorities x the whole corpus through 5 sort tasks "
    "at 100 TB). This rung runs operators/selection.py's two-phase "
    "distributed selection — the CCNet threshold machinery "
    "generalized: ONE map-side-combined (group, milli-log-bin) "
    "histogram, rank location over the O(groups x ~13k-bin) "
    "histogram, then a boundary-bin-only rescan resolves each exact "
    "k-th smallest (value, key) pair, k = ceil(q x n). Quantiles are "
    "defined by RANK (the discrete lower-quantile convention), so the "
    "DuckDB oracle takes its free per-group sort and agrees "
    "bit-for-bit — binning exactness needs only monotonicity, never "
    "cross-engine libm agreement. The selected keys make the result "
    "auditable: q3_key IS the order sitting at p99, the row a "
    "latency/cost investigation opens first.",
)
def q_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from azurestorage_blueprints_spark.operators.selection import (
        exact_group_quantiles,
    )

    o = table(spark, sf_dir, "orders")
    ks = [
        lambda n: F.ceil(n * F.lit(0.5)).cast("bigint"),
        lambda n: F.ceil(n * F.lit(0.9)).cast("bigint"),
        lambda n: F.ceil(n * F.lit(0.99)).cast("bigint"),
    ]
    return exact_group_quantiles(
        o, "o_orderpriority", "o_totalprice", "o_orderkey", ks
    )


@register(
    "q_quantiles_global",
    oracle="""
    WITH ranked AS (
      SELECT l_extendedprice,
             l_orderkey * 8 + l_linenumber AS line_key,
             row_number() OVER (ORDER BY l_extendedprice,
                                l_orderkey * 8 + l_linenumber) AS rn,
             count(*) OVER () AS n
      FROM lineitem)
    SELECT 'all' AS scope, CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                    THEN l_extendedprice END) AS q1,
           max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                    THEN line_key END) AS q1_key,
           max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT)
                    THEN l_extendedprice END) AS q2,
           max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT)
                    THEN line_key END) AS q2_key,
           max(CASE WHEN rn = CAST(ceil(n * 0.999) AS BIGINT)
                    THEN l_extendedprice END) AS q3,
           max(CASE WHEN rn = CAST(ceil(n * 0.999) AS BIGINT)
                    THEN line_key END) AS q3_key
    FROM ranked
    """,
    doc="GLOBAL exact p50/p99/p999 over the fact table — the DEGENERATE "
    "single-group case of q_quantiles_exact, which is exactly where "
    "the naive exact plan is worst: an ungrouped rank window puts the "
    "ENTIRE corpus through one sort task (Spark plans a "
    "single-partition Window for an empty partitionBy — at 100 TB, "
    "one executor sorts 100 TB). The two-phase histogram selection "
    "(operators/selection.py) is indifferent: the corpus-scale work "
    "stays one map-side-combined histogram agg + a boundary-bin "
    "rescan, and the only windows ride the O(bins) histogram. The "
    "unique tiebreak is the composite line key (l_orderkey * 8 + "
    "l_linenumber, exact bigint on both engines); the DuckDB oracle "
    "takes its free global sort and agrees bit-for-bit. p999 with a "
    "witness key is the production ask this exists for: 'which line "
    "item sits at the revenue tail' without sorting the corpus.",
)
def q_quantiles_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    from azurestorage_blueprints_spark.operators.selection import (
        exact_group_quantiles,
    )

    li = table(spark, sf_dir, "lineitem").select(
        F.lit("all").alias("scope"),
        F.col("l_extendedprice"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber").cast("bigint")).alias(
            "line_key"
        ),
    )
    ks = [
        lambda n: F.ceil(n * F.lit(0.5)).cast("bigint"),
        lambda n: F.ceil(n * F.lit(0.99)).cast("bigint"),
        lambda n: F.ceil(n * F.lit(0.999)).cast("bigint"),
    ]
    return exact_group_quantiles(li, "scope", "l_extendedprice", "line_key", ks)


#: right-censoring horizon for the Kaplan-Meier rung: a user whose last
#: event falls within this many microseconds of the corpus's final
#: timestamp is still active (censored), not churned
_KM_HORIZON_US = 3 * 86_400_000_000


@register(
    "q_survival_km",
    oracle=f"""
    WITH subj AS (
      SELECT user_id, event_type,
             CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
             CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
      FROM events GROUP BY user_id, event_type),
    gm AS (SELECT CAST(max(last_us) AS BIGINT) AS gmax FROM subj),
    marked AS (
      SELECT (s.last_us - s.first_us) // 86400000000 AS t_days,
             CASE WHEN s.last_us < g.gmax - {_KM_HORIZON_US}
                  THEN 1 ELSE 0 END AS ev
      FROM subj s CROSS JOIN gm g),
    hist AS (
      SELECT t_days,
             CAST(sum(ev) AS BIGINT) AS d_events,
             CAST(sum(1 - ev) AS BIGINT) AS c_censored
      FROM marked GROUP BY t_days),
    cum AS (
      SELECT t_days, d_events, c_censored,
             CAST((SELECT count(*) FROM marked)
               - sum(d_events + c_censored)
                   OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
               + (d_events + c_censored) AS BIGINT) AS n_risk
      FROM hist),
    terms AS (
      SELECT t_days, n_risk, d_events, c_censored,
             CAST(((n_risk - d_events) * 1000000) // n_risk AS BIGINT)
               AS factor_micro,
             CASE WHEN d_events = 0 THEN CAST(0 AS BIGINT)
                  WHEN n_risk > d_events THEN
                    CAST(round(ln(CAST(n_risk - d_events AS DOUBLE)
                                  / CAST(n_risk AS DOUBLE)) * 1000000.0)
                         AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS lnq,
             CASE WHEN n_risk = d_events THEN 1 ELSE 0 END AS dies_out
      FROM cum),
    km AS (
      SELECT t_days, n_risk, d_events, c_censored, factor_micro,
             CAST(sum(lnq) OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_lnq,
             max(dies_out) OVER (ORDER BY t_days ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) AS zeroed
      FROM terms)
    SELECT t_days, n_risk, d_events, c_censored, factor_micro,
           CAST(CASE WHEN zeroed = 1 THEN 0 ELSE
             round(exp(CAST(cum_lnq AS DOUBLE) / 1000000.0) * 1000000.0)
           END AS BIGINT) AS surv_micro
    FROM km ORDER BY t_days
    """,
    doc="Kaplan-Meier survival estimate over user lifetimes with "
    "right-censoring — the churn/retention analysis q_cohort_retention "
    "approximates without censoring handling: subjects are (user, "
    "event_type) engagement streams, lifetime = whole days between "
    "the stream's first and last event; streams whose last event "
    "falls within 3 days of the corpus's final timestamp are CENSORED "
    "(still active — treating them as churned biases survival down, "
    "the classic mistake). S(t) = prod_(t_j <= t) (1 - d_j/n_j) with "
    "the risk set n_j = subjects with lifetime >= t_j (censored "
    "included until their censoring time). Exactness: the KM table is "
    "an O(distinct lifetimes) HISTOGRAM — risk sets via one exact "
    "cumulative int sum over it — and the cumulative product rides "
    "micro-quantized ln factors (exact bigint cumsum, order-free) "
    "with ONE shared-expression exp at the end; n_j = d_j (everyone "
    "at risk dies) pins survival to exactly 0 via the cumulative "
    "dies-out flag instead of ln(0). Shape (100 TB): one "
    "map-side-combined per-user agg (first/last), one O(1) horizon "
    "broadcast, one hash-agg onto the day histogram; ALL windows run "
    "over the O(bins) histogram (~lifetime-days cardinality), never "
    "the corpus — the _ppl_thresholds discipline.",
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = table(spark, sf_dir, "events")
    epoch_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    subj = ev.groupBy("user_id", "event_type").agg(
        F.min(epoch_us).cast("bigint").alias("first_us"),
        F.max(epoch_us).cast("bigint").alias("last_us"),
    )
    gm = subj.agg(F.max("last_us").cast("bigint").alias("gmax"))
    marked = subj.crossJoin(F.broadcast(gm)).select(
        F.expr("(last_us - first_us) div 86400000000").alias("t_days"),
        F.when(
            F.col("last_us") < F.col("gmax") - F.lit(_KM_HORIZON_US), 1
        )
        .otherwise(0)
        .alias("ev"),
    )
    hist = marked.groupBy("t_days").agg(
        F.sum("ev").cast("bigint").alias("d_events"),
        F.sum(1 - F.col("ev")).cast("bigint").alias("c_censored"),
    )
    n_total = marked.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    wcum = W.orderBy("t_days").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = hist.crossJoin(F.broadcast(n_total)).withColumn(
        "n_risk",
        F.col("n_total")
        - F.sum(F.col("d_events") + F.col("c_censored")).over(wcum)
        + (F.col("d_events") + F.col("c_censored")),
    )
    terms = cum.select(
        "t_days",
        "n_risk",
        "d_events",
        "c_censored",
        F.expr("((n_risk - d_events) * 1000000) div n_risk").alias(
            "factor_micro"
        ),
        F.expr(
            "CASE WHEN d_events = 0 THEN CAST(0 AS BIGINT)"
            " WHEN n_risk > d_events THEN"
            " CAST(round(ln(CAST(n_risk - d_events AS DOUBLE)"
            " / CAST(n_risk AS DOUBLE)) * 1000000.0) AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
        ).alias("lnq"),
        F.when(F.col("n_risk") == F.col("d_events"), 1).otherwise(0).alias(
            "dies_out"
        ),
    )
    km = terms.select(
        "t_days",
        "n_risk",
        "d_events",
        "c_censored",
        "factor_micro",
        F.sum("lnq").over(wcum).alias("cum_lnq"),
        F.max("dies_out").over(wcum).alias("zeroed"),
    )
    return km.select(
        "t_days",
        "n_risk",
        "d_events",
        "c_censored",
        "factor_micro",
        F.expr(
            "CAST(CASE WHEN zeroed = 1 THEN 0 ELSE"
            " round(exp(CAST(cum_lnq AS DOUBLE) / 1000000.0) * 1000000.0)"
            " END AS BIGINT)"
        ).alias("surv_micro"),
    ).orderBy("t_days")
