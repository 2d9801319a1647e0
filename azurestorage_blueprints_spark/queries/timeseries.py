"""Time-series / event-stream operators over the ``events`` table.

Batch forms of the streaming operator inventory: tumbling / sliding /
session windows (the same ``F.window`` / ``F.session_window``
expressions run under Structured Streaming — see
``azurestorage_blueprints_spark/streaming``), plus the custom
operators Spark lacks natively: as-of join, banded range join, and
gap-based sessionization — each a composition of relational
operators (no UDFs), with a DuckDB oracle.

Scale posture: every operator shuffles once on ``user_id`` (or the
window key) and computes per-partition; the as-of join is the
union-merge formulation (sort within user partitions, no per-row
lookups) which scales to billions of events as long as a single
user's history fits a partition — the same assumption Structured
Streaming state stores make.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.queries import register, register_sql
from azurestorage_blueprints_spark.tables import table

DEC = "decimal(12,2)"


@register(
    "q_ts_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    doc="Tumbling 15-minute window aggregation (F.window — identical expression "
    "works in Structured Streaming with a watermark).",
)
def q_ts_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("bucket"), "event_type", "n", "sum_value")
    )


@register(
    "q_ts_sliding_window",
    oracle="""
    WITH buckets AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) AS ws, value FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '15 minutes', ts) - INTERVAL '15 minutes' AS ws, value FROM events)
    SELECT ws AS window_start, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
    FROM buckets GROUP BY ws
    """,
    doc="Sliding window (30-minute length, 15-minute slide): each event lands in 2 "
    "overlapping windows (Catalyst expands F.window into a generator).",
)
def q_ts_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "30 minutes", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


register_sql(
    "q_ts_session_window",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events),
    sessions AS (
      SELECT user_id, ts,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked)
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
    doc="Session window (30-minute gap) by the lag/gap/cumulative-sum "
    "formulation, which yields the sessions F.session_window builds: a new "
    "session starts after a gap strictly longer than 30 minutes, and a "
    "session ends at its last event + gap.",
)


register_sql(
    "q_ts_sessionize_ids",
    oracle="""
    WITH marked AS (
      SELECT event_id, user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT event_id, user_id,
           CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
    FROM marked
    """,
    doc="Per-event session-ID assignment: lag-gap marker + running sum — the "
    "composition pattern for custom stateful operators in batch.",
)


@register(
    "q_ts_asof_join",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           c.ts AS last_click_ts, c.value AS last_click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="As-of join (Spark has no native one): union-merge formulation — tag both "
    "sides, sort within user partitions, carry the click state forward with "
    "last(..., ignorenulls). One shuffle on user_id; no per-row lookups. "
    "Equivalent to DuckDB's ASOF JOIN (inclusive match on ts).",
)
def q_ts_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
        F.lit(0).alias("kind"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("timestamp_ntz").alias("click_ts"),
        F.lit(None).cast("double").alias("click_value"),
        F.lit(1).alias("kind"),
    )
    # at equal ts the click sorts first (kind 0 < 1) → inclusive as-of match
    merged = clicks.unionByName(purchases)
    w = W.partitionBy("user_id").orderBy("ts", "kind").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        merged.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .withColumn("last_click_value", F.last("click_value", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select("event_id", "user_id", "ts", "last_click_ts", "last_click_value")
    )


register_sql(
    "q_ts_range_join",
    oracle="""
    SELECT a.user_id, count(*) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '10 minutes'
    GROUP BY a.user_id
    """,
    doc="Banded range join (event pairs within 10 minutes): user_id equality is the "
    "blocking key so the physical plan stays a hash join with a range residual, "
    "not a cartesian NLJ.",
)


@register(
    "q_ts_first_last_event",
    oracle="""
    SELECT user_id,
           min(ts) AS first_seen, max(ts) AS last_seen,
           -- elapsed whole seconds (Spark timestampdiff semantics), not
           -- duckdb's boundary-crossing datediff('second', ...)
           datediff('microsecond', min(ts), max(ts)) // 1000000 AS lifetime_seconds,
           count(*) AS n_events,
           count(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
    doc="Per-user activity span: min/max timestamps and lifetime — a single hash-agg.",
)
def q_ts_first_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.min("ts").alias("first_seen"),
            F.max("ts").alias("last_seen"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .withColumn(
            "lifetime_seconds",
            F.expr("timestampdiff(SECOND, first_seen, last_seen)"),
        )
        .select("user_id", "first_seen", "last_seen", "lifetime_seconds", "n_events", "n_types")
    )


@register(
    "q_ts_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(sum(CAST(value AS DECIMAL(12,2)))
                OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS trailing_sum,
           CAST(count(*)
                OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_trailing
    FROM events
    """,
    doc="Value-range window frame: per-user trailing 1-hour sum/count via "
    "RANGE BETWEEN on epoch microseconds — the frame every rate-limit / "
    "rolling-exposure computation needs, and a distinct physical feature "
    "from ROWS frames (peers enter by ordering value, not position). One "
    "shuffle on user_id, per-partition sort, exact decimal sums so frame "
    "evaluation order cannot perturb the double result. Epoch arithmetic "
    "is tz-independent (NTZ end-to-end).",
)
def q_ts_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    epoch_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    w = (
        W.partitionBy("user_id")
        .orderBy(epoch_us)
        .rangeBetween(-3_600_000_000, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("trailing_sum"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_trailing"),
    )


@register(
    "q_ts_asof_tolerance",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts,
           CASE WHEN c.ts IS NOT NULL AND p.ts - c.ts <= INTERVAL '30 minutes'
                THEN c.ts END AS click_ts_tol,
           CASE WHEN c.ts IS NOT NULL AND p.ts - c.ts <= INTERVAL '30 minutes'
                THEN c.value END AS click_value_tol,
           (c.ts IS NOT NULL AND p.ts - c.ts <= INTERVAL '30 minutes') AS matched
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="As-of join with a match tolerance (pandas merge_asof's `tolerance`): "
    "the most-recent click attributes a purchase only when it happened "
    "within the last 30 minutes; staler matches become NULL (stale "
    "attribution is usually worse than none). Same union-merge + "
    "carry-forward window as q_ts_asof_join — the tolerance is one extra "
    "codegen predicate after the carry, so the plan cost is identical: "
    "one shuffle on user_id, per-partition sort, no per-row lookups.",
)
def q_ts_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
        F.lit(0).alias("kind"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("timestamp_ntz").alias("click_ts"),
        F.lit(None).cast("double").alias("click_value"),
        F.lit(1).alias("kind"),
    )
    merged = clicks.unionByName(purchases)
    w = W.partitionBy("user_id").orderBy("ts", "kind").rowsBetween(W.unboundedPreceding, W.currentRow)
    in_tol = F.col("lct").isNotNull() & (
        F.col("ts") <= F.col("lct") + F.expr("INTERVAL 30 MINUTES")
    )
    return (
        merged.withColumn("lct", F.last("click_ts", ignorenulls=True).over(w))
        .withColumn("lcv", F.last("click_value", ignorenulls=True).over(w))
        .filter(F.col("kind") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(in_tol, F.col("lct")).alias("click_ts_tol"),
            F.when(in_tol, F.col("lcv")).alias("click_value_tol"),
            in_tol.alias("matched"),
        )
    )


@register(
    "q_ts_ewma",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id, value,
             list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS arr
      FROM events WHERE user_id % 50 = 0
    )
    SELECT user_id, event_id, value,
           list_reduce(list_prepend(0.0, arr), (acc, x) -> acc * 0.5 + x)
             / (CAST((1::BIGINT << len(arr)) - 1 AS DOUBLE)
                / CAST(1::BIGINT << (len(arr) - 1) AS DOUBLE)) AS ewma
    FROM s
    """,
    doc="Exponentially-weighted moving average (alpha = 1/2) over each "
    "user's last 8 values: the window collects the trailing frame in time "
    "order and a sequential fold halves the accumulator per step, so every "
    "weight is an exact power of two (multiplication by 0.5 is an exponent "
    "shift — no rounding) and the only rounding is the per-step add, "
    "performed in the identical order on both engines. The normalizer "
    "(2^n - 1) / 2^(n-1) is exact integer shift arithmetic. alpha = 1/2 is "
    "the one EWMA the IEEE grid makes bit-deterministic; other alphas ride "
    "the same plan shape. One shuffle on user_id; the frame is O(1) per row.",
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").filter(F.col("user_id") % 50 == 0)
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-7, 0)
    s = e.select(
        "user_id", "event_id", "value", F.collect_list("value").over(w).alias("arr")
    )
    num = F.aggregate("arr", F.lit(0.0), lambda acc, x: acc * F.lit(0.5) + x)
    den = F.expr(
        "CAST(shiftleft(1L, size(arr)) - 1 AS DOUBLE)"
        " / CAST(shiftleft(1L, size(arr) - 1) AS DOUBLE)"
    )
    return s.select("user_id", "event_id", "value", (num / den).alias("ewma"))


register_sql(
    "q_ts_zscore_anomaly",
    oracle="""
    WITH q AS (
      SELECT user_id, event_id, value,
             CAST(floor(value * 1000.0 + 0.5) AS BIGINT) AS v3, ts
      FROM events
    ),
    stats AS (
      SELECT user_id, event_id, value, v3,
             count(v3) OVER w AS n,
             CAST(sum(v3) OVER w AS BIGINT) AS s,
             CAST(sum(v3 * v3) OVER w AS BIGINT) AS q2
      FROM q
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 16 PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, value,
           CAST(v3 * n - s AS DOUBLE) / sqrt(CAST(n * q2 - s * s AS DOUBLE)) AS z
    FROM stats
    WHERE n >= 8 AND n * q2 - s * s > 0
      AND abs(CAST(v3 * n - s AS DOUBLE) / sqrt(CAST(n * q2 - s * s AS DOUBLE))) > 3.0
    """,
    doc="Trailing z-score anomaly detection: each event is scored against "
    "the mean/stddev of its user's previous 16 values (current row "
    "excluded). Values are quantized to exact milli-units once, the "
    "window accumulates bigint sum and sum-of-squares (order-free integer "
    "arithmetic), and z = (x*n - S) / sqrt(n*Q - S^2) is algebraically the "
    "centered/scaled score computed from exact integers with one double "
    "division — bit-deterministic across engines where a naive "
    "mean/variance over shuffled doubles never is. Warm-up (< 8 prior "
    "events) and zero-variance windows are excluded. One shuffle on "
    "user_id; O(1) state per row — the same computation "
    "applyInPandasWithState runs in the streaming form.",
)


#: nearest-match tolerance for the bidirectional as-of join
_NEAREST_TOL_US = 15 * 60 * 1_000_000


@register(
    "q_ts_asof_nearest",
    oracle=f"""
    SELECT p.event_id, p.user_id, p.ts,
           m.click_event_id, m.click_ts, m.delta_us,
           m.click_event_id IS NOT NULL AS matched
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
      SELECT c.event_id AS click_event_id, c.ts AS click_ts,
             CAST(abs(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS delta_us
      FROM events c
      WHERE c.event_type = 'click' AND c.user_id = p.user_id
        AND abs(epoch_us(p.ts) - epoch_us(c.ts)) <= {_NEAREST_TOL_US}
      ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)), c.ts, c.event_id
      LIMIT 1
    ) m ON TRUE
    """,
    doc="Nearest-direction as-of join (pandas merge_asof "
    "direction='nearest'): each purchase matches its temporally CLOSEST "
    "click by the same user within ±15 minutes, either side — backward "
    "(q_ts_asof_join) misses the click that lands seconds AFTER the "
    "purchase event when clocks or pipelines reorder. Spark shape: "
    "tolerance-sized time buckets, probe rows exploded into their "
    "bucket and both neighbors, one equi-join on (user, bucket) — "
    "candidates are provably bounded to |tol| windows, never a range "
    "scan — then a per-purchase min by (|Δt|, click ts, click id) and a "
    "left join back for the unmatched rows. One shuffle each side keyed "
    "(user, bucket); the oracle is the quadratic LATERAL form.",
)
def q_ts_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    epoch = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.expr(epoch).alias("p_us")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_event_id"),
        F.col("ts").alias("click_ts"),
        F.expr(epoch).alias("c_us"),
    ).withColumn("bucket", F.expr(f"c_us div {_NEAREST_TOL_US}"))
    probe = p.withColumn(
        "bucket",
        F.explode(
            F.expr(
                f"array(p_us div {_NEAREST_TOL_US} - 1,"
                f" p_us div {_NEAREST_TOL_US},"
                f" p_us div {_NEAREST_TOL_US} + 1)"
            )
        ),
    )
    cand = (
        probe.join(c, (probe.user_id == c.c_user) & (probe.bucket == c.bucket))
        .withColumn("delta_us", F.abs(F.col("p_us") - F.col("c_us")))
        .filter(F.col("delta_us") <= _NEAREST_TOL_US)
    )
    best = cand.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("event_id").orderBy("delta_us", "click_ts", "click_event_id")
        ),
    ).filter(F.col("rn") == 1)
    return p.join(
        best.select("event_id", "click_event_id", "click_ts", "delta_us"),
        "event_id",
        "left",
    ).select(
        "event_id",
        "user_id",
        "ts",
        "click_event_id",
        "click_ts",
        "delta_us",
        F.col("click_event_id").isNotNull().alias("matched"),
    )


@register(
    "q_conversion_lag_stats",
    oracle="""
    WITH pairs AS (
      SELECT p.event_id,
             CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
      WHERE p.ts - c.ts <= INTERVAL '30 minutes'
    )
    SELECT CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(min(lag_us) AS BIGINT) AS min_lag_us,
           CAST(max(lag_us) AS BIGINT) AS max_lag_us,
           CAST(quantile_disc(lag_us, 0.25) AS BIGINT) AS p25_lag_us,
           CAST(quantile_disc(lag_us, 0.50) AS BIGINT) AS p50_lag_us,
           CAST(quantile_disc(lag_us, 0.90) AS BIGINT) AS p90_lag_us
    FROM pairs
    """,
    doc="Conversion-lag distribution: how long after the attributed "
    "(most recent, within 30 minutes) click does a purchase land — "
    "count, min/max and discrete percentiles of the lag. Composes the "
    "as-of attribution pass (union-merge + carry-forward window, one "
    "shuffle on user_id — same as q_ts_asof_tolerance) with a one-row "
    "exact-percentile aggregate over integer microsecond lags; the agg "
    "input is one row per conversion, tiny next to the event stream. "
    "The funnel-health metric every attribution pipeline reports.",
)
def q_conversion_lag_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("ts").alias("click_ts"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("bigint").alias("event_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("timestamp_ntz").alias("click_ts"),
        F.lit(1).alias("kind"),
        "event_id",
    )
    merged = clicks.unionByName(purchases)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    lag_us = F.expr("timestampdiff(MICROSECOND, lct, ts)")
    pairs = (
        merged.withColumn("lct", F.last("click_ts", ignorenulls=True).over(w))
        .filter(
            (F.col("kind") == 1)
            & F.col("lct").isNotNull()
            & (F.col("ts") <= F.col("lct") + F.expr("INTERVAL 30 MINUTES"))
        )
        .select(lag_us.alias("lag_us"))
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
        F.min("lag_us").cast("bigint").alias("min_lag_us"),
        F.max("lag_us").cast("bigint").alias("max_lag_us"),
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY lag_us)")
        .cast("bigint")
        .alias("p25_lag_us"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY lag_us)")
        .cast("bigint")
        .alias("p50_lag_us"),
        F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY lag_us)")
        .cast("bigint")
        .alias("p90_lag_us"),
    )


# seasonal-naive backtest: forecast(t) = v(t-7); per-month exact error sums
_SNAIVE_SQL = """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM orders GROUP BY o_orderdate
    ),
    pred AS (
      SELECT d, v, lag(v, 7) OVER (ORDER BY d) AS yhat
      FROM daily
    ),
    err AS (
      SELECT CAST(year(d) AS BIGINT) AS y, CAST(month(d) AS BIGINT) AS m,
             v, yhat, abs(v - yhat) AS ae
      FROM pred WHERE yhat IS NOT NULL
    )
    SELECT y, m,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CAST(ae AS DECIMAL(38,0))) AS BIGINT) AS sum_abs_err,
           CAST(sum(CAST(v AS DECIMAL(38,0))) AS BIGINT) AS sum_actual,
           CAST(CAST(sum(CAST(ae AS DECIMAL(38,0))) AS DOUBLE)
                / CAST(count(*) AS DOUBLE) AS DOUBLE) AS mae_cents,
           CAST(sum(CAST(ae AS DECIMAL(38,0))) AS DOUBLE)
             / CAST(sum(CAST(v AS DECIMAL(38,0))) AS DOUBLE) AS wmape
    FROM err GROUP BY y, m
"""


register_sql(
    "q_ts_seasonal_naive_forecast",
    oracle=_SNAIVE_SQL,
    doc="Seasonal-naive forecast backtest (forecast = the value one "
    "season — 7 days — earlier) of the daily order-revenue series, with "
    "per-month MAE and weighted-MAPE: the standard baseline every "
    "forecasting pipeline must beat, and the accuracy-report shape used "
    "to monitor it. Daily totals are exact cents from one date-keyed "
    "hash-agg; the lag-7 alignment is ONE window over the daily table "
    "(bounded by the calendar, not the fact table — the sort is O(days) "
    "at any SF); absolute errors stay integers and the monthly MAE / "
    "wMAPE divide exact decimal sums to double via shared expression "
    "(dense-daily-series assumption: row offsets equal day offsets "
    "here; densify via q_calendar_spine first when days can be missing) "
    "text; monthly sums re-cast to bigint for the driver's pandas path "
    "(DuckDB decimals render as float64 there), exact past 1e16 "
    "cents/month.",
)


# CUSUM changepoint: argmax of the exact integer cumulative deviation
_CUSUM_SQL = """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM orders GROUP BY o_orderdate
    ),
    g AS (
      SELECT d, v,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(CAST(v AS DECIMAL(38,0))) OVER () AS DECIMAL(38,0)) AS s
      FROM daily
    ),
    base AS (
      SELECT d, v, n,
             CAST(floor(CAST(s AS DOUBLE) * 1000.0 / CAST(n AS DOUBLE)) AS BIGINT) AS mu_q
      FROM g
    ),
    cusum AS (
      SELECT d, v, n, mu_q,
             CAST(sum(CAST(v * 1000 - mu_q AS DECIMAL(38,0))) OVER
               (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS s_t
      FROM base
    )
    SELECT d AS changepoint_day, v AS day_revenue_cents, n AS n_days,
           s_t AS cusum_milli_cents,
           CAST(s_t AS DOUBLE) / (1000.0 * CAST(n AS DOUBLE)) AS mean_shift_cents
    FROM cusum
    ORDER BY abs(s_t) DESC, d
    LIMIT 1
"""


register_sql(
    "q_ts_changepoint_cusum",
    oracle=_CUSUM_SQL,
    doc="CUSUM changepoint detection on the daily revenue series: the "
    "cumulative sum of deviations from the series mean peaks (in "
    "absolute value) at the most likely level-shift point — the "
    "classic distribution-drift locator a pipeline runs before "
    "trusting a trend model or a data-source switch. EXACT integer "
    "arithmetic end-to-end: the global mean comes from an unbounded "
    "window over the daily table (exact decimal sum — and the fact "
    "table is aggregated exactly ONCE; a separate global-agg CTE "
    "would be inlined twice by Catalyst), quantizes to milli-cents "
    "via an IEEE-identical floor expression, per-day deviations are "
    "bigints (≤1e16 milli-cents/day) while their RUNNING sum "
    "accumulates as DECIMAL(38,0) — sustained drift over thousands "
    "of days can push the cumulative deviation past int64, where "
    "DuckDB errors and Spark wraps silently — re-cast to bigint only "
    "for the single reported row, and the argmax is an exact integer "
    "comparison with a date tie-break. Only the reported mean-shift "
    "estimate divides to double via shared expression text.",
)


#: fixed campaign windows for the interval-overlap join (the events
#: table spans 2024-01-01..2024-01-30)
_PROMOS = [
    ("P1", "2024-01-05 00:00:00", "2024-01-08 00:00:00"),
    ("P2", "2024-01-12 00:00:00", "2024-01-15 12:00:00"),
    ("P3", "2024-01-20 00:00:00", "2024-01-21 00:00:00"),
]
_PROMO_VALUES = ", ".join(
    f"('{p}', TIMESTAMP '{a}', TIMESTAMP '{b}')" for p, a, b in _PROMOS
)


@register(
    "q_join_interval_overlap",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events),
    numbered AS (
      SELECT user_id, ts,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked),
    sessions AS (
      SELECT user_id, min(ts) AS s_start, max(ts) + INTERVAL '30 minutes' AS s_end
      FROM numbered GROUP BY user_id, sid),
    promos AS (SELECT * FROM (VALUES {_PROMO_VALUES}) AS p(promo_id, p_start, p_end)),
    ovl AS (
      SELECT p.promo_id,
             date_diff('microsecond',
                       greatest(s.s_start, p.p_start),
                       least(s.s_end, p.p_end)) AS ov_us
      FROM sessions s JOIN promos p
        ON s.s_start < p.p_end AND p.p_start < s.s_end)
    SELECT promo_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(ov_us) AS BIGINT) AS total_overlap_us
    FROM ovl GROUP BY promo_id
    """,
    doc="Interval-overlap join — the missing join primitive between "
    "point-in-range (q_ts_range_join) and as-of: user activity "
    "SESSIONS (30-minute-gap intervals, the q_ts_session_window "
    "derivation) against campaign windows, matched on the canonical "
    "overlap predicate s.start < p.end AND p.start < s.end, reporting "
    "per campaign the overlapping-session count and the EXACT total "
    "overlap in microseconds (least(end) - greatest(start) on "
    "timestamp_ntz — integer arithmetic on both engines). Shape: the "
    "campaign side is tiny and broadcasts, so the join never shuffles "
    "the session table; at 100 TB with a large interval table both "
    "sides bucket by coarse time so candidates meet only within "
    "overlapping buckets (the range-join discipline applied to "
    "intervals).",
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    sessions = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("s_start"), F.col("w.end").alias("s_end"))
    )
    promos = spark.createDataFrame(
        [(p, a, b) for p, a, b in _PROMOS],
        "promo_id string, p_start_s string, p_end_s string",
    ).select(
        "promo_id",
        F.col("p_start_s").cast("timestamp_ntz").alias("p_start"),
        F.col("p_end_s").cast("timestamp_ntz").alias("p_end"),
    )
    ov_us = F.expr(
        "timestampdiff(MICROSECOND, greatest(s_start, p_start), least(s_end, p_end))"
    )
    return (
        sessions.join(
            F.broadcast(promos),
            (F.col("s_start") < F.col("p_end")) & (F.col("p_start") < F.col("s_end")),
        )
        .select("promo_id", ov_us.alias("ov_us"))
        .groupBy("promo_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("ov_us").cast("bigint").alias("total_overlap_us"),
        )
    )


# trailing 7-day exact moving median over the daily table: both engines
# sort the explicit 7-value frame and take the middle element
_MOVMED_SPARK = """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM orders GROUP BY o_orderdate
    ),
    framed AS (
      SELECT d, v,
             sort_array(collect_list(v) OVER
               (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win,
             CAST(count(*) OVER
               (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS k
      FROM daily
    )
    SELECT d AS day, v AS revenue_cents,
           element_at(win, 4) AS moving_median_cents
    FROM framed WHERE k = 7
"""

_MOVMED_ORACLE = """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM orders GROUP BY o_orderdate
    ),
    framed AS (
      SELECT d, v,
             list_sort(list(v) OVER
               (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win,
             CAST(count(*) OVER
               (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS k
      FROM daily
    )
    SELECT d AS day, v AS revenue_cents,
           win[4] AS moving_median_cents
    FROM framed WHERE k = 7
"""


@register(
    "q_ts_moving_median",
    oracle=_MOVMED_ORACLE,
    doc="Trailing 7-day EXACT moving median of daily revenue — the "
    "robust smoother that survives the single-day spikes a moving "
    "average chases (the windowed sibling of q_agg_median / "
    "q_stats_trimmed_mean). The frame's 7 values are materialized, "
    "sorted, and the middle element taken — an exact bigint, no "
    "interpolation, bit-identical on both engines; warm-up rows with "
    "fewer than 7 days are excluded rather than emitting a "
    "different-width median. O(k log k) per row is the honest cost of "
    "windowed medians — affordable because the window rides the "
    "calendar-bounded DAILY table, never the fact table; at fact "
    "scale the answer is the sketch tier (approx_percentile per "
    "window bucket).",
)
def q_ts_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_MOVMED_SPARK)

# ---------------------------------------------------------------------------
# Classical seasonal decomposition (r7) — trend / weekly-seasonal /
# residual split of the daily revenue series (the additive
# decompose-then-inspect step every forecasting feature pipeline runs;
# STL's moving-average skeleton without the Loess smoothing). Exact
# integers throughout: centered 7-day trend carried as its sum s7,
# detrended series as det7 = 7v - s7 (cents x 7), per-dow seasonal
# index as the rational seas_num / (7 * n_days), and the residual
# identity 7 * n_d * resid = n_d * det7 - seas_num quantized to integer
# cents with the portable floor(x + 0.5) before aggregating.

_STL_SQL = """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM orders GROUP BY o_orderdate
    ),
    win AS (
      SELECT d, v,
             CAST(sum(v) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS s7,
             CAST(count(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS c7
      FROM daily
    ),
    det AS (
      SELECT {dow} AS dow, 7 * v - s7 AS det7
      FROM win WHERE c7 = 7
    ),
    seas AS (
      SELECT dow,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(det7) AS BIGINT) AS seas_num
      FROM det GROUP BY dow
    ),
    resid AS (
      SELECT det.dow, seas.n_days, seas.seas_num,
             CAST(floor(
               CAST(seas.n_days * det.det7 - seas.seas_num AS DOUBLE)
                 / CAST(7 * seas.n_days AS DOUBLE) + 0.5
             ) AS BIGINT) AS r_cents
      FROM det JOIN seas ON det.dow = seas.dow
    )
    SELECT dow, n_days, seas_num,
           CAST(7 * n_days AS BIGINT) AS seas_den,
           CAST(seas_num AS DOUBLE) / CAST(7 * n_days AS DOUBLE) AS seasonal_cents,
           CAST(sum(abs(r_cents)) AS BIGINT) AS sum_abs_resid,
           CAST(sum(abs(r_cents)) AS DOUBLE) / CAST(n_days AS DOUBLE) AS mad_resid_cents
    FROM resid
    GROUP BY dow, n_days, seas_num
    ORDER BY dow
"""


@register(
    "q_ts_seasonal_decompose",
    oracle=_STL_SQL.format(
        dow="CAST(date_diff('day', DATE '1970-01-01', CAST(d AS DATE)) AS BIGINT) % 7"
    ),
    doc="Classical additive seasonal decomposition of the daily revenue "
    "series: centered 7-day moving-average trend (full windows only), "
    "day-of-week seasonal indices from the detrended series, and the "
    "residual MAD per weekday — the decompose-then-inspect pass run "
    "before choosing forecast features (STL's skeleton; the Loess "
    "refinement changes the smoother, not the plan shape). Day-of-week "
    "is epoch-days mod 7 (engine date-part dow conventions differ — "
    "Spark 1=Sunday, DuckDB 0=Sunday — so the portable integer form is "
    "used on both sides). Everything is exact integer arithmetic until "
    "the final divides: det7 = 7v - s7 avoids the /7, the seasonal "
    "index is an exact rational, and residuals quantize via the "
    "identity 7*n_d*resid = n_d*det7 - seas_num with one shared "
    "floor(x+0.5). Shape (100 TB): one date-keyed hash-agg on the fact "
    "table, then calendar-bounded windows/joins (O(days) rows) — the "
    "7-row seasonal table joins back as a broadcast; nothing "
    "fact-scale after the first agg.",
)
def q_ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        _STL_SQL.format(dow="CAST(datediff(d, DATE '1970-01-01') % 7 AS BIGINT)")
    )


#: DTW series length: daily counts over the first 4 weeks (a FIXED
#: window, so the DP has constant unroll depth on both engines)
_DTW_N = 28


def _dtw_spark_row(i: int) -> str:
    """Row ``i`` (1-based, >= 2) of the DTW table from row ``prev``:
    the j-fold D(i,j) = c(i,j) + min(prev[j], prev[j-1], cur[j-1]),
    sequential in j via aggregate() with the growing-array
    accumulator (element_at(acc, -1) is cur[j-1])."""
    cost_1 = f"abs(element_at(xv, {i}) - element_at(yv, 1))"
    cost_j = f"abs(element_at(xv, {i}) - element_at(yv, j))"
    return (
        f"aggregate(sequence(2, {_DTW_N}), array(element_at(prev, 1) + {cost_1}), "
        f"(acc, j) -> concat(acc, array({cost_j} + least("
        f"element_at(prev, j), element_at(prev, j - 1), element_at(acc, -1)))))"
    )


def _dtw_spark_row1() -> str:
    return (
        f"aggregate(sequence(2, {_DTW_N}), array(abs(element_at(xv, 1) - element_at(yv, 1))), "
        f"(acc, j) -> concat(acc, array(element_at(acc, -1) "
        f"+ abs(element_at(xv, 1) - element_at(yv, j)))))"
    )


def _dtw_duck_row(i: int, prev: str) -> str:
    """DuckDB twin of the j-fold. list_reduce has no init parameter and
    requires acc/element type equality, so the j indices ride as
    single-element lists with the seed row prepended: the reduce's
    first element IS the accumulator seed (the wrapped-list idiom)."""
    cost_1 = f"abs(xv[{i}] - yv[1])"
    cost_j = f"abs(xv[{i}] - yv[x[1]])"
    return (
        f"list_reduce(list_prepend([{prev}[1] + {cost_1}], "
        f"list_transform(range(2, {_DTW_N + 1}), j -> [CAST(j AS BIGINT)])), "
        f"(acc, x) -> list_append(acc, {cost_j} + least("
        f"{prev}[x[1]], {prev}[x[1] - 1], acc[-1])))"
    )


def _dtw_duck_row1() -> str:
    return (
        f"list_reduce(list_prepend([abs(xv[1] - yv[1])], "
        f"list_transform(range(2, {_DTW_N + 1}), j -> [CAST(j AS BIGINT)])), "
        f"(acc, x) -> list_append(acc, acc[-1] + abs(xv[1] - yv[x[1]])))"
    )


def _dtw_oracle() -> str:
    parts = [
        f"""d AS (
      SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events),
    mn AS (SELECT CAST(min(day) AS BIGINT) AS d0 FROM d),
    cnt AS (
      SELECT event_type, CAST(day - d0 AS BIGINT) AS rd,
             CAST(count(*) AS BIGINT) AS c
      FROM d, mn WHERE day - d0 < {_DTW_N} GROUP BY 1, 2),
    types AS (SELECT DISTINCT event_type FROM cnt),
    spine AS (SELECT CAST(r AS BIGINT) AS rd FROM range({_DTW_N}) t(r)),
    series AS (
      SELECT t.event_type,
             list(CAST(coalesce(c.c, 0) AS BIGINT) ORDER BY s.rd) AS v
      FROM types t CROSS JOIN spine s
      LEFT JOIN cnt c ON c.event_type = t.event_type AND c.rd = s.rd
      GROUP BY t.event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.v AS xv, b.v AS yv
      FROM series a JOIN series b ON a.event_type < b.event_type),
    s1 AS MATERIALIZED (
      SELECT type_a, type_b, xv, yv, {_dtw_duck_row1()} AS r1 FROM pairs)"""
    ]
    for i in range(2, _DTW_N + 1):
        parts.append(
            f"""s{i} AS MATERIALIZED (
      SELECT type_a, type_b, xv, yv,
             {_dtw_duck_row(i, f"r{i - 1}")} AS r{i}
      FROM s{i - 1})"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT type_a, type_b,
           CAST(r{_DTW_N}[{_DTW_N}] AS BIGINT) AS dtw,
           CAST(list_sum(list_transform(range(1, {_DTW_N + 1}),
                i -> abs(xv[i] - yv[i]))) AS BIGINT) AS lockstep,
           CAST(CASE WHEN list_sum(list_transform(range(1, {_DTW_N + 1}),
                  i -> abs(xv[i] - yv[i]))) > 0
             THEN (r{_DTW_N}[{_DTW_N}] * 1000)
                  // list_sum(list_transform(range(1, {_DTW_N + 1}),
                       i -> abs(xv[i] - yv[i])))
             ELSE 1000 END AS BIGINT) AS warp_gain_milli
    FROM s{_DTW_N} ORDER BY type_a, type_b"""
    )


@register(
    "q_ts_dtw",
    oracle=_dtw_oracle(),
    doc=f"EXACT dynamic time warping between every pair of event-type "
    f"daily-count series (first {_DTW_N} days, fixed window so the DP "
    "depth is constant) — the elastic similarity measure lock-step "
    "distances cannot give (two series with the same shape shifted by "
    "a day are 'far' in L1 but near under DTW; the warp_gain column "
    "measures exactly that compression, and DTW <= lockstep always "
    "since the diagonal is a valid warp path — both gated). This is "
    "the canonical 'operator Spark lacks' case done WITHOUT a Python "
    "UDF: the full DP D(i,j) = |x_i-y_j| + min(D(i-1,j), D(i,j-1), "
    "D(i-1,j-1)) runs as 28 chained ROW-LOCAL array expressions, each "
    "row a sequential j-fold via aggregate() with a growing-array "
    "accumulator (cur[j-1] = element_at(acc, -1)); DuckDB reproduces "
    "it with list_reduce and the wrapped-list seed idiom (no init "
    "parameter), every step MATERIALIZED. All arithmetic is integer "
    "(counts, abs, min, sums) so the whole 28x28 table is bit-exact. "
    "Shape (100 TB): series build = one hash-agg on (type, day) + one "
    "O(types) collect into fixed arrays; the O(types^2) pair table is "
    "tiny and broadcast; the DP itself is row-local codegen over "
    "O(pairs) rows — at a million series the pair enumeration moves "
    "to an LSH/feature blocking stage and this same DP scores the "
    "candidates.",
)
def q_ts_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    day = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        " div 86400000000"
    )
    d = ev.select("event_type", day.alias("day"))
    mn = d.agg(F.min("day").cast("bigint").alias("d0"))
    cnt = (
        d.crossJoin(F.broadcast(mn))
        .select("event_type", (F.col("day") - F.col("d0")).alias("rd"))
        .filter(F.col("rd") < _DTW_N)
        .groupBy("event_type", "rd")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    series = (
        cnt.groupBy("event_type")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("rd"), F.col("c")))
            ).alias("m")
        )
        .select(
            "event_type",
            F.expr(
                f"transform(sequence(0, {_DTW_N - 1}), "
                f"d -> coalesce(element_at(m, cast(d as bigint)), cast(0 as bigint)))"
            ).alias("v"),
        )
    )
    pa = series.select(F.col("event_type").alias("type_a"), F.col("v").alias("xv"))
    pb = series.select(F.col("event_type").alias("type_b"), F.col("v").alias("yv"))
    pairs = pa.crossJoin(F.broadcast(pb)).filter(F.col("type_a") < F.col("type_b"))
    df = pairs.withColumn("prev", F.expr(_dtw_spark_row1()))
    for i in range(2, _DTW_N + 1):
        df = df.withColumn("prev", F.expr(_dtw_spark_row(i)))
    lockstep = F.expr(
        f"aggregate(sequence(1, {_DTW_N}), cast(0 as bigint), "
        f"(acc, i) -> acc + abs(element_at(xv, i) - element_at(yv, i)))"
    )
    return (
        df.select(
            "type_a",
            "type_b",
            F.expr(f"element_at(prev, {_DTW_N})").cast("bigint").alias("dtw"),
            lockstep.cast("bigint").alias("lockstep"),
        )
        .withColumn(
            "warp_gain_milli",
            F.expr(
                "cast(case when lockstep > 0 then (dtw * 1000) div lockstep"
                " else 1000 end as bigint)"
            ),
        )
        .orderBy("type_a", "type_b")
    )
