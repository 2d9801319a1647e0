"""ML feature-engineering operators as first-class queries.

A training pipeline over warehouse-scale data materializes model
features in-engine before anything reaches a trainer: encoded
categoricals and time-series lag/rolling matrices are the two
workhorses. Both are expressed in the repo's exact-arithmetic house
style — quantize once to integer cents, accumulate order-insensitive
exact sums, derive the float features at the very end from identical
exact inputs via shared expression text — so every feature value is
bit-reproducible at any parallelism and value-hash checkable against
the DuckDB oracle (determinism contract, queries/__init__.py).

Scale posture (100 TB): target encoding is one map-side-combined
hash-agg to O(categories) moment rows plus a broadcast of the single
global row; the lag/rolling features ride ONE window over the DAILY
aggregate, whose row count is bounded by the calendar rather than the
fact table, so the single-partition sort stays O(days) at any SF.
"""

from __future__ import annotations


from azurestorage_blueprints_spark.queries import register_sql
from azurestorage_blueprints_spark.tables import table

#: smoothing pseudo-count for the target-mean prior (classic Bayesian
#: mean encoding: categories with few rows shrink toward the global mean)
_TE_PRIOR_WEIGHT = 20.0

_TARGET_ENCODE_SQL = f"""
    WITH enc AS (
      SELECT p_brand AS category,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)
                           AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand
    ),
    g AS (
      SELECT category, n, s,
             CAST(sum(n) OVER () AS BIGINT) AS n_tot,
             CAST(sum(s) OVER () AS DECIMAL(38,0)) AS s_tot
      FROM enc
    )
    SELECT category, n,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS raw_mean_cents,
           (CAST(s AS DOUBLE)
            + {_TE_PRIOR_WEIGHT} * (CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE)))
             / (CAST(n AS DOUBLE) + {_TE_PRIOR_WEIGHT}) AS encoded_cents
    FROM g
"""


register_sql(
    "q_target_encode",
    oracle=_TARGET_ENCODE_SQL,
    doc="Smoothed target encoding of a categorical feature (part brand "
    "-> mean line value in cents, shrunk toward the global mean with a "
    "pseudo-count prior of 20): the standard leakage-safe categorical "
    "encoder a feature pipeline materializes before training. Per-"
    "category n and exact decimal cent sums ride one map-side-combined "
    "hash-agg (O(categories) rows shuffle at 100 TB); the global totals "
    "ride an unbounded window over those category rows — the fact join "
    "is scanned exactly once (a separate global-agg CTE would be "
    "inlined twice by Catalyst); raw and encoded means derive as "
    "doubles from identical exact inputs via shared expression text.",
)


_LAG_FEATURES_SQL = """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS v
      FROM orders GROUP BY o_orderdate
    )
    SELECT d AS day, v AS revenue_cents,
           lag(v, 1) OVER (ORDER BY d) AS lag1_cents,
           lag(v, 7) OVER (ORDER BY d) AS lag7_cents,
           CAST(sum(v) OVER
             (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum7_cents,
           CAST(count(v) OVER
             (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n7,
           CASE WHEN lag(v, 7) OVER (ORDER BY d) IS NOT NULL
                 AND lag(v, 7) OVER (ORDER BY d) <> 0
                THEN CAST(v - lag(v, 7) OVER (ORDER BY d) AS DOUBLE)
                     / CAST(lag(v, 7) OVER (ORDER BY d) AS DOUBLE)
           END AS wow_change
    FROM daily
"""


register_sql(
    "q_ts_lag_features",
    oracle=_LAG_FEATURES_SQL,
    doc="Time-series lag/rolling feature matrix for the daily revenue "
    "series — per day: value, lag-1, lag-7, trailing-7 sum and count, "
    "and week-over-week relative change (the feature block a demand-"
    "forecasting trainer consumes). Daily totals are exact cents from "
    "one date-keyed hash-agg; every lag and frame rides the SAME "
    "ORDER BY day window (one sort, one pass) over the daily table, "
    "whose cardinality is bounded by the calendar — not the fact table "
    "— so the single-partition window is O(days) at any SF. Trailing "
    "sums stay bigint; only wow_change divides to double, null-guarded "
    "for the warm-up week and zero-revenue days. Row frames equal "
    "day frames only on a DENSE daily series (true for this corpus); "
    "join q_calendar_spine's densification first when days can be "
    "missing, or lag-7 silently becomes 7-rows-ago.",
)
