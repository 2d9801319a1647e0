"""User-behavior analytics over the ``events`` table.

Funnel analysis and cohort retention — the classic event-stream
analytics shapes a warehouse engine is expected to answer. Both are
pure conditional-aggregation compositions: the events table passes
exactly one hash-shuffle on ``user_id`` and every later stage operates
on per-user (or per-cohort) reductions that are orders of magnitude
smaller than the input, so the shapes hold unchanged at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.queries import register, register_sql
from azurestorage_blueprints_spark.tables import table


register_sql(
    "q_funnel_sequence",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
               min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(t_view) AS n_view,
           count(CASE WHEN t_view < t_click THEN 1 END) AS n_view_then_click,
           count(CASE WHEN t_view < t_click AND t_click < t_purchase THEN 1 END)
               AS n_full_funnel
    FROM per_user
    """,
    doc="Ordered funnel (view -> click -> purchase): first-touch timestamps per "
    "user via conditional MIN aggregation, then ordering predicates — no "
    "self-joins, no window; one shuffle on user_id, then a scalar reduce.",
)


@register(
    "q_cohort_retention",
    oracle="""
    WITH first_day AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT cohort_day,
           CAST(datediff('day', cohort_day, day) AS INT) AS day_offset,
           count(*) AS n_active
    FROM activity JOIN first_day USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Cohort retention triangle: users grouped by first-seen day, activity "
    "counted at each day offset. The per-user first-day aggregate is tiny and "
    "broadcastable; the distinct-activity set and the final agg reuse the same "
    "user_id/day hash partitioning, so the fact table shuffles once.",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    first_day = e.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = e.select("user_id", day.alias("day")).distinct()
    return (
        activity.join(F.broadcast(first_day), "user_id")
        .groupBy("cohort_day", F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "q_agg_percentiles",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           quantile_cont(n_chars, 0.25) AS p25,
           quantile_cont(n_chars, 0.50) AS p50,
           quantile_cont(n_chars, 0.75) AS p75
    FROM documents GROUP BY lang
    """,
    doc="Exact multi-percentile profile per group (Spark `percentile` == DuckDB "
    "`quantile_cont`: linear interpolation, exact on integer inputs). Exact "
    "percentiles sort within groups; at 100 TB swap in approx_percentile "
    "(t-digest sketch, mergeable map-side) and accept the epsilon.",
)
def q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("percentile(n_chars, 0.25)").alias("p25"),
        F.expr("percentile(n_chars, 0.50)").alias("p50"),
        F.expr("percentile(n_chars, 0.75)").alias("p75"),
    )


register_sql(
    "q_window_distribution_rank",
    oracle="""
    SELECT doc_id, lang,
           percent_rank() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS pr,
           cume_dist() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS cd,
           nth_value(n_chars, 3) OVER (
               PARTITION BY lang ORDER BY n_chars, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_smallest
    FROM documents
    """,
    doc="Distribution-position window functions (percent_rank, cume_dist, "
    "nth_value): where each document sits in its language's length "
    "distribution — the windowed form of quantile filtering. One shuffle on "
    "the partition key; ties broken by the unique doc_id so ranks are "
    "cross-engine deterministic.",
)


register_sql(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             CAST(count(*) AS BIGINT) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT from_type, to_type, n_transitions,
           CAST(n_transitions AS DOUBLE)
             / CAST(sum(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE)
             AS p_transition
    FROM trans
    """,
    doc="First-order Markov transition matrix over per-user event streams: "
    "lag() within (user, time) order pairs each event with its predecessor, "
    "one hash-agg counts (from, to) cells, and the row-conditional "
    "probability divides exact integer counts (deterministic double). "
    "Timestamp ties are broken by the unique event_id. Shape at 100 TB: "
    "one shuffle on user_id for the lag window, then an agg whose output "
    "is O(|event_type|^2) — the transition matrix of a trillion events "
    "is still a handful of rows.",
)


@register(
    "q_event_paths",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked),
    paths AS (
      SELECT user_id, sid, list(event_type ORDER BY ts, event_id) AS seq
      FROM sess GROUP BY user_id, sid),
    tri AS (
      SELECT seq[i] AS e1, seq[i + 1] AS e2, seq[i + 2] AS e3
      FROM (SELECT seq, unnest(generate_series(1, len(seq) - 2)) AS i
            FROM paths WHERE len(seq) >= 3))
    SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
    FROM tri GROUP BY e1, e2, e3
    ORDER BY n_paths DESC, e1, e2, e3
    LIMIT 20
    """,
    doc="Top within-session event-type paths (trigrams): sessionize by "
    "30-minute gap (lag marker + running sum — q_ts_sessionize_ids), "
    "collect each session's deterministically-ordered event sequence, "
    "slide to path trigrams IN-ARRAY (the q_ngram_lm discipline — no "
    "positional self-join), count and rank. The behavioral n-gram "
    "table next-event models train on. Shape: sessionize windows and "
    "the sequence collect all ride ONE user_id partitioning; the "
    "trigram hash-agg is map-side combined; top-20 is "
    "TakeOrderedAndProject. A mega-session fans out linearly (its own "
    "length), never quadratically.",
)
def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # epoch MICROSECONDS: the oracle compares the full-precision
    # interval, and whole-second truncation would mis-sessionize
    # sub-second gaps straddling the 30-minute boundary
    ev = table(spark, sf_dir, "events").withColumn(
        "ep", F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ep") - F.lag("ep").over(w)
    is_start = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    wcum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = ev.withColumn("is_start", is_start).withColumn(
        "sid", F.sum("is_start").over(wcum)
    )
    paths = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))).alias(
                "evs"
            )
        )
        .select(F.transform("evs", lambda x: x.event_type).alias("seq"))
        .filter(F.size("seq") >= 3)
    )
    tri = paths.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(seq) - 2),"
                " i -> struct(seq[i - 1] AS e1, seq[i] AS e2, seq[i + 1] AS e3))"
            )
        ).alias("t")
    ).select("t.e1", "t.e2", "t.e3")
    return (
        tri.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
        .orderBy(F.desc("n_paths"), "e1", "e2", "e3")
        .limit(20)
    )


#: conversion deadline for the time-bounded funnel (microseconds)
_FUNNEL_WINDOW_US = 72 * 3600 * 1_000_000


@register(
    "q_funnel_time_bounded",
    oracle=f"""
    WITH fc AS (
      SELECT user_id, min(ts) AS first_click
      FROM events WHERE event_type = 'click' GROUP BY user_id),
    fp AS (
      SELECT f.user_id,
             min(e.ts) AS first_purchase_after
      FROM fc f JOIN events e
        ON e.user_id = f.user_id
       AND e.event_type = 'purchase'
       AND e.ts >= f.first_click
      GROUP BY f.user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_users_clicked,
           CAST(sum(CASE WHEN fp.first_purchase_after IS NOT NULL
                          AND date_diff('microsecond', fc.first_click,
                                        fp.first_purchase_after)
                              <= {_FUNNEL_WINDOW_US}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_converted_72h,
           CAST(sum(CASE WHEN fp.first_purchase_after IS NOT NULL
                          AND date_diff('microsecond', fc.first_click,
                                        fp.first_purchase_after)
                              <= {_FUNNEL_WINDOW_US}
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS BIGINT) AS conversion_rate_72h
    FROM fc LEFT JOIN fp ON fc.user_id = fp.user_id
    """,
    doc="Time-bounded conversion funnel: of users whose journey starts "
    "with a click, how many reach a purchase within 72 hours of that "
    "FIRST click — the deadline-constrained variant of "
    "q_funnel_sequence (unbounded ordered funnel), which is how "
    "attribution windows are actually defined in practice. Exact "
    "microsecond arithmetic on timestamp_ntz decides the deadline; "
    "counts are exact integers and only the final rate divides to "
    "double. Shape: both reductions key on user_id — the first-click "
    "agg, a co-partitioned purchase rejoin (first purchase AT/after "
    "first click via one conditional min), and a final single-row "
    "combine; no windows over the fact table, no self-join fan-out "
    "beyond the per-user purchase list.",
)
def q_funnel_time_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    fc = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    fp = (
        fc.join(
            ev.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("pts")
            ),
            "user_id",
        )
        .filter(F.col("pts") >= F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("pts").alias("first_purchase_after"))
    )
    j = fc.join(fp, "user_id", "left")
    lag_us = F.expr("timestampdiff(MICROSECOND, first_click, first_purchase_after)")
    conv = F.when(
        F.col("first_purchase_after").isNotNull() & (lag_us <= _FUNNEL_WINDOW_US), 1
    ).otherwise(0)
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users_clicked"),
        F.sum(conv).cast("bigint").alias("n_converted_72h"),
        (F.sum(conv).cast("double") / F.count(F.lit(1))).alias("conversion_rate_72h"),
    )


_BOUNCE_SQL_ORACLE = """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sess AS (
      SELECT user_id, ts,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked),
    per_session AS (
      SELECT user_id, sid,
             CAST(min(ts) AS DATE) AS session_day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, sid)
    SELECT session_day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS BIGINT) AS bounce_rate
    FROM per_session GROUP BY session_day
"""


register_sql(
    "q_session_bounce_rate",
    oracle=_BOUNCE_SQL_ORACLE,
    doc="Daily bounce rate: the share of 30-minute-gap sessions that "
    "contain exactly one event, keyed by the session's start day — the "
    "engagement-quality staple next to the funnel and retention "
    "entries. Sessionization is the lag-gap/cumulative-sum pattern on "
    "ONE user_id partitioning (shared by both windows), the per-"
    "session reduction collapses events to one row per session before "
    "anything groups by day, and counts stay exact integers with a "
    "single final divide. At 100 TB the day-keyed agg sees only "
    "session rows — orders of magnitude fewer than events.",
)


# ---------------------------------------------------------------------------
# Markov stationary distribution (r11) — the convergence target of the
# q_event_transitions chain: where does a user's event process spend
# its time in the long run? The sixth oracle-checked iterative
# algorithm (beside k-means, BPE, PageRank, the perceptron, and
# centered PCA), using the same bounded-model power-iteration
# machinery as q_embed_pca_var_share: the transition matrix is
# O(|event_type|^2) at ANY corpus size, so it collects once and the
# 12 unrolled rounds run on the model, never the events.

_MKV_ROUNDS = 12
_MKV_QZ = 1_000_000


def _mkv_oracle() -> str:
    qz, rr = _MKV_QZ, _MKV_ROUNDS
    parts = [f"""
    WITH seq AS MATERIALIZED (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events),
    trans AS MATERIALIZED (
      SELECT prev_type AS a, event_type AS b, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type),
    states AS MATERIALIZED (
      SELECT DISTINCT st FROM (
        SELECT a AS st FROM trans UNION SELECT b AS st FROM trans)),
    rowtot AS MATERIALIZED (
      SELECT a, CAST(sum(c) AS BIGINT) AS rt FROM trans GROUP BY a),
    pq AS MATERIALIZED (
      SELECT sa.st AS a, sb.st AS b,
             CAST(coalesce(t.c, 0) * {qz} // rt AS BIGINT) AS pq
      FROM states sa
      JOIN rowtot r ON sa.st = r.a
      CROSS JOIN states sb
      LEFT JOIN trans t ON t.a = sa.st AND t.b = sb.st),
    x0 AS MATERIALIZED (SELECT st AS b, CAST({qz} AS BIGINT) AS x FROM states)"""]
    for r in range(1, rr + 1):
        parts.append(f""",
    y{r} AS MATERIALIZED (
      SELECT pq.b, CAST(sum(x.x * pq.pq) AS BIGINT) AS y
      FROM pq JOIN x{r - 1} x ON pq.a = x.b GROUP BY pq.b),
    s{r} AS MATERIALIZED (SELECT CAST(sum(y) AS BIGINT) AS s FROM y{r}),
    x{r} AS MATERIALIZED (
      SELECT b, CAST(floor(CAST(y AS DOUBLE) / CAST(s AS DOUBLE)
                     * {qz}.0 + 0.5) AS BIGINT) AS x
      FROM y{r} CROSS JOIN s{r})""")
    parts.append(f"""
    SELECT x.b AS event_type, CAST(coalesce(rt, 0) AS BIGINT) AS n_out,
           x.x AS stationary_micro,
           CAST(x.x AS DOUBLE) / {qz}.0 AS stationary
    FROM x{rr} x LEFT JOIN rowtot r ON x.b = r.a""")
    return "".join(parts)


@register(
    "q_markov_stationary",
    oracle=_mkv_oracle(),
    doc="Stationary distribution of the first-order event-type Markov "
    "chain (the long-run time share per event type — where "
    "q_event_transitions' conditional probabilities converge): "
    "transition counts come from the SAME lag-within-(user, time) "
    "expressions as q_event_transitions; the row-stochastic matrix "
    "quantizes per cell to exact micro-units by integer floor "
    "division; 12 unrolled power-iteration rounds renormalize by the "
    "L1 sum (no sqrt, no libm anywhere — the whole loop is exact "
    "bigint mat-vecs plus one IEEE divide per state per round, every "
    "intermediate < 2^53 so the engines' doubles are bit-identical). "
    "DuckDB re-derives the chain AND re-runs all 12 rounds via "
    "unrolled MATERIALIZED CTEs, so every round is differential-"
    "certified. Shape (100 TB): one user_id-partitioned lag window "
    "(the q_event_transitions shuffle) + one O(|types|^2) hash-agg is "
    "the ONLY corpus-scale work; the 25-cell model collects once (the "
    "bounded-deploy convention) and the iteration never touches the "
    "events again.",
)
def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from pyspark.sql import Window as W

    e = table(spark, sf_dir, "events")
    seq = e.select(
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    cells = {(r.prev_type, r.event_type): int(r.c) for r in trans.collect()}
    states = sorted({a for a, _ in cells} | {b for _, b in cells})
    rowtot = {
        a: sum(c for (x_, _), c in cells.items() if x_ == a) for a in states
    }
    pq = {
        (a, b): (cells.get((a, b), 0) * _MKV_QZ) // rowtot[a]
        for a in states
        if rowtot.get(a, 0) > 0
        for b in states
    }
    x = {a: _MKV_QZ for a in states}
    for _ in range(_MKV_ROUNDS):
        y = {b: sum(x[a] * pq.get((a, b), 0) for a in states) for b in states}
        stot = sum(y.values())
        # y/stot: both < 2^53, so Python's division equals the engines'
        # double divide bit-for-bit (the q_embed_pca_var_share argument)
        x = {b: math.floor(y[b] / stot * float(_MKV_QZ) + 0.5) for b in states}
    out = spark.createDataFrame(
        [(st, rowtot.get(st, 0), x[st]) for st in states],
        "event_type string, n_out bigint, stationary_micro bigint",
    )
    return out.select(
        "event_type",
        "n_out",
        "stationary_micro",
        (F.col("stationary_micro").cast("double") / F.lit(float(_MKV_QZ))).alias(
            "stationary"
        ),
    )
