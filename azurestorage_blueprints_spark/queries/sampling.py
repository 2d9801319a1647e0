"""Deterministic sampling / split / mixture / gap-fill queries.

A training-data pipeline needs reproducible corpus surgery: hash
sampling (the same rows survive on every run and on every cluster
size), stratified rates per stratum, train/valid/test splits, exact-k
draws, quantile-threshold quality filtering, and time-series
regularization (gap fill + forward fill, OHLC downsampling).

All sampling here is **multiplicative-hash** based
(``(key * 2654435761) % m`` — Knuth's 2^32/phi constant) rather than
``rand()``/``TABLESAMPLE``: pure int64 arithmetic is deterministic
across engines, partitionings, and retries, so every query has an
exact DuckDB oracle and a 1000-executor run produces byte-identical
samples to a laptop run. The predicates are narrow codegen'd scans —
no shuffle is added beyond the aggregation the query itself asks for.

Reference anchor: the reference's only "sampling" is regex-filtering a
blob listing (upload_file.py:158-167); these are its scale-out
generalization on row tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.queries import register, register_sql
from azurestorage_blueprints_spark.tables import table

#: Knuth multiplicative constant (floor(2^32 / golden ratio)).
_KNUTH = 2654435761


def _hash_mod(col: F.Column, mod: int) -> F.Column:
    return (col * F.lit(_KNUTH)) % F.lit(mod)


register_sql(
    "q_sample_hash",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    WHERE (o_orderkey * 2654435761) % 1000 < 100
    GROUP BY o_orderpriority
    """,
    doc="Deterministic ~10% hash sample of orders (Knuth multiplicative hash on "
    "the key), aggregated per priority. Scale: the predicate is a pushed-down "
    "codegen filter — no shuffle, no rand() nondeterminism across retries.",
)


register_sql(
    "q_sample_stratified",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE (doc_id * 2654435761) % 1000
          < CASE WHEN lang = 'en' THEN 100 ELSE 400 END
    GROUP BY lang
    """,
    doc="Stratified sampling: downsample the dominant language (en: 10%) while "
    "keeping 40% of the rest — the standard corpus-rebalancing move. Per-stratum "
    "rate is a CASE over the same hash; still a single scan, zero extra shuffle.",
)


register_sql(
    "q_split_train_test",
    oracle="""
    SELECT CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                WHEN (doc_id * 2654435761) % 100 < 90 THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
           count(DISTINCT lang) AS n_langs
    FROM documents
    GROUP BY 1
    """,
    doc="Reproducible 80/10/10 train/valid/test split by document-id hash: a row "
    "lands in the same split on every run, cluster, and scale factor subset — "
    "the property rand()-based splits lose on retry. One scan + one small agg.",
)


register_sql(
    "q_sample_exact_k",
    oracle="""
    SELECT count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           count(DISTINCT lang) AS n_langs,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id
    FROM (
        SELECT * FROM documents
        ORDER BY (doc_id * 2654435761) % 1048576, doc_id
        LIMIT 200
    )
    """,
    doc="Exact-k deterministic pseudo-random draw: order by a hash of the key and "
    "take k. Spark executes this as TakeOrderedAndProject (per-partition top-k + "
    "single merge of k*partitions rows) — never a global sort, so it holds at "
    "any row count. Tie-broken by the unique key for cross-engine determinism.",
)


register_sql(
    "q_interleave_weighted",
    oracle="""
    SELECT corpus, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
        SELECT 'curated' AS corpus, lang, n_chars FROM documents
        WHERE source < 'src5' AND (doc_id * 2654435761) % 1000 < 900
        UNION ALL
        SELECT 'web' AS corpus, lang, n_chars FROM documents
        WHERE source >= 'src5' AND (doc_id * 2654435761) % 1000 < 300
    )
    GROUP BY 1, 2
    """,
    doc="Weighted corpus mixture: interleave a curated slice at 90% with a web "
    "slice at 30% via per-branch hash sampling and UNION ALL — how a training "
    "mix is declared so every epoch (and every retry) draws the same rows. "
    "Two pushed-down scans, no shuffle until the final small agg.",
)


@register(
    "q_quantile_filter",
    oracle="""
    WITH t AS (SELECT quantile_cont(n_chars, 0.75) AS p75 FROM documents)
    SELECT source,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents, t
    WHERE n_chars > p75
    GROUP BY source
    """,
    doc="Quality-threshold filtering at a global quantile (keep docs above the "
    "p75 length). The quantile is ONE scalar computed by a parallel aggregate "
    "and broadcast back — the fact table never moves; Spark `percentile` and "
    "DuckDB `quantile_cont` share linear-interpolation semantics.",
)
def q_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    p75 = d.agg(F.expr("percentile(n_chars, 0.75)").alias("p75"))
    return (
        d.crossJoin(F.broadcast(p75))
        .filter(F.col("n_chars") > F.col("p75"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@register(
    "q_ts_gap_fill",
    oracle="""
    WITH spine AS (
        SELECT generate_series AS h
        FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                             TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)
    ),
    hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               count(*) AS n_events,
               sum(CAST(value AS DECIMAL(25,6))) AS sv
        FROM events WHERE event_type = 'click' GROUP BY 1
    )
    SELECT s.h,
           coalesce(n_events, 0) AS n_events,
           CAST(last_value(sv IGNORE NULLS) OVER (
                ORDER BY s.h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS ffill_sum_value
    FROM spine s LEFT JOIN hourly USING (h)
    """,
    doc="Time-series regularization: an hourly spine (sequence+explode), left "
    "join of the real aggregate, zero-fill counts, forward-fill values. The "
    "spine is |buckets| rows (tiny at any data scale) so the single-partition "
    "ordered window over it is safe; the event table only passes one hash-agg. "
    "Sums go through decimal so the fill hash is partition-order-independent.",
)
def q_ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    hourly = (
        e.filter(F.col("event_type") == "click")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum(F.col("value").cast("decimal(25,6)")).alias("sv"),
        )
    )
    spine = spark.sql(
        "SELECT explode(sequence(timestamp'2024-01-01 00:00:00', "
        "timestamp'2024-01-30 23:00:00', interval 1 hour)) AS h"
    )
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return spine.join(hourly, "h", "left").select(
        "h",
        F.coalesce(F.col("n_raw"), F.lit(0).cast("long")).alias("n_events"),
        F.last(F.col("sv"), ignorenulls=True).over(w).cast("double").alias("ffill_sum_value"),
    )


@register(
    "q_ts_ohlc",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           event_type,
           arg_min(value, ts) AS open_v,
           max(value) AS high_v,
           min(value) AS low_v,
           arg_max(value, ts) AS close_v,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    doc="OHLC downsampling (hypertable rollup shape): per day and event type, "
    "first/last value by timestamp via min_by/max_by plus min/max — one "
    "hash-agg, no window, no self-join; min_by/max_by are deterministic here "
    "because event timestamps are unique within every group.",
)
def q_ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.groupBy(
        F.col("ts").cast("date").alias("day"), F.col("event_type")
    ).agg(
        F.min_by("value", "ts").alias("open_v"),
        F.max("value").alias("high_v"),
        F.min("value").alias("low_v"),
        F.max_by("value", "ts").alias("close_v"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q_ts_interpolate_linear",
    oracle="""
    WITH spine AS (
        SELECT generate_series AS h
        FROM generate_series(TIMESTAMP '2024-01-01 00:00:00',
                             TIMESTAMP '2024-01-30 23:00:00', INTERVAL 1 HOUR)
    ),
    hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sv
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    j AS (SELECT s.h, sv FROM spine s LEFT JOIN hourly USING (h)),
    m AS (
        SELECT h, sv,
               last_value(sv IGNORE NULLS) OVER (ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               last_value(CASE WHEN sv IS NOT NULL THEN h END IGNORE NULLS)
                   OVER (ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
               first_value(sv IGNORE NULLS) OVER (ORDER BY h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN sv IS NOT NULL THEN h END IGNORE NULLS)
                   OVER (ORDER BY h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        FROM j
    )
    SELECT h,
           CASE WHEN sv IS NOT NULL THEN sv
                WHEN pv IS NOT NULL AND nv IS NOT NULL AND nh <> ph THEN
                     pv + (nv - pv) * (CAST(datediff('second', ph, h) AS DOUBLE)
                                       / CAST(datediff('second', ph, nh) AS DOUBLE))
                ELSE coalesce(pv, nv) END AS v_interp
    FROM m
    """,
    doc="Linear interpolation across time-series gaps: missing hourly buckets "
    "get the straight line between the nearest observed values on either side "
    "(edges fall back to nearest-value). Same spine shape as q_ts_gap_fill; "
    "the interpolation expression is written identically on both engines so "
    "per-row IEEE arithmetic is bit-equal. The ordered window runs over the "
    "|buckets|-sized spine, never the raw events.",
)
def q_ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    hourly = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("sv"))
    )
    spine = spark.sql(
        "SELECT explode(sequence(timestamp'2024-01-01 00:00:00', "
        "timestamp'2024-01-30 23:00:00', interval 1 hour)) AS h"
    )
    j = spine.join(hourly, "h", "left")
    wp = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wn = Window.orderBy("h").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    obs_h = F.when(F.col("sv").isNotNull(), F.col("h"))
    m = j.select(
        "h",
        "sv",
        F.last("sv", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_h, ignorenulls=True).over(wp).alias("ph"),
        F.first("sv", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_h, ignorenulls=True).over(wn).alias("nh"),
    )
    frac = F.expr("CAST(timestampdiff(SECOND, ph, h) AS DOUBLE)") / F.expr(
        "CAST(timestampdiff(SECOND, ph, nh) AS DOUBLE)"
    )
    v = (
        F.when(F.col("sv").isNotNull(), F.col("sv"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull() & (F.col("nh") != F.col("ph")),
            F.col("pv") + (F.col("nv") - F.col("pv")) * frac,
        )
        .otherwise(F.coalesce(F.col("pv"), F.col("nv")))
    )
    return m.select("h", v.alias("v_interp"))


register_sql(
    "q_sample_exact_k_stratified",
    oracle="""
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY (doc_id * 2654435761) % 1048576, doc_id) AS rn
      FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id
    FROM ranked WHERE rn <= 30
    GROUP BY lang
    """,
    doc="Exact-k PER-STRATUM draw: exactly 30 documents per language in "
    "deterministic multiplicative-hash order (ties broken by doc_id) — "
    "the balanced-mixture primitive a multilingual corpus draw needs "
    "when fraction-based stratified sampling (q_sample_stratified) "
    "cannot guarantee per-language counts. One shuffle on the stratum "
    "key; the rank window sorts only within each stratum's partition, "
    "and every cluster size draws the identical sample. For heavily "
    "skewed strata the rank is still per-partition-bounded — no global "
    "sort appears at any scale.",
)


#: Poisson(1) inverse-CDF thresholds scaled to 2^32 (floor(cdf * 2^32),
#: precomputed literals — no exp/factorial on data, per the determinism
#: contract); a uniform 32-bit hash draw u maps to the count of the
#: first threshold above it. P(X > 9) < 2^-32 truncates to 9.
_POIS_T = [1580030168, 3160060337, 3950075421, 4213413783, 4279248373,
           4292415291, 4294609777, 4294923276, 4294962463]

#: bootstrap replicates
_BOOT_B = 32

_POIS_CASE = "CASE " + " ".join(
    f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POIS_T)
) + " ELSE 9 END"

_BOOT_VALUES = ", ".join(f"({b})" for b in range(_BOOT_B))

def _spread_fanout(spark: SparkSession, sql: str) -> str:
    """Spark-side-only rewrite of a mixer fan-out source (r12
    optimization, guide §2.5 input skew): the ``orders x VALUES(B)``
    cross join runs INSIDE the scan stage, so its parallelism is the
    small metadata table's file-split count — a single compact parquet
    yields 1-2 splits, and the x33 row explosion plus the nonlinear
    mixer then run on 1-2 cores regardless of cluster size (measured
    4.4 s -> 1.8 s at sf0.1/local[32] from this alone). A keyless
    round-robin REPARTITION sized to the session's default parallelism
    spreads the narrow (key, cents) rows BEFORE the fan-out; the
    shuffle moves the un-fanned-out table once, which is ~B x smaller
    than the work it unlocks. Scale-adaptive by construction (derived
    from the running session, never a constant); the DuckDB oracle
    keeps the unhinted text — values are partitioning-invariant."""
    n = spark.sparkContext.defaultParallelism
    return sql.replace(
        "FROM orders,",
        f"FROM (SELECT /*+ REPARTITION({n}) */ * FROM orders) AS orders_rr,",
        1,
    )


_BOOT_SQL = f"""
    WITH seeded AS (
      SELECT b,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             ((o_orderkey % 2147483648) * 2654435761 + b * 40503)
               % 2147483648 AS a
      FROM orders, (VALUES {_BOOT_VALUES}) AS reps(b)
    ),
    mix1 AS (
      SELECT b, cents,
             (CAST((a * a - (a * a) % 65536) / 65536 AS BIGINT) + a)
               % 2147483648 AS a
      FROM seeded
    ),
    mix2 AS (
      SELECT b, cents,
             (CAST((a * a - (a * a) % 65536) / 65536 AS BIGINT) + a)
               % 2147483648 AS a
      FROM mix1
    ),
    draws AS (
      SELECT b, cents, (a * 2654435761) % 4294967296 AS u
      FROM mix2
    ),
    counted AS (
      SELECT b, cents, {_POIS_CASE} AS w
      FROM draws
    )
    SELECT CAST(b AS BIGINT) AS replicate,
           CAST(sum(CAST(w AS BIGINT)) AS BIGINT) AS n_resampled,
           CAST(sum(CAST(w * cents AS DECIMAL(38,0))) AS BIGINT) AS est_total_cents
    FROM counted GROUP BY b
"""


@register(
    "q_sample_poisson_bootstrap",
    oracle=_BOOT_SQL,
    doc="Deterministic Poisson bootstrap of total order revenue: 32 "
    "resampling replicates where every row's multiplicity in replicate "
    "b is a Poisson(1) draw — the standard single-pass bootstrap for "
    "distributed data (Chamandy et al.: resample without materializing "
    "resamples). The draw is fully deterministic and engine-portable: "
    "the (key, replicate) seed runs through two NONLINEAR mixing "
    "rounds — a -> ((a*a) >> 16) + a mod 2^31, middle-square-plus-"
    "linear, spelled in portable exact %-and-division arithmetic — "
    "before the final multiplicative spread. The nonlinearity is the "
    "correctness-critical part: any affine multiply-add scheme makes "
    "every replicate a constant shift of one draw sequence, and the "
    "replicate spread collapses to a systematic-sampling artifact "
    "(measured 37x too narrow before this mixer; sd/theoretical = "
    "0.98, mean bias +0.002% after — gated in "
    "tests/test_sampling_determinism.py). The 32-bit uniform maps "
    "through precomputed integer CDF thresholds "
    "(floor(cdf*2^32) literals — no libm on data), so retries and "
    "repartitions reproduce bit-identical replicates. Each replicate "
    "total accumulates exact decimal cents; the replicate spread IS the "
    "sampling distribution of the estimator (CI = quantiles over 32 "
    "values, consumer-side). Shape: one scan fans out x32 inside the "
    "map stage (codegen cross join with a 32-row VALUES literal), one "
    "map-side-combined agg moves 32 rows total at ANY corpus size. "
    "Every intermediate stays inside int64 at any key magnitude: the "
    "key reduces mod 2^31 BEFORE the Knuth multiply (so the product "
    "tops out at ~5.7e18 < 2^63 even for orderkeys past 3.4e9 — the "
    "unreduced form overflowed there, where DuckDB errors on bigint "
    "overflow and Spark wraps silently), and the mixer state stays "
    "31-bit with an exact below-2^53 shift division.",
)
def q_sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_spread_fanout(spark, _BOOT_SQL))


# ---------------------------------------------------------------------------
# Deterministic permutation test: the hypothesis-testing twin of the
# Poisson bootstrap — same single-pass x B fan-out, same nonlinear
# middle-square mixer, but the draw RELABELS rows instead of
# reweighting them. The +1299721 lane salt decorrelates the
# permutation stream from the bootstrap stream (distinct experiments
# must not share randomness).
_PERM_B = 32

_PERM_DIFF = (
    "(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
    " - CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))"
)
_PERM_OBS_DIFF = (
    "(CAST(s_f AS DOUBLE) / CAST(n_f AS DOUBLE)"
    " - CAST(s_o AS DOUBLE) / CAST(n_o AS DOUBLE))"
)

_PERM_SQL = f"""
    WITH seeded AS (
      SELECT b, o_orderstatus AS g,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             ((o_orderkey % 2147483648) * 2654435761 + b * 40503 + 1299721)
               % 2147483648 AS a
      FROM orders, (VALUES {_BOOT_VALUES}) AS reps(b)
      WHERE o_orderstatus IN ('F', 'O')
    ),
    mix1 AS (
      SELECT b, g, cents,
             (CAST((a * a - (a * a) % 65536) / 65536 AS BIGINT) + a)
               % 2147483648 AS a
      FROM seeded
    ),
    mix2 AS (
      SELECT b, g, cents,
             (CAST((a * a - (a * a) % 65536) / 65536 AS BIGINT) + a)
               % 2147483648 AS a
      FROM mix1
    ),
    draws AS (
      SELECT b, g, cents, (a * 2654435761) % 4294967296 AS u
      FROM mix2
    ),
    perm AS (
      SELECT b,
             CAST(sum(CASE WHEN u < 2147483648
                           THEN CAST(cents AS DECIMAL(38,0)) END)
                  AS DECIMAL(38,0)) AS sa,
             CAST(sum(CASE WHEN u < 2147483648 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN u >= 2147483648
                           THEN CAST(cents AS DECIMAL(38,0)) END)
                  AS DECIMAL(38,0)) AS sb,
             CAST(sum(CASE WHEN u >= 2147483648 THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM draws GROUP BY b
    ),
    obs AS (
      SELECT CAST(sum(CASE WHEN o_orderstatus = 'F'
                           THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END)
                  AS DECIMAL(38,0)) AS s_f,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
             CAST(sum(CASE WHEN o_orderstatus = 'O'
                           THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END)
                  AS DECIMAL(38,0)) AS s_o,
             CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o
      FROM orders WHERE o_orderstatus IN ('F', 'O')
    )
    SELECT n_f, n_o,
           {_PERM_OBS_DIFF} AS obs_diff_cents,
           CAST(sum(CASE WHEN abs({_PERM_DIFF}) >= abs({_PERM_OBS_DIFF})
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           (1.0 + CAST(sum(CASE WHEN abs({_PERM_DIFF}) >= abs({_PERM_OBS_DIFF})
                                THEN 1 ELSE 0 END) AS DOUBLE))
             / {_PERM_B + 1}.0 AS p_value
    FROM perm CROSS JOIN obs
    GROUP BY n_f, n_o, s_f, s_o
"""


@register(
    "q_stats_permutation_test",
    oracle=_PERM_SQL,
    doc="Deterministic randomization (permutation) test for the "
    "difference in mean order value between fulfilled and open orders: "
    "B=32 label reshuffles, each assigning every row to arm A or B by "
    "an unbiased coin — the (key, replicate) seed runs through the "
    "SAME nonlinear middle-square mixer as q_sample_poisson_bootstrap "
    "(an affine draw would make all replicates one shifted sequence; "
    "the +1299721 lane salt decorrelates the permutation stream from "
    "the bootstrap stream), and the top bit of the 32-bit uniform is "
    "the coin. The achieved significance level is the add-one share "
    "of replicates whose |mean diff| reaches the observed |diff| — "
    "the assumption-free alternative to q_stats_ttest_welch's normal "
    "theory (Fisher randomization with Monte-Carlo relabeling; the "
    "coin approximates the exact n_f/n_o split, standard for large "
    "n). Arm sums accumulate exact decimal cents; mean diffs are "
    "derived doubles via shared expression text, so the extreme-count "
    "comparison is bit-identical on both engines. Shape: one scan "
    "fans out x32 inside codegen (VALUES literal cross join), the "
    "map-side-combined agg moves 32 x 4 numbers; the observed-diff "
    "scan is a second O(1)-output agg. Nothing else shuffles at any "
    "corpus size.",
)
def q_stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    # same fan-out parallelism fix as the bootstrap (see _spread_fanout)
    return spark.sql(_spread_fanout(spark, _PERM_SQL))


# ---------------------------------------------------------------------------
# Stratified k-fold assignment (r7) — the cross-validation split every
# eval harness needs. q_split_train_test's hash-mod split is the
# shuffle-free production shape but only balances IN EXPECTATION; this
# rung is the exact-balance variant: rank within each stratum by the
# deterministic hash, fold = rank mod k, so every (stratum, fold) cell
# is within 1 document of every other fold in that stratum — provably,
# not probabilistically.


register_sql(
    "q_split_kfold_stratified",
    oracle="""
    WITH r AS (
      SELECT lang, n_chars,
             CAST((row_number() OVER (PARTITION BY lang
                     ORDER BY (doc_id * 2654435761) % 1048576, doc_id) - 1) % 5
                  AS BIGINT) AS fold
      FROM documents
    ),
    g AS (
      SELECT lang, fold,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS total_chars
      FROM r GROUP BY 1, 2
    )
    SELECT lang, fold, n_docs, total_chars,
           CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS stratum_docs,
           CAST(max(n_docs) OVER (PARTITION BY lang)
              - min(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS fold_spread
    FROM g ORDER BY lang, fold
    """,
    doc="Stratified 5-fold cross-validation assignment with EXACT "
    "per-stratum balance: documents are ranked inside each language "
    "stratum by the Knuth-hash pseudo-random order (deterministic, "
    "retry-invariant — the q_sample_exact_k ordering), fold = rank mod "
    "5, so fold sizes within a stratum differ by at most 1 (the "
    "fold_spread column PROVES it per stratum, <= 1 everywhere). "
    "Hash-mod assignment (q_split_train_test) stays the shuffle-free "
    "100 TB default when expectation-level balance suffices; this rung "
    "buys exactness for one per-stratum hash-sort window — the same "
    "exchange a groupBy on lang would pay, and strata are language-"
    "sized, so skew is bounded by corpus mix, salting unneeded. The "
    "5-row-per-stratum report is GROUP-BY sized, never collected.",
)


#: temporal-split cutoffs (the leakage-safe holdout boundaries): train
#: strictly before the first, validation before the second, test after
_TSPLIT_VALID = "2024-01-22 00:00:00"
_TSPLIT_TEST = "2024-01-26 00:00:00"

_TSPLIT_SQL = f"""
    WITH tagged AS (
      SELECT CASE WHEN ts < TIMESTAMP '{_TSPLIT_VALID}' THEN 'train'
                  WHEN ts < TIMESTAMP '{_TSPLIT_TEST}' THEN 'valid'
                  ELSE 'test' END AS split,
             user_id,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
      FROM events),
    tr AS (SELECT DISTINCT user_id FROM tagged WHERE split = 'train')
    SELECT t.split,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT t.user_id) AS BIGINT) AS n_users,
           CAST(min(t.d) AS BIGINT) AS first_day_epoch,
           CAST(max(t.d) AS BIGINT) AS last_day_epoch,
           CAST(count(DISTINCT CASE WHEN tr.user_id IS NOT NULL
                                    THEN t.user_id END) AS BIGINT)
             AS n_users_seen_in_train
    FROM tagged t LEFT JOIN tr ON t.user_id = tr.user_id
    GROUP BY t.split
"""


@register(
    "q_split_temporal",
    oracle=_TSPLIT_SQL,
    doc="Temporal train/valid/test split over the event stream — the "
    "leakage-safe holdout for anything with a time axis, where the "
    "hash split (q_split_train_test) would leak the future into "
    "training: fixed cutoff timestamps tag every event, and the "
    "per-split report carries event/user counts, the day span "
    "(epoch-day integers — the engine-portable date form), and the "
    "ENTITY-LEAKAGE audit: how many of each split's users also appear "
    "in train. Time-split-but-user-shared is the standard setup for "
    "forecasting (same users, later behavior) and the red flag for "
    "user-level generalization claims — the report states the number "
    "instead of leaving it implicit. Timestamps stay TIMESTAMP_NTZ "
    "end-to-end (session-timezone independent). Shape (100 TB): one "
    "scan tags splits row-locally; the train-user table derives from "
    "the same tagged stream (no second scan) and the leakage join is "
    "keyed on user_id — entity-scale, not event-scale; one O(3) "
    "report out.",
)
def q_split_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    split = (
        F.when(F.col("ts") < F.expr(f"TIMESTAMP_NTZ '{_TSPLIT_VALID}'"), "train")
        .when(F.col("ts") < F.expr(f"TIMESTAMP_NTZ '{_TSPLIT_TEST}'"), "valid")
        .otherwise("test")
    )
    tagged = e.select(
        split.alias("split"),
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias("d"),
    )
    tr = tagged.filter(F.col("split") == "train").select("user_id").distinct()
    seen = tr.select(F.col("user_id").alias("tr_user"))
    return (
        tagged.join(seen, tagged.user_id == seen.tr_user, "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.min("d").cast("bigint").alias("first_day_epoch"),
            F.max("d").cast("bigint").alias("last_day_epoch"),
            F.countDistinct(
                F.when(F.col("tr_user").isNotNull(), F.col("user_id"))
            )
            .cast("bigint")
            .alias("n_users_seen_in_train"),
        )
    )


# ---------------------------------------------------------------------------
# Bootstrap confidence interval for an EXACT quantile (r12): the
# Poisson-bootstrap draw (q_sample_poisson_bootstrap's mixer, lane
# salt +2750161) composed with the two-phase histogram selection
# (operators/selection.py's discipline, weighted) — the CI consumer
# the bootstrap rung's doc promises. Replicate -1 carries weight 1
# everywhere: its weighted median IS the empirical point estimate, so
# point and replicates share one plan.

_BCI_SALT = 2750161
#: CI order statistics over the 32 replicate medians: the 2nd and 31st
#: (~ the 4.7%/95.3% percentile interval at B = 32)
_BCI_LO_K, _BCI_HI_K = 2, _BOOT_B - 1

_BCI_ROWS_SQL = f"""
    reps AS (SELECT b FROM (VALUES {_BOOT_VALUES}) AS t(b)),
    seeded AS (
      SELECT b, o_orderkey AS key,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             ((o_orderkey % 2147483648) * 2654435761 + b * 40503
              + {_BCI_SALT}) % 2147483648 AS a
      FROM orders, reps
    ),
    mix1 AS (
      SELECT b, key, cents,
             (CAST((a * a - (a * a) % 65536) / 65536 AS BIGINT) + a)
               % 2147483648 AS a
      FROM seeded),
    mix2 AS (
      SELECT b, key, cents,
             (CAST((a * a - (a * a) % 65536) / 65536 AS BIGINT) + a)
               % 2147483648 AS a
      FROM mix1),
    drawn AS (
      SELECT b, key, cents, (a * 2654435761) % 4294967296 AS u
      FROM mix2),
    wrows AS (
      SELECT b, key, cents, CAST({_POIS_CASE} AS BIGINT) AS w
      FROM drawn
      UNION ALL
      SELECT -1 AS b, o_orderkey AS key,
             CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
             CAST(1 AS BIGINT) AS w
      FROM orders
    )"""


@register(
    "q_quantile_bootstrap_ci",
    oracle=f"""
    WITH {_BCI_ROWS_SQL},
    pos AS (SELECT b, key, cents, w FROM wrows WHERE w > 0),
    ranked AS (
      SELECT b, cents,
             sum(w) OVER (PARTITION BY b ORDER BY cents, key
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cw,
             sum(w) OVER (PARTITION BY b) AS n
      FROM pos),
    meds AS (
      SELECT b, CAST(min(cents) AS BIGINT) AS med,
             CAST(max(n) AS BIGINT) AS n_eff
      FROM ranked WHERE cw >= (n + 1) // 2 GROUP BY b),
    reps_m AS (
      SELECT med,
             row_number() OVER (ORDER BY med, b) AS rn
      FROM meds WHERE b >= 0),
    ci AS (
      SELECT CAST(min(CASE WHEN rn = {_BCI_LO_K} THEN med END) AS BIGINT)
               AS ci_lo_cents,
             CAST(min(CASE WHEN rn = {_BCI_HI_K} THEN med END) AS BIGINT)
               AS ci_hi_cents,
             CAST(count(*) AS BIGINT) AS n_replicates,
             CAST(min(med) AS BIGINT) AS min_med_cents,
             CAST(max(med) AS BIGINT) AS max_med_cents
      FROM reps_m)
    SELECT p.med AS point_median_cents, p.n_eff AS n_rows,
           ci.ci_lo_cents, ci.ci_hi_cents, ci.n_replicates,
           ci.min_med_cents, ci.max_med_cents
    FROM (SELECT med, n_eff FROM meds WHERE b = -1) p CROSS JOIN ci
    """,
    doc="Percentile-bootstrap confidence interval for the EXACT median "
    "of order revenue — the consumer q_sample_poisson_bootstrap's doc "
    "defers ('CI = quantiles over 32 values, consumer-side'), now a "
    "first-class operator: every row's multiplicity in replicate b is "
    "the deterministic Poisson(1) draw (same nonlinear middle-square "
    "mixer, dedicated lane salt so the CI stream is independent of "
    "the bootstrap/permutation/DSIR streams), each replicate's "
    "WEIGHTED median is exact ((n+1) div 2-th smallest by cumulative "
    "weight, ties by (cents, key)), and the interval is the 2nd/31st "
    "order statistics of the 32 replicate medians. Replicate -1 rides "
    "the same plan with weight 1: its median IS the empirical point "
    "estimate, so point and interval come from ONE pass. All integer "
    "arithmetic end-to-end. Shape (100 TB): the Spark side computes "
    "each weighted median via the two-phase histogram selection "
    "(operators/selection.py discipline, weights summed instead of "
    "rows counted): one (b, log-bin) map-side-combined hash-agg, "
    "cumulative windows only over the O(B x bins) histogram, then a "
    "boundary-bin-only rescan whose within-bin window touches a "
    "sliver; the 33-row replicate table finishes with O(1) windows. "
    "No corpus-scale sort at any SF (the oracle uses DuckDB's free "
    "sort — the oracle has no scale obligation).",
)
def q_quantile_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the checkpoint sits at the O(B)-row medians table — NOT at the
    # corpus-derived weighted histogram (r12 optimization round 1: the
    # earlier localCheckpoint materialized the B x |distinct cents|
    # table — 3.2M deserialized row blocks at sf0.1 — that only a
    # later driver GC released; dead blocks accumulated across bench
    # samples into memory pressure that made this rung's timing swing
    # 4-76 s). 33 rows truncate the lineage just as well, and the two
    # selection phases each fuse straight onto the mixer stream below.
    meds = _bci_meds_plan(spark, sf_dir).localCheckpoint()
    reps_m = meds.filter(F.col("b") >= 0).withColumn(
        "rn", F.row_number().over(Window.orderBy("med", "b"))
    )
    ci = reps_m.agg(
        F.min(F.when(F.col("rn") == _BCI_LO_K, F.col("med")))
        .cast("bigint")
        .alias("ci_lo_cents"),
        F.min(F.when(F.col("rn") == _BCI_HI_K, F.col("med")))
        .cast("bigint")
        .alias("ci_hi_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        F.min("med").cast("bigint").alias("min_med_cents"),
        F.max("med").cast("bigint").alias("max_med_cents"),
    )
    point = meds.filter(F.col("b") == -1).select(
        F.col("med").alias("point_median_cents"),
        F.col("n_eff").alias("n_rows"),
    )
    return point.crossJoin(F.broadcast(ci))


def _bci_meds_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy plan for the per-replicate weighted medians (b = -1 is the
    weight-1 point estimate): two mixer passes, nothing corpus-derived
    ever materialized.

    Pass structure (r12 optimization round 1; the earlier form
    aggregated the mixer ONCE into a checkpointed B x |distinct cents|
    weighted histogram — 3.2M rows at sf0.1 — whose materialization
    cost and GC-deferred release dominated and destabilized the rung):

    * phase 1 — the mixer stream collapses DIRECTLY into the
      O(B x log-bins) histogram in one map-side-combined hash-agg; the
      cumulative windows that locate each replicate's boundary bin run
      over that bounded table only;
    * phase 2 — a SECOND mixer pass re-derives the stream and keeps
      only boundary-bin rows (an expected 1/bins sliver) via a
      broadcast join against the O(B) bounds table; the within-bin
      cumulative window touches the sliver.

    Re-running the ~33-integer-op mixer once more costs two narrow
    scans of (o_orderkey, o_totalprice); materializing the weighted
    histogram instead costs O(B x |value domain|) storage — the wrong
    trade at every scale measured (med 6.7 s -> 2.6 s at sf0.1), and
    the pass count stays 2 at 100 TB while the avoided materialization
    grows with the price domain.

    Weight-0 rows ride through BOTH phases unfiltered — `WHERE w > 0`
    (the oracle's free row-level form) pushed below the fan-out join
    inlines the whole mixer into the join condition and blows janino's
    64 KB method limit (the registry's only codegen failure, a
    multi-second doomed compile per execution). Dropping the filter is
    value-identical: a w = 0 row adds nothing to any histogram or
    cumulative sum, and it can never become the crossing value of a
    RANGE-frame cumulative window (its frame total equals its
    predecessor's, so the filter threshold is crossed at a positive-
    weight peer or not at all)."""
    from azurestorage_blueprints_spark.operators.selection import log_bin

    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    # fan-out parallelism fix (see _spread_fanout): only the x33 mixer
    # source is rewritten; the weight-1 point-estimate branch stays a
    # plain scan
    raw = spark.sql(
        f"WITH {_spread_fanout(spark, _BCI_ROWS_SQL)}"
        " SELECT b, cents, w FROM wrows"
    )
    binc = log_bin(F.col("cents"))
    hist = raw.groupBy("b", binc.alias("qbin")).agg(
        F.sum("w").cast("bigint").alias("cnt")
    )
    wcum = (
        Window.partitionBy("b")
        .orderBy("qbin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "b",
        "qbin",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("b")).alias("n"),
    )
    k = F.expr("(n + 1) div 2")
    prev = F.col("cum") - F.col("cnt")
    bounds = (
        cum.filter((F.col("cum") >= k) & (prev < k))
        .select(
            F.col("b").alias("bb"),
            F.col("qbin").alias("bbin"),
            (k - prev).alias("r"),
            F.col("n"),
        )
    )
    # phase 2: second mixer pass, boundary-bin sliver only. Duplicate
    # cents rows (several orders share a price) are fine under the
    # default RANGE cumulative frame: peers share one cumulative total,
    # so min(cents) past the threshold is the same weighted median the
    # pre-aggregated form produced.
    cand = (
        raw.withColumn("qbin", binc)
        .join(
            F.broadcast(bounds),
            (F.col("b") == F.col("bb")) & (F.col("qbin") == F.col("bbin")),
        )
        .drop("bb", "bbin")
    )
    wrk = Window.partitionBy("qbin", "b").orderBy(F.col("cents").asc())
    return (
        cand.withColumn("cw", F.sum("w").over(wrk))
        .filter(F.col("cw") >= F.col("r"))
        .groupBy("b")
        .agg(
            F.min("cents").cast("bigint").alias("med"),
            F.max("n").cast("bigint").alias("n_eff"),
        )
    )
