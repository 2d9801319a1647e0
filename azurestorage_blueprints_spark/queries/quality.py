"""Data-quality constraint checking as a first-class query family.

A 100 TB training-data pipeline gates every ingest on a constraint
suite (the pattern popularized by Deequ/Great Expectations): key
uniqueness, referential integrity, null contracts, value domains and
ranges — each evaluated as a full-table aggregate, reported as one row
per constraint with checked/violation counts. The whole suite compiles
to one Spark job of independent single-pass aggregates (Catalyst
shares nothing between them, so they parallelize as separate stages;
each is scan → partial agg → 1-row exchange). Referential checks are
anti-join counts — at scale the dimension side stays a shuffle-hash
join build or a broadcast when it fits, never a driver collect.

Reference parity: the closest behavior in the reference is the
empty-result / missing-blob error matrix (SURVEY §2.1 E2,
``download_file.py`` error handling) — this family generalizes that
"did the data meet the contract?" gate to relational contracts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.queries import register, register_sql
from azurestorage_blueprints_spark.tables import table


register_sql(
    "q_dq_constraints",
    oracle="""
    SELECT 'unique_o_orderkey' AS check_name, 'orders' AS tbl,
           CAST(count(*) AS BIGINT) AS checked,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations
    FROM orders
    UNION ALL
    SELECT 'fk_orders_customer', 'orders',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    UNION ALL
    SELECT 'fk_lineitem_orders', 'lineitem',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    UNION ALL
    SELECT 'not_null_c_name', 'customer',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'range_l_quantity_1_50', 'lineitem',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'domain_o_orderstatus', 'orders',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                         THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'not_null_value', 'events',
           CAST(count(*) AS BIGINT),
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM events
    """,
    doc="Deequ-style data-quality constraint suite: key uniqueness, two "
    "referential-integrity checks, a NOT NULL contract, a numeric range, "
    "and a categorical domain — one row per constraint with checked and "
    "violation counts. Every check is a single-pass aggregate (uniqueness "
    "via count - count distinct, FKs via outer-join null counts — the "
    "anti-join count expressed so one join serves both counters); all "
    "integer arithmetic, so the report is value-hash exact.",
)


#: the forget cohort: a deterministic customer predicate standing in
#: for an erasure-request list (in production this arrives as a table)
_FORGET_MOD = 211


register_sql(
    "q_forget_manifest",
    oracle=f"""
    WITH cohort AS (
      SELECT c_custkey FROM customer WHERE c_custkey % {_FORGET_MOD} = 0
    ),
    o AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM cohort)
    )
    SELECT 'customer' AS tbl,
           CAST(count(*) AS BIGINT) AS n_delete,
           CAST(min(c_custkey) AS BIGINT) AS min_key,
           CAST(max(c_custkey) AS BIGINT) AS max_key
    FROM cohort
    UNION ALL
    SELECT 'orders', CAST(count(*) AS BIGINT),
           CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT)
    FROM o
    UNION ALL
    SELECT 'lineitem', CAST(count(*) AS BIGINT),
           CAST(min(l_orderkey) AS BIGINT), CAST(max(l_orderkey) AS BIGINT)
    FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM o)
    UNION ALL
    SELECT 'events', CAST(count(*) AS BIGINT),
           CAST(min(event_id) AS BIGINT), CAST(max(event_id) AS BIGINT)
    FROM events WHERE user_id IN (SELECT c_custkey FROM cohort)
    """,
    doc="Right-to-forget delete-propagation manifest: given an erasure "
    "cohort of customers, walk the foreign-key graph (customer -> orders "
    "-> lineitem, customer -> events) and report per-table delete counts "
    "and key ranges — the manifest a GDPR/takedown pipeline hands to the "
    "table writers before rewriting files. Every hop is a semi-join with "
    "the (small) cohort or order-key list on the build side — broadcast "
    "here, a shuffled semi-join at 100 TB — and the manifests are "
    "integer aggregates, so the report is value-hash exact. The same "
    "walk powers corpus takedowns on the documents table "
    "(q_decontaminate shares the drop-list join shape).",
)


# daily-volume anomaly screen: |today - trailing-7 mean| > 3 sigma as an
# EXACT integer inequality (cross-multiplied, no float mean/stddev)
_DQ_ANOMALY_SQL = """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT d, c,
             CAST(sum(c) OVER
               (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS m7,
             CAST(sum(CAST(c AS DECIMAL(38,0)) * c) OVER
               (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS DECIMAL(38,0)) AS s7,
             CAST(count(c) OVER
               (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS k7
      FROM daily
    )
    SELECT d AS day, c AS n_events, k7 AS window_days,
           CASE WHEN k7 = 7 THEN CAST(m7 AS DOUBLE) / 7.0 END AS trailing_mean,
           (k7 = 7 AND
            CAST(7 * c - m7 AS DECIMAL(38,0)) * (7 * c - m7)
              > 9 * (7 * s7 - CAST(m7 AS DECIMAL(38,0)) * m7)) AS is_anomaly
    FROM w
"""


register_sql(
    "q_dq_anomaly_rules",
    oracle=_DQ_ANOMALY_SQL,
    doc="Data-quality volume-anomaly screen: flag any ingest day whose "
    "event count deviates from the trailing 7-day mean by more than 3 "
    "population sigmas — the freshness/volume monitor that runs beside "
    "the q_dq_constraints suite in a production pipeline. The trailing "
    "moments ride ONE window over the DAILY count table (bounded by the "
    "calendar at any SF), and the 3-sigma test is an EXACT cross-"
    "multiplied integer inequality — (7c - m7)^2 > 9(7*s7 - m7^2) — so "
    "no float mean/stddev ever enters the decision; per-day squared "
    "counts accumulate as decimal(38,0), safe past 1e18 events/day "
    "(dense-daily assumption: the ROWS frame equals a 7-day window "
    "because every day has events; densify via a calendar spine when "
    "whole ingest days can be missing). "
    "Every day is emitted with its boolean verdict (first 7 days: "
    "false, insufficient window), keeping the result a full audit "
    "report rather than a possibly-empty exception list.",
)


#: k-anonymity threshold: an equivalence class smaller than this is a
#: re-identification risk (the conventional release floor)
_KANON_K = 5

_KANON_SQL = f"""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
             CAST(count(*) AS BIGINT) AS k,
             CAST(count(DISTINCT CASE WHEN c_acctbal < 0.0
                                      THEN 1 ELSE 0 END) AS BIGINT) AS l_div
      FROM customer
      GROUP BY c_nationkey, c_mktsegment, floor(c_acctbal / 1000.0)),
    tot AS (SELECT CAST(sum(k) AS BIGINT) AS n_total FROM classes)
    SELECT k,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(k) AS BIGINT) AS n_rows,
           k < {_KANON_K} AS at_risk,
           CAST(min(l_div) AS BIGINT) AS min_l,
           CAST(sum(k) AS DOUBLE) / CAST(max(n_total) AS DOUBLE) AS row_share
    FROM classes CROSS JOIN tot
    GROUP BY k
"""


register_sql(
    "q_k_anonymity",
    oracle=_KANON_SQL,
    doc="k-anonymity / l-diversity release screen — the privacy "
    "governance gate a pipeline runs before publishing a dataset "
    "containing person-level records: rows group into equivalence "
    "classes over the quasi-identifiers (nation, market segment, "
    "account-balance bucket — the attributes an adversary can link "
    "from outside), and the report histograms class sizes k with, per "
    "size, how many classes and rows sit at that k, whether that "
    f"stratum is below the k={_KANON_K} release floor (at_risk), and "
    "the worst l-diversity of the sensitive attribute (the in-debt "
    "flag) among those classes — a k-anonymous class with l=1 still "
    "leaks the sensitive value for everyone in it, which is why the "
    "two are reported together. All counts exact integers; the only "
    "double is the per-stratum row share. Shape (100 TB): one "
    "map-side-combined hash-agg on the QI key (bounded by the QI "
    "domain product, not the row count), one O(classes) re-agg on k, "
    "a 1-row total rides a broadcast cross join. O(distinct k) rows "
    "out at any scale.",
)


#: DP release parameters: epsilon-differential privacy for count
#: queries (sensitivity 1), Laplace scale b = 1/epsilon
_DP_EPS = 1.0

#: lane salt decorrelating the DP noise stream from the bootstrap,
#: permutation, and DSIR-Gumbel streams
_DP_SALT = 777767777

_DP_SQL = f"""
    WITH c AS (
      SELECT n.n_name, CAST(n.n_nationkey AS BIGINT) AS k,
             CAST(count(*) AS BIGINT) AS true_count
      FROM customer
      JOIN nation n ON c_nationkey = n.n_nationkey
      GROUP BY n.n_name, n.n_nationkey),
    seeded AS (
      SELECT n_name, k, true_count,
             ((k % 2147483648) * 2654435761 + {_DP_SALT}) % 2147483648 AS a
      FROM c),
    mix1 AS (
      SELECT n_name, k, true_count,
             (CAST((a * a - (a * a) % 65536) / 65536 AS BIGINT) + a)
               % 2147483648 AS a
      FROM seeded),
    mix2 AS (
      SELECT n_name, k, true_count,
             (CAST((a * a - (a * a) % 65536) / 65536 AS BIGINT) + a)
               % 2147483648 AS a
      FROM mix1),
    drawn AS (
      SELECT n_name, true_count,
             ((a * 2654435761) % 4294967296 + 0.5) / 4294967296.0 AS u
      FROM mix2),
    noised AS (
      SELECT n_name, true_count,
             CAST(round((CASE WHEN u < 0.5 THEN 1.0 ELSE -1.0 END)
                        * (1.0 / {_DP_EPS}) * ln(1.0 - 2.0 * abs(u - 0.5))
                        * 1000000.0) AS BIGINT) AS noise_micro
      FROM drawn)
    SELECT n_name, true_count, noise_micro,
           CAST({_DP_EPS} AS DOUBLE) AS epsilon,
           CAST(greatest(true_count + CAST(round(CAST(noise_micro AS DOUBLE)
                                                 / 1000000.0) AS BIGINT), 0)
                AS BIGINT) AS released_count
    FROM noised
"""


register_sql(
    "q_dp_noisy_counts",
    oracle=_DP_SQL,
    doc="Differentially-private count release — the Laplace mechanism "
    "over per-nation customer counts (sensitivity-1 counting query, "
    f"epsilon = {_DP_EPS}, scale b = 1/epsilon), the release-side twin "
    "of q_k_anonymity's risk screen: where k-anonymity REFUSES risky "
    "strata, DP releases every stratum with calibrated noise. This is "
    "the ACCOUNTANT's view of the mechanism (true count, noise draw, "
    "and release side by side — what a privacy audit inspects to "
    "certify calibration; the public release is the last column "
    "alone, clamped at 0 post-noise as is standard for counts). The "
    "Laplace draw is deterministic and engine-portable: the group key "
    "seeds the SAME nonlinear middle-square mixer as the bootstrap on "
    "its own lane salt, the 32-bit uniform maps through the inverse "
    "CDF -sign(u-1/2)/eps x ln(1-2|u-1/2|), and the noise quantizes "
    "to micro-units so the released integer derives from identical "
    "values on both engines. CAVEAT (r11, not fine print): the "
    "key-seeded DETERMINISTIC draw exists ONLY so the cross-engine "
    "differential oracle can re-derive it — it models the mechanism's "
    "ARITHMETIC, not its privacy guarantee. Anyone who knows the "
    "public group key can recompute the draw and invert released_count "
    "back to true_count exactly, so this output carries NO epsilon-DP "
    "guarantee; a real release replaces the seed with fresh secret "
    "randomness (and then necessarily gives up the bit-exact oracle). "
    "Shape (100 TB): one map-side-combined "
    "count agg on the group key; the noise is a per-OUTPUT-row "
    "projection (O(groups), never row-scale); dimension join "
    "broadcasts. O(nations) rows out.",
)


#: t-closeness release thresholds: distinct-l floor and the max total
#: variation (in milli) a class's sensitive distribution may sit from
#: the global one
_TC_L = 2
_TC_T_MILLI = 400


@register(
    "q_t_closeness",
    oracle=f"""
    WITH cl AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
             c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS c
      FROM customer GROUP BY 1, 2, 3),
    kk AS (SELECT c_nationkey, bal_bucket, CAST(sum(c) AS BIGINT) AS k
           FROM cl GROUP BY 1, 2),
    g AS (SELECT seg, CAST(sum(c) AS BIGINT) AS gv FROM cl GROUP BY seg),
    nn AS (SELECT CAST(sum(gv) AS BIGINT) AS n FROM g),
    grid AS (
      SELECT kk.c_nationkey, kk.bal_bucket, kk.k, nn.n, g.seg, g.gv,
             COALESCE(cl.c, 0) AS c
      FROM kk CROSS JOIN g CROSS JOIN nn
      LEFT JOIN cl ON cl.c_nationkey = kk.c_nationkey
                  AND cl.bal_bucket = kk.bal_bucket AND cl.seg = g.seg),
    per AS (
      SELECT c_nationkey, bal_bucket, k, n,
             CAST(sum(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS distinct_l,
             CAST(sum(CASE WHEN c > 0 THEN c * CAST(round(
                    ln(CAST(k AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000.0)
                    AS BIGINT) ELSE 0 END) // k AS BIGINT) AS ent_micro,
             CAST((500 * sum(abs(CAST(c AS HUGEINT) * n
                                 - CAST(gv AS HUGEINT) * k)))
                  // (CAST(k AS HUGEINT) * n) AS BIGINT) AS t_milli
      FROM grid GROUP BY 1, 2, 3, 4)
    SELECT c_nationkey, bal_bucket, k, distinct_l, ent_micro, t_milli,
           distinct_l >= {_TC_L} AND t_milli <= {_TC_T_MILLI} AS releasable
    FROM per
    """,
    doc="Entropy l-diversity + t-closeness — the two refinements the "
    "k-anonymity screen (q_k_anonymity) is known to need: a class can "
    "be k-anonymous yet reveal its sensitive attribute (low l), and "
    "l-diverse yet skewed far from the population (the t-closeness "
    "attack). Per equivalence class over the quasi-identifiers "
    "(nation, account-balance bucket) with market segment as the "
    "sensitive attribute: class size k, distinct-l, entropy "
    "H = sum c/k * ln(k/c) in micro-nats (each ln quantized to an "
    "int via the q_text_unigram_entropy convention, so the sum is an "
    "exact bigint reduction), and t = (1/2) sum_v |p_v - q_v| against "
    "the GLOBAL sensitive distribution in exact milli — the cross-"
    "multiplied form |c_v*N - g_v*k| rides HUGEINT/decimal(38,0) so "
    "the claim survives N ~ 1e12 rows (N^2 ~ 1e24 << 1e38), and "
    "values ABSENT from a class still contribute |0 - q_v*k| (the "
    "grid left-join; dropping them understates t exactly when the "
    "class is most skewed). releasable = distinct_l >= "
    f"{_TC_L} AND t_milli <= {_TC_T_MILLI}. Shape (100 TB): one "
    "map-side-combined hash-agg on (QI, sensitive) — bounded by the "
    "domain product, not rows — then O(classes) re-aggs; the O(5) "
    "segment dimension and the 1-row total ride broadcast cross "
    "joins. O(classes) rows out at any scale.",
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    cl = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_bucket"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    kk = cl.groupBy("c_nationkey", "bal_bucket").agg(
        F.sum("c").cast("bigint").alias("k")
    )
    g = cl.groupBy("seg").agg(F.sum("c").cast("bigint").alias("gv"))
    nn = g.agg(F.sum("gv").cast("bigint").alias("n"))
    grid = (
        kk.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(nn))
        .join(cl, ["c_nationkey", "bal_bucket", "seg"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0).cast("bigint")))
    )
    per = grid.groupBy("c_nationkey", "bal_bucket", "k", "n").agg(
        F.sum(F.when(F.col("c") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("distinct_l"),
        F.expr(
            "cast(sum(case when c > 0 then c * cast(round("
            "ln(cast(k as double) / cast(c as double)) * 1000000.0)"
            " as bigint) else 0 end) div k as bigint)"
        ).alias("ent_micro"),
        F.expr(
            "cast((500 * sum(abs(cast(c as decimal(38,0)) * n"
            " - cast(gv as decimal(38,0)) * k)))"
            " div (cast(k as decimal(38,0)) * n) as bigint)"
        ).alias("t_milli"),
    )
    return per.select(
        "c_nationkey",
        "bal_bucket",
        "k",
        "distinct_l",
        "ent_micro",
        "t_milli",
        (
            (F.col("distinct_l") >= _TC_L) & (F.col("t_milli") <= _TC_T_MILLI)
        ).alias("releasable"),
    )
