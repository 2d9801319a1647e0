"""Pattern-mining queries: association rules over order baskets,
session attribution over event streams, and corpus-frequency scoring.

Association mining here is the exact-count core of FP-growth-style
frequent-itemset work expressed relationally: within-basket pair
enumeration (bounded by basket size, not corpus size), support
filtering, and lift computation from the pair and singleton counts.
Attribution is the canonical first-touch credit assignment — one
window over the session partitioning. Token commonness is the
integer-only stand-in for unigram-LM perplexity scoring (sum of
corpus-level token counts per document; no logarithm crosses an
engine boundary, so the result is hash-exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.functions.text import tokens
from azurestorage_blueprints_spark.queries import register, register_sql
from azurestorage_blueprints_spark.tables import table

#: minimum baskets containing a pair for it to be reported (support floor)
_MIN_SUPPORT = 3


@register(
    "q_market_basket",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n_baskets AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM baskets
    ),
    singles AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
      FROM baskets GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS pair_cnt
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(*) >= {_MIN_SUPPORT}
    )
    SELECT p.part_a, p.part_b, p.pair_cnt,
           sa.cnt AS cnt_a, sb.cnt AS cnt_b,
           CAST(p.pair_cnt * nb.n AS DOUBLE) / (sa.cnt * sb.cnt) AS lift
    FROM pairs p
    JOIN singles sa ON p.part_a = sa.l_partkey
    JOIN singles sb ON p.part_b = sb.l_partkey
    CROSS JOIN n_baskets nb
    ORDER BY p.pair_cnt DESC, lift DESC, p.part_a, p.part_b
    LIMIT 25
    """,
    doc="Market-basket association rules: part pairs co-occurring in at "
    "least 3 orders, with support counts and lift "
    "(N·cnt(a,b)/(cnt(a)·cnt(b)) — computed as one integer product cast "
    "to double over another, so it hashes exactly). Pair enumeration is "
    "within-basket (quadratic in basket size ~4, linear in baskets); "
    "the support HAVING prunes before the singleton joins, and the "
    "basket total is a broadcast scalar. This is the exact-count core "
    "of FP-growth expressed as joins — the shape that scales is "
    "identical, with the support floor as the density knob.",
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # the distinct basket relation feeds three consumers (census,
    # singleton counts, both self-join sides) — materialize it once
    baskets = (
        li.select("l_orderkey", "l_partkey").distinct().localCheckpoint(eager=False)
    )
    n_baskets = baskets.select(
        F.countDistinct("l_orderkey").alias("n")
    )
    singles = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= _MIN_SUPPORT)
    )
    sa = singles.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a"))
    sb = singles.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b"))
    lift = (F.col("pair_cnt") * F.col("n")).cast("double") / (
        F.col("cnt_a") * F.col("cnt_b")
    )
    # no hint on the lift joins: singleton counts are one row per part
    # (SF-proportional), so AQE broadcasts whichever side fits at
    # runtime — support-filtered pairs at extreme scale, singles here
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(n_baskets))
        .select("part_a", "part_b", "pair_cnt", "cnt_a", "cnt_b", lift.alias("lift"))
        .orderBy(F.desc("pair_cnt"), F.desc("lift"), "part_a", "part_b")
        .limit(25)
    )


#: session gap: a new session starts after 30 minutes of inactivity
_SESSION_GAP_MIN = 30


register_sql(
    "q_attribution_first_touch",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_type, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL {_SESSION_GAP_MIN} MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start,
             event_id
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, event_type, value,
             CAST(SUM(is_start) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_no,
             event_id
      FROM ordered
    ),
    attributed AS (
      SELECT user_id, session_no,
             FIRST_VALUE(event_type) OVER (
               PARTITION BY user_id, session_no ORDER BY ts, event_id
             ) AS first_touch,
             value
      FROM sessions
    )
    SELECT first_touch,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT (user_id, session_no)) AS BIGINT) AS n_sessions,
           CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM attributed
    GROUP BY first_touch
    """,
    doc="First-touch attribution: sessionize each user's event stream "
    "(30-minute inactivity gap via lag + running flag-sum — the "
    "standard two-window sessionizer), credit every event's value to "
    "the session's FIRST event type, and aggregate credited value per "
    "acquiring channel. Value is quantized to exact cents "
    "(round(x*100) as bigint — identical on both engines) before the "
    "order-sensitive sum, so the aggregate hashes exactly. Both "
    "windows share the (user_id) partitioning — one shuffle, two "
    "window passes, one final agg.",
)


@register(
    "q_token_commonness",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> ''))
               AS token
      FROM documents
    ),
    vocab AS (
      SELECT token, CAST(count(*) AS BIGINT) AS global_cnt FROM tok GROUP BY token
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(v.global_cnt) AS BIGINT) AS commonness_sum
      FROM tok t JOIN vocab v ON t.token = v.token
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, commonness_sum,
           CAST(commonness_sum AS DOUBLE) / n_tokens AS mean_commonness
    FROM scored
    ORDER BY mean_commonness, doc_id
    LIMIT 100
    """,
    doc="Token-commonness scoring (integer-only perplexity proxy): each "
    "document scored by the sum of the corpus-level counts of its "
    "tokens — documents full of rare tokens score low, exactly the "
    "signal a unigram-LM perplexity filter extracts, but with no "
    "logarithm so the result is hash-exact across engines. The vocab "
    "table (distinct tokens + counts) is small and broadcast back onto "
    "the token stream; the 100 rarest documents surface first — the "
    "review queue a quality pipeline actually reads.",
)
def q_token_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.expr(tokens())).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("global_cnt"))
    scored = (
        tok.join(F.broadcast(vocab), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("global_cnt").cast("bigint").alias("commonness_sum"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_tokens",
            "commonness_sum",
            (F.col("commonness_sum").cast("double") / F.col("n_tokens")).alias(
                "mean_commonness"
            ),
        )
        .orderBy("mean_commonness", "doc_id")
        .limit(100)
    )
