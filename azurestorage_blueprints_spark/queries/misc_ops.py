"""Coverage closers for SURVEY.md §2.2: unpivot/melt, map functions,
Arrow-batched pandas UDAF, and bag-semantics set operations."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from azurestorage_blueprints_spark.functions.text import char_fold, token_count, tokens
from azurestorage_blueprints_spark.queries import finalize_bounded, register, register_sql
from azurestorage_blueprints_spark.tables import table


@register(
    "q_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
           CAST(l_quantity AS DOUBLE) AS value
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', CAST(l_discount AS DOUBLE)
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', CAST(l_tax AS DOUBLE)
    FROM lineitem WHERE l_orderkey < 100
    """,
    doc="Unpivot/melt: wide measures → (measure, value) long form via "
    "df.unpivot — the inverse of q_pivot; oracle spelled as UNION ALL for "
    "dialect neutrality.",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "value",
    )


@register(
    "q_map_funcs",
    oracle="""
    SELECT event_id,
           array_to_string(list_sort(json_keys(props)), '|') AS prop_keys,
           len(json_keys(props)) AS n_props,
           CAST(props->>'k' AS INTEGER) AS k_value,
           (json_extract(props, '$.k') IS NOT NULL) AS has_k
    FROM events WHERE event_id < 2000
    """,
    doc="Map functions over JSON-derived map<string,int>: map_keys (sorted "
    "for order stability), size, element access, membership. Array outputs "
    "are serialized to '|'-joined strings on both engines — the driver's "
    "pandas canonicalizer cannot sort list cells.",
)
def q_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    m = F.from_json("props", "map<string,int>")
    return ev.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), "|").alias("prop_keys"),
        F.size(F.map_keys(m)).alias("n_props"),
        m.getItem("k").alias("k_value"),
        F.map_contains_key(m, "k").alias("has_k"),
    )


@register(
    "q_pandas_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           max(CAST(l_quantity AS BIGINT)) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Grouped-aggregate pandas UDF (Arrow-batched UDAF): integer "
    "reductions inside Python workers — exact, order-insensitive, so it "
    "oracle-checks even though the computation leaves the JVM. The pattern "
    "stands in for custom numeric aggregations Catalyst lacks.",
)
def q_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    @pandas_udf("bigint")
    def int_sum(s: pd.Series) -> int:
        return int(s.sum())

    @pandas_udf("bigint")
    def int_max(s: pd.Series) -> int:
        return int(s.max())

    li = table(spark, sf_dir, "lineitem").withColumn(
        "qty", F.col("l_quantity").cast("bigint")
    )
    return li.groupBy("l_returnflag").agg(
        int_sum("qty").alias("total_qty"),
        int_max("qty").alias("max_qty"),
    )


register_sql(
    "q_setop_except_all",
    oracle="""
    SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity <= 45
    EXCEPT ALL
    SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity > 20
    """,
    doc="Bag difference (EXCEPT ALL): multiplicities subtract instead of "
    "set-collapse — exceptAll, not subtract().distinct().",
)


register_sql(
    "q_setop_intersect_all",
    oracle="""
    SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity <= 30
    INTERSECT ALL
    SELECT l_returnflag, l_linestatus FROM lineitem WHERE l_quantity > 15
    """,
    doc="Bag intersection (INTERSECT ALL): per-row multiplicity is "
    "min(count_left, count_right).",
)


@register(
    "q_skew_salted_join",
    oracle="""
    WITH dim AS (
      SELECT l_returnflag AS flag, count(*) AS flag_rows FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
           max(d.flag_rows) AS flag_rows
    FROM lineitem l JOIN dim d ON l.l_returnflag = d.flag
    GROUP BY l.l_returnflag
    """,
    doc="Skew-mitigated join: lineitem joined to a 3-row dimension on a "
    "hot low-cardinality key through operators/skew.salted_join — each hot "
    "key spreads over 8 shuffle partitions via a deterministic salt; the "
    "oracle is the PLAIN join, proving salting changes partitioning only, "
    "never results.",
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from azurestorage_blueprints_spark.operators.skew import salted_join
    from azurestorage_blueprints_spark.queries.relational import _dec

    li = table(spark, sf_dir, "lineitem")
    dim = (
        li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(F.count(F.lit(1)).alias("flag_rows"))
        .withColumnRenamed("flag", "l_returnflag")
    )
    joined = salted_join(
        li.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
        dim,
        "l_returnflag",
        salt_by=F.concat_ws("_", "l_orderkey", "l_linenumber"),
        n_salt=8,
    )
    return joined.groupBy("l_returnflag").agg(
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        F.max("flag_rows").alias("flag_rows"),
    )


@register(
    "q_array_agg",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), '|') AS statuses,
           array_to_string(list_sort(list(o_orderkey ORDER BY o_orderkey))[1:5], '|') AS first_orderkeys,
           count(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Collection aggregates: collect_set/collect_list produce "
    "nondeterministic element order under distribution, so every array "
    "aggregate is array_sort-ed (or top-k sliced) before leaving the "
    "operator — the only way collection results can be reproducible at "
    "1000 executors. Serialized to '|'-joined strings so the driver's "
    "pandas canonicalizer (which cannot sort list cells) can hash them.",
)
def q_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_set("o_orderstatus")), "|").alias("statuses"),
        F.array_join(
            F.slice(F.array_sort(F.collect_list("o_orderkey")), 1, 5).cast("array<string>"),
            "|",
        ).alias("first_orderkeys"),
        F.count(F.lit(1)).alias("n"),
    )


register_sql(
    "q_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(min(o_totalprice) AS DOUBLE) AS lo,
           CAST(max(o_totalprice) AS DOUBLE) AS hi
    FROM orders
    GROUP BY 1
    """,
    doc="Fixed-width histogram via floor-bucket arithmetic (portable across "
    "engines, unlike width_bucket dialects): one hash-agg, map-side "
    "combined — the distributed histogram primitive.",
)


@register(
    "q_sketch_hll_merge",
    oracle=None,  # HLL estimates are sketch-implementation-specific — rows-only
    doc="Mergeable distinct-count sketches: per-language HLL sketches built "
    "map-side, merged with hll_union_agg into a global estimate — THE way to "
    "count distincts at 100 TB, where exact countDistinct re-shuffles raw "
    "keys but sketches reduce to a few KB per partition. Exact counts ride "
    "along so tests/test_sketches.py can gate the estimate error (<5%).",
)
def q_sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    per_lang = d.groupBy("lang").agg(
        F.expr("hll_sketch_agg(doc_id)").alias("sk"),
        F.countDistinct("doc_id").alias("exact_distinct"),
    )
    per_lang_out = per_lang.select(
        "lang",
        F.expr("hll_sketch_estimate(sk)").alias("est_distinct"),
        "exact_distinct",
    )
    total = per_lang.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_distinct"),
        F.sum("exact_distinct").alias("exact_distinct"),
    ).select(F.lit("__all__").alias("lang"), "est_distinct", "exact_distinct")
    return per_lang_out.unionByName(total)


@register(
    "q_approx_percentile_sketch",
    oracle=None,  # sketch-specific interpolation — rows-only
    doc="Approximate percentiles per group (approx_percentile, mergeable "
    "KLL-style sketch) next to the exact answers: the scale path for the "
    "quantile-threshold operators — exact percentile sorts every group, the "
    "sketch reduces map-side and merges. Error gated in tests/test_sketches.py.",
)
def q_approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # scalar output columns (not arrays): the driver canonicalizer
    # cannot sort list cells, and per-percentile columns diff cleaner
    return d.groupBy("lang").agg(
        F.expr("approx_percentile(n_chars, 0.5, 1000)").alias("approx_p50"),
        F.expr("approx_percentile(n_chars, 0.9, 1000)").alias("approx_p90"),
        F.expr("percentile(n_chars, 0.5)").alias("exact_p50"),
        F.expr("percentile(n_chars, 0.9)").alias("exact_p90"),
    )


@register(
    "q_cogroup_reconcile",
    oracle="""
    WITH o AS (SELECT o_custkey AS id, count(*) AS n_orders,
                      max(o_totalprice) AS max_order_total
               FROM orders GROUP BY 1),
    e AS (SELECT user_id AS id, count(*) AS n_events,
                 max(value) AS max_event_value
          FROM events GROUP BY 1)
    SELECT CAST(COALESCE(o.id, e.id) AS BIGINT) AS id,
           CAST(COALESCE(o.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(e.n_events, 0) AS BIGINT) AS n_events,
           CAST(o.max_order_total AS DOUBLE) AS max_order_total,
           CAST(e.max_event_value AS DOUBLE) AS max_event_value
    FROM o FULL OUTER JOIN e ON o.id = e.id
    """,
    doc="Cogrouped applyInPandas (two-table Arrow UDF): orders and events "
    "are co-shuffled on customer id and each key's pair of pandas frames "
    "is merged in one Python call — the escape hatch for per-key logic "
    "joins can't express (custom reconciliation, per-entity model "
    "scoring). Only order-insensitive reductions (count/max) cross the "
    "Arrow boundary so the result oracle-checks against the equivalent "
    "FULL OUTER JOIN of two aggregates. Scale: one co-partitioned "
    "shuffle per side — same cost envelope as a sort-merge join.",
)
def q_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("id"), "o_totalprice"
    )
    events = table(spark, sf_dir, "events").select(
        F.col("user_id").alias("id"), "value"
    )

    def merge(key: tuple, opdf: pd.DataFrame, epdf: pd.DataFrame) -> pd.DataFrame:
        (k,) = key
        return pd.DataFrame(
            {
                "id": [k],
                "n_orders": [len(opdf)],
                "n_events": [len(epdf)],
                "max_order_total": [
                    float(opdf["o_totalprice"].max()) if len(opdf) else None
                ],
                "max_event_value": [float(epdf["value"].max()) if len(epdf) else None],
            }
        )

    return (
        orders.groupBy("id")
        .cogroup(events.groupBy("id"))
        .applyInPandas(
            merge,
            schema="id long, n_orders long, n_events long, "
            "max_order_total double, max_event_value double",
        )
    )


@register(
    "q_udtf_sentences",
    oracle="""
    WITH parts AS (
      SELECT doc_id, unnest(string_split(text, '. ')) AS sentence,
             generate_subscripts(string_split(text, '. '), 1) - 1 AS sent_idx
      FROM documents)
    SELECT doc_id, CAST(sent_idx AS INT) AS sent_idx, sentence,
           CAST(len(list_filter(string_split(sentence, ' '), t -> t <> '')) AS INT)
             AS n_sent_tokens
    FROM parts WHERE sentence <> ''
    """,
    doc="Python UDTF (table function) sentence splitter: one input row "
    "fans out to N sentence rows via LATERAL — completing the "
    "UDF/UDAF/UDTF triad. The UDTF mechanism is the escape hatch for "
    "row-expanding logic explode can't express (stateful tokenizers, "
    "format parsers); for THIS splitting, prefer the codegen "
    "explode/split path — the UDTF exists as tested API surface, and "
    "its per-row Python cost is why. Executes partition-local (no "
    "shuffle); oracle is the equivalent unnest-with-ordinality.",
)
def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sent_idx int, sentence string, n_sent_tokens int")
    class SentenceSplit:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF contract
            for i, s in enumerate((text or "").split(". ")):
                if s:
                    yield doc_id, i, s, len([t for t in s.split(" ") if t])

    spark.udtf.register("sentence_split", SentenceSplit)
    table(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT s.* FROM _udtf_docs, LATERAL sentence_split(doc_id, text) s"
    )


@register(
    "q_provenance_files",
    oracle="""
    SELECT 'lineitem.parquet' AS file_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS min_rid,
           CAST(count(*) - 1 AS BIGINT) AS max_rid,
           CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey
    FROM lineitem
    """,
    doc="Record provenance audit via the parquet reader's hidden _metadata "
    "struct: per source file, row count, the [min,max] of the in-file row "
    "index, and a content checksum column. At 100 TB this is how a "
    "pipeline attributes every training record back to its source file "
    "(and prunes/recalls a bad file's rows) without storing lineage "
    "columns in the data — the reader synthesizes them. The oracle "
    "exploits the testdata invariant of one file per table (row_index "
    "must then cover 0..n-1 exactly); with multi-file tables the same "
    "query groups per file. _metadata is null-cost: no shuffle, no extra "
    "I/O beyond the scan.",
)
def q_provenance_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.regexp_extract(F.col("_metadata.file_path"), r"[^/]+$", 0).alias("file_name"),
            F.col("_metadata.row_index").alias("rid"),
            "l_orderkey",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("rid").alias("min_rid"),
            F.max("rid").alias("max_rid"),
            F.sum("l_orderkey").alias("sum_orderkey"),
        )
    )


@register(
    "q_join_prefiltered",
    oracle="""
    SELECT l_linestatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_orderdate >= DATE '1995-01-01'
    GROUP BY l_linestatus
    """,
    doc="Runtime-filter (bloom-style) join: before shuffling the fact "
    "table into the join, semi-join it against the DISTINCT coarse hash "
    "buckets (xxhash64 mod 8192) of the filtered dim keys — a broadcast "
    "of a few-KB int set that drops most fact rows at the scan, exactly "
    "what Spark's own InSubquery/bloom runtime filters do when enabled. "
    "The final equi-join re-checks exact keys, so false-positive bucket "
    "collisions cannot leak rows and the result equals the plain join "
    "(the oracle IS the plain join). At 100 TB this turns a "
    "full-fact-table shuffle into a shuffle of only plausibly-matching "
    "rows.",
)
def q_join_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from azurestorage_blueprints_spark.queries.relational import DEC

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
    )
    bucket = lambda c: F.pmod(F.xxhash64(F.col(c)), F.lit(8192))  # noqa: E731
    dim_buckets = o.select(bucket("o_orderkey").alias("b")).distinct()
    pruned = li.withColumn("b", bucket("l_orderkey")).join(
        F.broadcast(dim_buckets), "b", "left_semi"
    )
    rev = F.col("l_extendedprice").cast(DEC) * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        pruned.join(o.select("o_orderkey"), pruned.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


# bounded quality score x/(1+|x|) from the centered token count —
# IEEE +-*/ and abs only, so Python (numpy), Spark, and DuckDB all
# produce bit-identical doubles from the same integer input
_LOGIT = "(CAST(n_tokens - 100 AS DOUBLE) / 50.0)"
_SQUASH = f"({_LOGIT} / (1.0 + abs({_LOGIT})))"


@register(
    "q_pandas_scalar_udf",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
               AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens, {_SQUASH} AS length_score FROM t
    """,
    doc="Scalar Arrow-vectorized pandas UDF — the remaining rung of the "
    "UDF matrix next to the grouped UDAF (q_pandas_grouped_agg), "
    "cogrouped applyInPandas (q_cogroup_reconcile), UDTF "
    "(q_udtf_sentences) and stateful (q_stream_stateful_totals): a "
    "length-based quality squash x/(1+|x|) computed in numpy over "
    "Arrow batches. The function body is rational arithmetic only "
    "(IEEE +-*/ and abs — no libm), so the Python result is "
    "bit-identical to the DuckDB oracle and the query hash-checks even "
    "though the hot loop leaves the JVM. Shape: embarrassingly "
    "parallel scan-stage projection, zero shuffles; the Arrow transfer "
    "is the entire overhead, which is the honest cost model for any "
    "pandas UDF at 100 TB.",
)
def q_pandas_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    @pandas_udf("double")
    def squash(n: pd.Series) -> pd.Series:
        x = (n - 100).astype("float64") / 50.0
        return x / (1.0 + x.abs())

    d = table(spark, sf_dir, "documents")
    nt = F.expr(token_count()).cast("bigint")
    return d.select(
        "doc_id", nt.alias("n_tokens"), squash(nt).alias("length_score")
    )


#: count-min geometry: 4 hash rows x 1024 counters
_CMS_D, _CMS_W = 4, 1024


@register(
    "q_sketch_count_min",
    oracle=None,  # xxhash64-bucket counters are hash-specific — rows-only
    doc="Count-min sketch frequency estimation — the third mergeable "
    "sketch rung next to HLL (distincts) and approx_percentile "
    "(quantiles): the token stream folds into a 4x1024 counter grid "
    "(token hashed with 4 seeds, one counter bucket each), and a "
    "token's estimate is the MIN of its 4 counters — always >= the "
    "true count, over by at most ~N/w with high probability. The "
    "sketch build is one hash-agg whose output is 4096 rows at ANY "
    "corpus size (map-side combined — this is the entire point at "
    "100 TB: partition sketches merge by addition, raw tokens never "
    "re-shuffle). The query carries the exact counts of the top-20 "
    "tokens alongside their estimates so tests/test_sketches.py can "
    "gate the overcount against the theoretical bound.",
)
def q_sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # ONE map-side-combined pass reduces the token stream to the
    # O(vocab) count table; BOTH the sketch (counters = sums of counts
    # per hashed cell — identical to counting raw tokens) and the exact
    # top-20 derive from it, so what persists is vocab-sized, never the
    # corpus token stream (released via finalize_bounded)
    toks = (
        d.select(F.explode(F.expr(tokens())).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
        .persist()
    )
    seeds = F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("d")
    cells = toks.select("tok", "exact_cnt", seeds).select(
        "exact_cnt", "d", F.pmod(F.xxhash64("tok", "d"), F.lit(_CMS_W)).alias("h")
    )
    sketch = cells.groupBy("d", "h").agg(F.sum("exact_cnt").cast("bigint").alias("c"))
    top = toks.orderBy(F.desc("exact_cnt"), "tok").limit(20)
    probes = top.select("tok", "exact_cnt", seeds).select(
        "tok",
        "exact_cnt",
        "d",
        F.pmod(F.xxhash64("tok", "d"), F.lit(_CMS_W)).alias("h"),
    )
    out = (
        probes.join(F.broadcast(sketch), ["d", "h"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return finalize_bounded(out, toks)


_SKEW_SQL = """
    WITH cnt AS (
      SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n_rows
      FROM lineitem GROUP BY l_partkey
    ),
    g AS (
      SELECT key, n_rows,
             CAST(count(*) OVER () AS BIGINT) AS n_keys,
             CAST(sum(n_rows) OVER () AS BIGINT) AS total_rows
      FROM cnt
    )
    SELECT key, n_rows, n_keys, total_rows,
           CAST(n_rows AS DOUBLE) * CAST(n_keys AS DOUBLE)
             / CAST(total_rows AS DOUBLE) AS skew_ratio,
           CAST(ceil(CAST(n_rows AS DOUBLE) * CAST(n_keys AS DOUBLE)
                     / CAST(total_rows AS DOUBLE)) AS BIGINT) AS recommended_salt
    FROM g
    ORDER BY n_rows DESC, key
    LIMIT 10
"""


register_sql(
    "q_skew_diagnose",
    oracle=_SKEW_SQL,
    doc="Join-key skew profiler — the planning step that sizes the salt "
    "factor for operators/skew.py's salted join: per-key row counts "
    "(one map-side-combined hash-agg), the global key count and row "
    "total riding an unbounded window over the ALREADY-AGGREGATED "
    "count table (single fact scan — the Catalyst CTE-inlining "
    "discipline), and for the top-10 heaviest keys the skew ratio "
    "n_rows/avg and the integer salt factor ceil(ratio) that would "
    "level that key across partitions. All integers exact; the ratio "
    "is the only derived double (ceil over an exact-integer-derived "
    "double is engine-identical); top-10 runs as TakeOrderedAndProject "
    "with key tie-breaks. At 100 TB this is the query you run BEFORE "
    "the big join, on the count table, never the fact table.",
)


_JSONQ_SQL_ORACLE = """
    WITH staged AS (
      SELECT event_type,
             CASE WHEN event_id % 97 = 0
                  THEN substr(props, 1, len(props) - 2)
                  ELSE props END AS raw
      FROM events
    ),
    classified AS (
      SELECT event_type, raw,
             json_valid(raw) AS is_parsed,
             CASE WHEN json_valid(raw)
                  THEN CAST(raw->>'k' AS BIGINT) END AS k_val
      FROM staged
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN is_parsed THEN 0 ELSE 1 END) AS BIGINT) AS n_quarantined,
           CAST(sum(CASE WHEN is_parsed THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
           CAST(sum(CASE WHEN is_parsed THEN k_val ELSE 0 END) AS BIGINT) AS sum_k
    FROM classified GROUP BY event_type
"""


@register(
    "q_json_quarantine",
    oracle=_JSONQ_SQL_ORACLE,
    doc="Corrupt-record quarantine — the PERMISSIVE-mode ingestion "
    "pattern: malformed JSON payloads must never kill the job, they "
    "route to a quarantine count (and in production a quarantine sink) "
    "while valid rows parse and aggregate. The corpus's props are all "
    "well-formed, so the query deterministically truncates every 97th "
    "event's payload upstream to exercise the path end-to-end; "
    "classification is from_json-null on the Spark side and json_valid "
    "on DuckDB — both engines agree that a truncated object is "
    "unparseable, and the recovered k-sum over surviving rows is exact "
    "integer arithmetic. Shape: row-local parse + one map-side-"
    "combined agg; at 100 TB the quarantined rows write to a dead-"
    "letter path from the same pass (foreachPartition side channel).",
)
def q_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    raw = F.when(
        F.col("event_id") % 97 == 0,
        F.expr("substr(props, 1, length(props) - 2)"),
    ).otherwise(F.col("props"))
    m = F.from_json(raw, "map<string,int>")
    parsed = m.isNotNull()
    k_val = m.getItem("k").cast("bigint")
    return (
        ev.select("event_type", parsed.alias("is_parsed"), k_val.alias("k_val"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(F.when(F.col("is_parsed"), 0).otherwise(1)).cast("bigint").alias(
                "n_quarantined"
            ),
            F.sum(F.when(F.col("is_parsed"), 1).otherwise(0)).cast("bigint").alias(
                "n_parsed"
            ),
            F.sum(
                F.when(F.col("is_parsed"), F.coalesce(F.col("k_val"), F.lit(0))).otherwise(0)
            ).cast("bigint").alias("sum_k"),
        )
    )


# ---------------------------------------------------------------------------
# Portable count-min sketch — the ORACLE-CHECKED twin of
# q_sketch_count_min (whose xxhash64 buckets are engine-specific):
# every row hash is the repo's polynomial token fold and each of the
# 4 sketch rows buckets through its own affine map — pure int64
# arithmetic DuckDB reproduces exactly, so the counter grid AND the
# min-estimates are value-hash checkable, not just error-gated.
_CMSP_M = 2147483647
_CMSP_A = [293, 709, 1117, 2281]
_CMSP_B = [7, 101, 331, 577]


def _cmsp_bucket(d: int) -> str:
    return f"(((h * {_CMSP_A[d]} + {_CMSP_B[d]}) % {_CMSP_M}) % {_CMS_W})"


_CMSP_BUCKET_CASE = "CASE d " + " ".join(
    f"WHEN {d} THEN {_cmsp_bucket(d)}" for d in range(_CMS_D)
) + " END"


@register(
    "q_sketch_count_min_portable",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
      FROM documents
    ),
    cnt AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt FROM tok GROUP BY tok
    ),
    hp AS (
      SELECT tok, exact_cnt,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(tok, ''),
                                c -> CAST(ascii(c) AS BIGINT))),
               (h, c) -> (h * 31 + c) % {_CMSP_M}) AS h
      FROM cnt
    ),
    ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
    cells AS (
      SELECT exact_cnt, d, {_CMSP_BUCKET_CASE} AS b
      FROM hp CROSS JOIN ds
    ),
    sketch AS (
      SELECT d, b, CAST(sum(exact_cnt) AS BIGINT) AS c
      FROM cells GROUP BY d, b
    ),
    top AS (
      SELECT tok, exact_cnt, h FROM hp ORDER BY exact_cnt DESC, tok LIMIT 20
    ),
    probes AS (
      SELECT tok, exact_cnt, d, {_CMSP_BUCKET_CASE} AS b
      FROM top CROSS JOIN ds
    )
    SELECT p.tok, p.exact_cnt, CAST(min(s.c) AS BIGINT) AS est_cnt
    FROM probes p JOIN sketch s ON p.d = s.d AND p.b = s.b
    GROUP BY p.tok, p.exact_cnt
    ORDER BY p.exact_cnt DESC, p.tok
    """,
    doc="Count-min sketch, fully ORACLE-CHECKED: token frequencies fold "
    "into the same 4x1024 mergeable counter grid as "
    "q_sketch_count_min, but every bucket comes from the portable "
    "polynomial token hash pushed through four affine row maps — "
    "pure int64 arithmetic, so DuckDB reproduces the entire sketch "
    "AND each top-20 token's min-of-counters estimate bit-for-bit "
    "(the fast rung's xxhash64 buckets are engine-specific and stay "
    "rows-only + error-gated). The overcount guarantee (est >= exact, "
    "over by <= ~N/w whp) is inherited unchanged because the bound "
    "only needs pairwise-independent-ish row hashes, not a specific "
    "family. Shape: one map-side-combined token count (the only "
    "fact-scale exchange, vocab-bounded), a 4096-row sketch at ANY "
    "corpus size, broadcast-sized probe join.",
)
def q_sketch_count_min_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = (
        d.select(F.explode(F.expr(tokens())).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
        .selectExpr("tok", "exact_cnt", f"{char_fold('tok', _CMSP_M)} AS h")
        .persist()
    )
    seeds = F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("d")
    cells = toks.select("exact_cnt", seeds, "h").select(
        "exact_cnt", "d", F.expr(_CMSP_BUCKET_CASE).alias("b")
    )
    sketch = cells.groupBy("d", "b").agg(F.sum("exact_cnt").cast("bigint").alias("c"))
    top = toks.orderBy(F.desc("exact_cnt"), "tok").limit(20)
    probes = top.select("tok", "exact_cnt", seeds, "h").select(
        "tok", "exact_cnt", "d", F.expr(_CMSP_BUCKET_CASE).alias("b")
    )
    out = (
        probes.join(sketch, ["d", "b"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("c").cast("bigint").alias("est_cnt"))
        .orderBy(F.desc("exact_cnt"), "tok")
    )
    return finalize_bounded(out, toks)


# ---------------------------------------------------------------------------
# Portable HyperLogLog — the ORACLE-CHECKED twin of q_sketch_hll_merge
# (whose Datasketches registers are implementation-specific): 64
# registers (p=6), keys mixed through the repo's nonlinear
# middle-square rounds (an affine hash leaves trailing-zero patterns
# correlated with key parity — the same degeneracy class as the r5
# bootstrap collapse), rho from a %-only CASE chain, and the raw
# estimate from EXACT dyadic 2^-M literals whose float sum is exact in
# any order. DuckDB reproduces registers AND estimate bit-for-bit.
_HLLP_P = 6
_HLLP_M = 1 << _HLLP_P  # 64 registers
_HLLP_ALPHA = 0.709  # alpha_64, Flajolet et al. 2007 (public)
_HLLP_WBITS = 31 - _HLLP_P  # 25 payload bits; rho caps at 26

#: rho = 1 + index of the least-significant set bit of w (w=0 -> cap);
#: spelled with % only, so the text is dialect-common
_HLLP_RHO = "CASE " + " ".join(
    f"WHEN w % {1 << (k + 1)} >= {1 << k} THEN {k + 1}" for k in range(_HLLP_WBITS)
) + f" ELSE {_HLLP_WBITS + 1} END"

#: 2^-M as exact dyadic literals (rho <= 26, so every value is exactly
#: representable and the 64-term sum never rounds — order-insensitive)
_HLLP_INV_POW2 = "CASE m " + " ".join(
    f"WHEN {k} THEN {2.0 ** -k!r}" for k in range(1, _HLLP_WBITS + 2)
) + " END"

_HLLP_SQL = f"""
    WITH seeded AS (
      SELECT lang,
             ((doc_id % 2147483648) * 2654435761 + 987654321)
               % 2147483648 AS a
      FROM documents
    ),
    mix1 AS (
      SELECT lang,
             (CAST((a * a - (a * a) % 65536) / 65536 AS BIGINT) + a)
               % 2147483648 AS a
      FROM seeded
    ),
    mix2 AS (
      SELECT lang,
             (CAST((a * a - (a * a) % 65536) / 65536 AS BIGINT) + a)
               % 2147483648 AS a
      FROM mix1
    ),
    hashed AS (
      SELECT lang, (a * 2654435761) % 2147483648 AS u
      FROM mix2
    ),
    wb AS (
      SELECT lang, u % {_HLLP_M} AS bucket,
             CAST((u - u % {_HLLP_M}) / {_HLLP_M} AS BIGINT) AS w
      FROM hashed
    ),
    regs AS (
      SELECT lang, bucket, CAST(max({_HLLP_RHO}) AS BIGINT) AS m
      FROM wb GROUP BY lang, bucket
    ),
    est AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_buckets_used,
             sum({_HLLP_INV_POW2}) AS s_present
      FROM regs GROUP BY lang
    ),
    exact AS (
      SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS exact_distinct
      FROM documents GROUP BY lang
    )
    SELECT e.lang, e.n_buckets_used, x.exact_distinct,
           ({_HLLP_ALPHA} * {_HLLP_M}.0 * {_HLLP_M}.0)
             / (e.s_present + ({_HLLP_M} - e.n_buckets_used) * 1.0) AS raw_est
    FROM est e JOIN exact x ON e.lang = x.lang
"""


register_sql(
    "q_sketch_hll_portable",
    oracle=_HLLP_SQL,
    doc="HyperLogLog distinct-count sketch, fully ORACLE-CHECKED: 64 "
    "registers per language, each the max trailing-zero rank of a "
    "31-bit key hash — and every stage is engine-portable: the key "
    "runs through the bootstrap's nonlinear middle-square mixer (an "
    "affine multiply-add hash leaves trailing-zero patterns phase-"
    "locked to key parity — the jointly-degenerate failure class the "
    "mixer exists for), rho is a modulo-only CASE chain, and the raw "
    "Flajolet estimate divides exact inputs: the 2^-M terms are "
    "dyadic literals whose 64-term double sum is EXACT in any "
    "accumulation order, so cross-engine equality holds without an "
    "ordered fold. Reported per language: occupied registers, the "
    "raw HLL estimate (no bias/linear-counting correction — those "
    "need ln(), which is engine-libm territory; the raw estimate is "
    "the mergeable, verifiable core), and the exact distinct count "
    "riding along for the accuracy gate. The Datasketches rung "
    "(q_sketch_hll_merge) stays the production path; this rung "
    "proves the algorithm, not the library. Shape: one map-side-"
    "combined (lang, bucket) max-agg — 64 rows per language at ANY "
    "corpus size; registers merge by MAX, the 100 TB property.",
)
