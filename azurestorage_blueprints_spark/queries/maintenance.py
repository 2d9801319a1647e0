"""Warehouse-maintenance operators: MERGE-style upsert and SCD2 history.

An analytics engine that ingests continuously needs the two classic
table-maintenance shapes: applying a CDC/update batch to a dimension
(MERGE INTO semantics — update matched, insert new, keep the rest) and
building slowly-changing-dimension type-2 validity intervals from an
event history. Both are plain relational plans — a full outer join
for the merge, one `lead()` window for SCD2 — so
Catalyst plans them like any relational query; on a real lakehouse the
same plans feed `MERGE INTO` on a Delta/Iceberg sink.

Scale posture: the merge joins on the dimension key (one shuffle, or
zero when the update batch broadcasts — CDC batches are small by
nature); SCD2 shuffles once on the entity key and sorts only within
each entity's partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.queries import register, register_sql
from azurestorage_blueprints_spark.tables import table


register_sql(
    "q_merge_upsert",
    oracle="""
    WITH updates AS (
        SELECT o_custkey + CASE WHEN o_custkey % 10 = 0 THEN 100000 ELSE 0 END AS key,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        GROUP BY 1
    )
    SELECT CASE WHEN u.key IS NULL THEN 'unchanged'
                WHEN c.c_custkey IS NULL THEN 'inserted'
                ELSE 'updated' END AS action,
           count(*) AS n_rows,
           CAST(sum(CAST(coalesce(u.spend, 0) AS DECIMAL(20,2))) AS DOUBLE) AS total_spend
    FROM customer c FULL OUTER JOIN updates u ON c.c_custkey = u.key
    GROUP BY 1
    """,
    doc="MERGE INTO semantics as a relational plan: a simulated CDC batch "
    "(recent orders rolled up per customer, a tenth of the keys shifted out of "
    "range to exercise the insert path) full-outer-joins the dimension and "
    "each row is classified update/insert/unchanged — exactly the row-level "
    "action split a Delta/Iceberg MERGE computes before writing.",
)


@register(
    "q_scd2_intervals",
    oracle="""
    WITH hist AS (
        SELECT o_custkey,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                   AS valid_to,
               o_orderkey
        FROM orders
    )
    SELECT o_custkey,
           count(*) AS n_versions,
           count(CASE WHEN valid_to IS NULL THEN 1 END) AS n_current,
           max(CAST(datediff('day', valid_from, valid_to) AS INT)) AS max_days_valid
    FROM hist
    GROUP BY o_custkey
    """,
    doc="SCD type-2 validity intervals: each order becomes a dimension version "
    "valid [o_orderdate, next o_orderdate); the open interval is the current "
    "version. One lead() window partitioned by the entity key (ties broken on "
    "the unique order key), then a per-entity profile — a single shuffle that "
    "reuses the window's partitioning for the final aggregate.",
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    hist = o.select(
        "o_custkey",
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
    )
    return hist.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.count(F.when(F.col("valid_to").isNull(), 1)).alias("n_current"),
        F.max(F.datediff(F.col("valid_to"), F.col("valid_from"))).alias("max_days_valid"),
    )


def _zorder_terms(x: str, y: str, shift_fmt: str) -> str:
    """Sum of interleaved-bit terms for an 8+8-bit Z-order key.

    ``shift_fmt`` supplies the dialect's bit ops: Spark SQL uses
    shiftleft/shiftright functions, DuckDB uses << / >> operators —
    the arithmetic (and therefore the value) is identical.
    """
    return " + ".join(
        shift_fmt.format(v=x, i=i, o=2 * i) for i in range(8)
    ) + " + " + " + ".join(
        shift_fmt.format(v=y, i=i, o=2 * i + 1) for i in range(8)
    )


_SPARK_SHIFT = "shiftleft(shiftright({v}, {i}) & 1, {o})"
_DUCK_SHIFT = "((({v} >> {i}) & 1) << {o})"
_X_SPARK = "pmod(user_id, 256)"
_Y_SPARK = "pmod(cast(floor(value * 100.0) as bigint), 256)"
_X_DUCK = "((user_id % 256) + 256) % 256"
_Y_DUCK = "((CAST(floor(value * 100.0) AS BIGINT) % 256) + 256) % 256"


@register(
    "q_zorder_layout",
    oracle=f"""
    WITH keyed AS (
      SELECT user_id, {_zorder_terms(_X_DUCK, _Y_DUCK, _DUCK_SHIFT)} AS zkey
      FROM events
    )
    SELECT CAST(zkey // 256 AS INT) AS z_cell,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(min(zkey) AS INT) AS min_z,
           CAST(max(zkey) AS INT) AS max_z
    FROM keyed GROUP BY 1
    """,
    doc="Z-order data-layout key: interleave the bits of two quantized "
    "dimensions (user_id mod 256, cents-of-value mod 256) into a 16-bit "
    "Morton code, then profile occupancy per 256-key cell. This is the "
    "clustering key a 100 TB table writer uses — "
    "repartitionByRange(zkey).sortWithinPartitions(zkey) before write "
    "yields parquet files whose min/max stats are tight on BOTH "
    "dimensions, so point/range predicates on either column skip files. "
    "The key arithmetic is pure integer bit math (exact on any engine); "
    "the query itself is one scan + one hash agg.",
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    keyed = ev.select(
        "user_id",
        F.expr(
            _zorder_terms(_X_SPARK, _Y_SPARK, _SPARK_SHIFT)
        ).alias("zkey"),
    )
    return keyed.groupBy(F.expr("cast(zkey div 256 as int)").alias("z_cell")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("zkey").cast("int").alias("min_z"),
        F.max("zkey").cast("int").alias("max_z"),
    )


#: zone-map file proxy: rows per simulated file (event_id is
#: write-ordered in the testdata, so ts zone maps genuinely prune)
_ZM_FILE_ROWS = 2_000
#: the probe predicate the pruning report evaluates
_ZM_TS_LO, _ZM_TS_HI = "2024-01-10 00:00:00", "2024-01-12 00:00:00"
_ZM_USER_MIN = 50


@register(
    "q_zonemap_pruning",
    oracle=f"""
    WITH zm AS (
      SELECT event_id // {_ZM_FILE_ROWS} AS file_id,
             min(ts) AS min_ts, max(ts) AS max_ts,
             CAST(min(user_id) AS BIGINT) AS min_user,
             CAST(max(user_id) AS BIGINT) AS max_user,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '{_ZM_TS_LO}'
                            AND ts < TIMESTAMP '{_ZM_TS_HI}'
                            AND user_id >= {_ZM_USER_MIN}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_matching
      FROM events GROUP BY 1
    )
    SELECT file_id, min_ts, max_ts, min_user, max_user, n_rows, n_matching,
           CASE
             WHEN max_ts < TIMESTAMP '{_ZM_TS_LO}'
               OR min_ts >= TIMESTAMP '{_ZM_TS_HI}'
               OR max_user < {_ZM_USER_MIN} THEN 'skip'
             WHEN min_ts >= TIMESTAMP '{_ZM_TS_LO}'
              AND max_ts < TIMESTAMP '{_ZM_TS_HI}'
              AND min_user >= {_ZM_USER_MIN} THEN 'full'
             ELSE 'partial'
           END AS scan_class
    FROM zm
    """,
    doc="Zone-map (min/max statistics) pruning report: build per-file "
    "column statistics — the footer metadata parquet/Iceberg/Delta keep "
    "— over write-order file bins, then classify each file against a "
    "probe predicate as skip (statistics alone disprove any match), "
    "full (statistics alone prove every row matches) or partial (must "
    "read). n_matching rides the same single scan, so the report also "
    "quantifies pruning effectiveness (rows in skipped files are never "
    "touched at read time). This is the data-skipping contract the "
    "engine's scan planning relies on at 100 TB; the Z-order layout "
    "query (q_zorder_layout) exists to make these zone maps tight on "
    "multi-column predicates.",
)
def q_zonemap_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    lo = F.lit(_ZM_TS_LO).cast("timestamp_ntz")
    hi = F.lit(_ZM_TS_HI).cast("timestamp_ntz")
    matches = (
        (F.col("ts") >= lo) & (F.col("ts") < hi) & (F.col("user_id") >= _ZM_USER_MIN)
    )
    zm = (
        ev.groupBy(F.expr(f"event_id div {_ZM_FILE_ROWS}").alias("file_id"))
        .agg(
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.min("user_id").cast("bigint").alias("min_user"),
            F.max("user_id").cast("bigint").alias("max_user"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(matches, 1).otherwise(0)).cast("bigint").alias("n_matching"),
        )
    )
    scan_class = (
        F.when(
            (F.col("max_ts") < lo)
            | (F.col("min_ts") >= hi)
            | (F.col("max_user") < _ZM_USER_MIN),
            F.lit("skip"),
        )
        .when(
            (F.col("min_ts") >= lo)
            & (F.col("max_ts") < hi)
            & (F.col("min_user") >= _ZM_USER_MIN),
            F.lit("full"),
        )
        .otherwise(F.lit("partial"))
    )
    return zm.select(
        "file_id",
        "min_ts",
        "max_ts",
        "min_user",
        "max_user",
        "n_rows",
        "n_matching",
        scan_class.alias("scan_class"),
    )


#: bloom-filter geometry: m bits, k hash functions, simulated file count
_BF_BITS = 1024
_BF_K = 3
_BF_FILES = 16
#: probe keys: three present in every realistic layout, two impossible
_BF_PROBES = [1, 2, 3, 99999991, 99999992]

_BF_HASHES = ", ".join(f"({j})" for j in range(_BF_K))
_BF_PROBE_VALUES = ", ".join(f"({p})" for p in _BF_PROBES)

_BLOOM_SQL = f"""
    WITH f AS (
      SELECT l_orderkey % {_BF_FILES} AS file_id, l_partkey AS k
      FROM lineitem
    ),
    positions AS (
      SELECT DISTINCT file_id,
             (k * 2654435761 + j * 40503) % {_BF_BITS} AS pos
      FROM f, (VALUES {_BF_HASHES}) AS h(j)
    ),
    probe_pos AS (
      SELECT pk, (pk * 2654435761 + j * 40503) % {_BF_BITS} AS pos
      FROM (VALUES {_BF_PROBE_VALUES}) AS p(pk),
           (VALUES {_BF_HASHES}) AS h(j)
    ),
    files AS (SELECT DISTINCT file_id FROM f),
    chk AS (
      SELECT files.file_id, pp.pk,
             CAST(count(pos2.pos) AS BIGINT) AS n_bits_set
      FROM files
      CROSS JOIN probe_pos pp
      LEFT JOIN positions pos2
        ON pos2.file_id = files.file_id AND pos2.pos = pp.pos
      GROUP BY files.file_id, pp.pk
    ),
    actual AS (
      SELECT file_id, k AS pk, CAST(count(*) AS BIGINT) AS n_rows
      FROM f GROUP BY file_id, k
    )
    SELECT chk.file_id, CAST(chk.pk AS BIGINT) AS probe_key,
           chk.n_bits_set = {_BF_K} AS bloom_maybe,
           coalesce(actual.n_rows, CAST(0 AS BIGINT)) > 0 AS actually_present,
           coalesce(actual.n_rows, CAST(0 AS BIGINT)) AS n_matching_rows
    FROM chk LEFT JOIN actual
      ON chk.file_id = actual.file_id AND chk.pk = actual.pk
"""


@register(
    "q_bloom_pruning",
    oracle=_BLOOM_SQL,
    doc="Bloom-filter file-skipping report — the point-lookup twin of "
    "q_zonemap_pruning (zone maps prune ranges; Blooms prune equality "
    "probes on high-cardinality keys where min/max is useless): per "
    "simulated file (orderkey mod 16), a 1024-bit/3-hash Bloom set over "
    "l_partkey is built as a DISTINCT (file, bit-position) table — "
    "map-side combined, bounded by m bits per file at ANY row count — "
    "then each probe key checks its 3 positions per file; a file reads "
    "only if all 3 are set. The hash is the repo's portable Knuth "
    "multiplicative form, so both engines build bit-identical filters. "
    "The report carries the EXACT matched-row count per (file, probe) "
    "so the gate property is visible in the result itself: bloom_maybe "
    "is true for every actually_present file (no false negatives — "
    "asserted in tests), while false positives are the expected "
    "~(1-e^(-kn/m))^k tax. At 100 TB this is the DataSourceV2 "
    "aggregate-pushdown shape: the filter table is O(files x m/64) "
    "longs, the probe join is a broadcast.",
)
def q_bloom_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_BLOOM_SQL)


_PIT_SQL = """
    WITH hist AS (
      SELECT s_suppkey,
             CAST('1992-01-01' AS DATE) AS valid_from,
             CAST('1997-01-01' AS DATE) + CAST(s_suppkey % 1000 AS INTEGER) AS valid_to,
             'standard' AS tier
      FROM supplier
      UNION ALL
      SELECT s_suppkey,
             CAST('1997-01-01' AS DATE) + CAST(s_suppkey % 1000 AS INTEGER) AS valid_from,
             CAST('2999-12-31' AS DATE) AS valid_to,
             'premium' AS tier
      FROM supplier
    ),
    fact AS (
      SELECT l_suppkey, o_orderdate,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT h.tier,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(f.cents AS DECIMAL(38,0))) AS BIGINT) AS revenue_cents
    FROM fact f JOIN hist h
      ON f.l_suppkey = h.s_suppkey
     AND f.o_orderdate >= h.valid_from
     AND f.o_orderdate < h.valid_to
    GROUP BY h.tier
"""


register_sql(
    "q_scd2_point_in_time_join",
    oracle=_PIT_SQL,
    doc="Point-in-time (PIT) join against SCD2 validity intervals — the "
    "consumption side of q_scd2_intervals: every fact row joins the "
    "dimension VERSION that was valid at the fact's own date "
    "(equi-join on the entity key plus the half-open interval "
    "predicate valid_from <= t < valid_to), the only join that makes "
    "historical reports non-revisionist. The version history here is "
    "a deterministic two-version synthesis (each supplier upgrades on "
    "a key-derived date inside the fact date range, so both versions "
    "route real rows) so the oracle is exact; counts and decimal "
    "cent sums per tier prove the interval routing. Shape: the join "
    "is keyed on the ENTITY (the interval predicate is a residual "
    "filter after the hash match), so it shuffles like a plain "
    "dim join and AQE broadcasts the version side while it fits — "
    "versions per entity are few, so the residual scan is O(1) per "
    "fact row at any scale.",
)


def _hilbert_steps(bit_fmt: str) -> list[tuple[str, str, str]]:
    """Per-level (d, x, y) update expressions for the 8-bit Hilbert
    transform, highest bit first. ``bit_fmt`` supplies the dialect's
    bit extraction (Spark shiftright vs DuckDB >>); the CASE arithmetic
    — (3*rx) XOR ry spelled as a branch, reflect-and-swap as nested
    CASEs — is identical text on both engines, so the 16-bit key is
    bit-exact by construction."""
    steps = []
    for k in range(7, -1, -1):
        s = 1 << k
        rx = bit_fmt.format(v="x", k=k)
        ry = bit_fmt.format(v="y", k=k)
        steps.append((
            f"d + {s * s} * (CASE WHEN {rx} = 1 THEN 3 - {ry} ELSE {ry} END)",
            f"CASE WHEN {ry} = 0 THEN"
            f" (CASE WHEN {rx} = 1 THEN 255 - y ELSE y END) ELSE x END",
            f"CASE WHEN {ry} = 0 THEN"
            f" (CASE WHEN {rx} = 1 THEN 255 - x ELSE x END) ELSE y END",
        ))
    return steps


def _hilbert_oracle() -> str:
    parts = [
        f"""s8 AS (
      SELECT user_id, {_X_DUCK} AS x, {_Y_DUCK} AS y, 0 AS d,
             {_X_DUCK} AS x0, {_Y_DUCK} AS y0
      FROM events)"""
    ]
    prev = "s8"
    for i, (de, xe, ye) in enumerate(_hilbert_steps("(({v} >> {k}) & 1)")):
        cur = f"s{7 - i}"
        parts.append(
            f"""{cur} AS (
      SELECT user_id, x0, y0, {de} AS d, {xe} AS x, {ye} AS y
      FROM {prev})"""
        )
        prev = cur
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(d // 256 AS INT) AS h_cell,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(min(d) AS INT) AS min_h,
           CAST(max(d) AS INT) AS max_h,
           CAST(max(x0) - min(x0) AS BIGINT) AS x_span,
           CAST(max(y0) - min(y0) AS BIGINT) AS y_span
    FROM {prev} GROUP BY 1"""
    )


@register(
    "q_hilbert_layout",
    oracle=_hilbert_oracle(),
    doc="Hilbert-curve data-layout key — the locality-preserving "
    "alternative to q_zorder_layout over the SAME two quantized "
    "dimensions (user_id mod 256, cents-of-value mod 256): the 16-bit "
    "Hilbert index via the classic per-bit reflect-and-swap recurrence "
    "(8 unrolled levels; d += s^2 * ((3*rx) XOR ry), then the quadrant "
    "rotation), spelled as identical CASE text on both engines so the "
    "key is exact integer end-to-end. Unlike Morton order, consecutive "
    "Hilbert keys are ALWAYS Manhattan-distance-1 neighbors (gated "
    "exhaustively over all 65536 cells in tests/test_r12_semantics), "
    "so per-file min/max stats after repartitionByRange(hkey) are "
    "tighter on both dimensions — the x_span/y_span columns measure "
    "exactly that per 256-key cell, the apples-to-apples comparison "
    "against the Z-order cells' spans. Shape (100 TB): the transform "
    "is 8 chained row-local projections (one scan, whole-stage "
    "codegen, no shuffle), then one hash-agg on the cell key — the "
    "same shape a table writer uses to cluster before write.",
)
def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    df = ev.selectExpr(
        "user_id",
        f"{_X_SPARK} as x",
        f"{_Y_SPARK} as y",
        "0 as d",
        f"{_X_SPARK} as x0",
        f"{_Y_SPARK} as y0",
    )
    for de, xe, ye in _hilbert_steps("(shiftright({v}, {k}) & 1)"):
        df = df.selectExpr(
            "user_id", "x0", "y0", f"{de} as d", f"{xe} as x", f"{ye} as y"
        )
    return df.groupBy(F.expr("cast(d div 256 as int)").alias("h_cell")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("d").cast("int").alias("min_h"),
        F.max("d").cast("int").alias("max_h"),
        (F.max("x0") - F.min("x0")).cast("bigint").alias("x_span"),
        (F.max("y0") - F.min("y0")).cast("bigint").alias("y_span"),
    )
