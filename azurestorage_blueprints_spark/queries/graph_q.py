"""Iterative graph analytics as a first-class query: fixed-point PageRank.

Training-data pipelines rank sources by link authority (quality signal
for web corpora) and dedup pipelines already run iterative label
propagation (operators/graph.py). This module adds the other canonical
iterative join+agg algorithm — PageRank — expressed so the per-iteration
arithmetic is EXACT integer math and therefore bit-identical on any
engine: ranks are scaled to integers (1.0 → 10^12) and every step is
bigint multiply / floor-divide / sum. That makes an iterative algorithm
— normally "rows-only" territory — fully value-hash checkable against a
DuckDB oracle written as unrolled CTEs.

Scale posture (100 TB): the graph is built ONCE as an adjacency list —
one wide shuffle on src that simultaneously dedups edges (collect_set),
computes out-degree (array size) and leaves the checkpointed relation
hash-partitioned on the iteration join key. Every iteration is then one
equi-join of the rank vector to its adjacency row plus one aggregation
keyed on destination; AQE broadcasts the rank/frontier side while it
fits and falls back to a co-located shuffle join (only the small side
moves) when it doesn't. Edges dominate memory; ranks are two longs per
node. Hub-node skew at extreme degree means one wide adjacency row —
segment hot nodes into (src, salt) chunks when that bites; the explode
is unchanged. Lineage does not grow per iteration here (3 fixed
rounds); for fixpoint runs reuse the localCheckpoint pattern of
operators/graph.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.queries import finalize_bounded, register, register_sql
from azurestorage_blueprints_spark.tables import table

#: rank scale: 1.0 == 10^12 (fixed-point)
_ONE = 1_000_000_000_000
#: damping 0.85 split into integer numerator/denominator
_D_NUM, _D_DEN = 85, 100
#: (1 - d) teleport mass at the same scale
_TELEPORT = 150_000_000_000
#: supplier node-id offset so customer and supplier keys never collide
_SUPP_OFF = 1_000_000

#: lineage-truncation switch. True in production; the plan-quality gate
#: flips it off so the per-iteration join shape (normally hidden behind
#: the checkpoint's ExistingRDD scan) is visible in one explain string.
_CHECKPOINT = True


def _ckpt(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=False) if _CHECKPOINT else df


@register(
    "q_pagerank_fixedpoint",
    oracle=f"""
    WITH e0 AS (
      SELECT DISTINCT o_custkey AS c, {_SUPP_OFF} + l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM e0
      UNION ALL
      SELECT s AS src, c AS dst FROM e0
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    r0 AS (SELECT src AS node, CAST({_ONE} AS BIGINT) AS rank FROM deg),
    r1 AS (
      SELECT e.dst AS node,
             CAST({_TELEPORT} + ({_D_NUM} * SUM(r.rank // d.d)) // {_D_DEN}
                  AS BIGINT) AS rank
      FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT e.dst AS node,
             CAST({_TELEPORT} + ({_D_NUM} * SUM(r.rank // d.d)) // {_D_DEN}
                  AS BIGINT) AS rank
      FROM edges e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT e.dst AS node,
             CAST({_TELEPORT} + ({_D_NUM} * SUM(r.rank // d.d)) // {_D_DEN}
                  AS BIGINT) AS rank
      FROM edges e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    )
    SELECT node AS node_id,
           CASE WHEN node >= {_SUPP_OFF} THEN 'supplier' ELSE 'customer' END
             AS node_type,
           rank AS rank_scaled
    FROM r3
    ORDER BY rank_scaled DESC, node_id
    LIMIT 20
    """,
    doc="Fixed-point PageRank (3 iterations, damping 0.85) over the "
    "undirected customer–supplier purchase graph (edges from "
    "lineitem⋈orders, distinct pairs; supplier ids offset by 1e6). All "
    "arithmetic is scaled-integer (1.0 = 1e12) with bigint floor "
    "division, so the iterative result is bit-exact and value-hash "
    "checkable — the oracle unrolls the same three iterations as CTEs. "
    "Per iteration: one join of the rank vector to the edge list plus "
    "one agg on dst — the canonical distributed PageRank step. Top-20 "
    "nodes, ties broken by node id.",
)
def q_pagerank_fixedpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    e0 = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("c"),
        (F.lit(_SUPP_OFF) + F.col("l_suppkey")).alias("s"),
    )
    edges = e0.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        e0.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    # adjacency-list build: ONE wide shuffle on src does everything —
    # collect_set dedups the (src, dst) pairs (no separate distinct),
    # array size IS the out-degree (no degree join), and the grouped
    # output is hash-partitioned on src, so the checkpointed relation
    # is co-located with every iteration's join key. No mandatory
    # broadcast hint in the loop: AQE broadcasts the rank vector while
    # it fits and degrades to the co-located shuffled join (only the
    # (node, rank) pairs move) when it doesn't — a hardcoded hint would
    # OOM the build side at the 100 TB node count. Hub-node skew: a
    # multi-million-degree node makes one wide adjacency row; at that
    # scale segment hot rows into (src, salt) chunks — the explode
    # below is unchanged.
    adj = _ckpt(edges.groupBy("src").agg(F.collect_set("dst").alias("dsts")))
    ranks = adj.select(
        F.col("src").alias("node"), F.lit(_ONE).cast("bigint").alias("rank")
    )
    new_rank = F.expr(
        f"cast({_TELEPORT} + ({_D_NUM} * sum(contrib)) div {_D_DEN} as bigint)"
    ).alias("rank")
    for _ in range(3):
        # per iteration: join the rank vector to its adjacency row,
        # explode the neighbor list with the shared contribution — the
        # narrow (dst, contrib) rows are the only guaranteed shuffle
        ranks = (
            adj.join(ranks, adj.src == ranks.node)
            .select(
                F.explode("dsts").alias("dst"),
                F.expr("rank div size(dsts)").alias("contrib"),
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(new_rank)
        )
    return (
        ranks.select(
            F.col("node").alias("node_id"),
            F.when(F.col("node") >= _SUPP_OFF, F.lit("supplier"))
            .otherwise(F.lit("customer"))
            .alias("node_type"),
            F.col("rank").alias("rank_scaled"),
        )
        .orderBy(F.desc("rank_scaled"), "node_id")
        .limit(20)
    )


#: minimum distinct-order co-occurrence for a part-part edge — the
#: strength threshold that keeps the graph sparse and bounds wedge
#: fan-out. At 1 the knob is OFF (every co-purchase pair is an edge):
#: the r7 sf1 sweep measured the consequence — ~12M edges whose wedge
#: join spilled 67 GB and ran >25 min in the oracle, vs 36k edges and
#: a sub-second join at 2. Gate SFs stay non-degenerate at 2 (3258
#: triangles at sf0.001, 61 at sf0.01).
_MIN_COOCCUR = 2


register_sql(
    "q_graph_triangles",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
      SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= {_MIN_COOCCUR}
    ),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    membership AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT node AS partkey, CAST(count(*) AS BIGINT) AS n_triangles
    FROM membership GROUP BY node
    ORDER BY n_triangles DESC, partkey
    LIMIT 20
    """,
    doc="Triangle counting over the part co-purchase graph (parts sharing "
    "an order, oriented u < v so each undirected edge and triangle exists "
    "exactly once): the canonical wedge-close join — edges(a,b) x "
    "edges(b,c) closed by edges(a,c). Top-20 parts by triangle "
    "participation, pure integer counts. Scale posture: within-order "
    "pair fan-out is bounded by order size (quadratic in ~4, not in the "
    "corpus); the edge-strength HAVING is the density knob; the two "
    "triangle joins shuffle on single node keys and the orientation bounds "
    "wedge enumeration by the ordered degree (the classic "
    "high-degree-vertex mitigation).",
)


#: BFS seed set (customer keys) and hop limit
_SEED_MAX = 10
_MAX_HOPS = 3


@register(
    "q_graph_khop",
    oracle=f"""
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT o_custkey AS c, {_SUPP_OFF} + l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM e0
      UNION ALL
      SELECT s AS src, c AS dst FROM e0
    ),
    bfs(node, hop) AS (
      SELECT CAST(c_custkey AS BIGINT), 0
      FROM customer WHERE c_custkey < {_SEED_MAX}
      UNION
      SELECT e.dst, b.hop + 1
      FROM bfs b JOIN edges e ON e.src = b.node
      WHERE b.hop < {_MAX_HOPS}
    ),
    dist AS (SELECT node, MIN(hop) AS hop FROM bfs GROUP BY node)
    SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes
    FROM dist GROUP BY hop ORDER BY hop
    """,
    doc="K-hop BFS reachability over the undirected customer–supplier "
    "purchase graph from a fixed seed set (custkey < 10): how many "
    "nodes first become reachable at each hop ≤ 3. Spark expands one "
    "frontier per iteration (join frontier→edges, union, min-hop agg — "
    "the standard distributed BFS step, shuffles keyed on node id); "
    "the DuckDB twin is a recursive CTE whose UNION-distinct on "
    "(node, hop) bounds path re-enumeration, collapsed to min-hop. "
    "Edges are pre-partitioned by src so every frontier join is "
    "co-located when AQE doesn't broadcast the frontier, and the "
    "visited set is localCheckpointed per hop to truncate lineage "
    "(operators/graph.py pattern).",
)
def q_graph_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    e0 = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_custkey").alias("c"),
        (F.lit(_SUPP_OFF) + F.col("l_suppkey")).alias("s"),
    )
    # adjacency-list build, same design as PageRank above: one shuffle
    # on src dedups pairs (collect_set), and leaves the checkpointed
    # relation hash-partitioned on the hop-join key
    adj = _ckpt(
        e0.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .union(e0.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        .groupBy("src")
        .agg(F.collect_set("dst").alias("dsts"))
    )
    visited = cust.filter(F.col("c_custkey") < _SEED_MAX).select(
        F.col("c_custkey").cast("bigint").alias("node"), F.lit(0).alias("hop")
    )
    for h in range(1, _MAX_HOPS + 1):
        # the frontier is a set of node ids — AQE broadcasts it while it
        # is small (adjacency read in place); past the broadcast
        # threshold the shuffled join is co-located on the adjacency
        # side, so only the frontier moves. No mandatory hint: a
        # worst-case frontier is bounded only by the node count, which
        # at 100 TB cannot be forced into a broadcast.
        frontier = visited.filter(F.col("hop") == h - 1)
        expand = (
            adj.join(frontier, adj.src == frontier.node)
            .select(F.explode("dsts").alias("node"), F.lit(h).alias("hop"))
        )
        visited = _ckpt(
            visited.union(expand)
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
        )
    return (
        visited.groupBy("hop")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("hop")
    )


_EDGE_SQL = """
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


register_sql(
    "q_graph_degree_dist",
    oracle=f"""
    WITH e0 AS ({_EDGE_SQL}),
    cd AS (SELECT c, CAST(count(*) AS BIGINT) AS degree FROM e0 GROUP BY c),
    sd AS (SELECT s, CAST(count(*) AS BIGINT) AS degree FROM e0 GROUP BY s)
    SELECT 'customer' AS side, degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM cd GROUP BY degree
    UNION ALL
    SELECT 'supplier' AS side, degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM sd GROUP BY degree
    """,
    doc="Degree distribution of the bipartite customer-supplier purchase "
    "graph, per side — the first profiling query run on any graph "
    "(power-law check, hub detection, skew estimate for the iterative "
    "ops). Exact integers end-to-end. Shape: edge dedup is one "
    "(custkey, suppkey) distinct-agg; each side's degree is a count "
    "keyed on that side (map-side combined), and the histogram aggs "
    "operate on O(nodes) then O(distinct degree) rows. Nothing wider "
    "than the edge pair ever shuffles.",
)


_CN_SQL = f"""
    WITH e AS ({_EDGE_SQL}),
    deg AS (SELECT s, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY s),
    pairs AS (
      SELECT e1.s AS s1, e2.s AS s2, CAST(count(*) AS BIGINT) AS n_common
      FROM e e1 JOIN e e2 ON e1.c = e2.c AND e1.s < e2.s
      GROUP BY e1.s, e2.s
    )
    SELECT s1, s2, n_common,
           CAST(n_common AS DOUBLE)
             / CAST(d1.d + d2.d - n_common AS DOUBLE) AS jaccard
    FROM pairs
    JOIN deg d1 ON s1 = d1.s
    JOIN deg d2 ON s2 = d2.s
    ORDER BY n_common DESC, s1, s2
    LIMIT 20
"""


@register(
    "q_graph_common_neighbors",
    oracle=_CN_SQL,
    doc="Common-neighbors link prediction: supplier pairs ranked by how "
    "many customers they share, with the exact neighborhood-Jaccard "
    "score (n_common / (d1 + d2 - n_common)) as derived double from "
    "exact integer counts via shared expression text. Pair generation "
    "is CHUNKED in-array (r5 verdict #1 straggler fix): each "
    "customer's sorted supplier basket is sliced into fixed-size "
    "chunks, so one output row never fans out more than CHUNK^2 "
    "pairs — intra-chunk pairs enumerate inside a single chunk, "
    "cross-chunk pairs come from a chunk self-join on the customer "
    "with ci < cj — and a round-robin repartition BEFORE the pair "
    "explode spreads a hot customer's chunk batches across every "
    "task, so the largest basket can no longer pin C(k,2) work on "
    "one core (the max basket grows with the corpus; the chunk "
    "bound does not). Per-side degree falls out of the same "
    "persisted baskets, so the expensive edge-dedup join runs ONCE "
    "(the oracle keeps the equivalent self-join formulation). "
    "Degree join is O(suppliers) and AQE broadcasts it; top-20 "
    "runs as TakeOrderedAndProject, no global sort.",
)
def q_graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    out, baskets = build_common_neighbors(spark, sf_dir)
    # top-20 is bounded: materialize while the basket cache is hot,
    # then release it (cross-query cache-leak fix, r4 verdict #1)
    return finalize_bounded(out, baskets)


#: pair fan-out per evaluated row is bounded by _CN_CHUNK**2 = 16384
#: structs, independent of basket size — the knob that turns the max
#: basket from a straggler into evenly spread work. A/B at sf0.1:
#: 64 → 3.25 s, 128 → 2.98 s, 256 → 2.88 s but with a 7 s outlier
#: (single-row batches too coarse to balance); 128 is the stable
#: knee. NOTE the dominant win over the r5 form was never the chunk
#: bound alone — it is the round-robin exchange BEFORE the explode,
#: which detaches pair generation from the basket agg's skewed
#: partitioning.
_CN_CHUNK = 128


def build_common_neighbors(spark: SparkSession, sf_dir: str):
    """Plan builder (pre-finalize): returns (result, persisted chunk
    table) so the physical-plan gates can inspect the real join shape."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    e0 = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # one row per customer: the sorted distinct supplier basket
    baskets = e0.groupBy("c").agg(F.sort_array(F.collect_set("s")).alias("ss"))
    # ---- chunked pair fan-out (straggler bound) -------------------
    # The naive in-array form builds all C(k,2) pairs of a basket in
    # ONE row's expression: the largest basket becomes a single
    # straggler task, and the max basket grows with the corpus. Slice
    # each basket into CHUNK-sized segments instead; every pair batch
    # a task evaluates is then bounded by CHUNK^2 regardless of k.
    # The chunk table feeds THREE consumers (intra pairs, the
    # cross-chunk self-join, and the degree count), so it — not the
    # baskets — is the persisted intermediate.
    m = _CN_CHUNK
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    chunks = (
        baskets.select(
            "c",
            F.explode(
                F.expr(
                    f"transform(sequence(0, int(floor((size(ss) - 1) / {m}))),"
                    f" i -> struct(i AS ci, slice(ss, i * {m} + 1, {m}) AS cs))"
                )
            ).alias("ch"),
        )
        .select("c", F.col("ch.ci").alias("ci"), F.col("ch.cs").alias("cs"))
        .persist()
    )
    # intra-chunk: ordered pairs inside one chunk (≤ C(m,2) per row);
    # round-robin repartition first so a hot customer's chunk rows do
    # not all land in the task that produced them
    intra = (
        chunks.repartition(shuffle_n)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(cs, (x, i) ->"
                    " transform(slice(cs, i + 2, size(cs) - i - 1),"
                    " y -> struct(x AS s1, y AS s2))))"
                )
            ).alias("p")
        )
        .select("p.s1", "p.s2")
    )
    # cross-chunk: chunk self-join on the customer with ci < cj; the
    # sorted basket guarantees x < y across chunks, so each joined row
    # contributes exactly the m×m cartesian of its two segments. The
    # join only moves O(k/m) small arrays per customer; the expensive
    # explode runs AFTER a round-robin exchange, spread over all tasks.
    a = chunks.select("c", "ci", F.col("cs").alias("xs"))
    b = chunks.select("c", F.col("ci").alias("cj"), F.col("cs").alias("ys"))
    cross = (
        a.join(b, "c")
        .where(F.col("ci") < F.col("cj"))
        .repartition(shuffle_n)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(xs, x ->"
                    " transform(ys, y -> struct(x AS s1, y AS s2))))"
                )
            ).alias("p")
        )
        .select("p.s1", "p.s2")
    )
    pairs = (
        intra.unionAll(cross)
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    # degree per supplier: the chunk slices partition each basket, so
    # exploding chunk members counts exactly the distinct neighbors —
    # one more read of the persisted chunk table, no basket recompute
    deg = (
        chunks.select(F.explode("cs").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("deg1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("deg2"))
    jac = "CAST(n_common AS DOUBLE) / CAST(deg1 + deg2 - n_common AS DOUBLE)"
    out = (
        pairs.join(d1, "s1")
        .join(d2, "s2")
        .select("s1", "s2", "n_common", F.expr(jac).alias("jaccard"))
        .orderBy(F.desc("n_common"), "s1", "s2")
        .limit(20)
    )
    return out, chunks


# degree assortativity: Pearson correlation between endpoint degrees
# over edges, from exact integer/decimal moments
_ASSORT_R = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    "        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)

#: everything downstream of the deduped edge list, shared verbatim by
#: the oracle (over a CTE) and the Spark side (over a persisted view)
_ASSORT_TAIL = f"""
    dc AS (SELECT c, CAST(count(*) AS BIGINT) AS dx FROM e GROUP BY c),
    ds AS (SELECT s, CAST(count(*) AS BIGINT) AS dy FROM e GROUP BY s),
    j AS (
      SELECT dx, dy FROM e
      JOIN dc ON e.c = dc.c
      JOIN ds ON e.s = ds.s
    ),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(dx AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
             CAST(sum(CAST(dy AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(dx AS DECIMAL(19,0)) * dy) AS DECIMAL(38,0)) AS sxy,
             CAST(sum(CAST(dx AS DECIMAL(19,0)) * dx) AS DECIMAL(38,0)) AS sxx,
             CAST(sum(CAST(dy AS DECIMAL(19,0)) * dy) AS DECIMAL(38,0)) AS syy
      FROM j
    )
    SELECT n AS n_edges, {_ASSORT_R} AS assortativity
    FROM m
"""

_ASSORT_SQL = (
    """
    WITH e AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),"""
    + _ASSORT_TAIL
)


@register(
    "q_graph_assortativity",
    oracle=_ASSORT_SQL,
    doc="Degree assortativity of the bipartite customer-supplier "
    "purchase graph: the Pearson correlation between the two endpoint "
    "degrees across edges (do high-degree customers buy from high-"
    "degree suppliers?) — the one-number mixing diagnostic that "
    "complements q_graph_degree_dist's marginals. Edges dedup in one "
    "hash-agg; per-side degrees are two further aggs whose outputs "
    "join back to the edge list (AQE broadcasts the smaller degree "
    "side). The edge list is built ONCE and persisted across its "
    "three consumers — a CTE would be inlined and recomputed per "
    "reference — and the cache is released after the single-row "
    "result materializes (finalize_bounded); the five Pearson "
    "moments accumulate as exact decimals "
    "(row-level degree products in decimal(19,0) — hub degrees up to "
    "1e9 stay exact), so the final correlation is a derived double "
    "from identical exact inputs via shared expression text. At 100 TB "
    "only degree tables and moment rows shuffle beyond the edge dedup.",
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the deduped edge list feeds three consumers (both degree aggs and
    # the moment join); as a SQL CTE Catalyst would inline it and run
    # the lineitem-orders join + distinct three times. Build it once as
    # a persisted DataFrame, run the same shared SQL on top, and
    # release the cache after materializing the single-row result
    # (finalize_bounded — cache-hygiene contract).
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .persist()
    )
    e.createOrReplaceTempView("assort_edges")
    out = spark.sql("WITH e AS (SELECT c, s FROM assort_edges)," + _ASSORT_TAIL)
    return finalize_bounded(out, e)


# ---------------------------------------------------------------------------
# Connected components by synchronous min-label propagation over the
# part-supplier bipartite graph, run for a FIXED round count so the
# result is deterministic on both engines whether or not the labels
# have converged. Convergence honesty (r6 ADVICE): synchronous
# propagation spreads the minimum id ONE hop per round, so R rounds
# guarantee correct labels only when the min-id node's eccentricity
# within each component is <= R (R rounds cover radius R, not 2R);
# on an unconverged graph n_components silently overcounts. R=8 is
# ample for the hub-dense TPC-H part-supplier graph (every part and
# supplier is within 2-3 hops of a high-degree hub at all generated
# SFs), and tests/test_plan_quality.py::
# test_components_minlabel_converged_at_registered_rounds asserts
# round-8 == round-9 results at test SF; at production scale derive
# the round count from a diameter bound or re-run with R doubled
# until the label table reaches a fixed point.
#
# Each round reads the previous label table THREE times (two edge
# joins + the identity carry), so the rounds must be MATERIALIZED:
# a plain CTE/DataFrame chain re-inlines every reference and the
# recompute tree grows 3^R (measured: DuckDB exhausts file handles,
# Spark compiles a 6561-scan plan). The oracle pins DuckDB's
# AS MATERIALIZED; the Spark side localCheckpoints each round — the
# q_pagerank_fixedpoint lineage-truncation discipline.
_CC_ROUNDS = 8


def _cc_oracle() -> str:
    """Unrolled min-label propagation for DuckDB (MATERIALIZED rounds)."""
    parts = [
        """
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT l_partkey * 2 AS an, l_suppkey * 2 + 1 AS bn
      FROM lineitem
    ),
    l0 AS MATERIALIZED (
      SELECT an AS node, CAST(min(an) AS BIGINT) AS lab FROM edges GROUP BY an
      UNION ALL
      SELECT bn AS node, CAST(min(bn) AS BIGINT) AS lab FROM edges GROUP BY bn
    )"""
    ]
    for r in range(1, _CC_ROUNDS + 1):
        p, c = f"l{r - 1}", f"l{r}"
        parts.append(
            f""",
    {c} AS MATERIALIZED (
      SELECT node, CAST(min(lab) AS BIGINT) AS lab FROM (
        SELECT e.an AS node, l.lab FROM edges e JOIN {p} l ON e.bn = l.node
        UNION ALL
        SELECT e.bn AS node, l.lab FROM edges e JOIN {p} l ON e.an = l.node
        UNION ALL
        SELECT node, lab FROM {p}
      ) u GROUP BY node
    )"""
        )
    parts.append(
        f""",
    comp AS (
      SELECT lab AS component_id, CAST(count(*) AS BIGINT) AS n_nodes
      FROM l{_CC_ROUNDS} GROUP BY lab
    )
    SELECT component_id, n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM comp) AS n_components
    FROM comp
    ORDER BY n_nodes DESC, component_id
    LIMIT 20"""
    )
    return "".join(parts)


@register(
    "q_graph_components_minlabel",
    oracle=_cc_oracle(),
    doc="Connected components of the part-supplier bipartite graph by "
    "synchronous min-label propagation — the classic BSP/Pregel "
    "algorithm at a FIXED 8 rounds: every node starts labeled with "
    "its own id (parts at 2*partkey, suppliers at 2*suppkey+1 — "
    "disjoint id spaces), and each round every node takes the minimum "
    "of its own label and its neighbors' labels. After R rounds a "
    "node carries the minimum id within R hops, so labels are exact "
    "component ids once R reaches the component diameter (hub-dense "
    "TPC-H graphs sit far below 8) and are deterministic on BOTH "
    "engines even before convergence — which is what makes this "
    "variant fully oracle-checkable, unlike loop-until-fixpoint "
    "drivers whose round count depends on data. Report: top-20 "
    "components by size plus the total component count. Shape per "
    "round (the PageRank adjacency discipline): the neighbor lists — "
    "built ONCE with a fused SELF-LOOP so the min over (self ∪ "
    "neighbors) needs no identity-union branch — are hash-partitioned "
    "on node, the same key every round's join and agg use, so the "
    "label traversal is a co-partitioned join and the only per-round "
    "exchange carries the exploded (neighbor, label) contributions. "
    "The self-loop makes each round's label table SINGLE-referenced: "
    "no per-round materialization is needed (a doubly-referenced "
    "round must materialize or the recompute tree doubles — the "
    "DuckDB oracle, whose union-carry form IS doubly-referenced, "
    "pins AS MATERIALIZED for exactly that reason), and the Spark "
    "side checkpoints lineage only every 4 rounds to bound Catalyst's "
    "analysis depth — per-round checkpointing re-ran full planning "
    "8x and dominated the wall clock (5.1 -> 3.4 s at sf0.1; the "
    "naive per-endpoint edge join before that was 3 shuffles/round). "
    "At 100 TB the same loop runs with R = log2(diameter bound) "
    "rounds; hub-node skew segments hot adjacency rows into "
    "(node, salt) chunks exactly as documented for PageRank.",
)
def q_graph_components_minlabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_partkey") * 2).alias("an"),
        (F.col("l_suppkey") * 2 + 1).alias("bn"),
    ).distinct()
    # the PageRank adjacency discipline: ONE wide shuffle builds the
    # undirected neighbor lists hash-partitioned on `node` — the same
    # key every round's join and agg use, so the per-round edge
    # traversal is a co-partitioned join (no edge re-shuffle) and the
    # only exchange per round carries the exploded (neighbor, label)
    # contributions. The first cut joined the raw edge list on each
    # endpoint separately: three shuffles per round and 16x the wall
    # clock at sf0.1 (measured 6.6 -> 0.4 s).
    und = edges.select(F.col("an").alias("node"), F.col("bn").alias("nbr")).unionAll(
        edges.select(F.col("bn").alias("node"), F.col("an").alias("nbr"))
    )
    # SELF-LOOP fused into the neighbor list: min over (self ∪
    # neighbors) needs no per-round identity-union branch, which makes
    # each round's label table SINGLE-referenced — so no per-round
    # materialization is needed at all (a doubly-referenced round
    # forces one, or the recompute tree doubles every round). The
    # remaining localCheckpoint every 4 rounds only bounds Catalyst's
    # analysis depth: per-round checkpointing re-ran the full planning
    # pipeline 8 times and DOMINATED the wall clock (measured 5.1 s →
    # 3.4 s at sf0.1, execution itself ~1 s — driver planning, not
    # data, was the cost).
    adj = und.groupBy("node").agg(
        F.concat(F.array(F.col("node")), F.collect_list("nbr")).alias("nbrs")
    ).persist()
    labels = adj.select("node", F.col("node").cast("bigint").alias("lab"))
    for r in range(1, _CC_ROUNDS + 1):
        labels = (
            adj.join(labels, "node")
            .select(F.explode("nbrs").alias("node"), "lab")
            .groupBy("node")
            .agg(F.min("lab").alias("lab"))
        )
        if r % 4 == 0 and r < _CC_ROUNDS:
            labels = labels.localCheckpoint(eager=False)
    comp = labels.groupBy(F.col("lab").alias("component_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    ).persist()
    total = comp.agg(F.count(F.lit(1)).cast("bigint").alias("n_components"))
    out = (
        comp.crossJoin(F.broadcast(total))
        .orderBy(F.desc("n_nodes"), "component_id")
        .limit(20)
    )
    return finalize_bounded(out, adj, comp)


def _lpa_round_sql(prev: str, cur: str) -> str:
    """One synchronous label-propagation round as SQL CTE text: per
    node, the most frequent label among its neighbors, ties to the
    smallest label — MATERIALIZED because the next round references it
    through both the count and the argmax."""
    return f"""c{cur} AS (
      SELECT e.dst AS node, r.label, COUNT(*) AS cnt
      FROM edges e JOIN l{prev} r ON e.src = r.node
      GROUP BY e.dst, r.label),
    l{cur} AS MATERIALIZED (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn
        FROM c{cur}) t WHERE rn = 1)"""


@register(
    "q_graph_label_propagation",
    oracle=f"""
    WITH e0 AS (
      SELECT DISTINCT o_custkey AS c, {_SUPP_OFF} + l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM e0
      UNION ALL
      SELECT s AS src, c AS dst FROM e0
    ),
    l0 AS MATERIALIZED (
      SELECT src AS node, CAST(src AS BIGINT) AS label
      FROM (SELECT DISTINCT src FROM edges) t),
    {_lpa_round_sql(0, 1)},
    {_lpa_round_sql(1, 2)},
    {_lpa_round_sql(2, 3)}
    SELECT CAST(label AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM l3 GROUP BY label
    ORDER BY n_nodes DESC, community
    LIMIT 20
    """,
    doc="Synchronous label propagation (3 fixed rounds) over the "
    "undirected customer–supplier purchase graph — the community-"
    "detection loop next to min-label components and fixed-point "
    "PageRank (the 5th oracle-checked iterative algorithm): every node "
    "starts as its own label, each round adopts the MOST FREQUENT "
    "label among its neighbors with ties to the smallest label — the "
    "(count DESC, label) argmax is exact integer arithmetic, so the "
    "whole trajectory is deterministic and the oracle unrolls the same "
    "three rounds as MATERIALIZED CTEs. Fixed synchronous rounds are "
    "the oracle-checkable form deliberately: on near-bipartite graphs "
    "synchronous LPA can oscillate rather than converge, so production "
    "runs async/semi-sync sweeps — but any such variant reuses exactly "
    "this round shape (one edge-label join + one (node, label) count "
    "+ one argmax window per round). Report: top-20 communities by "
    "size. Shape (100 TB): per round one equi-join of the O(nodes) "
    "label vector to the edge list + one count keyed on (dst, label) "
    "+ one window keyed on dst; labels are two longs per node; "
    "lineage is truncated per round (localCheckpoint ↔ MATERIALIZED), "
    "the q_graph_components_minlabel recipe.",
)
def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _purchase_edges(spark, sf_dir)
    labels = _lpa_labels(edges, rounds=3)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "community")
        .limit(20)
    )


def _purchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undirected customer–supplier purchase graph as a directed
    double edge list (both orientations), checkpointed — the shared
    substrate of q_graph_label_propagation and q_graph_modularity."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    e0 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (F.lit(_SUPP_OFF) + F.col("l_suppkey")).alias("s"),
        )
        .distinct()
    )
    # hash-partitioned on dst (r12, guide §2.4): every LPA round's
    # contribution count groups by (dst, label) and its argmax by
    # dst=node, and HashPartitioning(dst) satisfies both clustering
    # requirements — so with the label vector joined broadcast (AQE's
    # runtime choice while it fits; unhinted), the whole round fuses
    # into ONE exchange-free codegen span instead of paying two
    # edge-scale exchanges per round (measured 4.7 -> 3.4 s at sf0.1).
    # At label-vector sizes past the broadcast threshold the join
    # degrades to the same sort-merge it was before — never worse.
    return _ckpt(
        e0.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .union(e0.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        .repartition("dst")
    )


def _lpa_labels(edges: DataFrame, rounds: int) -> DataFrame:
    """Fixed-round synchronous label propagation: per round, each node
    adopts the most frequent neighbor label, ties to the smallest —
    exact integer argmax, so the trajectory is deterministic and both
    LPA and modularity rungs replay the identical partition.

    The argmax is a hash-agg ``max(struct(cnt, -label))`` (struct
    comparison is fieldwise: highest count, then highest -label =
    SMALLEST label), not a per-node sort window — same values as the
    retired row_number() form (hash-verified), map-side-combinable,
    and without a per-node sort. At gate SFs the floor is unchanged
    (the per-round checkpoint + edge join dominate); the win is
    structural: a hub node's label multiset partially aggregates
    map-side instead of sorting in one task at 100 TB."""
    labels = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").cast("bigint").alias("label")
    )
    for r in range(rounds):
        counts = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node2"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            counts.groupBy(F.col("node2").alias("node"))
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("mx"))
            .select("node", (-F.col("mx.nl")).cast("bigint").alias("label"))
        )
        # lineage truncation ONLY on the final round (r12, guide §1.2 —
        # measured: localCheckpoint(eager=False) pays a full physical
        # planning (toRdd) per call, ~1 s/round of pure driver time at
        # any SF, while a 3-round single-referenced chain is well
        # inside Catalyst's depth budget; execution cost is identical).
        # The final table IS checkpointed: modularity references it
        # three times (size agg + both endpoints of the within-edge
        # join), and an un-materialized tail would re-run the whole
        # trajectory per reference. Loops deep enough to stress the
        # analyzer keep the every-4-rounds cadence
        # (q_graph_components_minlabel).
        if r == rounds - 1:
            labels = _ckpt(labels)
    return labels


#: k-core threshold and bounded peel rounds (convergence at gate SFs
#: is measured well inside the bound; the round trace IS the output)
_KCORE_K = 3
_KCORE_ROUNDS = 5


def _kcore_sql() -> str:
    from azurestorage_blueprints_spark.queries.graph_q import _MIN_COOCCUR

    parts = [
        f"""li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (
      SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= {_MIN_COOCCUR}
    ),
    e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM und
           UNION ALL SELECT v, u FROM und)"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"""n{r} AS MATERIALIZED (
      SELECT src AS node FROM e{r - 1}
      GROUP BY src HAVING count(*) >= {_KCORE_K}
    ),
    e{r} AS MATERIALIZED (
      SELECT e.src, e.dst
      FROM e{r - 1} e
      JOIN n{r} a ON e.src = a.node
      JOIN n{r} b ON e.dst = b.node
    )"""
        )
    rows = " UNION ALL ".join(
        f"SELECT {r} AS round,"
        f" (SELECT CAST(count(DISTINCT src) AS BIGINT) FROM e{r}) AS n_nodes,"
        f" (SELECT CAST(count(*) / 2 AS BIGINT) FROM e{r}) AS n_edges"
        for r in range(_KCORE_ROUNDS + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + rows


@register(
    "q_graph_kcore",
    oracle=_kcore_sql(),
    doc=f"k-core decomposition (k = {_KCORE_K}) of the part co-purchase "
    "graph — the density-peeling primitive web-graph pipelines run to "
    "separate the link-farm/hub core from the sparse periphery (and "
    "the complement of q_graph_triangles' local density measure with "
    "a GLOBAL one): each round drops every node with degree below k "
    "and the edges touching it, and the output is the full peel "
    f"TRACE — (round, surviving nodes, surviving undirected edges) "
    f"for rounds 0..{_KCORE_ROUNDS} — because the trace, not just the "
    "fixed point, is what an analyst reads (how fast the periphery "
    "sheds = how hub-dominated the graph is). Expressed as bounded "
    "materialized rounds (the q_pagerank_fixedpoint/q_bpe_train "
    "pattern): every round is one degree hash-agg + one semi-join of "
    "the edge set against survivors, lineage truncated per round via "
    "localCheckpoint; the oracle unrolls the SAME rounds as CTEs, so "
    "every count is value-hash checked, making an iterative algorithm "
    "fully differential. Convergence at gate SFs lands well inside "
    "the bound (pinned in tests); a production run sizes rounds to "
    "the observed trace. All counts exact bigints; edges stay "
    "symmetric so degree is one group-count.",
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
    und = (
        pairs.groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _MIN_COOCCUR)
        .select("u", "v")
    )
    edges = _ckpt(
        und.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
            und.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
    )
    spark_rows = []
    cur = edges
    for r in range(_KCORE_ROUNDS + 1):
        if r > 0:
            surv = (
                cur.groupBy("src")
                .agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= _KCORE_K)
                .select(F.col("src").alias("node"))
            )
            sa = surv.select(F.col("node").alias("src"))
            sb = surv.select(F.col("node").alias("dst"))
            cur = _ckpt(cur.join(sa, "src").join(sb, "dst"))
        stats = cur.agg(
            F.countDistinct("src").cast("bigint").alias("n_nodes"),
            (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
        ).select(F.lit(r).cast("int").alias("round"), "n_nodes", "n_edges")
        spark_rows.append(stats)
    out = spark_rows[0]
    for s in spark_rows[1:]:
        out = out.unionByName(s)
    return out


@register(
    "q_graph_modularity",
    oracle=f"""
    WITH e0 AS (
      SELECT DISTINCT o_custkey AS c, {_SUPP_OFF} + l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
      SELECT c AS src, s AS dst FROM e0
      UNION ALL
      SELECT s AS src, c AS dst FROM e0
    ),
    l0 AS MATERIALIZED (
      SELECT src AS node, CAST(src AS BIGINT) AS label
      FROM (SELECT DISTINCT src FROM edges) t),
    {_lpa_round_sql(0, 1)},
    {_lpa_round_sql(1, 2)},
    {_lpa_round_sql(2, 3)},
    deg AS (
      SELECT src AS node, CAST(count(*) AS BIGINT) AS d
      FROM edges GROUP BY src),
    comm AS (
      SELECT l.label AS community,
             CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d.d) AS BIGINT) AS deg_sum
      FROM l3 l JOIN deg d ON d.node = l.node
      GROUP BY l.label),
    w AS (
      SELECT ls.label AS community, CAST(count(*) AS BIGINT) AS in_dir
      FROM edges e
      JOIN l3 ls ON ls.node = e.src
      JOIN l3 ld ON ld.node = e.dst
      WHERE ls.label = ld.label
      GROUP BY ls.label),
    cw AS (
      SELECT c.community, c.n_nodes, c.deg_sum,
             COALESCE(w.in_dir, 0) AS in_dir
      FROM comm c LEFT JOIN w ON w.community = c.community),
    tot AS (
      SELECT CAST(sum(deg_sum) AS BIGINT) AS m2,
             CAST(sum(in_dir) AS BIGINT) AS a_dir,
             sum(CAST(deg_sum AS HUGEINT) * deg_sum) AS bsq
      FROM cw)
    SELECT cw.community, cw.n_nodes,
           CAST(cw.in_dir // 2 AS BIGINT) AS in_edges,
           cw.deg_sum,
           CAST(((CAST(t.m2 AS HUGEINT) * cw.in_dir
                  - CAST(cw.deg_sum AS HUGEINT) * cw.deg_sum
                  + CAST(t.m2 AS HUGEINT) * t.m2) * 1000000)
                // (CAST(t.m2 AS HUGEINT) * t.m2) - 1000000
                AS BIGINT) AS contrib_micro,
           CAST(t.m2 // 2 AS BIGINT) AS m_edges,
           CAST(((CAST(t.m2 AS HUGEINT) * t.a_dir - t.bsq
                  + CAST(t.m2 AS HUGEINT) * t.m2) * 1000000)
                // (CAST(t.m2 AS HUGEINT) * t.m2) - 1000000
                AS BIGINT) AS q_micro
    FROM cw, tot t
    ORDER BY cw.n_nodes DESC, cw.community
    LIMIT 20
    """,
    doc="Newman modularity of the label-propagation partition — the "
    "quality functional that closes the community-detection loop: LPA "
    "(q_graph_label_propagation) proposes a partition, modularity "
    "scores it, so the two rungs together are propose-and-evaluate. "
    "Q = sum_c [ in_c/(2m) - (d_c/(2m))^2 ] over the identical "
    "3-round LPA trajectory (shared helper _lpa_labels / "
    "_lpa_round_sql, so partition equality is by construction, not "
    "coincidence). EXACT arithmetic end-to-end: with M2 = 2m, "
    "the per-community contribution is the integer "
    "(M2*in_dir_c - d_c^2) / M2^2 in micro-units via the offset "
    "floor-div trick ((num + den)*1e6 div den - 1e6), which keeps the "
    "dividend nonnegative so Spark's truncating `div` and DuckDB's "
    "`//` agree even on negative contributions (a community poorer "
    "than random); d_c^2 and M2^2 ride decimal(38,0)/HUGEINT so the "
    "claim holds at 100 TB degree sums (d_c ~ 1e12 -> d_c^2 ~ 1e24 "
    "<< 1e38), not just at gate SFs. Shape (100 TB): degrees are one "
    "map-side-combined count on src; community sizes/degree sums one "
    "hash-agg keyed on label; within-community mass is TWO equi-joins "
    "of the O(nodes) label vector to the O(E) edge list (never "
    "label x label); the scalar totals row is an O(communities) agg "
    "cross-joined back broadcast. No window outside the shared LPA "
    "argmax (keyed on node, unbounded cardinality), no cartesian.",
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _purchase_edges(spark, sf_dir)
    labels = _lpa_labels(edges, rounds=3)

    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    comm = (
        labels.join(deg, labels.node == deg.src)
        .groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("d").cast("bigint").alias("deg_sum"),
        )
    )
    ls = labels.select(F.col("node").alias("src"), F.col("label").alias("lsrc"))
    ld = labels.select(F.col("node").alias("dst"), F.col("label").alias("ldst"))
    within = (
        edges.join(ls, "src")
        .join(ld, "dst")
        .filter(F.col("lsrc") == F.col("ldst"))
        .groupBy(F.col("lsrc").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("in_dir"))
    )
    cw = comm.join(within, "community", "left").withColumn(
        "in_dir", F.coalesce(F.col("in_dir"), F.lit(0).cast("bigint"))
    )
    tot = cw.agg(
        F.sum("deg_sum").cast("bigint").alias("m2"),
        F.sum("in_dir").cast("bigint").alias("a_dir"),
        F.sum(F.col("deg_sum").cast("decimal(38,0)") * F.col("deg_sum")).alias(
            "bsq"
        ),
    )
    out = (
        cw.crossJoin(F.broadcast(tot))
        .select(
            "community",
            "n_nodes",
            F.expr("in_dir div 2").cast("bigint").alias("in_edges"),
            "deg_sum",
            F.expr(
                "((cast(m2 as decimal(38,0)) * in_dir"
                " - cast(deg_sum as decimal(38,0)) * deg_sum"
                " + cast(m2 as decimal(38,0)) * m2) * 1000000)"
                " div (cast(m2 as decimal(38,0)) * m2) - 1000000"
            )
            .cast("bigint")
            .alias("contrib_micro"),
            F.expr("m2 div 2").cast("bigint").alias("m_edges"),
            F.expr(
                "((cast(m2 as decimal(38,0)) * a_dir - bsq"
                " + cast(m2 as decimal(38,0)) * m2) * 1000000)"
                " div (cast(m2 as decimal(38,0)) * m2) - 1000000"
            )
            .cast("bigint")
            .alias("q_micro"),
        )
        .orderBy(F.desc("n_nodes"), "community")
        .limit(20)
    )
    return out


#: HITS fixed-point: score scale (1.0 == 1e6) and unrolled rounds
_HITS_ONE = 1_000_000
_HITS_ROUNDS = 2


def _hits_oracle() -> str:
    parts = [
        f"""e0 AS (
      SELECT DISTINCT o_custkey AS c, {_SUPP_OFF} + l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    h0 AS MATERIALIZED (
      SELECT c AS node, CAST({_HITS_ONE} AS BIGINT) AS h
      FROM (SELECT DISTINCT c FROM e0) t)"""
    ]
    for r in range(1, _HITS_ROUNDS + 1):
        parts.append(f"""ar{r} AS MATERIALIZED (
      SELECT e.s AS node, CAST(sum(h.h) AS BIGINT) AS raw
      FROM e0 e JOIN h{r - 1} h ON e.c = h.node GROUP BY e.s)""")
        parts.append(f"""am{r} AS (SELECT CAST(max(raw) AS BIGINT) AS mx FROM ar{r})""")
        parts.append(f"""a{r} AS MATERIALIZED (
      SELECT node, CAST((CAST(raw AS HUGEINT) * {_HITS_ONE}) // mx AS BIGINT) AS a
      FROM ar{r}, am{r})""")
        parts.append(f"""hr{r} AS MATERIALIZED (
      SELECT e.c AS node, CAST(sum(a.a) AS BIGINT) AS raw
      FROM e0 e JOIN a{r} a ON e.s = a.node GROUP BY e.c)""")
        parts.append(f"""hm{r} AS (SELECT CAST(max(raw) AS BIGINT) AS mx FROM hr{r})""")
        parts.append(f"""h{r} AS MATERIALIZED (
      SELECT node, CAST((CAST(raw AS HUGEINT) * {_HITS_ONE}) // mx AS BIGINT) AS h
      FROM hr{r}, hm{r})""")
    r = _HITS_ROUNDS
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT * FROM (
      SELECT 'hub' AS role, CAST(node AS BIGINT) AS node_id, h AS score
      FROM h{r} ORDER BY h DESC, node LIMIT 10)
    UNION ALL
    SELECT * FROM (
      SELECT 'authority' AS role, CAST(node AS BIGINT) AS node_id, a AS score
      FROM a{r} ORDER BY a DESC, node LIMIT 10)"""
    )


@register(
    "q_graph_hits",
    oracle=_hits_oracle(),
    doc=f"HITS hubs-and-authorities ({_HITS_ROUNDS} fixed rounds) over "
    "the bipartite customer->supplier purchase graph — the 6th fully "
    "oracle-checked iterative algorithm (beside min-label components, "
    "PageRank, LPA, k-core, k-means): hub scores live on customers, "
    "authority scores on suppliers, each round is a = normalize(E^T "
    "h); h = normalize(E a) — power iteration on E^T E, which is why "
    "HITS converges to the principal singular vectors. Exactness: "
    "scores are scaled integers (1.0 = 1e6) normalized by the "
    "INFINITY norm each half-round (the q_embed_pca_var_share "
    "power-iteration convention — max is order-free, so no double "
    "summation exists anywhere); the renormalization product "
    "raw * 1e6 rides HUGEINT/decimal(38,0) because raw can reach "
    "score x degree ~ 1e18 at 100 TB and the product overflows "
    "int64 exactly where the engine must not wrap silently. Oracle: "
    "every half-round unrolled MATERIALIZED. Shape (100 TB): per "
    "half-round ONE equi-join of the O(nodes) score vector to the "
    "edge list + one map-side-combined sum keyed on the far side + "
    "an O(1) max broadcast back — the PageRank loop's shape with a "
    "different normalizer; top-10 per role via TakeOrderedAndProject, "
    "never a global sort.",
)
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    # partitioned on s (r12, guide §2.4): the authority half-round
    # groups contributions by s, and HashPartitioning(s) satisfies that
    # clustering — with the score vector joined broadcast (AQE runtime
    # choice, unhinted) the a-update fuses exchange-free; the h-update
    # still pays its one map-side-combined exchange keyed on c.
    e0 = _ckpt(
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            (F.lit(_SUPP_OFF) + F.col("l_suppkey")).alias("s"),
        )
        .distinct()
        .repartition("s")
    )
    h = e0.select("c").distinct().select(
        F.col("c").alias("node"),
        F.lit(_HITS_ONE).cast("bigint").alias("score"),
    )
    a = None
    norm_expr = F.expr(
        f"cast((cast(raw as decimal(38,0)) * {_HITS_ONE}) div mx as bigint)"
    )
    # every half-round IS checkpointed (r12 final): the checkpoint-diet
    # variant (final-only) was re-measured in a 4-variant interleaved
    # same-session A/B on a quiet box and LOST — med 3.41 s vs 2.88 s,
    # min 3.05 vs 2.62 — because each half-round's contribution table
    # `ar`/`hr` is DOUBLE-referenced (its max-agg broadcast + the
    # normalize), so without materialization both the broadcast subtree
    # and the main plan re-run the aggregation, and the re-expansion
    # compounds across the unrolled rounds. Per-half-round
    # materialization (the pre-r12 shape) keeps every subtree
    # single-executed; the ~1 s/call planning tax localCheckpoint pays
    # is smaller than the duplicated work here, unlike LPA whose
    # per-round tables are single-referenced.
    for r in range(_HITS_ROUNDS):
        ar = (
            e0.join(h, e0.c == h.node)
            .groupBy(F.col("s").alias("node2"))
            .agg(F.sum("score").cast("bigint").alias("raw"))
            .select(F.col("node2").alias("node"), "raw")
        )
        am = ar.agg(F.max("raw").cast("bigint").alias("mx"))
        a = _ckpt(
            ar.crossJoin(F.broadcast(am)).select("node", norm_expr.alias("score"))
        )
        hr = (
            e0.join(a, e0.s == a.node)
            .groupBy(F.col("c").alias("node2"))
            .agg(F.sum("score").cast("bigint").alias("raw"))
            .select(F.col("node2").alias("node"), "raw")
        )
        hm = hr.agg(F.max("raw").cast("bigint").alias("mx"))
        h = _ckpt(
            hr.crossJoin(F.broadcast(hm)).select("node", norm_expr.alias("score"))
        )
    hubs = (
        h.select(
            F.lit("hub").alias("role"),
            F.col("node").cast("bigint").alias("node_id"),
            F.col("score"),
        )
        .orderBy(F.desc("score"), "node_id")
        .limit(10)
    )
    auth = (
        a.select(
            F.lit("authority").alias("role"),
            F.col("node").cast("bigint").alias("node_id"),
            F.col("score"),
        )
        .orderBy(F.desc("score"), "node_id")
        .limit(10)
    )
    return hubs.unionAll(auth)
