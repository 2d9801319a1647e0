"""Round-12 semantic gates — invariants behind this round's scale fixes
(r11 verdict "What's wrong" #1-#2 + ADVICE):

- the windowless top-V selection (_topv_keep, the two-phase histogram
  cut) must reproduce the row_number() top-V set EXACTLY, including
  count ties at the cut and languages whose vocab is at or under the
  cap — the equivalence proof the capped-LM re-plan rests on;
- the capped-LM pre-pass must stay windowless at the source level and
  its selection plan must never partition a Window by the constant-
  cardinality lang key alone;
- the span-corruption start hash must compute its position term in
  64-bit (the silent int32 wrap on >53k-token documents, r11 ADVICE);
- the milli-nat accumulators (DoReMi ce_*, DSIR imp_*) must stay
  inside int64 at the ADVERTISED 100 TB token scale — a bound proof,
  not a doc note (r11 verdict "What's wrong" #2).
"""

from __future__ import annotations

import inspect
import re

from pyspark.sql import Window
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.queries import load_all
from azurestorage_blueprints_spark.tables import table

REGISTRY = load_all()


def _plan_of(spark, df) -> str:
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def _standing_vocab(spark, sf_dir):
    from azurestorage_blueprints_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 != 0)
    tok = d.select("lang", F.explode(F.expr(tokens())).alias("token"))
    return tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )


def test_topv_keep_matches_rownumber_on_real_vocab(spark, sf_dir):
    """The two-phase histogram cut must select the SAME top-V set as
    the retired row_number() window on the gates' actual vocab table."""
    from azurestorage_blueprints_spark.queries.streaming_q import (
        _PPL_LM_TOPV,
        _topv_keep,
    )

    s = _standing_vocab(spark, sf_dir)
    got = {
        (r.lang, r.token)
        for r in _topv_keep(s, _PPL_LM_TOPV).select("lang", "token").collect()
    }
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.col("token").asc())
    want = {
        (r.lang, r.token)
        for r in s.withColumn("vr", F.row_number().over(w))
        .filter(F.col("vr") <= _PPL_LM_TOPV)
        .select("lang", "token")
        .collect()
    }
    assert got == want
    # the cap must bind (vocab > V_cap) so the cut path is exercised
    assert len(got) < s.count()


def test_topv_keep_adversarial_cases(spark):
    """Crafted worst cases: all-ties (single-bin degenerate, token-asc
    tiebreak at the cut), ties exactly at the cut rank, vocab below /
    exactly at the cap — each checked against a plain Python sort."""
    from azurestorage_blueprints_spark.queries.streaming_q import _topv_keep

    cases = {
        # all counts equal: one histogram bin, residual rank resolves
        # the whole cut inside it by token order
        "ties": [("a", f"t{i:02d}", 7) for i in range(10)],
        # counts tied exactly at the cut rank (k=3 falls mid-tie)
        "cut_tie": [("a", "w", 9), ("a", "x", 5), ("a", "y", 5), ("a", "z", 5)],
        # vocab smaller than k: no boundary bin, keep everything
        "small": [("a", "x", 3), ("a", "y", 1)],
        # vocab exactly k: boundary bin at the last token
        "exact": [("a", "x", 3), ("a", "y", 2), ("a", "z", 1)],
        # two languages, one above and one below the cap
        "mixed": [("a", f"t{i}", i + 1) for i in range(8)]
        + [("b", "u", 2), ("b", "v", 1)],
    }
    k = 3
    for name, rows in cases.items():
        s = spark.createDataFrame(rows, "lang string, token string, c bigint")
        got = {(r.lang, r.token) for r in _topv_keep(s, k).collect()}
        want = set()
        bylang: dict[str, list] = {}
        for lang, tok, c in rows:
            bylang.setdefault(lang, []).append((tok, c))
        for lang, toks in bylang.items():
            toks.sort(key=lambda t: (-t[1], t[0]))
            want |= {(lang, t) for t, _ in toks[:k]}
        assert got == want, f"case {name}: {got} != {want}"


def test_capped_lm_prepass_is_windowless_at_source():
    """Source-level pin (the r11 broadcast-allowlist convention): the
    pre-pass must route its top-V selection through _topv_keep and
    carry no window of its own."""
    from azurestorage_blueprints_spark.queries import streaming_q as m

    src = inspect.getsource(m._capped_lm_parts)
    assert "_topv_keep" in src
    assert "row_number" not in src and "Window" not in src


def test_topv_selection_plan_has_no_lang_only_window(spark, sf_dir):
    """The selection's physical plan may window only over (lang, cbin)
    — the O(langs x bins) histogram running count and the boundary-bin
    residual rank — never over lang alone (the 5-partition vocab
    sort the re-plan retires)."""
    from azurestorage_blueprints_spark.queries.streaming_q import _topv_keep

    s = _standing_vocab(spark, sf_dir)
    plan = _plan_of(spark, _topv_keep(s, 5))
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert len(specs) >= 2, "expected the two bounded windows in the plan"
    for spec in specs:
        if "lang" in spec:
            assert "_qbin" in spec, f"lang-only vocab window survived: {spec}"


def test_span_start_hash_is_64bit_on_long_documents(spark):
    """The (doc_id, pos) start hash must match a pure-Python 64-bit
    mirror out past the int32 wrap point (~53k tokens: j * 40503
    crosses 2^31) — r11 ADVICE: Spark wrapped silently in IntegerType
    where DuckDB computed 64-bit."""
    from azurestorage_blueprints_spark.queries.curation import (
        _SPAN_START_MOD,
        _span_start,
    )

    doc_id = 987654321
    n = 60_000
    df = spark.createDataFrame([(doc_id,)], "doc_id bigint")
    starts = df.select(
        F.transform(
            F.sequence(F.lit(1), F.lit(n)),
            lambda j: F.when(_span_start(j), 1).otherwise(0),
        ).alias("m")
    ).first()[0]
    want = [
        1
        if ((doc_id % 2147483648) * 2654435761 + j * 40503)
        % 2147483648
        % _SPAN_START_MOD
        == 0
        else 0
        for j in range(1, n + 1)
    ]
    assert starts == want
    # the tail past the wrap point must still produce some starts
    assert sum(want[53_021:]) > 0, "fixture never crosses the wrap point"


def test_milli_nat_accumulators_fit_int64_at_100tb():
    """Bound proof for the r12 milli-nat rescale: at the advertised
    scale (100 TB of text ~ 2.5e13 tokens) every DoReMi/DSIR bigint
    accumulator stays inside signed int64 — Spark wraps silently where
    DuckDB raises, so the bound must hold by arithmetic, not luck."""
    import math

    I64 = 2**63
    n_tokens = 2.5e13  # ~100 TB at ~4 bytes/token
    # DoReMi: ce_*_milli = sum over token types of c * smilli, with
    # smilli <= round(ln(n + v) * 1000) and sum(c) <= n per source
    s_max = round(math.log(2 * n_tokens) * 1000)
    assert n_tokens * s_max < I64 / 10, "DoReMi ce ceiling under 10% of int64"
    # per-term products also stay exact: c <= n, smilli <= s_max
    assert n_tokens * s_max < 2**62
    # DSIR: |lr_milli| <= round((ln(n + B) - ln(1)) * 1000); the gate's
    # imp_total_milli sums one lr per FEATURE (= token) across the
    # whole arrival slice
    lr_max = round(math.log(n_tokens + 256) * 1000)
    assert n_tokens * lr_max < I64 / 10, "DSIR imp ceiling under 10% of int64"
    # Gumbel keys share the milli units: |log w| + |gumbel| per doc,
    # gumbel quantile bounded by ~40 nats at any float precision
    assert (n_tokens * lr_max) + 40_000 < I64


def test_doremi_and_dsir_sources_state_no_sub100tb_ceiling():
    """The in-plan docs must no longer state an int64 ceiling BELOW the
    100 TB corpus scale (the r11 accepted-remedy doc notes are retired
    by the rescale)."""
    from azurestorage_blueprints_spark.queries import corpus_ops, streaming_q

    for m in (corpus_ops, streaming_q):
        src = inspect.getsource(m)
        assert "2.6e11" not in src, f"{m.__name__} still quotes the micro ceiling"


def test_exact_group_quantiles_match_window_reference(spark, sf_dir):
    """The generalized two-phase selection (operators/selection.py)
    must reproduce the rank-window reference exactly on real data —
    the equivalence the q_quantiles_exact rung rests on."""
    from azurestorage_blueprints_spark.operators.selection import (
        exact_group_quantiles,
    )

    o = table(spark, sf_dir, "orders")
    ks = [
        lambda n: F.ceil(n * F.lit(0.5)).cast("bigint"),
        lambda n: F.ceil(n * F.lit(0.99)).cast("bigint"),
    ]
    got = {
        r.o_orderpriority: r
        for r in exact_group_quantiles(
            o, "o_orderpriority", "o_totalprice", "o_orderkey", ks
        ).collect()
    }
    rows = sorted(
        o.select("o_orderpriority", "o_totalprice", "o_orderkey").collect(),
        key=lambda r: (r.o_orderpriority, r.o_totalprice, r.o_orderkey),
    )
    bygrp: dict[str, list] = {}
    for r in rows:
        bygrp.setdefault(r.o_orderpriority, []).append(r)
    assert sorted(bygrp) == sorted(got)
    for grp, rs in bygrp.items():
        n = len(rs)
        g = got[grp]
        assert g.n == n
        import math

        for qi, frac in ((1, 0.5), (2, 0.99)):
            k = math.ceil(n * frac)
            want = rs[k - 1]
            assert getattr(g, f"q{qi}") == want.o_totalprice, (grp, qi)
            assert getattr(g, f"q{qi}_key") == want.o_orderkey, (grp, qi)


def test_exact_group_quantiles_adversarial_cases(spark):
    """Crafted worst cases: all-ties (single bin), ties exactly at the
    rank, singleton groups, mixed group sizes."""
    from azurestorage_blueprints_spark.operators.selection import (
        exact_group_quantiles,
    )

    cases = {
        "ties": [("a", 7.0, i) for i in range(9)],
        "cut_tie": [("a", 1.0, 1), ("a", 2.0, 2), ("a", 2.0, 3), ("a", 9.0, 4)],
        "singleton": [("a", 3.5, 1)],
        "mixed": [("a", float(i + 1), i) for i in range(10)]
        + [("b", 2.0, 11), ("b", 1.0, 12)],
    }
    ks = [
        lambda n: F.ceil(n * F.lit(0.5)).cast("bigint"),
        lambda n: n.cast("bigint"),  # the max — boundary bin is the last
    ]
    import math

    for name, rows in cases.items():
        df = spark.createDataFrame(rows, "g string, v double, k bigint")
        got = {r.g: r for r in exact_group_quantiles(df, "g", "v", "k", ks).collect()}
        bygrp: dict[str, list] = {}
        for g, v, k in rows:
            bygrp.setdefault(g, []).append((v, k))
        for g, vs in bygrp.items():
            vs.sort()
            n = len(vs)
            r = got[g]
            assert r.n == n, name
            k1 = math.ceil(n * 0.5)
            assert (r.q1, r.q1_key) == vs[k1 - 1], (name, g)
            assert (r.q2, r.q2_key) == vs[n - 1], (name, g)


def test_exact_group_quantiles_plan_windows_ride_the_histogram(spark, sf_dir):
    """No Window in the selection plan may partition by the group key
    without the histogram bin — the constant-key corpus sort this
    operator exists to avoid."""
    from azurestorage_blueprints_spark.operators.selection import (
        exact_group_quantiles,
    )

    o = table(spark, sf_dir, "orders")
    df = exact_group_quantiles(
        o,
        "o_orderpriority",
        "o_totalprice",
        "o_orderkey",
        [lambda n: F.ceil(n * F.lit(0.5)).cast("bigint")],
    )
    plan = _plan_of(spark, df)
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert len(specs) >= 2
    for spec in specs:
        if "o_orderpriority" in spec:
            assert "_qbin" in spec or "_cnt" in spec, (
                f"group-only corpus window survived: {spec}"
            )


def test_exact_group_quantiles_rescan_is_a_sliver(spark, sf_dir):
    """Scale posture of the two-phase selection: phase 2 re-scans ONLY
    the boundary bins, an expected ~len(ks)/bins slice of the corpus.
    Gate the realized fraction on real data so a binning regression
    (too-coarse bins -> phase 2 degrades toward the full sort this
    operator exists to avoid) fails loudly."""
    from azurestorage_blueprints_spark.operators.selection import log_bin

    o = table(spark, sf_dir, "orders")
    binc = log_bin(F.col("o_totalprice"))
    hist = o.groupBy("o_orderpriority", binc.alias("b")).agg(
        F.count(F.lit(1)).alias("c")
    )
    n_rows = o.count()
    n_bins = hist.count()
    # hundreds of distinct milli-log bins per group on real prices
    assert n_bins / 5 > 100, f"binning collapsed to {n_bins} bins"
    # worst single bin (any boundary bin's rescan cost) stays a sliver
    worst = hist.agg(F.max("c")).first()[0]
    assert worst / n_rows < 0.05, (
        f"largest bin holds {worst}/{n_rows} rows — phase 2 would rescan "
        "a material corpus share"
    )


def test_global_quantiles_degenerate_case_plan_and_values(spark, sf_dir):
    """The single-group (constant-key) case is where the naive exact
    plan is worst — an empty-partitionBy window sorts the whole corpus
    in ONE task. The selection plan must keep every window on the
    histogram, and the values must equal a driver-side sorted
    reference."""
    out = REGISTRY["q_quantiles_global"].fn(spark, sf_dir)
    plan = _plan_of(spark, out)
    specs = [ln for ln in plan.splitlines() if "windowspecdefinition" in ln]
    assert specs
    for spec in specs:
        assert "_qbin" in spec or "_cnt" in spec, (
            f"corpus-scale window in the global-quantile plan: {spec}"
        )
    li = sorted(
        (r.l_extendedprice, r.l_orderkey * 8 + r.l_linenumber)
        for r in table(spark, sf_dir, "lineitem")
        .select("l_extendedprice", "l_orderkey", "l_linenumber")
        .collect()
    )
    import math

    r = out.first()
    n = len(li)
    assert r.n == n
    for qi, frac in ((1, 0.5), (2, 0.99), (3, 0.999)):
        k = math.ceil(n * frac)
        assert (getattr(r, f"q{qi}"), getattr(r, f"q{qi}_key")) == li[k - 1], qi


def test_quantile_gate_funnel_accounts_for_every_arrival(spark, sf_dir):
    """Every arriving document lands in exactly one (lang, over_p95)
    cell, and the realized over-p95 share sits near the 5% the frozen
    threshold was calibrated to (the split reuses one distribution)."""
    funnel = REGISTRY["q_stream_quantile_gate"].fn(spark, sf_dir).collect()
    assert all(r.over_p95 in (0, 1) for r in funnel)
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    arrivals = {
        r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    got: dict[str, int] = {}
    over = total = 0
    for r in funnel:
        got[r.lang] = got.get(r.lang, 0) + int(r.n_docs)
        total += r.n_docs
        if r.over_p95 == 1:
            over += r.n_docs
        assert r.chars_total >= r.n_docs >= 1 and r.max_chars >= 1
    assert got == arrivals
    assert 0.0 <= over / total < 0.25, f"p95 gate flagged {over}/{total}"


def test_jl_projection_matches_exact_python_recompute(spark, sf_dir):
    """The JL rung's per-label report must equal an independent exact
    integer recomputation of quantize -> sign-project -> pair ->
    milli-ratio in plain Python — pinning the masked-hash sign matrix,
    the int8 quantization, and the floor-division milli convention all
    at once (the oracle twin re-proves this cross-engine; this gate
    proves it against the DEFINITION)."""
    import math

    K, HMOD = 16, 2147483648
    rows = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .collect()
    )
    byid = {}
    for r in rows:
        xs = [float(x) for x in r.embedding]
        scale = max(max(abs(x) for x in xs), 1e-12)
        v = [math.floor(x * 127.0 / scale + 0.5) for x in xs]
        y = [
            sum(
                v[i]
                * (
                    1
                    - 2
                    * (((i * K + j + 1) * 2654435761) % HMOD // 32768 % 2)
                )
                for i in range(len(v))
            )
            for j in range(K)
        ]
        byid[r.vec_id] = (int(r.label), v, y)
    expect: dict[int, list[int]] = {}
    for a in sorted(byid):
        if a % 2 or (a + 1) not in byid:
            continue
        la, va, ya = byid[a]
        _, vb, yb = byid[a + 1]
        d2o = sum((p - q) ** 2 for p, q in zip(va, vb))
        d2p = sum((p - q) ** 2 for p, q in zip(ya, yb))
        if d2o > 0:
            expect.setdefault(la, []).append((d2p * 1000) // (K * d2o))
    got = REGISTRY["q_embed_jl_projection"].fn(spark, sf_dir).collect()
    assert {r.label for r in got} == set(expect)
    for r in got:
        ms = expect[r.label]
        assert r.n_pairs == len(ms)
        assert r.min_milli == min(ms) and r.max_milli == max(ms)
        assert r.mean_milli_ratio == sum(ms) / len(ms)
        within = sum(1 for m in ms if abs(m - 1000) <= 500)
        assert r.within_500 == within and r.share_within == within / len(ms)
    # the sign matrix must not be rank-degenerate: with a healthy JL
    # matrix the pooled mean milli-ratio concentrates at 1000
    pooled = [m for ms in expect.values() for m in ms]
    assert abs(sum(pooled) / len(pooled) - 1000) < 350


def test_rouge_n_matches_counter_recompute(spark, sf_dir):
    """ROUGE-2 P/R/F1 milli-scores per lang must equal a
    collections.Counter recomputation over the same adjacent-id pairs
    — pinning the clipped-min semantics, the LEFT-join zero-match
    inclusion, and the shared-numerator F1 identity."""
    from collections import Counter

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).collect()
    tk = {
        r.doc_id: ([t for t in r.text.split(" ") if t], r.lang) for r in docs
    }
    expect: dict[str, list[tuple[int, int, int]]] = {}
    for d in sorted(tk):
        if d % 2 or (d + 1) not in tk:
            continue
        ctk, lang = tk[d]
        rtk, _ = tk[d + 1]
        if len(ctk) < 2 or len(rtk) < 2:
            continue
        cb = Counter(zip(ctk, ctk[1:]))
        rb = Counter(zip(rtk, rtk[1:]))
        mn = sum(min(c, rb[g]) for g, c in cb.items())
        tc, tr = len(ctk) - 1, len(rtk) - 1
        expect.setdefault(lang, []).append(
            ((mn * 1000) // tc, (mn * 1000) // tr, (mn * 2000) // (tc + tr))
        )
    got = REGISTRY["q_eval_rouge_n"].fn(spark, sf_dir).collect()
    assert {r.lang for r in got} == set(expect)
    for r in got:
        ps = expect[r.lang]
        assert r.n_pairs == len(ps)
        assert r.mean_p_milli == sum(p for p, _, _ in ps) / len(ps)
        assert r.mean_r_milli == sum(q for _, q, _ in ps) / len(ps)
        assert r.mean_f1_milli == sum(f for _, _, f in ps) / len(ps)
        assert r.max_f1_milli == max(f for _, _, f in ps)


# ---------------------------------------------------------------------------
# r12 second batch: modularity, k-center sampling, Hilbert layout,
# t-closeness — full third-engine recomputes (pure Python) plus the
# exhaustive curve-property proof for the Hilbert key.


def test_modularity_matches_python_recompute(spark, sf_dir):
    """Newman modularity of the 3-round LPA partition must equal a
    pure-Python replay — pinning partition identity with the LPA rung,
    the within-community edge mass, and the offset floor-div micro
    arithmetic (including negative contributions)."""
    from collections import defaultdict

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").collect()
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").collect()
    cust = {r.o_orderkey: r.o_custkey for r in od}
    off = 1_000_000
    e0 = {(cust[r.l_orderkey], off + r.l_suppkey) for r in li}
    edges = [(c, s) for c, s in e0] + [(s, c) for c, s in e0]
    lab = {u: u for u, _ in edges}
    for _ in range(3):
        cnt: dict[int, dict[int, int]] = defaultdict(lambda: defaultdict(int))
        for u, v in edges:
            cnt[v][lab[u]] += 1
        lab = {
            v: max(c.items(), key=lambda kv: (kv[1], -kv[0]))[0]
            for v, c in cnt.items()
        }
    deg: dict[int, int] = defaultdict(int)
    for u, _ in edges:
        deg[u] += 1
    n_nodes: dict[int, int] = defaultdict(int)
    d_c: dict[int, int] = defaultdict(int)
    for u, d in deg.items():
        n_nodes[lab[u]] += 1
        d_c[lab[u]] += d
    in_dir: dict[int, int] = defaultdict(int)
    for u, v in edges:
        if lab[u] == lab[v]:
            in_dir[lab[u]] += 1
    m2 = len(edges)
    den = m2 * m2
    a_dir = sum(in_dir.values())
    bsq = sum(d * d for d in d_c.values())
    q_micro = ((m2 * a_dir - bsq + den) * 1_000_000) // den - 1_000_000
    expect = sorted(
        (
            (
                c,
                n_nodes[c],
                in_dir[c] // 2,
                d_c[c],
                ((m2 * in_dir[c] - d_c[c] * d_c[c] + den) * 1_000_000) // den
                - 1_000_000,
                m2 // 2,
                q_micro,
            )
            for c in n_nodes
        ),
        key=lambda t: (-t[1], t[0]),
    )[:20]
    got = [
        (r.community, r.n_nodes, r.in_edges, r.deg_sum, r.contrib_micro,
         r.m_edges, r.q_micro)
        for r in REGISTRY["q_graph_modularity"].fn(spark, sf_dir).collect()
    ]
    assert got == expect


def test_kcenter_matches_python_recompute(spark, sf_dir):
    """The greedy farthest-first trajectory — every center id, selection
    radius, and objective sum — must equal a pure-Python replay over
    the same int8 quantization."""
    import math

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    q8 = {}
    for r in e:
        v = [float(x) for x in r.embedding]
        scale = max(max(abs(x) for x in v), 1e-12)
        q8[r.vec_id] = [math.floor(x * 127.0 / scale + 0.5) for x in v]

    def d2(a, b):
        return sum((ai - bi) ** 2 for ai, bi in zip(a, b))

    mind = {i: d2(v, q8[0]) for i, v in q8.items()}
    expect = [(0, 0, 0, 0)]
    for r in range(1, 8):
        s = sum(mind.values())
        cid = max(mind, key=lambda i: (mind[i], -i))
        expect.append((r, cid, mind[cid], s))
        cv = q8[cid]
        for i, v in q8.items():
            d = d2(v, cv)
            if d < mind[i]:
                mind[i] = d
    expect.append((8, -1, max(mind.values()), sum(mind.values())))
    got = [
        (r.round, r.center_id, r.radius_sq, r.sum_d2)
        for r in REGISTRY["q_kcenter_sample"].fn(spark, sf_dir).collect()
    ]
    assert got == expect


def test_hilbert_key_is_a_true_hilbert_curve(spark):
    """Exhaustive proof over all 65536 cells that the DEPLOYED per-bit
    expressions produce a genuine Hilbert curve: a bijection onto
    [0, 65536) whose consecutive keys are ALWAYS Manhattan-distance-1
    neighbors — the locality property the layout claims rest on (a
    Z-order key fails this at every power-of-two boundary)."""
    from azurestorage_blueprints_spark.queries.maintenance import _hilbert_steps

    df = spark.range(65536).selectExpr(
        "id as i",
        "cast(id div 256 as bigint) as x",
        "cast(id % 256 as bigint) as y",
        "cast(0 as bigint) as d",
    )
    for de, xe, ye in _hilbert_steps("(shiftright({v}, {k}) & 1)"):
        df = df.selectExpr("i", f"{de} as d", f"{xe} as x", f"{ye} as y")
    d_by_i = {r.i: r.d for r in df.select("i", "d").collect()}
    assert sorted(d_by_i.values()) == list(range(65536))
    inv = {d: (i // 256, i % 256) for i, d in d_by_i.items()}
    for d in range(65535):
        x1, y1 = inv[d]
        x2, y2 = inv[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, inv[d], inv[d + 1])


def test_t_closeness_matches_python_recompute(spark, sf_dir):
    """Entropy l-diversity and t-closeness per class must equal a
    Counter recompute — pinning the absent-value grid contribution
    (|0 - q_v*k|), the micro-nat entropy quantization, and the exact
    cross-multiplied milli-TV."""
    import math
    from collections import Counter, defaultdict

    rows = table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_acctbal", "c_mktsegment"
    ).collect()
    cl: dict[tuple[int, int], Counter] = defaultdict(Counter)
    glob: Counter = Counter()
    for r in rows:
        qid = (r.c_nationkey, math.floor(r.c_acctbal / 1000.0))
        cl[qid][r.c_mktsegment] += 1
        glob[r.c_mktsegment] += 1
    n = sum(glob.values())
    expect = {}
    for qid, c in cl.items():
        k = sum(c.values())
        ent = sum(
            v * round(math.log(k / v) * 1_000_000.0) for v in c.values()
        ) // k
        tv = sum(abs(c.get(s, 0) * n - gv * k) for s, gv in glob.items())
        t_milli = (500 * tv) // (k * n)
        expect[qid] = (k, len(c), ent, t_milli, len(c) >= 2 and t_milli <= 400)
    got = REGISTRY["q_t_closeness"].fn(spark, sf_dir).collect()
    assert len(got) == len(expect)
    for r in got:
        k, dl, ent, tm, rel = expect[(r.c_nationkey, r.bal_bucket)]
        assert (r.k, r.distinct_l, r.ent_micro, r.t_milli, r.releasable) == (
            k, dl, ent, tm, rel
        )


def test_bleu_matches_counter_recompute(spark, sf_dir):
    """Corpus BLEU-2 components and the quantized BP/BLEU must equal a
    Counter recompute — pinning the corpus-level pooling (not per-pair
    means), the clipped unigram AND bigram counts, and the monotone-exp
    brevity identity."""
    import math
    from collections import Counter

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    ).collect()
    tk = {
        r.doc_id: ([t for t in r.text.split(" ") if t], r.lang) for r in docs
    }
    agg: dict[str, list[int]] = {}
    for d in sorted(tk):
        if d % 2 or (d + 1) not in tk:
            continue
        ctk, lang = tk[d]
        rtk, _ = tk[d + 1]
        if len(ctk) < 2 or len(rtk) < 2:
            continue
        m1 = sum(
            min(c, Counter(rtk)[g]) for g, c in Counter(ctk).items()
        )
        cb = Counter(zip(ctk, ctk[1:]))
        rb = Counter(zip(rtk, rtk[1:]))
        m2 = sum(min(c, rb[g]) for g, c in cb.items())
        a = agg.setdefault(lang, [0] * 7)
        a[0] += 1
        a[1] += m1
        a[2] += len(ctk)
        a[3] += m2
        a[4] += len(ctk) - 1
        a[5] += len(ctk)
        a[6] += len(rtk)
    got = REGISTRY["q_eval_bleu"].fn(spark, sf_dir).collect()
    assert {r.lang for r in got} == set(agg)
    for r in got:
        n, m1, t1, m2, t2, cl, rl = agg[r.lang]
        assert (r.n_pairs, r.match_1, r.total_1, r.match_2, r.total_2,
                r.cand_len, r.ref_len) == (n, m1, t1, m2, t2, cl, rl)
        assert r.p1_milli == (m1 * 1000) // t1
        assert r.p2_milli == (m2 * 1000) // t2
        bp = math.exp(min(0.0, 1.0 - rl / cl))
        assert r.bp_micro == round(bp * 1_000_000.0)
        bleu = bp * math.sqrt((m1 / t1) * (m2 / t2))
        assert r.bleu2_micro == round(bleu * 1_000_000.0)


def test_survival_km_matches_python_recompute(spark, sf_dir):
    """The KM table — risk sets, per-time factors, and the quantized
    cumulative survival — must equal a pure-Python estimator over the
    same (user, event_type) lifetimes, pinning the censoring rule and
    the risk-set accounting (censored subjects count until their
    censoring time)."""
    import math
    from collections import defaultdict

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    ).collect()
    # epoch micros, tz-independent: ts is NTZ -> naive datetime
    import datetime

    span: dict[tuple, list[int]] = {}

    epoch = datetime.datetime(1970, 1, 1)
    for r in ev:
        us = int((r.ts - epoch).total_seconds() * 1_000_000)
        k = (r.user_id, r.event_type)
        if k not in span:
            span[k] = [us, us]
        else:
            span[k][0] = min(span[k][0], us)
            span[k][1] = max(span[k][1], us)
    gmax = max(l for _, l in span.values())
    hist: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for f, l in span.values():
        t = (l - f) // 86_400_000_000
        if l < gmax - 3 * 86_400_000_000:
            hist[t][0] += 1
        else:
            hist[t][1] += 1
    n = len(span)
    at_risk = n
    cum_lnq = 0
    zeroed = False
    expect = []
    for t in sorted(hist):
        d, c = hist[t]
        factor = ((at_risk - d) * 1_000_000) // at_risk
        if d > 0 and at_risk > d:
            cum_lnq += round(math.log((at_risk - d) / at_risk) * 1_000_000.0)
        if at_risk == d:
            zeroed = True
        surv = 0 if zeroed else round(
            math.exp(cum_lnq / 1_000_000.0) * 1_000_000.0
        )
        expect.append((t, at_risk, d, c, factor, surv))
        at_risk -= d + c
    got = [
        (r.t_days, r.n_risk, r.d_events, r.c_censored, r.factor_micro,
         r.surv_micro)
        for r in REGISTRY["q_survival_km"].fn(spark, sf_dir).collect()
    ]
    assert got == expect
    # the fixture must exercise both churn and censoring, or the rung
    # is degenerate
    assert sum(d for _, _, d, _, _, _ in expect) > 0
    assert sum(c for _, _, _, c, _, _ in expect) > 0


def test_stream_decontamination_gate_matches_set_recompute(spark, sf_dir):
    """Every streamed verdict must equal a Python set-overlap recompute
    of the 5-gram benchmark screen — arrivals vs the STANDING eval
    shingle set (the gate's frozen manifest), short-doc fallback
    included so every arrival is verdicted."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").collect()

    def shingles(text):
        t = [x for x in text.split(" ") if x]
        if len(t) >= 5:
            return {" ".join(t[i:i + 5]) for i in range(len(t) - 4)}
        return {" ".join(t)}

    eval_sh = set()
    for r in docs:
        if r.doc_id % 10 != 0 and r.doc_id % 97 == 0:
            eval_sh |= shingles(r.text)
    expect = {}
    for r in docs:
        if r.doc_id % 10 == 0:
            hits = len(shingles(r.text) & eval_sh)
            expect[r.doc_id] = (hits, "contaminated" if hits else "clean")
    got = REGISTRY["q_stream_decontamination_gate"].fn(spark, sf_dir).collect()
    assert len(got) == len(expect)
    for r in got:
        assert (r.n_eval_hits, r.verdict) == expect[r.doc_id], r.doc_id


def test_mcnemar_matches_python_recompute(spark, sf_dir):
    """The 2x2 concordance cells and the continuity-corrected statistic
    must equal a pure-Python replay of BOTH classifiers (word-marker
    argmax and char-marker argmax with the shared lexicographic fold)
    — and the fixture must produce discordance in both directions
    across the report, or the paired test is vacuous."""
    from collections import defaultdict

    from azurestorage_blueprints_spark.functions.text import LANG_MARKERS
    from azurestorage_blueprints_spark.queries.llm_text import (
        _CHAR_MARKERS,
        _ZH_HI,
        _ZH_LO,
    )

    docs = table(spark, sf_dir, "documents").select("lang", "text").collect()
    langs = sorted(LANG_MARKERS)

    def word_guess(text):
        toks = text.split(" ")
        best, best_s = None, None
        for lang in langs:
            s = sum(1 for t in toks if t in LANG_MARKERS[lang])
            if best is None or s > best_s:
                best, best_s = lang, s
        return best

    def char_guess(text):
        best, best_s = None, None
        for lang in langs:
            if lang == "en":
                s = 0
            elif lang == "zh":
                s = sum(1 for c in text if _ZH_LO <= ord(c) <= _ZH_HI)
            else:
                s = sum(1 for c in text if c in _CHAR_MARKERS[lang])
            if best is None or s > best_s:
                best, best_s = lang, s
        return best

    cells = defaultdict(lambda: [0, 0, 0, 0, 0])
    for r in docs:
        a = word_guess(r.text) == r.lang
        b = char_guess(r.text) == r.lang
        c = cells[r.lang]
        c[0] += 1
        c[1] += a and b
        c[2] += a and not b
        c[3] += b and not a
        c[4] += (not a) and (not b)
    got = REGISTRY["q_eval_mcnemar"].fn(spark, sf_dir).collect()
    assert len(got) == len(cells)
    for r in got:
        n, both, a_only, b_only, neither = cells[r.lang]
        assert (r.n_docs, r.n_both, r.n_a_only, r.n_b_only, r.n_neither) == (
            n, both, a_only, b_only, neither
        )
        disc = a_only + b_only
        stat = (
            (max(abs(a_only - b_only) - 1, 0) ** 2 * 1000) // disc
            if disc
            else 0
        )
        assert r.stat_milli == stat
        assert r.significant == (stat >= 3841)
    assert sum(c[2] for c in cells.values()) > 0
    assert sum(c[3] for c in cells.values()) > 0


def test_hits_matches_python_recompute(spark, sf_dir):
    """Both HITS score vectors after 2 normalized rounds must equal a
    pure-Python replay — pinning the infinity-norm rescale, the
    HUGEINT/decimal product, and the (score desc, node) top-10s."""
    from collections import defaultdict

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey").collect()
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey").collect()
    cust = {r.o_orderkey: r.o_custkey for r in od}
    off = 1_000_000
    e0 = {(cust[r.l_orderkey], off + r.l_suppkey) for r in li}
    h = {c: 1_000_000 for c, _ in e0}
    a = {}
    for _ in range(2):
        raw = defaultdict(int)
        for c, s in e0:
            raw[s] += h[c]
        mx = max(raw.values())
        a = {s: (v * 1_000_000) // mx for s, v in raw.items()}
        raw = defaultdict(int)
        for c, s in e0:
            raw[c] += a[s]
        mx = max(raw.values())
        h = {c: (v * 1_000_000) // mx for c, v in raw.items()}
    top = lambda d: sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    expect = [("hub", n, s) for n, s in top(h)] + [
        ("authority", n, s) for n, s in top(a)
    ]
    got = [
        (r.role, r.node_id, r.score)
        for r in REGISTRY["q_graph_hits"].fn(spark, sf_dir).collect()
    ]
    assert got == expect


def test_dtw_matches_python_dp(spark, sf_dir):
    """Every pairwise DTW distance must equal the classic O(n*m) Python
    DP over the same fixed 28-day series — pinning the fold encoding
    (growing-array accumulator / wrapped-list seed) against the
    textbook recurrence — and DTW <= lockstep must hold (the diagonal
    is a valid warp path)."""
    import datetime
    from collections import defaultdict

    ev = table(spark, sf_dir, "events").select("event_type", "ts").collect()
    epoch = datetime.datetime(1970, 1, 1)
    days = [
        (r.event_type, int((r.ts - epoch).total_seconds() * 1_000_000) // 86_400_000_000)
        for r in ev
    ]
    d0 = min(d for _, d in days)
    cnt: dict[tuple, int] = defaultdict(int)
    for et, d in days:
        if d - d0 < 28:
            cnt[(et, d - d0)] += 1
    types = sorted({et for et, _ in cnt})
    series = {et: [cnt.get((et, d), 0) for d in range(28)] for et in types}

    def dtw(x, y):
        inf = float("inf")
        prev = None
        for i in range(28):
            cur = []
            for j in range(28):
                c = abs(x[i] - y[j])
                if i == 0 and j == 0:
                    cur.append(c)
                else:
                    cur.append(c + min(
                        prev[j] if i else inf,
                        cur[j - 1] if j else inf,
                        prev[j - 1] if i and j else inf,
                    ))
            prev = cur
        return prev[-1]

    expect = {}
    for i, a in enumerate(types):
        for b in types[i + 1:]:
            ls = sum(abs(p - q) for p, q in zip(series[a], series[b]))
            expect[(a, b)] = (dtw(series[a], series[b]), ls)
    got = REGISTRY["q_ts_dtw"].fn(spark, sf_dir).collect()
    assert len(got) == len(expect)
    for r in got:
        d, ls = expect[(r.type_a, r.type_b)]
        assert (r.dtw, r.lockstep) == (d, ls), (r.type_a, r.type_b)
        assert r.dtw <= r.lockstep
        assert r.warp_gain_milli == (d * 1000) // ls if ls else 1000


def test_isotonic_matches_fraction_exact_pava(spark, sf_dir):
    """The minimax-quantized isotonic fit must equal floor(1e6 * the
    Fraction-exact pool-adjacent-violators solution) on the same bins
    (floor commutes with min and max), and the output must be
    nondecreasing in bucket order with a genuine violator pooled
    somewhere (else the rung never exercises the pooling)."""
    from fractions import Fraction

    got = sorted(
        (
            (r.bucket, r.n_docs, r.n_positive, r.raw_rate_micro, r.iso_rate_micro)
            for r in REGISTRY["q_eval_isotonic"].fn(spark, sf_dir).collect()
        )
    )
    # Fraction-exact PAVA over the same (n, pos) bins
    blocks = []  # (sum_pos, sum_n)
    for _, n, pos, _, _ in got:
        blocks.append((pos, n))
        while len(blocks) > 1 and Fraction(blocks[-2][0], blocks[-2][1]) >= Fraction(
            blocks[-1][0], blocks[-1][1]
        ):
            p2, n2 = blocks.pop()
            p1, n1 = blocks.pop()
            blocks.append((p1 + p2, n1 + n2))
    # expand block values back to per-bin rows
    expect = []
    it = iter(got)
    for p, n in blocks:
        v = (p * 1_000_000) // n
        consumed = 0
        while consumed < n:
            _, nb, _, _, _ = next(it)
            expect.append(v)
            consumed += nb
        assert consumed == n
    assert [g[4] for g in got] == expect
    assert all(a <= b for a, b in zip(expect, expect[1:]))
    # at least one bin must actually have been pooled (iso != raw)
    assert any(g[3] != g[4] for g in got)


def test_rrf_matches_python_recompute(spark, sf_dir):
    """The fused top-10 — both leg ranks and the exact integer RRF
    score — must equal a full Python recompute of BOTH legs (Okapi
    BM25 rounded to 6 decimals; int8-quantized cosine), pinning the
    rank assignment, the 1e6 div (60+r) per-leg floors, and the
    single-leg COALESCE-0 semantics."""
    import math

    from azurestorage_blueprints_spark.queries.curation import (
        _B,
        _BM25_TERMS,
        _K1,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    base = []
    for r in docs:
        tk = [t for t in r.text.split(" ") if t]
        base.append((r.doc_id, len(tk), [tk.count(t) for t in _BM25_TERMS]))
    n = len(base)
    avgdl = sum(dl for _, dl, _ in base) / n
    df = [sum(1 for _, _, tfs in base if tfs[i] > 0) for i in range(len(_BM25_TERMS))]
    lex_scores = []
    for doc_id, dl, tfs in base:
        s = 0.0
        for i in range(len(_BM25_TERMS)):
            idf = math.log((n - df[i] + 0.5) / (df[i] + 0.5) + 1.0)
            s = s + idf * (tfs[i] * (_K1 + 1.0)) / (
                tfs[i] + _K1 * (1.0 - _B + _B * dl / avgdl)
            )
        if s > 0:
            lex_scores.append((doc_id, round(s, 6)))
    lex_top = sorted(lex_scores, key=lambda t: (-t[1], t[0]))[:50]
    r_lex = {d: i + 1 for i, (d, _) in enumerate(lex_top)}

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    q8 = {}
    for r in emb:
        v = [float(x) for x in r.embedding]
        scale = max(max(abs(x) for x in v), 1e-12)
        q8[r.vec_id] = [math.floor(x * 127.0 / scale + 0.5) for x in v]
    q = q8[0]
    qn = math.sqrt(sum(x * x for x in q))
    sims = []
    for vid, v in q8.items():
        if vid == 0:
            continue
        sims.append(
            (vid, sum(a * b for a, b in zip(q, v))
             / (qn * math.sqrt(sum(x * x for x in v))))
        )
    vec_top = sorted(sims, key=lambda t: (-t[1], t[0]))[:50]
    r_vec = {d: i + 1 for i, (d, _) in enumerate(vec_top)}

    fused = {}
    for d in set(r_lex) | set(r_vec):
        s = 0
        if d in r_lex:
            s += 1_000_000 // (60 + r_lex[d])
        if d in r_vec:
            s += 1_000_000 // (60 + r_vec[d])
        fused[d] = s
    expect = sorted(fused.items(), key=lambda t: (-t[1], t[0]))[:10]
    got = REGISTRY["q_retrieval_rrf"].fn(spark, sf_dir).collect()
    assert [(r.doc_id, r.rrf_micro) for r in got] == expect
    for r in got:
        assert r.r_lex == r_lex.get(r.doc_id)
        assert r.r_vec == r_vec.get(r.doc_id)
    # the fused list must actually draw on BOTH legs
    assert any(r.r_lex is None for r in got) or any(
        r.r_vec is None for r in got
    ) or any(r.r_lex is not None and r.r_vec is not None for r in got)


def test_dtw_adversarial_cases(spark):
    """Crafted worst cases through the DEPLOYED fold expressions:
    identical series (dtw must be exactly 0), a one-day-shifted
    impulse (dtw collapses to ~0 while lockstep pays the full impulse
    twice — the elastic property the operator exists for), and a
    constant-vs-constant offset (dtw = lockstep = n*delta: warping
    cannot help)."""
    from azurestorage_blueprints_spark.queries.timeseries import (
        _DTW_N,
        _dtw_spark_row,
        _dtw_spark_row1,
    )

    def run(x, y):
        assert len(x) == len(y) == _DTW_N
        df = spark.createDataFrame(
            [(x, y)], "xv array<bigint>, yv array<bigint>"
        ).withColumn("prev", F.expr(_dtw_spark_row1()))
        for i in range(2, _DTW_N + 1):
            df = df.withColumn("prev", F.expr(_dtw_spark_row(i)))
        return df.selectExpr(f"element_at(prev, {_DTW_N}) as d").first().d

    base = [(i * 7) % 13 for i in range(_DTW_N)]
    assert run(base, base) == 0

    impulse = [0] * _DTW_N
    impulse[10] = 100
    shifted = [0] * _DTW_N
    shifted[11] = 100
    d = run(impulse, shifted)
    lockstep = sum(abs(a - b) for a, b in zip(impulse, shifted))
    assert lockstep == 200
    assert d == 0, "DTW must absorb a one-step shift of an impulse"

    const_a = [5] * _DTW_N
    const_b = [8] * _DTW_N
    assert run(const_a, const_b) == 3 * _DTW_N


def test_quantile_bootstrap_ci_matches_python_recompute(spark, sf_dir):
    """Point median, every replicate's weighted median, and the CI
    order statistics must equal a pure-Python replay of the mixer and
    the weighted selection — pinning the lane salt, the Poisson
    threshold mapping, the (n+1) div 2 lower-median rule, and the
    2nd/31st interval picks."""
    from azurestorage_blueprints_spark.queries.sampling import (
        _BCI_HI_K,
        _BCI_LO_K,
        _BOOT_B,
        _POIS_T,
    )

    rows = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    ).collect()
    import math

    data = [
        (r.o_orderkey, math.floor(r.o_totalprice * 100.0 + 0.5))
        for r in rows
    ]

    def pois_w(key, b):
        a = ((key % 2147483648) * 2654435761 + b * 40503 + 2750161) % 2147483648
        for _ in range(2):
            a = ((a * a) // 65536 + a) % 2147483648
        u = (a * 2654435761) % 4294967296
        for k, t in enumerate(_POIS_T):
            if u < t:
                return k
        return 9

    def wmedian(weighted):
        # weighted: list of (cents, w); lower weighted median
        n = sum(w for _, w in weighted)
        k = (n + 1) // 2
        c = 0
        for cents, w in sorted(weighted):
            c += w
            if c >= k:
                return cents, n
        raise AssertionError

    point, n_rows = wmedian([(c, 1) for _, c in data])
    meds = []
    for b in range(_BOOT_B):
        wrows = [(c, pois_w(key, b)) for key, c in data]
        wrows = [(c, w) for c, w in wrows if w > 0]
        meds.append(wmedian(wrows)[0])
    meds_sorted = sorted(meds)
    got = REGISTRY["q_quantile_bootstrap_ci"].fn(spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.point_median_cents, r.n_rows) == (point, n_rows)
    assert r.n_replicates == _BOOT_B
    assert r.ci_lo_cents == meds_sorted[_BCI_LO_K - 1]
    assert r.ci_hi_cents == meds_sorted[_BCI_HI_K - 1]
    assert r.min_med_cents == meds_sorted[0]
    assert r.max_med_cents == meds_sorted[-1]
    # the interval must be non-degenerate and bracket the point
    assert r.ci_lo_cents < r.ci_hi_cents
    assert r.ci_lo_cents <= r.point_median_cents <= r.ci_hi_cents


def test_simhash_vote_hashagg_matches_per_doc_fold(spark, sf_dir):
    """r12 optimization gate: simhash_signatures was restructured from
    64 per-document higher-order vote folds into one explode +
    conditional-sum hash-agg. Pin the restructured aggregate against a
    direct per-document reference: collect each doc's distinct-token
    xxhash64 values (via the engine's own xxhash64, the only
    non-portable piece) and recompute the 64 sign votes + two's-
    complement bit packing in Python."""
    from azurestorage_blueprints_spark.functions.text import tokens
    from azurestorage_blueprints_spark.queries.dedup import simhash_signatures

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 64)
    got = {r.doc_id: r.simhash for r in simhash_signatures(d).collect()}
    hs = (
        d.select(
            "doc_id",
            F.transform(
                F.array_distinct(F.expr(tokens())), lambda t: F.xxhash64(t)
            ).alias("hs"),
        )
        .filter(F.size("hs") > 0)
        .collect()
    )
    assert hs and got, "fixture must produce signatures"
    want = {}
    for r in hs:
        sim = 0
        for i in range(64):
            v = sum(1 if (h >> i) & 1 else -1 for h in r.hs)
            if v > 0:
                sim += (1 << i) if i < 63 else -(1 << 63)
        want[r.doc_id] = sim
    assert got == want
