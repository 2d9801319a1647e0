"""Round-11 semantic gates — invariants the oracle cannot see for this
round's scale-posture fixes (r10 verdict "What's wrong" #1-#3):

- the perplexity gate's deployed LM must be V_cap-bounded AND the cap
  must BIND at the gate SF (vocab > V_cap), so the OOV-tail path is
  exercised, and the funnel must account for every arrival exactly once;
- the two-phase distributed tercile selection (_ppl_thresholds +
  _ppl_bucket) must reproduce the ntile(3) verdict bit-for-bit on real
  data — the equivalence proof the re-plan rests on;
- no registered streaming plan may force a broadcast whose argument
  scales with the corpus (the grep-clean criterion from the r10
  verdict, pinned at the source level so it cannot regress silently).
"""

from __future__ import annotations

import inspect

from pyspark.sql import Window
from pyspark.sql import functions as F

from azurestorage_blueprints_spark.queries import load_all
from azurestorage_blueprints_spark.tables import table

REGISTRY = load_all()


def _standing_vocab_sizes(spark, sf_dir):
    from azurestorage_blueprints_spark.functions.text import tokens

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 != 0)
    tok = d.select("lang", F.explode(F.expr(tokens())).alias("token"))
    return {
        r.lang: r.v
        for r in tok.groupBy("lang").agg(F.countDistinct("token").alias("v")).collect()
    }


def test_ppl_gate_cap_binds_at_the_gate_sf(spark, sf_dir):
    """The top-V cap is only a real test if V_cap < vocab: every
    language must have tail tokens that fall to the OOV mass."""
    from azurestorage_blueprints_spark.queries.streaming_q import _PPL_LM_TOPV

    sizes = _standing_vocab_sizes(spark, sf_dir)
    assert sizes, "standing corpus must have languages"
    for lang, v in sizes.items():
        assert v > _PPL_LM_TOPV, (
            f"{lang}: vocab {v} <= V_cap {_PPL_LM_TOPV} — the cap no longer "
            "binds at the gate SF and the OOV-tail path is untested"
        )


def test_ppl_gate_funnel_accounts_for_every_arrival(spark, sf_dir):
    funnel = REGISTRY["q_stream_perplexity_gate"].fn(spark, sf_dir).collect()
    assert all(r.bucket in (1, 2, 3) for r in funnel)
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    arrivals = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got: dict[str, int] = {}
    for r in funnel:
        got[r.lang] = got.get(r.lang, 0) + int(r.n_docs)
        assert r.tok_total > 0 and r.ce_total_milli > 0
    assert got == arrivals, "every arriving document lands in exactly one bucket"


def test_ppl_tercile_thresholds_reproduce_ntile(spark, sf_dir):
    """_ppl_thresholds (two-phase distributed selection) + _ppl_bucket
    (lexicographic compare) must equal ntile(3) over (logppl, doc_id) —
    checked per document on the real batch rung output."""
    out = REGISTRY["q_ccnet_perplexity_buckets"].fn(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(F.col("logppl").asc(), F.col("doc_id").asc())
    diff = (
        out.withColumn("ntile_bucket", F.ntile(3).over(w).cast("bigint"))
        .filter(F.col("bucket") != F.col("ntile_bucket"))
        .count()
    )
    assert diff == 0, f"{diff} documents bucketed differently from ntile(3)"


def test_ppl_thresholds_are_exact_kth_smallest(spark, sf_dir):
    """The helper's (t1, t1_doc)/(t2, t2_doc) pairs must be the exact
    k-th smallest (logppl, doc_id) rows, k = ceil(n/3), ceil(2n/3)."""
    from azurestorage_blueprints_spark.queries.curation import _ppl_thresholds

    out = REGISTRY["q_ccnet_perplexity_buckets"].fn(spark, sf_dir).persist()
    docce = out.select("lang", "doc_id", "n_tokens", "ce_micro")
    thr = {r.lang: r for r in _ppl_thresholds(docce).collect()}
    rows = sorted(
        out.select("lang", "doc_id", "logppl").collect(),
        key=lambda r: (r.lang, r.logppl, r.doc_id),
    )
    bylang: dict[str, list] = {}
    for r in rows:
        bylang.setdefault(r.lang, []).append(r)
    assert sorted(bylang) == sorted(thr)
    for lang, rs in bylang.items():
        n = len(rs)
        k1, k2 = -(-n // 3), -(-2 * n // 3)
        t = thr[lang]
        assert (t.t1, t.t1_doc) == (rs[k1 - 1].logppl, rs[k1 - 1].doc_id), lang
        assert (t.t2, t.t2_doc) == (rs[k2 - 1].logppl, rs[k2 - 1].doc_id), lang
    out.unpersist()


def test_no_forced_corpus_scale_broadcast_in_streaming_sources():
    """Source-level pin of the r10 verdict's grep-clean criterion: in
    streaming_q.py every F.broadcast argument must be one of the
    audited bounded names (dimension tables, O(langs)/O(V_cap) model
    constants) — never a corpus-derived band/signature/LM table."""
    import azurestorage_blueprints_spark.queries.streaming_q as m

    src = inspect.getsource(m)
    import re

    args = re.findall(r"F\.broadcast\((\w+)\)", src)
    # bounds/cuts: the windowless top-V selection's O(langs) boundary-
    # bin and cut-pair tables (r12, _topv_keep)
    allowed = {"dim", "consts", "tot", "s_dep", "oovtbl", "bounds", "cuts"}
    assert args, "expected audited broadcast sites to exist"
    bad = [a for a in args if a not in allowed]
    assert not bad, (
        f"unaudited F.broadcast argument(s) {bad} in streaming_q.py — "
        "if genuinely bounded, audit and add to the allowlist; a "
        "corpus-scale broadcast (like the retired c_bands hint) OOMs "
        "at 100 TB"
    )


def test_streaming_sources_have_one_replay_path():
    """Source-level pin of the single replay path: streaming_q.py has one
    readStream call site, one staging function, and lets run_to_memory
    name its own sink table."""
    import re

    import azurestorage_blueprints_spark.queries.streaming_q as m

    src = inspect.getsource(m)
    assert len(re.findall(r"\.readStream\b", src)) == 1
    assert "uuid" not in src
    assert re.findall(r"^def (_stage\w*)\(", src, re.M) == ["_stage_source"]


def test_kn_bigram_heldout_exercises_backoff(spark, sf_dir):
    rows = REGISTRY["q_kn_bigram_perplexity"].fn(spark, sf_dir).collect()
    assert rows, "arrival slice must score"
    assert all(r.n_bigrams >= 1 for r in rows)
    assert all(0 <= r.n_unseen_bigrams <= r.n_bigrams for r in rows)
    assert all(r.logppl > 0 for r in rows)
    # held-out split means SOME arrival bigram was never seen standing —
    # otherwise the back-off path (the point of KN) is untested
    assert sum(r.n_unseen_bigrams for r in rows) > 0


def test_unimax_waterfilling_invariants(spark, sf_dir):
    rows = REGISTRY["q_mixture_unimax"].fn(spark, sf_dir).collect()
    supply = sum(r.supply_tokens for r in rows)
    budget = supply * 9 // 10
    alloc = sum(r.alloc_tokens for r in rows)
    assert abs(alloc - budget) < 1e-6 * budget, (alloc, budget)
    for r in rows:
        assert r.alloc_tokens <= r.supply_tokens + 1e-9, "epoch cap violated"
        assert 0 < r.epochs <= 1.0 + 1e-12
        assert (r.saturated == 1) == (abs(r.alloc_tokens - r.supply_tokens) < 1e-9)
    # both water-filling branches must be exercised at the gate SF
    assert any(r.saturated == 1 for r in rows)
    assert any(r.saturated == 0 for r in rows)
    # unsaturated sources all sit at ONE water level
    levels = {round(r.alloc_tokens, 6) for r in rows if r.saturated == 0}
    assert len(levels) == 1, levels


def test_calibration_diagram_is_consistent(spark, sf_dir):
    from azurestorage_blueprints_spark.tables import table as _t

    rows = REGISTRY["q_quality_calibration"].fn(spark, sf_dir).collect()
    n_total = _t(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_total
    assert all(0 <= r.bucket <= 9 for r in rows)
    assert len(rows) >= 4, "tau must spread the margins over several bins"
    for r in rows:
        assert 0.0 < r.mean_confidence < 1.0
        assert 0.0 <= r.observed_rate <= 1.0
        assert abs(r.abs_gap - abs(r.mean_confidence - r.observed_rate)) < 1e-12
        assert r.ece_term <= r.abs_gap + 1e-12  # weight <= 1


def test_span_corruption_realized_stats(spark, sf_dir):
    rows = REGISTRY["q_span_corruption_plan"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.masked_total >= r.span_total, "every span masks its start"
        assert 1.0 <= r.mean_span_len <= 3.0 + 1e-12
        assert 0.0 < r.corruption_rate < 0.5
    tot = sum(r.tok_total for r in rows)
    masked = sum(r.masked_total for r in rows)
    # 5% starts x length 3 -> ~14% corruption; gate a generous band
    assert 0.05 < masked / tot < 0.30, masked / tot


def test_pca_var_share_component_is_unit_infnorm(spark, sf_dir):
    rows = REGISTRY["q_embed_pca_var_share"].fn(spark, sf_dir).collect()
    assert len(rows) == 64
    comps = [r.component for r in rows]
    assert max(abs(c) for c in comps) == 1.0, "infinity-norm normalization"
    lam = {r.lambda_units for r in rows}
    assert len(lam) == 1 and lam.pop() > 0
    vs = {r.var_share for r in rows}
    assert len(vs) == 1
    share = vs.pop()
    # the top component must explain at least the uniform 1/64 baseline
    assert 1.0 / 64.0 <= share < 1.0, share


def test_markov_stationary_is_a_distribution_fixed_point(spark, sf_dir):
    rows = REGISTRY["q_markov_stationary"].fn(spark, sf_dir).collect()
    assert len(rows) >= 2
    total = sum(r.stationary_micro for r in rows)
    # L1-renormalized micro-units: rounding drift at most 1 per state
    assert abs(total - 1_000_000) <= len(rows), total
    # n_out == 0 is legal for a sink state (the query emits it with
    # rowtot 0); only non-negativity is an invariant of the vector
    assert all(r.stationary_micro >= 0 and r.n_out >= 0 for r in rows)
    # fixed point: one more exact-integer application of the quantized
    # chain must move no component by more than a few micro-units
    import math

    trans = {
        (r.from_type, r.to_type): r.n_transitions
        for r in REGISTRY["q_event_transitions"].fn(spark, sf_dir).collect()
    }
    states = sorted({a for a, _ in trans} | {b for _, b in trans})
    rowtot = {a: sum(c for (x_, _), c in trans.items() if x_ == a) for a in states}
    # a sink state (destination-only, rowtot 0) contributes no outgoing
    # row — mirror the query's own `if rowtot > 0` guard instead of
    # dividing by zero on a legitimate fixture (r11 ADVICE)
    sources = [a for a in states if rowtot[a] > 0]
    pq = {
        (a, b): trans.get((a, b), 0) * 1_000_000 // rowtot[a]
        for a in sources
        for b in states
    }
    x = {r.event_type: r.stationary_micro for r in rows}
    y = {b: sum(x.get(a, 0) * pq[(a, b)] for a in sources) for b in states}
    stot = sum(y.values())
    drift = max(
        abs(math.floor(y[b] / stot * 1e6 + 0.5) - x[b]) for b in states
    )
    assert drift <= 5, f"stationary vector not converged: drift {drift} micro"


def test_conformal_coverage_near_target(spark, sf_dir):
    rows = REGISTRY["q_conformal_ppl_coverage"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.k == min(-(-(r.n_cal + 1) * 9 // 10), r.n_cal)
        assert 0 <= r.n_covered <= r.n_test
        assert r.target_coverage == 0.9
        # finite-sample conformal band: the guarantee is >= 1 - alpha in
        # expectation over exchangeable splits; with the training set
        # doubling as calibration (documented) allow a generous band
        assert 0.7 <= r.coverage <= 1.0, (r.lang, r.coverage)


def test_psi_drift_same_distribution_is_stable(spark, sf_dir):
    rows = REGISTRY["q_embed_psi_drift"].fn(spark, sf_dir).collect()
    assert len(rows) == 64
    for r in rows:
        assert r.psi_micro >= 0, "PSI terms are (p-q)ln(p/q) >= 0"
        assert r.band in ("stable", "watch", "shifted")
        assert r.verdict in ("stable", "watch", "shifted")
        assert r.h0_mean_psi > 0
        assert abs(r.drift_ratio - r.psi / r.h0_mean_psi) < 1e-9
    # the %10 split of ONE distribution must read stable under the
    # finite-sample verdict at EVERY SF (the classic band false-alarms
    # on tiny windows by design — that is what the ratio verdict fixes)
    unstable = [r.dim for r in rows if r.verdict != "stable"]
    assert not unstable, f"identical split flagged dims {unstable}"


def test_ppl_thresholds_adversarial_cases(spark):
    """Crafted worst cases for the two-phase distributed selection:
    all-ties (single-bin degenerate), singleton/pair languages, values
    exactly on bin edges, mixed sizes — each checked against a plain
    sorted-rank reference, for both the tercile default and a custom
    conformal-style rank list."""
    import math

    from pyspark.sql import functions as F  # noqa: F811
    from azurestorage_blueprints_spark.queries.curation import (
        _PPL_QZ,
        _ppl_thresholds,
    )

    cases = {
        # every doc identical: logppl ties across the whole language —
        # the degenerate all-in-one-bin case the docstring prices
        "allties": [("a", i, 2, 4_000_000) for i in range(1, 10)],
        # singleton and pair languages (k1 == k2 == n edge)
        "tiny": [("a", 1, 3, 9_000_000), ("b", 1, 2, 4_000_000), ("b", 2, 1, 7_000_000)],
        # logppl exactly on milli-nat bin edges: ce/QZ/n = 2.001, 2.002...
        "edges": [("a", i, 1, 2_000_000 + i * 1000) for i in range(1, 8)],
        # mixed: ties + edges + a second language of different size
        "mixed": (
            [("a", i, 1, 3_000_000) for i in range(1, 5)]
            + [("a", 10 + i, 1, 3_000_000 + i * 500) for i in range(1, 6)]
            + [("b", i, 2, 5_000_000 + i * 7000) for i in range(1, 12)]
        ),
    }
    for label, rows in cases.items():
        docce = spark.createDataFrame(
            rows, "lang string, doc_id bigint, n_tokens bigint, ce_micro bigint"
        )
        bylang: dict[str, list] = {}
        for lang, did, nt, ce in rows:
            bylang.setdefault(lang, []).append((ce / _PPL_QZ / nt, did))
        for ks, names in [
            (None, ("t1", "t2")),
            ([lambda n: F.least(F.ceil((n + 1) * 9 / F.lit(10.0)).cast("bigint"),
                                n.cast("bigint"))], ("t1",)),
        ]:
            got = {r.lang: r for r in _ppl_thresholds(docce, ks=ks).collect()}
            for lang, vals in bylang.items():
                vals = sorted(vals)
                n = len(vals)
                if ks is None:
                    kk = [-(-n // 3), -(-2 * n // 3)]
                else:
                    kk = [min(math.ceil((n + 1) * 9 / 10.0), n)]
                assert got[lang].n_cal == n, (label, lang)
                for name, k in zip(names, kk):
                    exp_lp, exp_doc = vals[k - 1]
                    r = got[lang]
                    assert (getattr(r, name), getattr(r, f"{name}_doc")) == (
                        exp_lp,
                        exp_doc,
                    ), (label, lang, name, k)


def test_conformal_gate_flags_about_alpha(spark, sf_dir):
    funnel = REGISTRY["q_stream_conformal_gate"].fn(spark, sf_dir).collect()
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    arrivals = {r.lang: r.n for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got: dict[str, int] = {}
    flagged: dict[str, int] = {}
    for r in funnel:
        assert r.flagged in (0, 1)
        got[r.lang] = got.get(r.lang, 0) + int(r.n_docs)
        if r.flagged == 1:
            flagged[r.lang] = int(r.n_docs)
    assert got == arrivals, "every arrival is either flagged or passed"
    n_tot = sum(arrivals.values())
    n_flag = sum(flagged.values())
    # alpha = 0.1 with a small exchangeable-ish window: generous band
    assert 0.0 <= n_flag / n_tot <= 0.35, (n_flag, n_tot)
