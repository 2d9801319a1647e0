"""Round-10 semantic gates — invariants the oracle cannot see
(shared-SQL defects) for this round's additions and re-keys:

- the nprobe recall/cost curve must behave like a recall/cost curve
  (monotone in probe width, above chance, capped at 1);
- the streaming ANN serving rung must answer every arrival exactly
  once with a self-consistent quantized distance, and its 1-list
  answer can never beat the 2-list batch composite on the same query
  (subset optimality);
- the extended streaming curation funnel must be monotone stage over
  stage (a filter can only shrink the survivor set).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from azurestorage_blueprints_spark.queries import load_all
from azurestorage_blueprints_spark.tables import table

REGISTRY = load_all()


def test_nprobe_recall_curve_is_monotone_and_above_chance(spark, sf_dir):
    rows = {r.nprobe: r for r in REGISTRY["q_knn_nprobe_tradeoff"].fn(spark, sf_dir).collect()}
    assert sorted(rows) == [1, 2, 3, 4]
    rec = [rows[p].recall for p in (1, 2, 3, 4)]
    # wider probes only ADD candidates: recall is non-decreasing
    assert all(a <= b + 1e-12 for a, b in zip(rec, rec[1:])), rec
    assert all(0.0 <= r <= 1.0 for r in rec)
    # measured curve at the gate SF: [0.14, 0.30, 0.36, 0.46] — the
    # near-uniform synthetic embeddings cap IVF recall low, but a
    # routing/scoring bug (wrong list, broken tie-break) collapses the
    # whole curve toward 0 and flattens its growth; gate the measured
    # floor minus margin and require real growth across the sweep
    assert rec[0] >= 0.08, f"nprobe=1 recall collapsed: {rec}"
    assert rec[3] >= rec[0] + 0.1, f"no recall growth across probe widths: {rec}"
    # the denominator is the full exact top-k
    assert all(rows[p].n_exact == rows[1].n_exact for p in (2, 3, 4))
    assert all(rows[p].n_hits <= rows[p].n_exact for p in (1, 2, 3, 4))


def test_stream_ann_serving_answers_every_arrival_once(spark, sf_dir):
    from azurestorage_blueprints_spark.queries.similarity import _PQ_ADC_QZ

    served = {r.q_id: r for r in REGISTRY["q_stream_ann_serving"].fn(spark, sf_dir).collect()}
    e = table(spark, sf_dir, "embeddings")
    arrivals = [
        r.vec_id for r in e.filter(F.col("vec_id") % 10 == 0).select("vec_id").collect()
    ]
    assert sorted(served) == sorted(arrivals), "one answer per arriving query"
    for q, r in served.items():
        assert r.nn_id != q, "a query must never serve itself"
        assert r.n_candidates >= 1
        # the reported distance is the integer micro total divided once
        micro = r.approx_l2sq * _PQ_ADC_QZ
        assert abs(micro - round(micro)) < 1e-6, "distance must be quantized"


def test_stream_ann_serving_never_beats_the_wider_batch_probe(spark, sf_dir):
    """Subset optimality: serving probes nprobe=1 list, the batch
    IVF-PQ composite probes nprobe=2 — on any query both answer, the
    batch rank-1 distance is a min over a SUPERSET of candidates, so
    serving's top-1 can never be strictly smaller (both sums are exact
    integers at the same quantum, so the comparison is exact)."""
    served = {r.q_id: r for r in REGISTRY["q_stream_ann_serving"].fn(spark, sf_dir).collect()}
    batch = {
        r.q_id: r
        for r in REGISTRY["q_knn_ivf_pq"].fn(spark, sf_dir).collect()
        if r.rnk == 1
    }
    common = set(served) & set(batch)
    assert common, "query sets must overlap (q_id 0 is in both)"
    for q in common:
        assert batch[q].approx_l2sq <= served[q].approx_l2sq + 1e-12, (
            f"q={q}: batch nprobe=2 rank-1 {batch[q].approx_l2sq} beats "
            f"serving {served[q].approx_l2sq} — candidate routing is broken"
        )


def test_stream_curation_funnel_is_monotone(spark, sf_dir):
    row = REGISTRY["q_stream_curation_gate"].fn(spark, sf_dir).collect()[0]
    assert (
        row.n_all
        >= row.n_after_c4
        >= row.n_after_gopher
        >= row.n_after_langid
        >= row.n_after_classifier
        >= 0
    ), row
    assert row.n_all > 0


def test_stream_model_drift_matches_batch_on_arrival_split(spark, sf_dir):
    """The streaming drift report must equal the batch drift machinery
    applied to the arrival split: same stored codebook, same min-then-
    quantize, so per-subspace totals agree exactly (the oracle checks
    values vs a RETRAINED model; this pins the Spark-side arithmetic
    against the batch implementation path)."""
    from azurestorage_blueprints_spark.queries.similarity import (
        _PQ_DRIFT_QZ,
        _persisted_model,
        _pq_codebook_train,
        _pq_corpus_sub,
    )

    stream_rows = {
        r.s: r for r in REGISTRY["q_stream_model_drift"].fn(spark, sf_dir).collect()
    }
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    codebook = _persisted_model(
        spark,
        sf_dir,
        "pq_codebook",
        lambda: _pq_codebook_train(table(spark, sf_dir, "embeddings")),
    )
    l2sq = F.expr(
        "aggregate(zip_with(sv, cw, (a, b) -> (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))"
        " * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )
    best = (
        _pq_corpus_sub(e)
        .join(F.broadcast(codebook), "s")
        .select("vec_id", "s", l2sq.alias("d"))
        .groupBy("vec_id", "s")
        .agg(F.min("d").alias("dmin"))
    )
    batch = {
        r.s: r
        for r in best.groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_subvecs"),
            F.sum(F.expr(f"cast(floor(dmin * {_PQ_DRIFT_QZ} + 0.5) as bigint)"))
            .cast("bigint")
            .alias("qerr_total_micro"),
        )
        .collect()
    }
    assert sorted(stream_rows) == sorted(batch) == list(range(8))
    for s in batch:
        assert stream_rows[s].n_subvecs == batch[s].n_subvecs
        assert stream_rows[s].qerr_total_micro == batch[s].qerr_total_micro, (
            f"subspace {s}: streaming drift diverged from the batch arithmetic"
        )


def test_label_propagation_report_is_wellformed(spark, sf_dir):
    """LPA's top-20 report: community ids are real node ids, sizes are
    positive and sorted, and the reported mass never exceeds the node
    count (the oracle pins exact values; this pins the shape a
    community report must have regardless of data)."""
    rows = REGISTRY["q_graph_label_propagation"].fn(spark, sf_dir).collect()
    assert 1 <= len(rows) <= 20
    sizes = [r.n_nodes for r in rows]
    assert sizes == sorted(sizes, reverse=True)
    assert all(n >= 1 for n in sizes)
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    n_cust = orders.select("o_custkey").distinct().count()
    n_supp = li.select("l_suppkey").distinct().count()
    assert sum(sizes) <= n_cust + n_supp
    assert all(r.community >= 0 for r in rows)


def test_fuzzy_decontamination_report_is_wellformed(spark, sf_dir):
    """Per-source funnel invariants (the oracle pins exact values):
    quarantined <= eval count, rates and estimates in [0, 1], and the
    strict threshold means a contaminated source must show a max_est
    at or above it."""
    from azurestorage_blueprints_spark.queries.dedup import _DECON_FUZZY_EST

    rows = REGISTRY["q_decontaminate_fuzzy"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_contaminated <= r.n_eval
        assert 0.0 <= r.contamination_rate <= 1.0
        assert 0.0 <= r.max_est <= 1.0
        if r.n_contaminated > 0:
            assert r.max_est >= _DECON_FUZZY_EST


def test_ccnet_perplexity_buckets_semantics(spark, sf_dir):
    """Invariants the shared-SQL oracle cannot see:

    - the per-language LM is recomputed INDEPENDENTLY in pure Python
      (math.log — a third ln implementation) and the per-document
      micro-nat totals must agree within 1 micro-nat per token;
    - ntile(3) balance: per language the three buckets differ by at
      most one document and every bucket is populated;
    - tercile order: the bucket boundaries are monotone in logppl.
    """
    import math
    from collections import Counter, defaultdict

    from azurestorage_blueprints_spark.queries.curation import _PPL_QZ

    rows = REGISTRY["q_ccnet_perplexity_buckets"].fn(spark, sf_dir).collect()
    assert rows
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text").collect()

    # independent LM: per-lang token counts and totals
    cnt: dict[str, Counter] = defaultdict(Counter)
    for d in docs:
        cnt[d.lang].update(t for t in d.text.split(" ") if t != "")
    tot = {lg: (sum(c.values()), len(c)) for lg, c in cnt.items()}
    smicro = {
        (lg, t): round(math.log((n + v) / (c + 1.0)) * _PPL_QZ)
        for lg, cs in cnt.items()
        for t, c in cs.items()
        for n, v in (tot[lg],)
    }
    expect = {}
    for d in docs:
        toks = [t for t in d.text.split(" ") if t != ""]
        if toks:
            expect[d.doc_id] = (len(toks), sum(smicro[(d.lang, t)] for t in toks))
    assert sorted(expect) == sorted(r.doc_id for r in rows)
    for r in rows:
        n_tok, ce = expect[r.doc_id]
        assert r.n_tokens == n_tok
        assert abs(r.ce_micro - ce) <= n_tok, (r.doc_id, r.ce_micro, ce)

    by_lang: dict[str, list] = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r)
    for lg, rs in by_lang.items():
        sizes = Counter(r.bucket for r in rs)
        assert sorted(sizes) == [1, 2, 3], (lg, sizes)
        assert max(sizes.values()) - min(sizes.values()) <= 1, (lg, sizes)
        for k in (1, 2):
            lo = max(r.logppl for r in rs if r.bucket == k)
            hi = min(r.logppl for r in rs if r.bucket == k + 1)
            assert lo <= hi + 1e-12, (lg, k, lo, hi)


def test_stream_perplexity_gate_tiles_arrivals_and_orders_buckets(spark, sf_dir):
    """Structural invariants of the ingest-time perplexity gate (the
    oracle pins exact cell values): every arriving document lands in
    exactly one (lang, bucket) cell; reported totals are internally
    consistent (token-weighted mean = exact micro total / tokens); and
    because bucketing is a threshold cut on per-doc logppl, the
    token-weighted cell means are monotone in the bucket index within
    each language."""
    from collections import defaultdict

    from azurestorage_blueprints_spark.queries.curation import _PPL_QZ

    rows = REGISTRY["q_stream_perplexity_gate"].fn(spark, sf_dir).collect()
    assert rows
    d = table(spark, sf_dir, "documents")
    n_arrivals = d.filter(F.col("doc_id") % 10 == 0).count()
    assert sum(r.n_docs for r in rows) == n_arrivals
    by_lang = defaultdict(dict)
    for r in rows:
        assert r.bucket in (1, 2, 3)
        assert r.bucket not in by_lang[r.lang], "one cell per (lang, bucket)"
        by_lang[r.lang][r.bucket] = r
        want = r.ce_total_milli / 1000.0 / r.tok_total
        assert abs(r.mean_token_surprisal - want) < 1e-12
        assert r.mean_token_surprisal > 0
    for lang, cells in by_lang.items():
        present = sorted(cells)
        means = [cells[b].mean_token_surprisal for b in present]
        assert means == sorted(means), (lang, means)


def test_pmi_collocations_match_independent_recount(spark, sf_dir):
    """Recompute the full PMI table independently in pure Python
    (Counter + math.log — a third engine) and pin the reported top-k
    rows: same pairs, same counts, PMI within the 6-decimal rounding
    the rung quotes. Also pins the probability-space subtlety the
    shared SQL could get wrong silently on both sides if edited: the
    bigram-event total counts ALL bigrams, not just pairs clearing the
    reporting floor."""
    import math
    from collections import Counter

    from azurestorage_blueprints_spark.queries.corpus_ops import (
        _PMI_MIN_COUNT,
        _PMI_TOP_K,
    )

    rows = REGISTRY["q_pmi_collocations"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= _PMI_TOP_K
    uni: Counter = Counter()
    bi: Counter = Counter()
    for d in table(spark, sf_dir, "documents").select("text").collect():
        t = [x for x in d.text.split(" ") if x != ""]
        uni.update(t)
        bi.update(zip(t, t[1:]))
    n_tok, n_bi = sum(uni.values()), sum(bi.values())
    scored = sorted(
        (
            (
                round(math.log((c12 / n_bi) / ((uni[w1] / n_tok) * (uni[w2] / n_tok))), 6),
                w1,
                w2,
                c12,
            )
            for (w1, w2), c12 in bi.items()
            if c12 >= _PMI_MIN_COUNT
        ),
        key=lambda x: (-x[0], x[1], x[2]),
    )[:_PMI_TOP_K]
    assert len(rows) == len(scored)
    for r, (pmi, w1, w2, c12) in zip(rows, scored):
        assert (r.w1, r.w2, r.c12) == (w1, w2, c12)
        assert r.c1 == uni[w1] and r.c2 == uni[w2]
        assert abs(r.pmi - pmi) <= 2e-6, (r.w1, r.w2, r.pmi, pmi)


def test_mixture_curriculum_matches_independent_recompute(spark, sf_dir):
    """Recompute the 4-phase schedule in pure Python (math.sqrt) and pin
    every cell exactly; then the schedule-shaped invariants: shares sum
    to 1 per phase, phase 0 is the natural distribution, and flattening
    is monotone — a below-average language's upsample ratio only grows
    as alpha falls, an above-average language's only shrinks."""
    import math
    from collections import Counter, defaultdict

    rows = REGISTRY["q_mixture_curriculum"].fn(spark, sf_dir).collect()
    counts = Counter(
        r.lang for r in table(spark, sf_dir, "documents").select("lang").collect()
    )
    n_tot = sum(counts.values())
    alphas = {0: 1.0, 1: 0.75, 2: 0.5, 3: 0.25}
    assert len(rows) == len(counts) * len(alphas)

    def w_q(n: int, phase: int) -> int:
        x = float(n)
        v = {
            0: x,
            1: math.sqrt(x) * math.sqrt(math.sqrt(x)),
            2: math.sqrt(x),
            3: math.sqrt(math.sqrt(x)),
        }[phase]
        return math.floor(v * 1_000_000.0)

    w_tot = {p: sum(w_q(c, p) for c in counts.values()) for p in alphas}
    share_by_phase = defaultdict(float)
    ratios = defaultdict(dict)
    for r in rows:
        assert r.alpha == alphas[r.phase]
        want_nat = counts[r.lang] / n_tot
        want_share = w_q(counts[r.lang], r.phase) / w_tot[r.phase]
        assert abs(r.natural_share - want_nat) < 1e-15
        assert abs(r.phase_share - want_share) < 1e-12, (r.lang, r.phase)
        share_by_phase[r.phase] += r.phase_share
        ratios[r.lang][r.phase] = r.upsample_ratio
    for p, tot in share_by_phase.items():
        assert abs(tot - 1.0) < 1e-9, (p, tot)
    for lang, by_phase in ratios.items():
        seq = [by_phase[p] for p in (0, 1, 2, 3)]
        assert abs(seq[0] - 1.0) < 1e-9, (lang, seq)
        if counts[lang] * len(counts) < n_tot:  # below-average language
            assert seq == sorted(seq), (lang, seq)
        elif counts[lang] * len(counts) > n_tot:
            assert seq == sorted(seq, reverse=True), (lang, seq)


def test_batch_length_buckets_account_for_every_document(spark, sf_dir):
    """Independent recount: every document lands in exactly one bucket,
    the padded totals are exact, and bucketing never wastes more than
    the naive pad-to-global-max batcher (equality only at the clamped
    top bucket)."""
    from collections import Counter

    from azurestorage_blueprints_spark.queries.curation import _LEN_BUCKETS

    rows = {r.bucket_width: r for r in
            REGISTRY["q_batch_length_buckets"].fn(spark, sf_dir).collect()}
    lens = [
        len([t for t in d.text.split(" ") if t != ""])
        for d in table(spark, sf_dir, "documents").select("text").collect()
    ]
    gmax = max(lens)
    want_n: Counter = Counter()
    want_tok: Counter = Counter()
    for n in lens:
        w = next((b for b in _LEN_BUCKETS[:3] if n <= b), gmax)
        want_n[w] += 1
        want_tok[w] += n
    assert sorted(rows) == sorted(want_n)
    assert sum(r.n_docs for r in rows.values()) == len(lens)
    for w, r in rows.items():
        assert r.n_docs == want_n[w] and r.tok_total == want_tok[w]
        assert r.padded_total == want_n[w] * w
        assert r.waste_frac <= r.naive_waste_frac + 1e-12
        assert 0.0 <= r.waste_frac < 1.0


def test_dsir_importance_separates_target_from_raw(spark, sf_dir):
    """DSIR's whole point: documents FROM the target slice must score
    higher on average than documents outside it — the oracle shares
    every expression, so a sign flip in the log-ratio (or swapped
    target/raw smoothing denominators) would hash-pass on both engines
    while inverting the selection. Gate the separation directly."""
    imp = REGISTRY["q_dsir_importance"].fn(spark, sf_dir)
    rows = imp.groupBy((F.col("lang") == "en").alias("is_target")).agg(
        F.avg("log_importance").alias("m"), F.count(F.lit(1)).alias("n")
    ).collect()
    m = {r.is_target: r.m for r in rows}
    assert m[True] > 0.0 > m[False], m
    # weights are per-feature averages of a log-ratio bounded by the
    # smoothed extremes; a blow-up signals a lost quantizer factor
    mx = imp.agg(F.max(F.abs(F.col("log_importance")))).collect()[0][0]
    assert mx < 50.0, mx


def test_dsir_resample_upsamples_target_and_is_a_subset(spark, sf_dir):
    """Gumbel-top-k selection: exactly k rows, a subset of the scored
    docs with consistent imp_milli, and the target slice's share in
    the selection must exceed its natural share (importance sampling
    toward the target, the paper's acceptance criterion)."""
    from azurestorage_blueprints_spark.queries.corpus_ops import _DSIR_K

    sel = REGISTRY["q_dsir_resample"].fn(spark, sf_dir).collect()
    assert len(sel) == _DSIR_K
    imp = {
        r.doc_id: r.imp_milli
        for r in REGISTRY["q_dsir_importance"].fn(spark, sf_dir).collect()
    }
    assert all(r.doc_id in imp and imp[r.doc_id] == r.imp_milli for r in sel)
    assert all(r.key_milli == r.imp_milli + r.gumbel_milli for r in sel)
    d = table(spark, sf_dir, "documents")
    n_all = d.count()
    n_en = d.filter(F.col("lang") == "en").count()
    sel_en = sum(1 for r in sel if r.lang == "en")
    assert sel_en / len(sel) > n_en / n_all, (sel_en, len(sel), n_en, n_all)


def _folded_dsir_model(spark, docs):
    """``_dsir_model(docs)`` as the engine folds it: ``{bucket:
    lr_milli}`` and the unseen back-off, as Python ints."""
    from azurestorage_blueprints_spark.queries.corpus_ops import _dsir_model

    entries, unseen = _dsir_model(docs)
    exprs = [f"{e} AS e{i}" for i, (_, e) in enumerate(entries)]
    vals = spark.sql(f"SELECT {', '.join(exprs)}, {unseen} AS unseen").first()
    return dict(zip((b for b, _ in entries), vals[:-1])), vals[-1]


def test_stream_dsir_gate_is_consistent_with_batch_importance(spark, sf_dir):
    """The ingest gate must agree with the batch scorer on the arrival
    slice: per-language doc counts tile the >=2-token arrivals exactly,
    the admitted partition's mean log importance exceeds the rejected
    partition's, and admission is exactly the imp > 0 cut of the batch
    rung restricted to arrivals scored by the ARRIVAL-EXCLUDED model
    (so totals differ from q_dsir_importance, whose model sees all
    docs — equality is on the funnel's own books)."""
    from azurestorage_blueprints_spark.queries.corpus_ops import _dsir_feats

    rows = REGISTRY["q_stream_dsir_gate"].fn(spark, sf_dir).collect()
    by = {(r.lang, r.admitted): r for r in rows}
    d = table(spark, sf_dir, "documents")
    arr = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select("lang", F.expr("size(filter(split(text, ' '), t -> t != ''))").alias("n"))
        .filter(F.col("n") >= 2)
        .groupBy("lang")
        .count()
        .collect()
    )
    for r in arr:
        got = sum(by[(r.lang, a)].n_docs for a in (True, False) if (r.lang, a) in by)
        assert got == r["count"], (r.lang, got, r["count"])
    for lang in {k[0] for k in by}:
        if (lang, True) in by and (lang, False) in by:
            assert (
                by[(lang, True)].mean_log_importance
                > by[(lang, False)].mean_log_importance
            ), lang
    # the gate must admit SOMETHING and reject SOMETHING at this SF
    assert any(k[1] for k in by) and any(not k[1] for k in by)
    # batch rescore of the arrivals under the standing-slice model,
    # unseen buckets backed off: the funnel's books must match exactly
    lr, unseen = _folded_dsir_model(spark, d.filter(F.col("doc_id") % 10 != 0))
    imp: dict[tuple[int, str], int] = {}
    for r in _dsir_feats(d.filter(F.col("doc_id") % 10 == 0)).collect():
        imp[(r.doc_id, r.lang)] = imp.get((r.doc_id, r.lang), 0) + lr.get(r.bucket, unseen)
    want: dict[tuple[str, bool], tuple[int, int]] = {}
    for (_, lang), w in imp.items():
        n, tot = want.get((lang, w > 0), (0, 0))
        want[(lang, w > 0)] = (n + 1, tot + w)
    assert {k: (r.n_docs, r.imp_total_milli) for k, r in by.items()} == want


def test_stream_dsir_model_matches_oracle_entry_by_entry(spark, sf_dir):
    """The funnel hash sees the deployed model only through per-document
    sums (and the unseen back-off only where an arrival hits an unseen
    bucket), so pin it entry by entry at sf0.01: every folded bucket
    log-ratio and the unseen value must equal the oracle's
    ``lr``/``unseen`` CTEs over the standing slice."""
    from azurestorage_blueprints_spark.oracle import duckdb_connection
    from azurestorage_blueprints_spark.queries.streaming_q import _stream_dsir_oracle

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    d = table(spark, sf, "documents")
    lr, unseen = _folded_dsir_model(spark, d.filter(F.col("doc_id") % 10 != 0))
    # the oracle up to its model CTEs (arrival scoring cut off)
    head = _stream_dsir_oracle().split("afeats AS (")[0].rstrip().rstrip(",")
    con = duckdb_connection(sf)
    try:
        want = dict(con.execute(f"{head} SELECT bucket, lr_milli FROM lr").fetchall())
        (want_unseen,) = con.execute(f"{head} SELECT u FROM unseen").fetchone()
    finally:
        con.close()
    assert len(lr) > 200 and lr == want
    assert unseen == want_unseen


def test_doremi_step_excess_positive_and_reweighting_monotone(spark, sf_dir):
    """The oracle shares every expression, so a swapped global/own LM
    (sign-flipped excess) or a dropped exp() would hash-pass while
    inverting the mixture update. Pin the semantics: every source's
    own LM must beat the global LM on its own tokens (positive excess
    at gate SFs), shares must each sum to 1, and the relative upweight
    doremi_share/natural_share must be monotone in excess loss."""
    rows = REGISTRY["q_mixture_doremi_step"].fn(spark, sf_dir).collect()
    assert len(rows) >= 2
    assert all(r.excess_loss > 0.0 for r in rows), min(r.excess_loss for r in rows)
    assert abs(sum(r.natural_share for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.doremi_share for r in rows) - 1.0) < 1e-9
    by_excess = sorted(rows, key=lambda r: r.excess_loss)
    ratios = [r.doremi_share / r.natural_share for r in by_excess]
    # wq floor-quantization can wiggle the last decimal place; allow it
    assert all(a <= b + 1e-6 for a, b in zip(ratios, ratios[1:])), ratios


def test_k_anonymity_report_tiles_the_table(spark, sf_dir):
    """Accounting identities the oracle enforces only implicitly:
    n_rows = k x n_classes per stratum, strata tile the whole customer
    table exactly, at_risk is exactly the k < floor cut, row shares
    sum to 1, and l-diversity stays within the binary sensitive
    attribute's range."""
    from azurestorage_blueprints_spark.queries.quality import _KANON_K

    rows = REGISTRY["q_k_anonymity"].fn(spark, sf_dir).collect()
    n_cust = table(spark, sf_dir, "customer").count()
    assert sum(r.n_rows for r in rows) == n_cust
    assert abs(sum(r.row_share for r in rows) - 1.0) < 1e-9
    for r in rows:
        assert r.n_rows == r.k * r.n_classes
        assert r.at_risk == (r.k < _KANON_K)
        assert 1 <= r.min_l <= 2


def test_dim_truncation_curve_is_monotone_with_exact_anchor(spark, sf_dir):
    """More dimensions can only refine the cosine toward the full-width
    value in DISTRIBUTION, and the widest prefix IS the ground truth:
    recall must be non-decreasing across the sweep (allowing exact
    ties), strictly 1.0 at full width, above chance at the floor, and
    the denominator constant."""
    rows = {r.dim: r for r in REGISTRY["q_knn_dim_truncation"].fn(spark, sf_dir).collect()}
    assert sorted(rows) == [8, 16, 32, 64]
    rec = [rows[d].recall for d in (8, 16, 32, 64)]
    assert all(a <= b + 1e-12 for a, b in zip(rec, rec[1:])), rec
    assert rec[3] == 1.0
    assert rec[0] >= 0.02, f"prefix-8 recall collapsed below chance: {rec}"
    assert all(rows[d].n_exact == rows[64].n_exact for d in rows)
    assert all(0 <= rows[d].n_hits <= rows[d].n_exact for d in rows)


def test_zipf_fit_is_a_valid_ols_on_the_frequency_head(spark, sf_dir):
    """Frequencies are non-increasing in rank by construction, so the
    fitted log-log slope must be negative; r2 must be a valid share;
    and the fit must cover exactly min(_ZIPF_N, vocabulary) types.
    (On this synthetic ~31-word corpus the slope is far from -1 with
    r2 near 0 — the statistic CORRECTLY flagging unnatural text — so
    the gate pins validity, not natural-language shape.)"""
    from azurestorage_blueprints_spark.functions.text import tokens as _toks
    from azurestorage_blueprints_spark.queries.corpus_ops import _ZIPF_N

    row = REGISTRY["q_zipf_fit"].fn(spark, sf_dir).collect()[0]
    assert row.zipf_slope < 0.0
    assert 0.0 <= row.r2 <= 1.0
    d = table(spark, sf_dir, "documents")
    vocab = d.select(F.explode(F.expr(_toks())).alias("t")).distinct().count()
    assert row.n_types_fit == min(_ZIPF_N, vocab)


def test_filtered_search_prefix_identity_and_recall_accounting(spark, sf_dir):
    """Post-filter survivors are the PREFIX of the filtered ranking, so
    per query: n_post_found <= n_exact = k, recall = found/k exactly,
    and with a ~10% selective predicate against a top-20 budget the
    mean recall must sit strictly below 1 (E[matches in budget] ~ 2) —
    a post leg that ignores the predicate or a pre leg that ranks the
    unfiltered corpus would push it to exactly 1.0."""
    from azurestorage_blueprints_spark.queries.similarity import _TOP_K

    rows = REGISTRY["q_knn_filtered_search"].fn(spark, sf_dir).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.n_exact == _TOP_K
        assert 0 <= r.n_post_found <= r.n_exact
        assert abs(r.post_recall - r.n_post_found / r.n_exact) < 1e-12
    mean = sum(r.post_recall for r in rows) / len(rows)
    assert mean < 0.95, mean


def test_unigram_entropy_matches_independent_recount(spark, sf_dir):
    """Recompute H for a sample of documents in pure Python from the
    raw text and pin the quantized pipeline within its error bound
    (<= 0.5e-6 nats per type-term); gate the normalized form's range
    and its ceiling identity H <= ln(types)."""
    import math
    from collections import Counter

    rows = {r.doc_id: r for r in REGISTRY["q_text_unigram_entropy"].fn(spark, sf_dir).collect()}
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").limit(8).collect()
    for d in docs:
        toks = [t for t in d.text.split(" ") if t]
        if not toks:
            continue
        c = Counter(toks)
        n = len(toks)
        h = sum(k / n * math.log(n / k) for k in c.values())
        r = rows[d.doc_id]
        assert r.n_tokens == n and r.n_types == len(c)
        assert abs(r.entropy_nats - h) < 1e-5, (d.doc_id, r.entropy_nats, h)
        if len(c) > 1:
            assert abs(r.entropy_norm - h / math.log(len(c))) < 1e-5
    for r in rows.values():
        assert 0.0 <= r.entropy_norm <= 1.0 + 1e-9
        assert r.entropy_nats <= math.log(max(r.n_types, 1)) + 1e-6


def test_scene_cuts_invariants_and_codec_path_agreement(spark, sf_dir):
    """Every 4-frame clip has exactly 3 transitions; cuts are bounded
    by transitions; the single-shot verdict (first_cut_frame = -1) is
    exactly the n_cuts = 0 case; deltas fit 16-bit hashes. And the
    codec path must agree with q_multimodal_video_frames: a clip whose
    frames 0 and 2 hash IDENTICALLY there can still cut elsewhere, but
    a clip with max_hamming = 0 here must show equal frame hashes
    there."""
    cuts = {r.vec_id: r for r in REGISTRY["q_multimodal_video_scene_cuts"].fn(spark, sf_dir).collect()}
    for r in cuts.values():
        assert r.n_transitions == 3
        assert 0 <= r.n_cuts <= 3
        assert (r.first_cut_frame == -1) == (r.n_cuts == 0)
        assert 0 <= r.max_hamming <= 16
    frames = REGISTRY["q_multimodal_video_frames"].fn(spark, sf_dir).collect()
    by_vid: dict[int, dict[int, int]] = {}
    for f in frames:
        by_vid.setdefault(f.vec_id, {})[f.frame_idx] = f.frame_ahash
    for vid, r in cuts.items():
        if r.max_hamming == 0:
            assert by_vid[vid][0] == by_vid[vid][2], vid


def test_dp_noisy_counts_mechanism_identities(spark, sf_dir):
    """The oracle shares the formula, so a broken mixer (constant u),
    a dropped sign branch, or a mis-scaled b would hash-pass — pin the
    mechanism: the release is exactly max(0, true + round(noise)),
    draws are distinct across groups (nonlinear mixer) with both signs
    present, and the empirical noise spread sits in a generous
    Laplace(0, 1) envelope (sd 1.414; 25 draws)."""
    rows = REGISTRY["q_dp_noisy_counts"].fn(spark, sf_dir).collect()
    assert len(rows) == 25
    for r in rows:
        want = max(0, r.true_count + round(r.noise_micro / 1e6))
        assert r.released_count == want
        assert r.epsilon == 1.0
    noises = [r.noise_micro / 1e6 for r in rows]
    assert len(set(noises)) == len(noises), "constant/colliding draws"
    assert any(x < 0 for x in noises) and any(x > 0 for x in noises)
    mean = sum(noises) / len(noises)
    sd = (sum((x - mean) ** 2 for x in noises) / (len(noises) - 1)) ** 0.5
    assert abs(mean) < 1.0 and 0.5 < sd < 3.0, (mean, sd)


def test_langid_margin_routing_is_a_precision_knob(spark, sf_dir):
    """Routing identities the oracle can't distinguish from a sign
    error: routed != 'und' exactly when the margin clears the floor,
    margin = top1 - top2 >= 0, the routed label equals the raw argmax
    router's guess, and accuracy on the routed slice must exceed the
    quarantined slice (the knob's whole purpose; measured +7pp at the
    test SF, +14pp at the gate SF)."""
    from azurestorage_blueprints_spark.queries.llm_text import _LANGID_MARGIN_MIN

    rows = REGISTRY["q_text_langid_margin"].fn(spark, sf_dir).collect()
    guess = {r.doc_id: r.guessed_lang for r in REGISTRY["q_text_langid"].fn(spark, sf_dir).collect()}
    acc = {True: [0, 0], False: [0, 0]}  # routed? -> [correct, total]
    for r in rows:
        assert r.margin == r.top1_score - r.top2_score >= 0
        routed = r.routed_lang != "und"
        assert routed == (r.margin >= _LANGID_MARGIN_MIN)
        if routed:
            assert r.routed_lang == r.guessed_lang == guess[r.doc_id]
        a = acc[routed]
        a[0] += int(r.guessed_lang == r.labeled_lang)
        a[1] += 1
    assert acc[True][1] > 0 and acc[False][1] > 0
    assert acc[True][0] / acc[True][1] > acc[False][0] / acc[False][1]


def test_minhash_calibration_accounts_for_every_candidate_pair(spark, sf_dir):
    """The calibration bins must tile the production rung's candidate
    set exactly (same banding topology), exact similarities are valid
    Jaccards, and the top bins certify the estimator where it matters:
    the k = 16 bin (identical signatures) must show near-1 mean exact
    similarity — a shingle/signature mismatch collapses it."""
    rows = REGISTRY["q_dedup_minhash_calibration"].fn(spark, sf_dir).collect()
    n_cand = REGISTRY["q_dedup_minhash_portable"].fn(spark, sf_dir).count()
    assert sum(r.n_pairs for r in rows) == n_cand
    for r in rows:
        assert 0 <= r.n_match <= 16
        assert abs(r.est_jaccard - r.n_match / 16.0) < 1e-12
        assert 0.0 <= r.mean_exact_jaccard <= 1.0
    top = {r.n_match: r for r in rows}
    assert 16 in top, "the identical-signature bin must exist"
    assert top[16].mean_exact_jaccard > 0.9, top[16]


def test_kcore_peel_trace_is_monotone(spark, sf_dir):
    """Peeling only removes: node and edge counts must be
    non-increasing round over round, the trace covers every round
    including the un-peeled round 0, and once a round removes nothing
    every later round is identical (peel is a closure operator)."""
    from azurestorage_blueprints_spark.queries.graph_q import _KCORE_ROUNDS

    rows = sorted(REGISTRY["q_graph_kcore"].fn(spark, sf_dir).collect(), key=lambda r: r.round)
    assert [r.round for r in rows] == list(range(_KCORE_ROUNDS + 1))
    for a, b in zip(rows, rows[1:]):
        assert b.n_nodes <= a.n_nodes and b.n_edges <= a.n_edges
        if (a.n_nodes, a.n_edges) == (b.n_nodes, b.n_edges) and a.round > 0:
            stable_from = a.round
            assert all(
                (c.n_nodes, c.n_edges) == (a.n_nodes, a.n_edges)
                for c in rows[stable_from:]
            )
            break
    assert rows[0].n_nodes > 0 and rows[0].n_edges > 0


def test_temporal_split_tiles_events_and_orders_time(spark, sf_dir):
    """Split identities: the three splits tile the event table exactly,
    their day spans are disjoint and ordered train < valid < test,
    train's leakage count is trivially its own user count, and the
    later splits' leakage counts are bounded by their user counts."""
    rows = {r.split: r for r in REGISTRY["q_split_temporal"].fn(spark, sf_dir).collect()}
    assert set(rows) == {"train", "valid", "test"}
    n_all = table(spark, sf_dir, "events").count()
    assert sum(r.n_events for r in rows.values()) == n_all
    assert (
        rows["train"].last_day_epoch
        <= rows["valid"].first_day_epoch
        <= rows["valid"].last_day_epoch
        <= rows["test"].first_day_epoch
    )
    assert rows["train"].n_users_seen_in_train == rows["train"].n_users
    for s in ("valid", "test"):
        assert 0 <= rows[s].n_users_seen_in_train <= rows[s].n_users


def test_stream_multimodal_gate_agrees_with_batch_scene_cuts(spark, sf_dir):
    """The gate's funnel must tile the arrival slice and agree with
    the batch scene-cut rung clip by clip: the admitted count equals
    the number of arrival clips whose batch n_cuts clears the
    threshold — the streaming row-local in-array fold and the batch
    window must be the same arithmetic."""
    from azurestorage_blueprints_spark.queries.streaming_q import _MM_GATE_MAX_CUTS

    rows = {r.admitted: r for r in REGISTRY["q_stream_multimodal_gate"].fn(spark, sf_dir).collect()}
    batch = REGISTRY["q_multimodal_video_scene_cuts"].fn(spark, sf_dir).collect()
    arr = [r for r in batch if r.vec_id % 10 == 0]
    want_admit = sum(1 for r in arr if r.n_cuts <= _MM_GATE_MAX_CUTS)
    got_admit = rows[True].n_clips if True in rows else 0
    got_total = sum(r.n_clips for r in rows.values())
    assert got_total == len(arr)
    assert got_admit == want_admit
    want_cuts = {True: 0, False: 0}
    for r in arr:
        want_cuts[r.n_cuts <= _MM_GATE_MAX_CUTS] += r.n_cuts
    for adm, r in rows.items():
        assert r.cuts_total == want_cuts[adm]


def test_dsir_and_mixer_arithmetic_never_leaves_int64():
    """Pure-Python mirror of the DSIR feature hash and the
    middle-square mixer chain, property-tested over adversarial
    inputs: every intermediate must stay inside signed int64 (Spark
    wraps silently on overflow while DuckDB raises — the divergence
    class the _XSUB_POS_SHIFT convention exists for), and outputs
    must stay inside their documented ranges."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    M31 = 2147483647
    MOD = 2147483648
    I64 = 2**63

    @settings(max_examples=300, deadline=None)
    @given(st.text(min_size=0, max_size=64), st.text(min_size=0, max_size=64))
    def _hash_bounds(t1, t2):
        def poly(t):
            h = 0
            for ch in t:
                c = ord(ch)
                assert abs(h * 31 + c) < I64
                h = (h * 31 + c) % M31
            return h

        h1, h2 = poly(t1), poly(t2)
        assert 0 <= h1 < M31 and 0 <= h2 < M31
        assert abs(h1 * 8191 + h2) < I64
        b = ((h1 * 8191 + h2) % M31) % 256
        assert 0 <= b < 256

    @settings(max_examples=300, deadline=None)
    @given(st.integers(min_value=0, max_value=2**63 - 1), st.sampled_from([424243, 777767777]))
    def _mixer_bounds(key, salt):
        a = (key % MOD) * 2654435761 + salt
        assert a < I64
        a %= MOD
        for _ in range(2):
            sq = a * a
            assert sq < I64
            a = (sq // 65536 + a) % MOD
        u32 = (a * 2654435761) % 4294967296
        assert a * 2654435761 < I64
        u = (u32 + 0.5) / 4294967296.0
        assert 0.0 < u < 1.0

    _hash_bounds()
    _mixer_bounds()


def test_stream_forget_gate_matches_batch_cohort(spark, sf_dir):
    """The gate must tile the event stream exactly and its suppressed
    partition must match an independent batch recount of the erasure
    cohort's events — a dropped join condition (suppressing nothing or
    everything) hash-passes the shared-SQL oracle only if both engines
    share it, so the recount is the independent anchor."""
    from azurestorage_blueprints_spark.queries.quality import _FORGET_MOD

    rows = REGISTRY["q_stream_forget_gate"].fn(spark, sf_dir).collect()
    e = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % _FORGET_MOD == 0)
    n_all = e.count()
    n_sup = e.join(c, e.user_id == c.c_custkey, "left_semi").count()
    assert sum(r.n_events for r in rows) == n_all
    assert sum(r.n_events for r in rows if r.suppressed) == n_sup
    assert n_sup > 0 and n_sup < n_all
