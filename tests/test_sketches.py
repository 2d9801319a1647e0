"""Accuracy gates for the sketch-based (rows-only) aggregates: the SQL
oracle can't check estimates, so these pin the estimate error against
the exact answers computed in the same query."""

from __future__ import annotations

from azurestorage_blueprints_spark.queries import load_all

REGISTRY = load_all()


def test_hll_estimates_within_5_percent(spark, sf_dir):
    rows = REGISTRY["q_sketch_hll_merge"].fn(spark, sf_dir).collect()
    assert any(r.lang == "__all__" for r in rows)
    for r in rows:
        err = abs(r.est_distinct - r.exact_distinct) / max(r.exact_distinct, 1)
        assert err < 0.05, f"{r.lang}: HLL off by {err:.1%}"


def test_approx_percentile_tracks_exact(spark, sf_dir):
    rows = REGISTRY["q_approx_percentile_sketch"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        for approx, exact in ((r.approx_p50, r.exact_p50), (r.approx_p90, r.exact_p90)):
            # approx_percentile returns a real element of the group; at
            # accuracy 1000 on these group sizes it is near-exact
            assert abs(approx - exact) / max(exact, 1) < 0.05, r


def test_count_min_overcounts_within_bound(spark, sf_dir):
    """CMS guarantees estimate >= exact, and with w=1024 counters the
    overcount is ~N/w in expectation per hash row; min over d=4 rows
    stays well under a few multiples of that."""
    from azurestorage_blueprints_spark.queries.misc_ops import _CMS_W

    rows = REGISTRY["q_sketch_count_min"].fn(spark, sf_dir).collect()
    assert len(rows) == 20
    from azurestorage_blueprints_spark.tables import table
    from azurestorage_blueprints_spark.functions.text import tokens
    from pyspark.sql import functions as F

    n_stream = (
        table(spark, sf_dir, "documents")
        .select(F.size(F.expr(tokens())).alias("n"))
        .agg(F.sum("n"))
        .first()[0]
    )
    slack = 8 * n_stream / _CMS_W
    for r in rows:
        assert r.cms_estimate >= r.exact_cnt, r
        assert r.cms_estimate - r.exact_cnt <= slack, (r, slack)


def test_equidepth_approx_buckets_track_exact_mass(spark, sf_dir):
    """The sketch-fenced equi-depth histogram must put near-equal mass in
    every bucket: each bucket's exact row count stays within 25% of the
    ideal 1/B share (approx_percentile at accuracy 10000 is near-exact
    on these sizes), and the fences must tile the value range."""
    rows = REGISTRY["q_histogram_equidepth_approx"].fn(spark, sf_dir).collect()
    assert rows
    total = sum(r.n for r in rows)
    ideal = total / len(rows)
    for r in rows:
        assert abs(r.n - ideal) / ideal < 0.25, f"bucket {r.bucket}: {r.n} vs {ideal}"
    # buckets tile: sorted (lo, hi) ranges are non-overlapping and ordered
    spans = sorted((r.bucket, r.lo, r.hi) for r in rows)
    for (_, _, hi_prev), (_, lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev <= lo_next


def test_bloom_pruning_has_no_false_negatives(spark, sf_dir):
    """The Bloom report's defining property: a probe key that actually
    matches rows in a file must always be bloom_maybe=true there (false
    positives are allowed and expected; false negatives are a bug)."""
    rows = REGISTRY["q_bloom_pruning"].fn(spark, sf_dir).collect()
    assert rows
    present = [r for r in rows if r.actually_present]
    assert present, "probe keys 1-3 should exist in some files"
    for r in present:
        assert r.bloom_maybe, f"false negative: file {r.file_id} key {r.probe_key}"
    # the two impossible probe keys must never be actually present
    for r in rows:
        if r.probe_key >= 99999991:
            assert not r.actually_present


def test_compression_profile_is_deterministic_and_sane(spark, sf_dir):
    """rows-only gate for the zlib profile: two runs agree exactly
    (fixed library, deterministic inputs), ratios live in (0, 1.2]
    (tiny docs can exceed 1.0 by header overhead but never wildly),
    and byte totals are positive."""
    r1 = {r.source: r for r in REGISTRY["q_compression_ratio_profile"].fn(spark, sf_dir).collect()}
    r2 = {r.source: r for r in REGISTRY["q_compression_ratio_profile"].fn(spark, sf_dir).collect()}
    assert r1.keys() == r2.keys() and r1
    for src, row in r1.items():
        assert row.total_raw_bytes > 0 and row.total_comp_bytes > 0
        assert 0.0 < row.compression_ratio <= 1.2, (src, row.compression_ratio)
        assert r2[src].total_comp_bytes == row.total_comp_bytes


def test_portable_cms_never_undercounts(spark, sf_dir):
    from azurestorage_blueprints_spark.queries import load_all

    rows = load_all()["q_sketch_count_min_portable"].fn(spark, sf_dir).collect()
    assert rows, "portable CMS returned no probe rows"
    for r in rows:
        assert r.est_cnt >= r.exact_cnt, f"CMS undercounted {r.tok}"
    # the overcount bound: eps ~ e/w of the total token mass; with the
    # portable affine row hashes the practical overcount on the top-20
    # stays far below the theoretical ceiling — gate at 2x exact so a
    # broken bucket map (all tokens colliding) fails loudly
    worst = max(r.est_cnt / max(r.exact_cnt, 1) for r in rows)
    assert worst <= 2.0, f"portable CMS overcount ratio {worst}"


def test_portable_hll_estimate_in_band(spark, sf_dir):
    from azurestorage_blueprints_spark.queries import load_all

    rows = load_all()["q_sketch_hll_portable"].fn(spark, sf_dir).collect()
    assert rows
    m = 64
    for r in rows:
        if r.exact_distinct >= 5 * m:
            # well above the linear-counting regime the RAW estimate
            # applies: standard error 1.04/sqrt(64) ~ 13%; gate at 30%
            err = abs(r.raw_est - r.exact_distinct) / r.exact_distinct
            assert err <= 0.30, f"{r.lang}: raw HLL err {err:.2f}"
        else:
            # small/transition range (n < 5m): raw HLL is known
            # biased-high — the ln-based linear-counting correction is
            # deliberately omitted (engine-libm); bound the envelope
            assert r.raw_est <= 3.0 * max(r.exact_distinct, 1)
            assert r.raw_est >= 0.5 * r.exact_distinct
