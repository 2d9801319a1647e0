"""Exact distributed order statistics WITHOUT a per-group sort.

Spark ships only ``percentile_approx`` (a GK sketch — approximate, and
engine-specific), and the naive exact form —
``row_number().over(Window.partitionBy(group).orderBy(value))`` — sorts
each group's whole corpus slice in ONE task, the constant-cardinality
sort-window anti-pattern this repo retired from the CCNet family in
r11-r12 (a 5-group column at 100 TB puts ~20 TB through each window
task). This module is the engine's one two-phase distributed selection;
the CCNet thresholds (curation._ppl_thresholds, milli-nat logppl bins)
and the capped-LM top-V cut (streaming_q._topv_keep, negated log bins
of -count) call it with their own ``bin_of``:

* phase 1 — ONE map-side-combined hash-agg histograms the value into
  order-preserving bins; a running count over the O(groups x bins)
  histogram locates each requested rank's boundary bin and residual
  rank;
* phase 2 — only the boundary bins' rows (an expected 1/bins slice of
  the corpus) are re-ranked WITHIN (group, bin) to resolve the exact
  k-th smallest (value, tiebreak) pair.

Exactness requires two bin properties, both delivered by any monotone
binning of the value alone: order preservation, and equal values never
straddling a bin. Cross-engine bin agreement is NOT required — the
result is defined by ranks, so a DuckDB oracle may take its free
per-group sort and still agree bit-for-bit (the same argument as the
CCNet thresholds; JVM ``Math.log`` is guaranteed semi-monotonic, so a
log-binned Spark plan is exact even where its last ulp differs from
libm's).

Reference parity note: the reference engine exposes no quantile
operator (azurestorage-blueprints is a blob-transfer CLI); this is
part of the declared engine-extension surface (SURVEY.md §2.2,
"Aggregations — exact + approx").
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: default histogram granularity: milli-log bins bound the histogram at
#: O(groups x ~35k) rows for any positive value range spanning up to
#: e^35 — the same constant the CCNet selection uses
LOG_BIN_QZ = 1000


def log_bin(value: Column) -> Column:
    """Milli-log bin of a POSITIVE value column — the default
    order-preserving binning (monotone; equal values share a bin)."""
    return F.floor(F.log(value.cast("double")) * F.lit(float(LOG_BIN_QZ))).cast(
        "bigint"
    )


def exact_group_quantiles(
    df: DataFrame,
    group: str,
    value: Column | str,
    tiebreak: str,
    ks: Sequence[Callable[[Column], Column]],
    bin_of: Callable[[Column], Column] = log_bin,
) -> DataFrame:
    """Exact k-th-smallest (value, tiebreak) pairs per ``group`` for
    every rank in ``ks`` (callables n -> k, 1-based), via the two-phase
    histogram selection. Returns one row per group:
    (group, n, q1, q1_key, q2, q2_key, ...) in ``ks`` order.

    ``value``/``tiebreak`` must totally order rows within a group
    (tiebreak unique); ``bin_of`` must be monotone in value and a
    function of value alone. Every k shares the SAME histogram and the
    SAME boundary-bin rescan — exactly two passes over ``df``
    regardless of len(ks), with the only windows over the
    O(groups x bins) histogram and the boundary-bin slice."""
    value = F.col(value) if isinstance(value, str) else value
    binc = bin_of(value)
    hist = df.groupBy(group, binc.alias("_qbin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_cnt")
    )
    wcum = (
        Window.partitionBy(group)
        .orderBy("_qbin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        group,
        "_qbin",
        "_cnt",
        F.sum("_cnt").over(wcum).alias("_cum"),
        F.sum("_cnt").over(Window.partitionBy(group)).alias("_n"),
    )
    idx = range(1, len(ks) + 1)
    kcols = {i: ks[i - 1](F.col("_n")) for i in idx}
    prev = F.col("_cum") - F.col("_cnt")
    hits = {i: (F.col("_cum") >= kcols[i]) & (prev < kcols[i]) for i in idx}
    bound_aggs = []
    for i in idx:
        bound_aggs.append(F.max(F.when(hits[i], F.col("_qbin"))).alias(f"_b{i}"))
        bound_aggs.append(F.max(F.when(hits[i], kcols[i] - prev)).alias(f"_r{i}"))
    bound_aggs.append(F.max(F.col("_n")).alias("_n"))
    bounds = cum.groupBy(group).agg(*bound_aggs)
    in_boundary = None
    for i in idx:
        cond = F.col("_qbin") == F.col(f"_b{i}")
        in_boundary = cond if in_boundary is None else (in_boundary | cond)
    cand = (
        df.join(F.broadcast(bounds), group)
        .withColumn("_qbin", binc)
        .filter(in_boundary)
    )
    wrk = Window.partitionBy(group, "_qbin").orderBy(
        value.asc(), F.col(tiebreak).asc()
    )
    rcand = cand.select(
        group,
        F.col(tiebreak).alias("_key"),
        "_qbin",
        "_n",
        *[c for i in idx for c in (f"_b{i}", f"_r{i}")],
        value.alias("_val"),
        F.row_number().over(wrk).alias("_rn"),
    )
    out_aggs = [F.max(F.col("_n")).cast("bigint").alias("n")]
    for i in idx:
        at = (F.col("_qbin") == F.col(f"_b{i}")) & (F.col("_rn") == F.col(f"_r{i}"))
        out_aggs.append(F.max(F.when(at, F.col("_val"))).alias(f"q{i}"))
        out_aggs.append(F.max(F.when(at, F.col("_key"))).alias(f"q{i}_key"))
    return rcand.groupBy(group).agg(*out_aggs)
