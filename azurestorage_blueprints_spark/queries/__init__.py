"""Query registry — the engine's declared query surface.

Every operator the engine claims (SURVEY.md §2.2 and the north-star
LLM-pipeline extensions) is registered here as a named ``Query``:
a Spark callable ``(spark, sf_dir) -> DataFrame`` plus, where the
semantics are SQL-expressible, a DuckDB oracle SQL string the driver
cross-checks at sf0.01. Column names are aligned on both sides because
the driver's comparator sorts columns by name before hashing.

There are two ways in. :func:`register_sql` is the default when the
oracle text runs verbatim on Spark: the SQL is the query, and ``fn`` is
generated. :func:`register` decorates a DataFrame builder, kept where
the Spark form must differ (engine-only functions, a physical strategy
the builder pins, UDF/codec/streaming rungs) or where the builder was
measured faster. For a SQL-form query the oracle check runs one text on
two engines, so it checks Spark's execution but no hand translation;
its ``test_r*_semantics`` property tests are the independent check.

Determinism contract (required for value-hash equality):
- order-sensitive double reductions (SUM/AVG over double) are computed
  through exact decimal arithmetic (cast→decimal→sum→cast to double)
  on BOTH sides, so partition/order differences cannot change the hash;
- per-row double arithmetic (a*b, a/b) is IEEE-deterministic and safe;
- sequential array folds (dot products) use double accumulators with
  identical fold order on both sides;
- ties in top-k / window ranks are broken by a unique key column;
- deterministic RESAMPLING (bootstrap replicates, multi-table LSH)
  needs a draw that is NONLINEAR in (key, replicate): any multiply-add
  composition is affine, making every replicate a constant shift of one
  draw sequence — marginally uniform but jointly degenerate (the r5
  bootstrap collapse, 37x under-dispersed). Mix through the
  middle-square-plus-linear rounds of q_sample_poisson_bootstrap or an
  engine hash when only one engine computes it.
"""

from __future__ import annotations

import atexit
import glob
import os
import re
import shutil
import sys
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from azurestorage_blueprints_spark.tables import TABLE_NAMES, register_views


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL twin; None → rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}

#: Queries allowed to return a plan that still references a persisted
#: intermediate (unbounded final output, so the materialize-and-release
#: pattern of :func:`finalize_bounded` cannot apply). Consumers release
#: these via the standard per-query teardown (``spark.catalog.clearCache()``
#: before the next query — wired into ``__spark_entry__.queries()`` and
#: bench.py). Everything else must leave the cache empty on return;
#: tests/test_cache_hygiene.py enforces both halves.
PERSIST_THROUGH_RETURN: frozenset[str] = frozenset({
    # r11: the per-document CE table feeds the two threshold-selection
    # phases AND the final verdict scan; the output is corpus-scale
    # (one row per document), so finalize_bounded's collect route
    # cannot apply — the standard per-query teardown releases it
    "q_ccnet_perplexity_buckets",
    # r12: the bigram-TYPE table (sublinear) feeds ctx/cont/lt/vt and
    # the scoring join; the output is per-arrival-doc (corpus-scale),
    # so the collect route cannot apply — per-query teardown releases it
    "q_kn_bigram_perplexity",
})


#: driver-side row budget for :func:`finalize_bounded` (env-overridable).
#: A final report within the budget is collected as a LocalRelation; a
#: larger one takes the write-to-storage escape hatch instead of ever
#: materializing an unbounded row list on the driver. The default is
#: sized so every O(1)/top-k report and every test-SF per-cluster
#: report collects, while a production-scale corpus-proportional
#: report (SemDeDup family: O(corpus/target) clusters) spills.
FINALIZE_ROW_BUDGET = int(os.environ.get("SPARK_GRAFT_FINALIZE_ROW_BUDGET", "100000"))

#: route taken by the most recent :func:`finalize_bounded` call —
#: ``"collect"`` (within budget, LocalRelation) or ``"spill"`` (over
#: budget, written to warehouse storage and returned as a scan).
#: Observable so tests can enforce the boundedness contract.
LAST_FINALIZE_ROUTE: str | None = None

_FINALIZE_SEQ = 0


def _finalize_spill_dir() -> str:
    """Repo-anchored warehouse directory for over-budget reports —
    anchored to the package location, NOT the cwd, because registry
    consumers (the driver, the verify simulator) run from arbitrary
    working directories."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(os.path.dirname(pkg_root), "spark-warehouse", "finalize_spill")


@atexit.register
def _remove_finalize_spills() -> None:
    """Remove this process's spilled reports. Not earlier: the scan that
    :func:`finalize_bounded` returns reads its report until the process
    exits. Keyed by pid, so a concurrent process keeps its own."""
    for path in glob.glob(os.path.join(_finalize_spill_dir(), f"report_{os.getpid()}_*")):
        shutil.rmtree(path, ignore_errors=True)


def finalize_bounded(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Materialize a final result while its persisted inputs are hot,
    release the cache, and return the result — as a LocalRelation when
    it fits :data:`FINALIZE_ROW_BUDGET`, else via storage.

    The cross-query cache-leak fix (round-4 verdict "What's wrong" #1):
    a registered query that persists an intermediate reused by several
    consumers must not pin that cache for the rest of a shared session.
    Because ``unpersist()`` before materialization would silently drop
    the reuse benefit (the plan recomputes), the final aggregate is
    computed eagerly here, the cache is released, and the rows are
    returned with the exact same schema and values.

    Row-budget guard (r6 verdict task 2 — the escape hatch is now CODE,
    not contract): at most ``FINALIZE_ROW_BUDGET + 1`` rows are ever
    collected. Within budget the rows come back as a LocalRelation
    (top-k / fixed-bin reports: O(1) rows at any corpus size). Over
    budget — the per-cluster report class, where k ∝ corpus — the
    report DataFrame is WRITTEN to warehouse storage (executor-side
    parquet write, never a driver row list), the caches are released,
    and the returned DataFrame is a scan of that table: same schema,
    same values, driver memory O(1). ``LAST_FINALIZE_ROUTE`` records
    which path ran so tests can pin the contract. The caches are
    released even when the collect or the write raises.
    """
    global LAST_FINALIZE_ROUTE, _FINALIZE_SEQ
    spark = result.sparkSession
    try:
        probe = result.limit(FINALIZE_ROW_BUDGET + 1).collect()
        if len(probe) <= FINALIZE_ROW_BUDGET:
            LAST_FINALIZE_ROUTE = "collect"
            return spark.createDataFrame(probe, result.schema)
        _FINALIZE_SEQ += 1
        path = os.path.join(_finalize_spill_dir(), f"report_{os.getpid()}_{_FINALIZE_SEQ}")
        result.write.mode("overwrite").parquet(path)
    finally:
        # released on every route, a failed collect or write included
        for df in cached:
            df.unpersist()
    LAST_FINALIZE_ROUTE = "spill"
    # read back with the ORIGINAL schema (parquet roundtrips every type
    # the report tier emits; the explicit schema pins nullability)
    return spark.read.schema(result.schema).parquet(path)


def _add(query: Query) -> None:
    if query.name in REGISTRY:
        raise ValueError(f"duplicate query name {query.name!r}")
    REGISTRY[query.name] = query


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: add a query built by a DataFrame function."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _add(Query(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or "")))
        return fn

    return deco


def register_sql(name: str, oracle: str, doc: str) -> None:
    """Add a query whose oracle SQL is also its Spark form.

    The generated ``fn`` registers temp views for the base tables the
    SQL names (whole-word match, so an extra match only costs one view)
    over the caller's ``sf_dir`` on every call — views are never cached
    across calls because ``sf_dir`` changes within a session — and
    returns ``spark.sql(oracle)``. ``fn.__module__`` is the registering
    module, so :func:`load_all` groups it with its family.
    """
    views = tuple(t for t in TABLE_NAMES if re.search(rf"\b{t}\b", oracle, re.IGNORECASE))

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, views)
        return spark.sql(oracle)

    fn.__module__ = sys._getframe(1).f_globals["__name__"]
    fn.__name__ = fn.__qualname__ = name
    _add(Query(name=name, fn=fn, oracle=oracle, doc=doc))


#: names registered in the CURRENT round (update each round): these sort
#: after every older never-checked name so the driver's fixed check
#: budget always closes the oldest coverage tail first.
_NEWEST_ROUND: frozenset[str] = frozenset({
    "q_quantiles_exact", "q_quantiles_global",
    "q_stream_quantile_gate", "q_embed_jl_projection", "q_eval_rouge_n",
    "q_graph_modularity", "q_kcenter_sample", "q_hilbert_layout",
    "q_t_closeness", "q_eval_bleu", "q_survival_km",
    "q_stream_decontamination_gate", "q_eval_mcnemar",
    "q_graph_hits", "q_multimodal_bmp_roundtrip", "q_ts_dtw",
    "q_eval_isotonic", "q_retrieval_rrf", "q_quantile_bootstrap_ci",
})


def _check_history() -> tuple[set[str], set[str], dict[str, int]]:
    """Read every ``CORRECTNESS_r*.json`` the driver has written so far
    and split the names it has checked into (needs-recheck, settled,
    last-checked-round).

    needs-recheck: the *latest* row for the name was a hash mismatch or
    a harness error (excluding the by-design ``no_oracle`` rows-only
    entries, which count as settled once they produced rows).
    settled: latest row green (or rows-only with rows).
    last-checked-round: for every checked name, the round number of its
    most recent driver row — the staleness signal the settled tier is
    sorted by (r6 verdict task 5: oldest-checked-first, so every green
    row refreshes on a bounded rotation cadence instead of never).
    """
    import glob
    import json
    import re

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    latest: dict[str, dict] = {}
    last_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        latest.update(rows)
        for name in rows:
            last_round[name] = max(rnd, last_round.get(name, 0))
    recheck, settled = set(), set()
    for name, row in latest.items():
        if row.get("hash_match"):
            settled.add(name)
        elif row.get("err") == "no_oracle" and row.get("spark_rows") is not None:
            settled.add(name)
        else:
            recheck.add(name)
    return recheck, settled, last_round


def load_all() -> dict[str, Query]:
    """Import every query module (side effect: fills REGISTRY), then
    order the registry for the driver's check rotation.

    The driver's correctness gate checks the registry in iteration
    order and stops after a fixed budget (50 entries in rounds 1-2).
    Order so the budget is always spent where it buys information:
    (1) names whose latest CORRECTNESS row is red (fixed code must be
    re-checked to turn green), (2) ANCIENT green names — rows ≥6
    rounds older than the newest round on disk (r9 verdict task 2: a
    heavy registration round can push the stale tail behind its own
    additions forever; a row that old outranks a query added this
    round, which has passed the local sweeps and can wait one
    rotation), (3) names the driver has never checked, round-robined
    across query families so a truncated pass still samples every
    module, (4) remaining green names — OLDEST driver row first (r6
    verdict task 5), so with an empty unchecked queue the fixed budget
    refreshes the stalest 50 green rows each round and every query's
    driver row stays within a ~5-round age.
    """
    from azurestorage_blueprints_spark.queries import (  # noqa: F401
        behavior,
        corpus_ops,
        curation,
        dedup,
        features,
        fileops,
        graph_q,
        llm_text,
        maintenance,
        mining,
        misc_ops,
        quality,
        relational,
        relational_ext,
        sampling,
        similarity,
        stats_q,
        streaming_q,
        timeseries,
        tpch_extra,
    )

    recheck, settled, last_round = _check_history()
    head = [n for n in REGISTRY if n in recheck]
    middle = [n for n in REGISTRY if n not in recheck and n not in settled]

    def interleave(names: list[str]) -> list[str]:
        # Round-robin never-checked entries by module so a fixed check
        # budget samples every query family, not just the first modules.
        by_module: dict[str, list[str]] = {}
        for n in names:
            by_module.setdefault(REGISTRY[n].fn.__module__, []).append(n)
        buckets = [by_module[m] for m in sorted(by_module)]
        return [
            bucket[i]
            for i in range(max(map(len, buckets), default=0))
            for bucket in buckets
            if i < len(bucket)
        ]

    # ANCIENT green rows (≥6 rounds behind the newest round on disk)
    # outrank even never-checked additions: the staleness tail must
    # never lose the budget race to a heavy registration round.
    max_round = max(last_round.values(), default=0)
    ancient = sorted(
        (n for n in REGISTRY if n in settled and last_round[n] <= max_round - 6),
        key=lambda n: last_round[n],
    )
    # Within the never-checked tier, queries registered in EARLIER
    # rounds come first: the driver's budget must close the oldest
    # coverage tail before it reaches names added this round (which
    # can wait one rotation without ever having shown a red row).
    older = interleave([n for n in middle if n not in _NEWEST_ROUND])
    newest = interleave([n for n in middle if n in _NEWEST_ROUND])
    # settled tier: stalest driver row first (ties keep registration
    # order, which round-robins naturally as whole rounds age together)
    green = sorted(
        (n for n in REGISTRY if n in settled and n not in set(ancient)),
        key=lambda n: last_round[n],
    )
    ordered = head + ancient + older + newest + green
    assert len(ordered) == len(REGISTRY)
    return {n: REGISTRY[n] for n in ordered}
