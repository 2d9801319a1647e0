"""Cross-query cache-hygiene gate (round-4 verdict item 7).

A registered query that persists an intermediate and returns a plan
still referencing it pins executor unified memory for the rest of a
shared session — the round-4 bench tail showed exactly that (CacheManager
"already cached" warnings, two 10x wall-time anomalies on unchanged
code). The contract enforced here:

1. After a query's callable returns, the session cache must be EMPTY —
   queries that reuse a persisted intermediate must release it before
   returning (``finalize_bounded``: materialize the bounded final
   result, unpersist, return a LocalRelation).
2. The only exception is the documented ``PERSIST_THROUGH_RETURN``
   allowlist (unbounded final output, so eager finalization can't
   apply); those MUST be released by the standard teardown
   ``spark.catalog.clearCache()``, which every registry consumer runs
   between queries (``__spark_entry__.queries()`` wraps each callable;
   bench.py clears between executions).

The gate constructs every registered query — ``persist()`` registers in
the CacheManager at plan-construction time, so a leak is detectable
without materializing the full plan — and asserts both halves.
"""

from __future__ import annotations

import os

from azurestorage_blueprints_spark.queries import (
    PERSIST_THROUGH_RETURN,
    REGISTRY,
    load_all,
)

load_all()


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_allowlist_names_are_registered():
    assert PERSIST_THROUGH_RETURN <= set(REGISTRY), (
        "PERSIST_THROUGH_RETURN references unregistered queries: "
        f"{PERSIST_THROUGH_RETURN - set(REGISTRY)}"
    )


def test_no_query_leaks_cache(spark, sf_dir):
    spark.catalog.clearCache()
    leaked, teardown_broken = [], []
    for name, q in REGISTRY.items():
        df = q.fn(spark, sf_dir)
        assert df is not None, name
        if name in PERSIST_THROUGH_RETURN:
            # documented exception: the persist must actually be there
            # (otherwise the allowlist entry is stale) and the standard
            # teardown must release it
            assert not _cache_empty(spark), (
                f"{name} is allowlisted as persist-through-return but "
                "left no cache entry — remove it from the allowlist"
            )
        elif not _cache_empty(spark):
            leaked.append(name)
        spark.catalog.clearCache()
        if not _cache_empty(spark):
            teardown_broken.append(name)
    assert not leaked, f"queries left cached plans behind: {leaked}"
    assert not teardown_broken, f"clearCache did not release: {teardown_broken}"


def test_entry_module_wraps_queries_with_teardown(spark, sf_dir):
    """The driver consumes ``__spark_entry__.queries()``; its callables
    must begin from an empty cache even if the previous query (or any
    other session user) left one behind."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entrymod

    # plant a cached relation, then run any wrapped query: the wrapper
    # must clear it before building the plan
    planted = spark.range(10).cache()
    planted.count()
    assert not _cache_empty(spark)
    fn = entrymod.queries()["q_fileops_regex_filter"]
    fn(spark, sf_dir)
    assert _cache_empty(spark), "queries() wrapper did not clear the cache"
    planted.unpersist()


def test_finalize_bounded_enforces_row_budget(spark, sf_dir, monkeypatch):
    """r6 verdict task 2: the write-to-storage escape hatch is CODE.

    Within budget a per-cluster report collects as a LocalRelation;
    over budget the SAME query must spill the report to warehouse
    storage (never materializing an unbounded driver row list) and
    return a scan with identical schema and values — and still leave
    the session cache empty."""
    import azurestorage_blueprints_spark.queries as Q

    spark.catalog.clearCache()
    out = Q.REGISTRY["q_semdedup"].fn(spark, sf_dir)
    assert Q.LAST_FINALIZE_ROUTE == "collect"
    base = sorted(map(tuple, out.collect()))
    assert len(base) > 2

    # shrink the budget below the cluster count: the report is now
    # "unbounded" relative to the budget and MUST take the spill route
    monkeypatch.setattr(Q, "FINALIZE_ROW_BUDGET", 2)
    out2 = Q.REGISTRY["q_semdedup"].fn(spark, sf_dir)
    assert Q.LAST_FINALIZE_ROUTE == "spill"
    # parquet scans are nullable-by-construction; names and types must
    # survive exactly (nullability is metadata the comparator ignores)
    assert [(f.name, f.dataType) for f in out2.schema] == [
        (f.name, f.dataType) for f in out.schema
    ]
    assert sorted(map(tuple, out2.collect())) == base
    assert _cache_empty(spark), "spill route leaked cache"
    # the report stays readable while the process runs; the exit hook
    # removes it
    spill = os.path.join(Q._finalize_spill_dir(), f"report_{os.getpid()}_{Q._FINALIZE_SEQ}")
    assert os.path.isdir(spill)
    Q._remove_finalize_spills()
    assert not os.path.exists(spill)


def test_finalize_bounded_releases_cache_on_failure(spark):
    """A failing final collect must still release the persisted inputs:
    the capped-LM gates hand their pre-pass caches to finalize_bounded
    and hold no try/finally of their own."""
    import pytest
    from pyspark.sql import functions as F

    import azurestorage_blueprints_spark.queries as Q

    spark.catalog.clearCache()
    cached = spark.range(10).persist()
    with pytest.raises(Exception, match="boom"):
        Q.finalize_bounded(cached.select(F.raise_error(F.lit("boom"))), cached)
    assert _cache_empty(spark), "failed finalize_bounded leaked its cache"


def test_run_to_memory_releases_cache_on_failure(spark, sf_dir, monkeypatch):
    """A failing replay must still release the stream's persisted static
    side: the decontamination and ANN serving gates hand it to
    run_to_memory and hold no try/finally of their own."""
    import pytest
    from pyspark.sql import functions as F

    from azurestorage_blueprints_spark.queries import streaming_q

    replay = streaming_q._file_stream

    def failing_replay(spark, staged):
        text = F.raise_error(F.lit("boom")).cast("string")
        return replay(spark, staged).withColumn("text", text)

    monkeypatch.setattr(streaming_q, "_file_stream", failing_replay)
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="boom"):
        REGISTRY["q_stream_decontamination_gate"].fn(spark, sf_dir)
    assert _cache_empty(spark), "failed replay leaked the gate's cache"


def test_semdedup_family_routes_through_finalize_bounded():
    """The corpus-proportional report class (SemDeDup family) must go
    through finalize_bounded — a registered query in that class that
    collects its report directly would bypass the row-budget guard."""
    import inspect

    from azurestorage_blueprints_spark.queries import graph_q, similarity

    for fn in (
        similarity.q_semdedup,
        similarity.q_semdedup_hier,
        graph_q.q_graph_assortativity,
    ):
        src = inspect.getsource(fn)
        assert "finalize_bounded(" in src, fn.__name__
        assert ".collect()" not in src, (
            f"{fn.__name__} collects directly — route through finalize_bounded"
        )
