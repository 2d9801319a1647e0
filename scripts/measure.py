#!/usr/bin/env python3
"""Time registered queries layer by layer on the engine's session.

    SPARK_GRAFT_SF_DIR=<tables> python scripts/measure.py NAME... | --all
        [--runs N] [--plan DIR] [--json PATH]

Per query: one untimed warm-up, then N traced samples of the benchmark's
timer (``perfbench/workloads.time_query``), with ``bench.py``'s cache and
GC hygiene. ``--all`` is ``bench.py``'s headline; the core count comes
from ``SPARK_GRAFT_CPUS``. ``--plan`` writes a fresh build's formatted
plan to ``DIR/<name>.txt``; for a streaming query that is the plan of
each streaming DataFrame handed to ``run_to_memory``, not of the memory
table it returns. A query that raises is recorded as ``{"err"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import statistics
import sys
from unittest import mock

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [p for p in (ROOT, os.path.join(ROOT, "perfbench")) if p not in sys.path]

import bench  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from azurestorage_blueprints_spark.queries import load_all, streaming_q  # noqa: E402
from azurestorage_blueprints_spark.session import get_spark  # noqa: E402

#: one send_command wrapper per session, however often ``main`` runs
_py4j_counter = functools.cache(tracing.Py4jCounter)


def write_plan(spark, fn, sf_dir: str, path: str) -> None:
    """Write the formatted plan of a fresh ``fn(spark, sf_dir)``; a
    streaming query's plans are those of the streams it replays."""
    streams = []
    replay = streaming_q.run_to_memory

    def capture(stream_df, *args, **kwargs):
        streams.append(stream_df)
        return replay(stream_df, *args, **kwargs)

    with mock.patch.object(streaming_q, "run_to_memory", capture):
        df = fn(spark, sf_dir)
    with open(path, "w") as f, contextlib.redirect_stdout(f):
        for plan_df in streams or [df]:
            plan_df.explain("formatted")


def measure(ctx: workloads.Context, name: str, runs: int, plan_dir: str | None) -> dict:
    spark, fn = ctx.spark, ctx.registry[name].fn
    bench.run_query(fn(spark, ctx.sf_dir))
    spark.catalog.clearCache()
    if plan_dir:
        os.makedirs(plan_dir, exist_ok=True)
        write_plan(spark, fn, ctx.sf_dir, os.path.join(plan_dir, f"{name}.txt"))
        spark.catalog.clearCache()
    samples = []
    for _ in range(runs):
        samples.append(workloads.time_query(ctx, name, traced=True))
        spark.catalog.clearCache()
    walls = [s.wall_s for s in samples]
    keys = {k for s in samples for k in s.layers}
    return {
        "wall_s": {"median": statistics.median(walls), "min": min(walls), "max": max(walls),
                   "samples": walls},
        "layers": {k: statistics.median(s.layers.get(k, 0.0) for s in samples) for k in keys},
        "batches_ms": [s.batches_ms for s in samples],
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("names", nargs="*", metavar="NAME")
    parser.add_argument("--all", action="store_true", help="bench.py's headline queries")
    parser.add_argument("--runs", type=int, default=3)
    parser.add_argument("--plan", metavar="DIR")
    parser.add_argument("--json", metavar="PATH")
    args = parser.parse_args(argv)
    names = args.names + (list(bench.HEADLINE) if args.all else [])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    registry = load_all()
    if unknown := [n for n in names if n not in registry]:
        parser.error(f"unknown query names: {', '.join(unknown)}")
    if not names or not sf_dir or args.runs < 1:
        parser.error("give NAME... or --all, --runs >= 1, and set SPARK_GRAFT_SF_DIR")
    spark = get_spark(app_name="measure")
    ctx = workloads.Context(spark=spark, registry=registry, sf_dir=sf_dir, work_dir=ROOT, seed=0,
                            tracer=tracing.Tracer(enabled=False), py4j=_py4j_counter(spark))
    out = {"sf_dir": sf_dir, "cpus": spark.sparkContext.defaultParallelism,
           "runs": args.runs, "queries": {}}
    for name in names:
        try:
            rec = measure(ctx, name, args.runs, args.plan)
        except Exception as exc:  # noqa: BLE001 - recorded, the sweep goes on
            rec = {"err": f"{type(exc).__name__}: {exc}"[:300]}
            spark.catalog.clearCache()
        out["queries"][name] = rec
        print(name, json.dumps(rec.get("wall_s", rec)), flush=True)
        bench._gc(spark)
        if args.json:  # rewritten after every query: a killed sweep keeps what it measured
            with open(args.json, "w") as f:
                json.dump(out, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
