#!/usr/bin/env python3
"""Count the py4j commands each query sends while it builds its plan.

    SPARK_GRAFT_SF_DIR=<tables> python scripts/py4j_build_counts.py
        NAME... | --module MODULE [--json PATH]

``--module similarity`` selects every query registered by
``queries/similarity.py``. Per query: one untimed build (trains any
missing model table), then a second build under a ``send_command``
wrapper; only that second build is counted. Proxy detaches are left
out, as in ``tests/test_py4j_budget.py``: py4j sends them whenever the
collector runs, so they are not round-trips the build makes. Nothing
is collected; eager jobs inside the query function (checkpoints,
threshold collects) are part of the build and are counted.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME  # noqa: E402

from azurestorage_blueprints_spark.queries import load_all  # noqa: E402
from azurestorage_blueprints_spark.session import get_spark  # noqa: E402

_DETACH = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME


def build_count(spark, fn, sf_dir: str) -> int:
    """Non-detach py4j commands sent by one ``fn(spark, sf_dir)``."""
    client = spark.sparkContext._gateway._gateway_client
    original = client.send_command
    calls = 0

    def send_command(command, *args, **kwargs):
        nonlocal calls
        calls += not command.startswith(_DETACH)
        return original(command, *args, **kwargs)

    client.send_command = send_command
    try:
        fn(spark, sf_dir)
    finally:
        client.send_command = original
    return calls


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("names", nargs="*", metavar="NAME")
    parser.add_argument("--module", help="every query registered by queries/MODULE.py")
    parser.add_argument("--json", metavar="PATH")
    args = parser.parse_args(argv)
    registry = load_all()
    names = list(args.names)
    if args.module:
        mod = f"azurestorage_blueprints_spark.queries.{args.module}"
        names += sorted(n for n, q in registry.items() if q.fn.__module__ == mod)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if unknown := [n for n in names if n not in registry]:
        parser.error(f"unknown query names: {', '.join(unknown)}")
    if not names or not sf_dir:
        parser.error("give NAME... or --module, and set SPARK_GRAFT_SF_DIR")
    spark = get_spark(app_name="py4j_build_counts")
    counts = {}
    for name in names:
        fn = registry[name].fn
        fn(spark, sf_dir)
        spark.catalog.clearCache()
        counts[name] = build_count(spark, fn, sf_dir)
        spark.catalog.clearCache()
        print(name, counts[name], flush=True)
    out = {"sf_dir": sf_dir, "counts": counts, "total": sum(counts.values())}
    print("total", out["total"])
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
