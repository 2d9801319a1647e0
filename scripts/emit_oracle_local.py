"""Emit ORACLE_LOCAL.json — a driver-style correctness row for EVERY
registered query, computed locally with the same canonicalization the
driver uses for CORRECTNESS_r{N}.json.

The driver's per-round check budget (50 queries) means full registry
coverage takes several rounds of rotation. This artifact closes the gap
for auditing: every registered query (the count is whatever the
registry holds — see the final summary line) gets a row
``{rows_match, schema_match, hash_match, spark_rows, oracle_rows, err}``
produced by the repo's own oracle harness (oracle.py mirrors the
driver's pandas canonicalization bit-for-bit), so the not-yet-rotated
tail can be inspected without waiting for the driver.

Usage:  python scripts/emit_oracle_local.py [sf_dir]
        (default sf_dir: /root/testdata/sf0.01 — the driver's gate SF)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from azurestorage_blueprints_spark.oracle import (
    _canon_frame,
    duckdb_connection,
)
from azurestorage_blueprints_spark.queries import load_all


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path_arg = sys.argv[2] if len(sys.argv) > 2 else None
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("oracle-local")
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_SHUFFLE_PARTS", "8"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connection(sf_dir)
    # big sweeps run beside a 20+ GiB JVM on a shared box: cap DuckDB so
    # one quadratic oracle OOM-kills ITSELF (caught per-query) instead
    # of the whole sweep process (r7: the first sf1 run died 137 at
    # q_pagerank's unrolled-CTE oracle with no artifact written)
    if (mem := os.environ.get("DUCKDB_MEM")):
        con.execute(f"SET memory_limit='{mem}'")
        con.execute(f"SET max_temp_directory_size='{os.environ.get('DUCKDB_TMP_CAP', '80GiB')}'")
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = out_path_arg or os.path.join(repo_root, "ORACLE_LOCAL.json")
    registry = load_all()
    # resume: a partial artifact from an interrupted sweep short-circuits
    # rows already computed (the artifact is rewritten after EVERY query,
    # so a kill loses at most the in-flight row)
    out: dict[str, dict] = {}
    if os.environ.get("SWEEP_RESUME") == "1" and os.path.exists(path):
        def _keep(v: dict) -> bool:
            # carry passes and rows-only rows; RETRY real errors (e.g.
            # an ENOSPC from a previous run's spill)
            return bool(v.get("hash_match")) or v.get("err") == "no_oracle"

        with open(path) as f:
            out = {k: v for k, v in json.load(f).items() if k in registry and _keep(v)}
        print(f"resuming: {len(out)} rows carried over", flush=True)
    t0 = time.time()
    for i, (name, q) in enumerate(registry.items(), 1):
        if name in out:
            continue
        row = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        tq = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            if q.oracle is None:
                # rows-only check: COUNT on the executors — a rows-only
                # result can be pair-enumeration sized at sweep SFs and
                # must never be collected (q_dedup_simhash at sf1 blew
                # spark.driver.maxResultSize through toPandas)
                row["spark_rows"] = sdf.count()
                row["err"] = "no_oracle"
            else:
                s_pdf = sdf.toPandas()
                row["spark_rows"] = len(s_pdf)
                d_pdf = con.execute(q.oracle).df()
                row["oracle_rows"] = len(d_pdf)
                row["rows_match"] = len(s_pdf) == len(d_pdf)
                row["schema_match"] = sorted(s_pdf.columns) == sorted(d_pdf.columns)
                row["hash_match"] = (
                    row["rows_match"]
                    and row["schema_match"]
                    and _canon_frame(s_pdf) == _canon_frame(d_pdf)
                )
        except Exception as e:  # noqa: BLE001 — per-query isolation
            row["err"] = f"{type(e).__name__}: {e}"[:300]
        # per-query teardown: release anything a query persisted so the
        # shared session never carries cache into the next query
        spark.catalog.clearCache()
        out[name] = row
        status = "ok" if row["hash_match"] else (row["err"] or "MISMATCH")
        print(f"[{i}/{len(registry)}] {name}: {status} ({time.time() - tq:.1f}s)", flush=True)
        # rewrite after every query (atomic rename) so an interrupted
        # sweep resumes instead of restarting
        with open(path + ".tmp", "w") as f:
            json.dump(out, f, indent=2)
        os.replace(path + ".tmp", path)
    # no final rewrite: the per-query tmp+os.replace above already left
    # the complete artifact on disk, and a non-atomic open(path, 'w')
    # here could corrupt the very file SWEEP_RESUME reads if killed
    n_hash = sum(1 for r in out.values() if r["hash_match"])
    n_rows_only = sum(1 for r in out.values() if r["err"] == "no_oracle")
    n_fail = len(out) - n_hash - n_rows_only
    print(
        f"wrote {path}: {n_hash} hash-pass, {n_rows_only} rows-only, "
        f"{n_fail} failures in {time.time() - t0:.0f}s"
    )
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
