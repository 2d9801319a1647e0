"""Local oracle-differential harness.

Mirrors the driver's correctness gate: run a registered query on Spark
and its oracle SQL on DuckDB over the same parquet tables, then compare
row count, column names, and an order-insensitive value digest. Used by
the test suite so every mismatch is caught before the driver sees it.

The driver canonicalizes BOTH engines' results through pandas
(``spark_df.toPandas()`` / ``duckdb_rel.df()``) and then sorts with
``DataFrame.sort_values``. That path has two sharp edges this harness
deliberately reproduces (round-1 VERDICT "What's wrong" #1-#3):

- DuckDB integer ``SUM`` returns HUGEINT, which pandas renders as
  float64 (``12.0``) while Spark emits int64 (``12``) — a value-hash
  mismatch. Oracles must ``CAST(sum(...) AS BIGINT)``.
- list-valued cells crash ``sort_values`` (``unhashable type: 'list'``)
  — array outputs must be serialized to strings on both engines.
"""

from __future__ import annotations

import math
from typing import Any

import duckdb
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from azurestorage_blueprints_spark.tables import TABLE_NAMES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def _canon_cell(v: Any) -> Any:
    """Canonicalize a cell for comparison across engines."""
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact: determinism contract means bit-equality is expected
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, pd.Timestamp):
        # DuckDB DATE comes back as a midnight datetime64 while Spark
        # DateType yields datetime.date — trim midnight to the date form
        # (the driver's hash treats them as equal, per round-1 results)
        if v == v.normalize():
            return str(v.date())
        return str(v)
    return str(v)


def _canon_frame(df: pd.DataFrame) -> list[tuple]:
    """The driver's canonicalization path: column-name sort, then
    ``sort_values`` over every column (crashes on list cells exactly
    like the driver), then stringified rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return [
        tuple(_canon_cell(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    ]


def compare(spark_df: DataFrame, con: duckdb.DuckDBPyConnection, sql: str) -> None:
    """Assert Spark result == DuckDB oracle result (raises AssertionError).

    Both sides go through pandas first, mirroring the driver's
    canonicalization, so dtype-coercion mismatches (HUGEINT → float64)
    and unsortable cells reproduce locally instead of only at the gate.
    """
    s_pdf = spark_df.toPandas()
    d_pdf = con.execute(sql).df()

    s_cols, d_cols = list(s_pdf.columns), list(d_pdf.columns)
    assert sorted(s_cols) == sorted(d_cols), f"columns differ: {s_cols} vs {d_cols}"
    assert len(s_pdf) == len(d_pdf), f"row count differs: {len(s_pdf)} vs {len(d_pdf)}"
    sd, dd = _canon_frame(s_pdf), _canon_frame(d_pdf)
    if sd != dd:
        diffs = [i for i, (a, b) in enumerate(zip(sd, dd)) if a != b][:5]
        detail = "\n".join(f"  spark={sd[i]}\n  duck ={dd[i]}" for i in diffs)
        raise AssertionError(f"value mismatch on {len(diffs)}+ sorted rows:\n{detail}")
