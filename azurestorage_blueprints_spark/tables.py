"""Table loading helpers for the driver-generated parquet test data.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under an
``sf`` directory. At 100 TB these would be partitioned parquet/Delta
datasets on ``abfss://``; the loader only cares that
``spark.read.parquet(dir/name.parquet)`` resolves, so the same code
path serves both.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: text/vector tables get a post-scan round-robin repartition: the test
#: parquet files are single-row-group, so the scan stage is ONE task no
#: matter how many cores exist — and the per-row work on these tables
#: (tokenize, shingle, vector folds) is interpreted higher-order
#: functions, the most expensive map work in the engine. Catalyst still
#: pushes filters and column pruning through the exchange into the
#: scan. Relational tables are NOT spread: their map-side work is cheap
#: codegen'd scans and their joins/aggs shuffle on keys anyway, so an
#: extra exchange is pure overhead (measured: +0.3-0.5s per TPC-H query
#: at sf0.1). On a real multi-file dataset the scan parallelizes
#: natively and AQE coalesces the then-tiny exchange.
_SPREAD_TABLES = frozenset({"documents", "embeddings"})


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame (parquet scan — columnar, with
    predicate pushdown and column pruning left to Catalyst).

    ``events.ts`` has shipped in two parquet encodings across testdata
    generations: TIMESTAMP(NANOS) (which Spark's reader rejects without
    the ``nanosAsLong`` legacy conf — we then truncate ns→us with
    ``ts div 1000``, exact int64 arithmetic matching DuckDB) and plain
    TIMESTAMP(MICROS) (read natively as TIMESTAMP_NTZ — no conversion).
    We branch on the actual read dtype so either generation works.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, LongType):
            # nanos-as-long generation: timestampadd on an NTZ base is pure
            # integer arithmetic — independent of the session timezone
            # (timestamp_micros().cast(ntz) is NOT: it renders through the
            # session zone and shifts under TZ!=UTC drivers)
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return _spread(spark, df, name)
    return _spread(spark, spark.read.parquet(path), name)


def _spread(spark: SparkSession, df: DataFrame, name: str) -> DataFrame:
    if name in _SPREAD_TABLES:
        return df.repartition(spark.sparkContext.defaultParallelism)
    return df


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> None:
    """Register temp views so SQL-form queries can run against them."""
    for name in names:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
