"""SQL-form queries (``register_sql``): the views follow ``sf_dir``.

A SQL-form query re-registers the temp views it names on every call,
because tests and the driver switch ``sf_dir`` within one session. A
cached view would silently answer from the previous scale factor.
"""

from __future__ import annotations

import os

from azurestorage_blueprints_spark.oracle import compare, duckdb_connection
from azurestorage_blueprints_spark.queries import load_all

REGISTRY = load_all()


def test_views_follow_sf_dir_within_one_session(spark, sf_dir):
    for view in spark.catalog.listTables():
        if view.isTemporary:
            spark.catalog.dropTempView(view.name)
    q = REGISTRY["q01_pricing_summary"]
    other = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    for sf in (sf_dir, other, sf_dir):
        con = duckdb_connection(sf)
        try:
            compare(q.fn(spark, sf), con, q.oracle)
        finally:
            con.close()
    # only the base tables the SQL names are registered
    assert {t.name for t in spark.catalog.listTables() if t.isTemporary} == {"lineitem"}


def test_generated_functions_name_their_registering_module():
    assert not [
        name
        for name, q in REGISTRY.items()
        if q.fn.__module__ == "azurestorage_blueprints_spark.queries"
    ]
