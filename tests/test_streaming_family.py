"""One-copy guard and value pins for the ingest gates' shared bodies.

An ingest gate keeps only its streaming code: staging, the
stream-static join and one complete-mode aggregate. Its per-row scorer
and its oracle come from the batch rung that owns them:
``q_stream_curation_gate`` runs ``curation._waterfall_funnel`` and
``_waterfall_oracle``, ``q_stream_dsir_gate`` folds the bucket array
``corpus_ops._DSIR_BK_SQL`` that ``q_dsir_importance`` explodes, and
the PQ gates deploy their frozen models through ``finalize_bounded``.
The guard keeps second copies out of ``streaming_q.py``; the pins hold
the rows each gate and its batch twin returned before they shared code.
"""

from __future__ import annotations

import hashlib
import inspect
import os

import pytest

from azurestorage_blueprints_spark.oracle import compare, duckdb_connection
from azurestorage_blueprints_spark.queries import load_all, streaming_q

REGISTRY = load_all()

#: sha256 of repr(sorted rows) per (query, scale factor), with the row
#: count; computed while each gate still carried its own copy of the
#: batch body and deployed its model from Python
_ROW_PINS = {
    ("q_stream_curation_gate", "sf0.001"): (
        1, "b704b2187856ef422e280fac6f614bae53272ea0b50e6de026e5dad45114967a"
    ),
    ("q_stream_curation_gate", "sf0.01"): (
        1, "f72b83251c66d6b4b55d5014b86f03c44ed42cda9f2e18b3403269076c6935f3"
    ),
    ("q_stream_dsir_gate", "sf0.001"): (
        10, "7319e4f5ec350a9803d50c19999cfec50fac70f1e851e7f273fef9b777968573"
    ),
    ("q_stream_dsir_gate", "sf0.01"): (
        10, "6740735058c342f1352debfba2e15b4a7c352d983cd95bd381604d1422025ce1"
    ),
    ("q_stream_model_drift", "sf0.001"): (
        8, "0e469d68a7598573bf9c9c23a0edfac4d862c857d3e987d1e0e2c5660db340e5"
    ),
    ("q_stream_model_drift", "sf0.01"): (
        8, "166a94cbcf748d9666827d337ed18281484042fec05d91ca05283867b6b7bcee"
    ),
    ("q_curation_waterfall", "sf0.001"): (
        1, "7d1491bd1effd4de19b4b52b9e3cd170c27ec95262683d8cf5bebcf2b2cfa7b7"
    ),
    ("q_curation_waterfall", "sf0.01"): (
        1, "f32ec0b71bccbee635c12632afa05620823028cfd40cc519caec85ca6fa8d34b"
    ),
}


@pytest.mark.parametrize("name,sf", sorted(_ROW_PINS))
def test_shared_body_queries_keep_oracle_and_rows(spark, sf_dir, name, sf):
    d = os.path.join(os.path.dirname(sf_dir), sf)
    df = REGISTRY[name].fn(spark, d)
    rows = sorted(tuple(r) for r in df.collect())
    digest = hashlib.sha256(repr(rows).encode()).hexdigest()
    assert (len(rows), digest) == _ROW_PINS[(name, sf)]
    con = duckdb_connection(d)
    try:
        compare(df, con, REGISTRY[name].oracle)
    finally:
        con.close()
        spark.catalog.clearCache()


def test_gate_bodies_have_one_copy():
    """``streaming_q.py`` builds no DataFrame from Python rows, names
    none of the waterfall's per-document ints and spells no DSIR bucket
    hash; the curation and DSIR gates' oracles are their batch twins'
    texts over the arrival slice."""
    src = inspect.getsource(streaming_q)
    assert "createDataFrame(" not in src
    for piece in ("n_symbols", "max_tok_len", "n_alpha", "_DSIR_BIGRAM_MULT", "th[i + 1]",
                  "element_at(th, i + 1)"):
        assert piece not in src, piece
    from azurestorage_blueprints_spark.queries.corpus_ops import _dsir_prefix_sql
    from azurestorage_blueprints_spark.queries.curation import _waterfall_oracle

    assert REGISTRY["q_curation_waterfall"].oracle == _waterfall_oracle("documents")
    assert _waterfall_oracle("documents").split("FROM documents")[1] in (
        REGISTRY["q_stream_curation_gate"].oracle
    )
    assert REGISTRY["q_stream_dsir_gate"].oracle.startswith(
        _dsir_prefix_sql(" WHERE doc_id % 10 <> 0")
    )
