"""py4j call budget for plan construction.

Every ``F.*`` call or Column operator is one JVM round-trip, paid on
every run whatever the data size. The DSIR ingest gate once spent about
11,000 of them deploying a 256-entry model as Column literals; it now
deploys the fitted model as one folded SQL expression. A SQL-form query
(``register_sql``) builds its whole plan with one ``spark.sql`` call.
The SimHash rungs build their 62-64 per-bit votes and signature sum as
SQL text; as Column trees they sent about 10,200-10,800. The similarity
rungs build dot, norm, cosine, int8 and L2² folds as SQL text too, and
the text rungs their tokenizer, language scores, classifier indicators
and BM25 scorer. These gates keep that tax from creeping back.
"""

from __future__ import annotations

import pytest
from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

from azurestorage_blueprints_spark.queries import load_all

REGISTRY = load_all()

#: py4j commands ``q_stream_dsir_gate`` may send to build and run at
#: sf0.001 (model fit, deploy, stream replay and collect)
_DSIR_GATE_BUDGET = 2_000

#: py4j commands a SQL-form query may send to build its plan (register
#: the views it names, then one ``spark.sql``); the DataFrame builder it
#: replaced sent about 875
_SQL_BUILD_BUDGET = 25

#: py4j commands a SimHash rung may send to build its plan at sf0.001
_SIMHASH_BUILD_BUDGET = 2_500

#: py4j commands each similarity rung may send to build its plan at
#: sf0.001, about 110% of its count with the vector vocabulary as SQL
#: text; the Column-tree helpers sent 2,027-5,788 for these rungs
_SIMILARITY_BUILD_BUDGETS = {
    "q_eval_ndcg_knn": 735,
    "q_kcenter_sample": 465,
    "q_kmeans_train": 1_135,
    "q_knn_lsh": 135,
    "q_knn_nprobe_tradeoff": 475,
}


#: py4j commands each text rung may send to build its plan at sf0.001
#: (second build), about 110% of its count with the text vocabulary as
#: SQL text; as Column trees they sent 497-4,965
_TEXT_BUILD_BUDGETS = {
    "q_curation_waterfall": 86,
    "q_quality_classifier_train": 378,
    "q_retrieval_rrf": 468,
    "q_text_bm25": 125,
    "q_text_langid": 22,
}


#: py4j commands ``q_stream_ann_serving`` may send to build and replay
#: at sf0.001 once its arrivals are staged, about 110% of its count with
#: the serving constants built in the engine (611); the Python deploy
#: (collect, rebuild, createDataFrame) sent 656
_ANN_GATE_BUDGET = 672


@pytest.fixture
def py4j_calls(spark, monkeypatch):
    """A list of every py4j command the driver sends while the test
    runs; the gateway client is restored afterwards."""
    client = spark.sparkContext._gateway._gateway_client
    original = client.send_command
    calls: list[str] = []

    def send_command(command, *args, **kwargs):
        calls.append(command)
        return original(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", send_command)
    return calls


def _round_trips(calls: list[str]) -> list[str]:
    """``calls`` without proxy detaches: those are garbage from earlier
    tests, released by py4j whenever the collector runs, not round-trips
    the build makes."""
    detach = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
    return [c for c in calls if not c.startswith(detach)]


def test_stream_dsir_gate_stays_within_py4j_budget(spark, sf_dir, py4j_calls):
    rows = REGISTRY["q_stream_dsir_gate"].fn(spark, sf_dir).collect()
    assert rows
    assert len(py4j_calls) < _DSIR_GATE_BUDGET, len(py4j_calls)


def test_sql_form_query_builds_within_py4j_budget(spark, sf_dir, py4j_calls):
    REGISTRY["q01_pricing_summary"].fn(spark, sf_dir)
    calls = _round_trips(py4j_calls)
    assert len(calls) <= _SQL_BUILD_BUDGET, len(calls)


@pytest.mark.parametrize(
    "name", ["q_dedup_simhash", "q_dedup_simhash_portable", "q_dedup_simhash_audit"]
)
def test_simhash_rung_builds_within_py4j_budget(spark, sf_dir, py4j_calls, name):
    REGISTRY[name].fn(spark, sf_dir)
    calls = _round_trips(py4j_calls)
    assert len(calls) < _SIMHASH_BUILD_BUDGET, len(calls)


@pytest.mark.parametrize("name", sorted(_SIMILARITY_BUILD_BUDGETS))
def test_similarity_rung_builds_within_py4j_budget(spark, sf_dir, py4j_calls, name):
    REGISTRY[name].fn(spark, sf_dir)
    calls = _round_trips(py4j_calls)
    assert len(calls) < _SIMILARITY_BUILD_BUDGETS[name], len(calls)


def test_stream_ann_gate_stays_within_py4j_budget(spark, sf_dir, py4j_calls):
    fn = REGISTRY["q_stream_ann_serving"].fn
    fn(spark, sf_dir)  # stages the arrivals and any missing model table
    spark.catalog.clearCache()
    py4j_calls.clear()
    fn(spark, sf_dir)
    calls = _round_trips(py4j_calls)
    assert len(calls) < _ANN_GATE_BUDGET, len(calls)


@pytest.mark.parametrize("name", sorted(_TEXT_BUILD_BUDGETS))
def test_text_rung_builds_within_py4j_budget(spark, sf_dir, py4j_calls, name):
    fn = REGISTRY[name].fn
    fn(spark, sf_dir)
    spark.catalog.clearCache()
    py4j_calls.clear()
    fn(spark, sf_dir)
    calls = _round_trips(py4j_calls)
    assert len(calls) < _TEXT_BUILD_BUDGETS[name], len(calls)
