"""py4j call budget for plan construction.

Every ``F.*`` call or Column operator is one JVM round-trip, paid on
every run whatever the data size. The DSIR ingest gate once spent about
11,000 of them deploying a 256-entry model as Column literals; it now
deploys the fitted model as one folded SQL expression. This gate keeps
that tax from creeping back.
"""

from __future__ import annotations

import pytest

from azurestorage_blueprints_spark.queries import load_all

REGISTRY = load_all()

#: py4j commands ``q_stream_dsir_gate`` may send to build and run at
#: sf0.001 (model fit, deploy, stream replay and collect)
_DSIR_GATE_BUDGET = 2_000


@pytest.fixture
def py4j_calls(spark, monkeypatch):
    """A one-element list counting every py4j command the driver sends
    while the test runs; the gateway client is restored afterwards."""
    client = spark.sparkContext._gateway._gateway_client
    original = client.send_command
    calls = [0]

    def send_command(*args, **kwargs):
        calls[0] += 1
        return original(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", send_command)
    return calls


def test_stream_dsir_gate_stays_within_py4j_budget(spark, sf_dir, py4j_calls):
    rows = REGISTRY["q_stream_dsir_gate"].fn(spark, sf_dir).collect()
    assert rows
    assert py4j_calls[0] < _DSIR_GATE_BUDGET, py4j_calls[0]
