"""scripts/measure.py: the one timing script, on the benchmark's per-query
timer.

A mistyped name must stop the sweep before anything runs, the reported
median must be the true median for even sample counts, and every run
of a streaming gate must carry its per-batch durations and layer split.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

_SPEC = importlib.util.spec_from_file_location(
    "measure", os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "measure.py")
)
measure = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(measure)


@pytest.fixture
def measure_env(spark, sf_dir, monkeypatch):
    """Point the script at the test tables and at the session fixture's
    core count, so ``get_spark`` hands back the shared session unchanged."""
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(spark.sparkContext.defaultParallelism))
    return spark


def test_unknown_name_exits_before_any_query_runs(measure_env, capsys, tmp_path):
    out = tmp_path / "m.json"
    with pytest.raises(SystemExit) as exc:
        measure.main(["q01_pricing_summary", "q_no_such_query", "--json", str(out)])
    assert exc.value.code != 0
    captured = capsys.readouterr()
    assert "q_no_such_query" in captured.err
    assert "q01_pricing_summary" not in captured.out
    assert not out.exists()


def test_gate_profile_reports_true_median_batches_and_layers(measure_env, tmp_path):
    out = tmp_path / "m.json"
    assert measure.main(["q_stream_forget_gate", "--runs", "2", "--json", str(out)]) == 0
    rec = json.loads(out.read_text())["queries"]["q_stream_forget_gate"]
    assert "err" not in rec, rec
    wall = rec["wall_s"]
    assert len(wall["samples"]) == 2
    assert wall["median"] == pytest.approx(sum(wall["samples"]) / 2)
    assert len(rec["batches_ms"]) == 2
    assert all(run for run in rec["batches_ms"])
    assert rec["layers"]["queries.py4j_calls"] > 0
    assert rec["layers"]["queries.exec_s"] > 0


def test_gate_plan_is_the_streaming_plan(measure_env, tmp_path):
    """``--plan`` on a streaming gate writes the plan of the stream it
    replays (its file source), not the scan of the memory table."""
    assert measure.main(["q_stream_forget_gate", "--runs", "1", "--plan", str(tmp_path)]) == 0
    plan = (tmp_path / "q_stream_forget_gate.txt").read_text()
    assert "StreamingRelation" in plan and "FileSource[" in plan, plan[:2000]
