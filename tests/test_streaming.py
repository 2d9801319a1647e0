"""Structured Streaming tests over the replay path the registered
streaming rungs use (queries/streaming_q.py): events staged as
time-ordered chunks, the shared file source, and the streaming sinks."""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys

from pyspark.sql import functions as F

from azurestorage_blueprints_spark.queries import streaming_q as SQ
from azurestorage_blueprints_spark.streaming import windows as SW
from azurestorage_blueprints_spark.tables import table


def test_streaming_dedup_drops_replayed_files(spark, sf_dir, tmp_path):
    # duplicate every staged chunk → every event arrives twice
    path, schema = SQ._stage_source(spark, sf_dir, "events")
    dup_dir = tmp_path / "dup_src"
    dup_dir.mkdir()
    for i, f in enumerate(sorted(glob.glob(f"{path}/c*/part-*.parquet"))):
        shutil.copy(f, dup_dir / f"a{i}.parquet")
        shutil.copy(f, dup_dir / f"b{i}.parquet")
    stream = SQ._file_stream(spark, (str(dup_dir), schema))
    result = SW.run_to_memory(SW.streaming_dedup(stream))
    ids = [r.event_id for r in result.collect()]
    assert len(ids) == len(set(ids)), "duplicate event_ids survived streaming dedup"
    assert len(ids) > 0


def test_foreach_batch_sink_sees_all_rows(spark, sf_dir):
    stream = SQ._file_stream(spark, SQ._stage_source(spark, sf_dir, "events"))
    seen = []
    SW.run_foreach_batch(
        stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
        lambda df, epoch: seen.append((epoch, {r.event_type: r.n for r in df.collect()})),
    )
    assert seen, "foreachBatch sink never invoked"
    # final epoch's counts must cover all five event types
    final = seen[-1][1]
    assert sum(final.values()) > 0


def test_stateful_running_totals(spark, sf_dir):
    """applyInPandasWithState: per-user totals accumulated across
    micro-batches must equal the batch groupBy answer exactly."""
    from azurestorage_blueprints_spark.streaming.stateful import running_user_cent_totals

    stream = SQ._file_stream(spark, SQ._stage_source(spark, sf_dir, "events"))
    result = SW.run_to_memory(running_user_cent_totals(stream), output_mode="update")
    # update mode emits one row per (user, batch); n_events only grows,
    # so the max-n_events emission per user carries the lifetime totals
    rows = result.collect()
    assert rows, "stateful operator emitted nothing"
    final = {}
    for r in rows:
        final[r.user_id] = max(final.get(r.user_id, (0, 0)), (r.n_events, r.total_cents))
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")
    batch = {
        r.user_id: (r.n, r.cents)
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents"))
        .collect()
    }
    assert final == batch


def test_replay_root_removed_at_exit(spark, sf_dir):
    """Staged sources live under one per-process root that the exit
    hook removes, together with the staging cache."""
    path, _ = SQ._stage_source(spark, sf_dir, "events")
    root = SQ._REPLAY_ROOT
    assert root and path.startswith(root + os.sep)
    SQ._remove_replay_root()
    assert not os.path.exists(root)
    assert not SQ._STAGED and SQ._REPLAY_ROOT is None
    # the hook is registered with atexit: a fresh interpreter's root is
    # gone once it exits
    code = (
        "from azurestorage_blueprints_spark.queries import streaming_q as m; "
        "print(m._replay_root())"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, check=True
    ).stdout.strip()
    assert out and not os.path.exists(out)


def test_gate_checkpoint_recovery(spark, sf_dir, tmp_path):
    """Production ingest RESTARTS: a gate stopped mid-replay (after ~2
    of its 4 micro-batches, checkpointLocation on disk) and restarted
    from the same checkpoint must recover its aggregation state and
    produce the exact full-replay funnel — the state-store recovery
    property 100 TB ingest actually needs. The single-run replay the
    registered rungs use never exercises it."""
    import time

    from azurestorage_blueprints_spark.queries.streaming_q import _ppl_gate_stream

    ckpt = str(tmp_path / "gate_ckpt")

    def start(name):
        return (
            _ppl_gate_stream(spark, sf_dir)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = start("gate_recovery_a")
    try:
        # stop mid-replay: wait until at least batch 1 (the 2nd of 4
        # micro-batches) has committed, then kill the query
        deadline = time.time() + 180
        while time.time() < deadline:
            lp = q1.lastProgress
            if lp is not None and lp["batchId"] >= 1:
                break
            time.sleep(0.25)
        else:
            raise AssertionError("gate never committed its 2nd micro-batch")
    finally:
        q1.stop()
    batches_before = q1.lastProgress["batchId"] + 1
    assert batches_before < 4, "stop raced past the full replay — not a recovery test"

    # restart from the SAME checkpoint: offsets + state store recover,
    # the remaining micro-batches stream in, complete mode rebuilds the
    # full funnel table
    q2 = start("gate_recovery_b")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    import json

    resumed_first = json.loads(q2.recentProgress[0].json)["batchId"]
    assert resumed_first >= batches_before - 1, (
        f"restart reprocessed from batch {resumed_first}, "
        f"not from the checkpointed offset {batches_before}"
    )
    got = sorted(map(tuple, spark.sql("SELECT * FROM gate_recovery_b").collect()))

    # batch oracle: the registered rung's single uninterrupted replay
    from azurestorage_blueprints_spark.queries import load_all

    want = sorted(
        map(tuple, load_all()["q_stream_perplexity_gate"].fn(spark, sf_dir).collect())
    )
    assert got == want, "recovered funnel diverged from the uninterrupted replay"
