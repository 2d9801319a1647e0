"""Structured Streaming building blocks shared by the streaming rungs
(queries/streaming_q.py): the watermarked dedup step and the sinks that
drive a finite replay to completion.

Late-data contract:
- aggregations carry ``withWatermark(ts, ...)`` so state is bounded —
  the condition for running forever on an unbounded stream;
- ``dropDuplicates`` with watermark gives at-most-once per event_id
  within the watermark horizon (streaming exact dedup);
- append output mode emits a window only after the watermark passes
  its end — results are final, never retracted.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Exactly-once event stream: drop duplicate event_ids within the
    watermark horizon (streaming exact dedup with bounded state)."""
    return events.withWatermark("ts", "30 minutes").dropDuplicates(["event_id"])


#: per-micro-batch progress of the most recent run_to_memory query
#: (r10 verdict task 7): the replayed gates quote a 4-micro-batch
#: TOTAL; this exposes each batch's batchId/durationMs so the
#: "marginal cost is one micro-batch" claim is measured, not asserted
#: (zero effect on semantics — recentProgress is collected by Spark
#: regardless).
LAST_PROGRESS: list[dict] = []


#: shuffle/state partition count for streaming runs (r12, guide §2.2):
#: a streaming aggregation's state is partitioned by
#: spark.sql.shuffle.partitions AT QUERY START, and every micro-batch
#: pays one task launch + one state-store load/commit PER PARTITION.
#: The registry gates keep O(langs x buckets) ≈ O(10-100) state rows,
#: so state partitions sized to the batch session's scan parallelism
#: (cores locally, hundreds on a cluster) multiply pure per-batch
#: overhead: at 32 partitions a 4-batch replay commits 128 state files
#: to move ~40 state rows. 4 partitions is sized to the state
#: cardinality and stays fixed as cores scale. It was measured on a
#: quiet box across 6 gates (3 light, 3 with real per-batch shuffle
#: work) at 8/4/2/1: monotone ~0.3-0.6 s/gate better from 8 to 4 on
#: EVERY gate, while 2 inverts on the gates whose batches do real
#: shuffle work (ann_serving 3.78 vs 3.55 med) — 4 is the knee, keeping
#: a little intra-batch parallelism headroom above the O(10-100)-row
#: state. Production ingest with high-cardinality keyed state (e.g. the
#: dedup gate's event_id space) would size it to its throughput.
STREAM_SHUFFLE_PARTITIONS = 4

#: base directory for the replay harness's EPHEMERAL checkpoints
#: (r12, guide §1.2 fixed overheads): every micro-batch fsyncs the
#: offset log, commit log and state-store files into the checkpoint
#: dir, and run_to_memory's checkpoint is temporary BY DESIGN — it is
#: deleted the moment the finite replay stops, so those fsyncs land on
#: whatever /tmp sits on (a disk here) for no durability benefit.
#: Default: tmpfs when the platform has one, else Spark's normal temp
#: checkpoint. Production ingest durability is an EXPLICIT
#: checkpointLocation on the query (the checkpoint-recovery test pins
#: that path) and is unaffected by this knob.
STREAM_CKPT_BASE = os.environ.get(
    "SPARK_GRAFT_STREAM_CKPT_BASE", "/dev/shm" if os.path.isdir("/dev/shm") else ""
)


def run_to_memory(
    stream_df: DataFrame, output_mode: str = "append", *cached: DataFrame
) -> DataFrame:
    """Drive a streaming DataFrame to completion against its current
    source contents; results land in a uniquely named in-memory table.
    Returns the materialized batch DataFrame.

    ``cached`` are the persisted static sides of the stream; they are
    released once the replay ends, a failed replay included (the
    :func:`~azurestorage_blueprints_spark.queries.finalize_bounded`
    convention).

    The session's shuffle-partition count is lowered to
    :data:`STREAM_SHUFFLE_PARTITIONS` for the duration of the stream
    (state partitioning is captured at query start) and restored
    afterwards — state tasks are sized to state cardinality, batch
    plans keep the session's scan-parallelism-sized setting."""
    import json as _json
    import shutil
    import tempfile

    spark = stream_df.sparkSession
    name = f"t_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS))
    ckpt = (
        tempfile.mkdtemp(prefix="sg_ckpt_", dir=STREAM_CKPT_BASE)
        if STREAM_CKPT_BASE
        else None
    )
    try:
        w = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
        )
        if ckpt:
            w = w.option("checkpointLocation", ckpt)
        q = w.start()
        try:
            q.processAllAvailable()
        finally:
            try:
                LAST_PROGRESS[:] = [_json.loads(p.json) for p in q.recentProgress]
            except Exception:  # instrumentation must never fail the query
                LAST_PROGRESS[:] = []
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)
        for df in cached:
            df.unpersist()
    return spark.sql(f"SELECT * FROM {name}")


def run_foreach_batch(stream_df: DataFrame, sink):
    """Exactly-once custom sink via foreachBatch: ``sink(df, epoch_id)``
    is invoked per micro-batch (the production pattern for writing to
    stores without a native streaming sink)."""
    q = stream_df.writeStream.foreachBatch(sink).outputMode("update").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
