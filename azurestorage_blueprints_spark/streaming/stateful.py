"""Custom stateful streaming operators via ``applyInPandasWithState``.

Where the built-in windows cover time-bucketed aggregation,
``applyInPandasWithState`` is the escape hatch for operator semantics
Spark has no primitive for: per-key mutable state carried across
micro-batches with explicit timeout control. The state schema is
declared up front, so Spark shuffles each key to a stable partition and
snapshots state to the checkpoint — at 100 TB this is the same
bounded-state story as watermarked windows, with state size = O(distinct
keys), not O(events).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

CENT_TOTALS_SCHEMA = "user_id bigint, n_events bigint, total_cents bigint"


def running_user_cent_totals(events: DataFrame) -> DataFrame:
    """Per-user lifetime running totals (count + value sum), updated
    every micro-batch — the canonical custom-stateful shape: the
    aggregate never expires, so no built-in window expresses it. The
    running value sum is kept in CENTS (``floor(v*100+0.5)``, the
    engine-wide exact quantizer), so the per-key state is order-insensitive integers and
    the final state equals the batch aggregate bit-for-bit — which is
    what lets the registry oracle-check a custom stateful operator
    instead of settling for a rows-only smoke test. The closure is
    self-contained (numpy/pandas only): a plain driver session's Python
    workers see the pickled closure, not the repo's sys.path."""

    def update(key, pdfs: Iterator, state: GroupState) -> Iterator:
        import numpy as np
        import pandas as pd

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # mask nulls (NaN) BEFORE the int cast: floor(NaN) stays NaN
            # and NaN.astype(int64) is undefined garbage — SQL sum()
            # skips nulls while count(*) counts the row, so match that
            v = pdf["value"].to_numpy()
            v = v[~np.isnan(v)]
            cents += int(np.floor(v * 100.0 + 0.5).astype(np.int64).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=CENT_TOTALS_SCHEMA,
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
