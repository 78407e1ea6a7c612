"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2.11 gap: the reference has no stateful operators at all).

Implements a per-user running engagement tracker: for every micro-batch the
operator updates (n_events, total_value, max_value) state per user_id and
emits the updated snapshot — the arbitrary-state primitive that windowed
aggs can't express (e.g. lifetime counters, per-key ML feature state).

State is a single tuple per key, bounded by key cardinality, not event
volume.

Note: Spark 4's newer ``transformWithStateInPandas`` API is present but its
Python state-server worker crashes in this container ("driver worker exited
unexpectedly" after the handshake, RocksDB provider included) — so the
stable ``applyInPandasWithState`` is the supported arbitrary-state surface
here; the TWS migration is mechanical when the runtime supports it.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)


def _update_user_state(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-key state update kernel: fold this batch's rows into the
    running (count, sum, max) tuple and emit the new snapshot."""
    n, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        mx = max(mx, float(pdf["value"].max()))
    state.update((n, total, mx))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "max_value": [mx],
        }
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Attach the stateful operator to a (streaming) events DataFrame.

    Keys never time out: a ``ProcessingTimeTimeout`` keeps the query
    waiting to fire timeouts, so ``processAllAvailable`` never returns
    under Trigger.AvailableNow (observed hang on Spark 4.1.2)."""
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_state,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
