"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2.7 T5 extension; north-star "custom stateful operators").

The reference's only state is "last stored row" (main.py:101-103);
this generalizes to arbitrary per-key state with explicit timeout
semantics — the Structured Streaming shape for sessionization,
running counters, and dedup-with-TTL at scale (state lives in the
state store, partitioned by key, checkpointed per batch).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

COUNTER_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"
COUNTER_STATE_SCHEMA = "n bigint, total double"


def _count_events(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user running (count, sum) carried in the state store."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


def stateful_user_counter(events_stream: DataFrame) -> DataFrame:
    """Streaming plan: per-user running event counter with explicit
    state (update mode; no timeout — counters are eternal)."""
    return (
        events_stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _count_events,
            outputStructType=COUNTER_OUTPUT_SCHEMA,
            stateStructType=COUNTER_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

