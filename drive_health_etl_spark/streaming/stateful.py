"""Custom stateful streaming operator: per-key running aggregates via
``applyInPandasWithState`` (SURVEY.md §2.8 / guide's stateful pattern).

The reference keeps its only cross-request state in a module-global batch
queue (``src/batchProcessor.js:13-15``); the generalization a real tenant
pipeline needs is per-tenant running counters that survive micro-batches —
exactly Spark's arbitrary-stateful-processing surface. State is (count, sum,
max_ts) per key; each micro-batch emits the updated snapshot rows
('update'-style output through the append channel).

Scale notes: state lives in the state store partitioned by key (RocksDB
provider on a real cluster); one shuffle per batch on the grouping key; the
pandas function sees each key's batch rows as one DataFrame — Arrow-batched,
not per-row.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double, last_ts timestamp"
STATE_SCHEMA = "n long, total double, last_ts timestamp"


def _update_user_state(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, total, last_ts = state.get
    else:
        n, total, last_ts = 0, 0.0, None
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        batch_max = pdf["ts"].max()
        last_ts = batch_max if last_ts is None else max(last_ts, batch_max)
    state.update((n, total, last_ts))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [total], "last_ts": [last_ts]}
    )


def stateful_user_counters(events_stream: DataFrame) -> DataFrame:
    """Streaming DataFrame (user_id, ts, value, ...) -> per-user running
    (count, sum, last_ts) snapshots, one row per key per micro-batch."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _update_user_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_events(events_stream: DataFrame) -> DataFrame:
    """Emit each ``event_id`` once: the state store keeps seen ids until the
    1-hour event-time watermark passes them (``dropDuplicatesWithinWatermark``)."""
    return events_stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
