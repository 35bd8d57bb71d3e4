"""transformWithState stateful streaming (Spark 4 API tier).

``applyInPandasWithState`` (streaming/stateful.py) is the legacy
arbitrary-state API; Spark 4 replaces it with ``transformWithState``
/ ``transformWithStateInPandas`` — a richer model with typed value/
list/map state handles, timers, and TTL.  This module covers that
surface with a per-key running-aggregate processor: each micro-batch
updates a ValueState with the cumulative (count, sum) per key and
emits the refreshed totals — the streaming twin of a grouped
aggregate, but with state the processor owns explicitly (the shape
every custom operator — rate limiters, anomaly trackers, CDC
conflators — builds on).

State is per-key and partitioned by the shuffle, so the operator
scales exactly like a streaming aggregate: state volume ∝ distinct
keys, per-batch work ∝ arriving rows; checkpointing gives the same
kill/recover guarantees as the stateful.py tests prove for the
legacy API.

Runtime requirements: the RocksDB state store provider
(``spark.sql.streaming.stateStore.providerClass``) and the
``google.protobuf`` package for the TWS python worker's state-server
protocol — the latter is absent in this container, so the end-to-end
test (tests/test_streaming.py) is import-gated, the same policy as
the codec-dependent multimodal kernels.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

__all__ = ["running_totals_tws"]

OUTPUT_SCHEMA = "event_type string, cnt bigint, value_sum double"


class RunningTotalsProcessor(StatefulProcessor):
    """Cumulative per-key count + value sum across micro-batches.

    Sums accumulate exact integer cents (value * 100 rounded) inside
    the state so replay order cannot perturb the float total."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("totals", "cnt bigint, cents bigint")

    def handleInputRows(
        self, key, rows, timerValues
    ) -> Iterator[pd.DataFrame]:
        prior = self._state.get()
        cnt, cents = (prior[0], prior[1]) if prior is not None else (0, 0)
        for pdf in rows:
            cnt += len(pdf)
            cents += int(round(float(pdf["value"].sum()) * 100))
        self._state.update((cnt, cents))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "cnt": [cnt],
                "value_sum": [cents / 100.0],
            }
        )

    def close(self) -> None:
        pass


def running_totals_tws(events: DataFrame) -> DataFrame:
    """Apply the running-totals processor per event_type (update
    mode, no timers)."""
    return events.groupBy("event_type").transformWithStateInPandas(
        RunningTotalsProcessor(),
        OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
