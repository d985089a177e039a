"""Typed-state streaming operator via ``transformWithStateInPandas``.

The current-generation stateful API (Spark 4 StatefulProcessor: named
state variables, timers, TTL, schema evolution) beside the older
``applyInPandasWithState`` operator in streaming/stateful.py. Same
demonstrated semantics — per-user running totals in exact integer
cents — so on the bounded fixture (one availableNow microbatch) the
emitted updates equal the batch aggregate and the query carries the
same full DuckDB oracle as `stateful_user_totals`.

CONTAINER GATE (why registration is conditional): the PySpark 4.1.2 in
this image ships the full ``transformWithStateInPandas`` API surface,
but its state-server wire protocol is protobuf-based — the Python
worker imports ``google.protobuf`` at stream start
(``pyspark/sql/streaming/proto/...``), and this container has no
protobuf installed, so execution dies with
``ImportError: cannot import name 'descriptor'``. The operator is
therefore registered ONLY when ``google.protobuf`` imports, and its
test auto-activates via ``pytest.importorskip`` the moment the runtime
image gains the dependency. ``applyInPandasWithState``
(streaming/stateful.py) needs no protobuf and remains the
always-available custom-stateful path.

Scale notes: identical to stateful.py — one tiny named-state row per
user in the state store, partitioned by the grouping key; Arrow moves
rows Python-side in batches. The typed API additionally lets a 100 TB
deployment attach per-key TTL (state eviction without a manual timeout
dance) and evolve the state schema in place.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from ..functions.rounding import sql_fixed_sum
from ..plans.registry import query

try:  # the typed-state wire protocol needs protobuf (see module doc)
    import google.protobuf  # noqa: F401

    TYPED_STATE_AVAILABLE = True
except ImportError:
    TYPED_STATE_AVAILABLE = False


class UserTotalsProcessor(StatefulProcessor):
    """Named ValueState ("totals": n events, exact integer cents),
    folded per Arrow batch, running total emitted in update mode — the
    same exact-integer discipline as stateful.py's fold: a float
    accumulation's last ulp depends on row order within the batch,
    which the oracle's hash compare would see."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState("totals", "n BIGINT, v BIGINT")

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        n, cents = self._totals.get() if self._totals.exists() else (0, 0)
        for pdf in rows:
            n += len(pdf)
            cents += int(
                np.floor(pdf["value"].to_numpy() * 100.0 + 0.5)
                .astype("int64")
                .sum()
            )
        self._totals.update((n, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [cents / 100.0],
            }
        )

    def close(self) -> None:
        pass


def typed_state_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas per-user totals, drained with
    availableNow into a memory sink. One microbatch over the bounded
    fixture means one update per user == the batch aggregate."""
    from .rollup_stream import drain_to_memory, staged_events_stream

    with staged_events_stream(spark, sf_dir) as stream:
        stream = stream.select("user_id", "value")
        updated = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=UserTotalsProcessor(),
            outputStructType="user_id bigint, n_events bigint, total_value double",
            outputMode="update",
            timeMode="none",
        )
        return drain_to_memory(spark, updated, "update")


if TYPED_STATE_AVAILABLE:
    query(
        "typed_state_user_totals",
        oracle=f"""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_fixed_sum('value', 2, 2)} AS total_value
FROM events
GROUP BY user_id
""",
        tags=("streaming", "pandas-udf", "stateful", "typed-state"),
        writes=True,
    )(typed_state_user_totals)
