"""Custom stateful streaming operator via ``applyInPandasWithState``.

The escape hatch for stateful semantics Spark's built-in operators
can't express (SURVEY §2.9 flags this as our extension surface; the
session_window and tumbling-window queries cover the built-in paths).
Demonstrated with per-user running totals: the state row is
(n_events, total_value) per user, updated per Arrow batch, emitted in
update mode. On the bounded fixture (one availableNow microbatch) the
emitted updates equal the batch aggregate, so the query carries a full
DuckDB oracle — the plumbing (state schema, Arrow batching, timeout
config, update emission) is exactly what a 100 TB unbounded deployment
would run.

Scale notes: state is one tiny row per user in the state store,
partitioned by the grouping key; Arrow moves rows Python-side in
batches (the documented slow path — used here precisely because the
OPERATOR is custom, not the aggregation).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.rounding import sql_fixed_sum
from ..plans.registry import query


def _update_user_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold each Arrow batch into the (n, cents) state row; emit the
    running total after the batch (update mode). The value sum is
    accumulated as EXACT INTEGER CENTS (same fixed_sum discipline as
    the batch engine): a float fold's last ulp depends on row order
    within the Arrow batch, which the oracle's hash compare would see."""
    import numpy as np

    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(
            np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype("int64").sum()
        )
    state.update((n, cents))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [cents / 100.0],
        }
    )


@query(
    "stateful_user_totals",
    oracle=f"""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_fixed_sum('value', 2, 2)} AS total_value
FROM events
GROUP BY user_id
""",
    tags=("streaming", "pandas-udf", "stateful"),
    writes=True,
)
def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState per-user totals, drained with availableNow
    into a memory sink. One microbatch over the bounded fixture means
    one update per user == the batch aggregate (the oracle)."""
    from .rollup_stream import drain_to_memory, staged_events_stream

    stream, stage = staged_events_stream(spark, sf_dir)
    stream = stream.select("user_id", "value")
    updated = stream.groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, v bigint",  # v = exact integer cents
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    rows = drain_to_memory(updated, stage, "update")
    return spark.createDataFrame(
        rows, "user_id bigint, n_events bigint, total_value double"
    )
