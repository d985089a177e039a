"""Switchable result checkpointing, so plan audits see real plans.

Several queries end with ``localCheckpoint(eager=True)`` to materialize
their (small) result on the executors while upstream caches are hot.
Checkpointing truncates lineage, which means ``df.explain`` on the
returned frame shows a bare ``Scan ExistingRDD`` — round 4's PLANS.md
audited `knn_user_recommend` as 0 scans / 0 joins / 0 exchanges, making
the slowest headline query invisible to plan review.

``result_checkpoint`` is the one place final-result checkpoints go
through: scripts/gen_plan_audit.py sets ``SPARK_GRAFT_NO_CHECKPOINT=1``
so the audited DataFrame keeps its full lineage (the real scan / join /
exchange profile), while every other consumer (driver, perfbench, tests)
gets the executor-side materialization unchanged.

ITERATIVE checkpoints (dedup/clustering.py's per-iteration lineage
truncation) deliberately do NOT go through this switch: there the
checkpoint is part of the algorithm (plans would grow with iteration
count), not a final-result materialization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def result_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` unless SPARK_GRAFT_NO_CHECKPOINT
    is set (plan-audit mode: keep lineage so .explain is honest)."""
    if os.environ.get("SPARK_GRAFT_NO_CHECKPOINT"):
        return df
    return df.localCheckpoint(eager=eager)
