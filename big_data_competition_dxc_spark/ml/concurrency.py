"""Concurrent submission of independent driver-orchestrated fits.

The ML batteries (ML4/ML5/ML6/ML10) train one model per target/cluster
in a driver loop. Each fit is internally sequential (boosting
iterations, tree levels), but the fits are INDEPENDENT — and at
fixture scale each one is dominated by driver-side job-orchestration
latency over many tiny stages, so run serially they leave the executor
pool idle most of the wall (guide §2.6 "Overlap independent jobs":
actions are only sequential because driver code calls them
sequentially). Submitting them from a small thread pool lets each
fit's tiny stages back-fill the cores the others leave idle.

Determinism is untouched: every fit sees the same input rows and the
same seed regardless of scheduling, so the models — and every audited
scalar derived from them — are bit-identical to the serial loop
(tests/test_ml.py pins this across runs). ``inheritable_thread_target``
is the documented PySpark way to run driver threads so JVM thread-local
properties (job descriptions/groups) are inherited and cleaned up.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Sequence, TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")


def run_concurrently(
    thunks: Sequence[Callable[[], T]],
    spark: SparkSession | None = None,
) -> list[T]:
    """Run independent thunks on driver threads, all at once; results
    in input order.

    Exceptions propagate (first failing thunk raises at its position).
    A single thunk runs inline — no pool, no thread overhead. Passing
    the session lets ``inheritable_thread_target`` also inherit session
    tags (and silences its advisory warning when one is active). Every
    caller submits 2 to 5 thunks, so the pool has one thread per
    thunk: a cap below that would only add a second wave that waits
    out the longest thunk again.
    """
    if len(thunks) <= 1:
        return [t() for t in thunks]
    session = spark or SparkSession.getActiveSession()
    wrap = (
        inheritable_thread_target(session)
        if session is not None
        else inheritable_thread_target
    )
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(wrap(t)) for t in thunks]
        return [f.result() for f in futures]
