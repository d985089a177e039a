"""Pins for the r14 optimization internals: ml/concurrency.py's
thread-pool fit submission, and the child sessions that hold a
request's confs (session.scoped), through which streaming/confscope.py
scopes state-partition counts."""

from __future__ import annotations

import pytest

from big_data_competition_dxc_spark.ml.concurrency import run_concurrently
from big_data_competition_dxc_spark.session import scoped


def test_results_preserve_input_order(spark):
    # Deliberately make earlier thunks slower: completion order is
    # reversed, result order must not be.
    import time

    def make(i):
        def t():
            time.sleep(0.2 * (3 - i))
            return i

        return t

    assert run_concurrently([make(i) for i in range(4)], spark) == [0, 1, 2, 3]


def test_single_thunk_runs_inline(spark):
    import threading

    main = threading.get_ident()
    assert run_concurrently([lambda: threading.get_ident()], spark) == [main]


def test_exceptions_propagate(spark):
    def boom():
        raise ValueError("fit failed")

    with pytest.raises(ValueError, match="fit failed"):
        run_concurrently([lambda: 1, boom, lambda: 2], spark)


def test_spark_actions_from_threads_are_correct(spark):
    counts = run_concurrently(
        [lambda n=n: spark.range(n).count() for n in (10, 20, 30, 40)], spark
    )
    assert counts == [10, 20, 30, 40]


SHUFFLE = "spark.sql.shuffle.partitions"
BLOOM = "spark.sql.optimizer.runtime.bloomFilter.enabled"


def test_scoped_child_carries_the_confs_and_the_parent_never_changes(spark):
    prev = spark.conf.get(SHUFFLE)
    child = scoped(spark, {SHUFFLE: "7"})
    assert child is not spark
    assert child.conf.get(SHUFFLE) == "7"
    assert spark.conf.get(SHUFFLE) == prev
    # a frame built on the child is planned under the child's confs
    plan = child.range(100).repartition("id")._jdf.queryExecution().executedPlan()
    assert "hashpartitioning(id#" in plan.toString() and ", 7)" in plan.toString()


def test_scoped_same_conf_set_returns_same_child(spark):
    a = scoped(spark, {SHUFFLE: "7", BLOOM: "true"})
    assert scoped(spark, {BLOOM: "true", SHUFFLE: "7"}) is a
    assert scoped(spark, {SHUFFLE: "6"}) is not a


def test_scoped_nested_scope_merges_its_confs(spark):
    outer = scoped(spark, {SHUFFLE: "7", BLOOM: "true"})
    inner = scoped(outer, {SHUFFLE: "5"})
    assert inner.conf.get(SHUFFLE) == "5"  # the inner scope's value wins
    assert inner.conf.get(BLOOM) == "true"  # the outer scope's conf holds
    assert outer.conf.get(SHUFFLE) == "7"
    # branched from the root: the same merged set from the root is the same child
    assert scoped(spark, {SHUFFLE: "5", BLOOM: "true"}) is inner


def test_run_concurrently_max_workers_override(spark):
    """Every thunk gets its own thread (the 4-branch cluster ensemble
    runs in one wave, not two)."""
    import threading
    import time

    def make(barrier):
        def t():
            # every thunk must reach the barrier together — only
            # possible when all 4 run concurrently
            barrier.wait(timeout=5)
            return threading.get_ident()

        return t

    barrier = threading.Barrier(4)
    ids = run_concurrently([make(barrier) for _ in range(4)], spark)
    assert len(set(ids)) == 4


def test_scaled_state_partitions_derive_from_bytes(spark, tmp_path):
    """Size-derived state partitioning (r15, guide §2 'derive from
    input size'): floor for tiny inputs, grows with bytes, capped at
    the session default — never a constant, never the core count."""
    from big_data_competition_dxc_spark.streaming.confscope import (
        scaled_state_partitions,
        state_scope,
    )

    small = tmp_path / "small.bin"
    small.write_bytes(b"x" * 1024)  # 1 KiB -> floor
    assert scaled_state_partitions(spark, str(small)) == 4

    big = tmp_path / "big.bin"
    big.write_bytes(b"x" * (9 << 20))  # 9 MiB / 4 MiB advisory -> 3 < floor 4
    assert scaled_state_partitions(spark, str(big)) == 4
    # grows with bytes once past the floor (still capped at the default)
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert scaled_state_partitions(
        spark, str(big), advisory_bytes=1 << 20
    ) == min(9, default)
    huge_n = scaled_state_partitions(spark, str(big), advisory_bytes=1)
    assert huge_n == default

    # directory inputs are walked; the scope's child holds the count
    # and the shared session keeps its own
    prev = spark.conf.get(SHUFFLE)
    child = state_scope(spark, scaled_state_partitions(spark, str(tmp_path)))
    assert child.conf.get(SHUFFLE) == "4"
    assert spark.conf.get(SHUFFLE) == prev
