"""The generated-code cache holds the interactive mix's working set.

Spark's default cache keeps 100 generated classes, fewer than the ten
``analytics_mix`` queries need, so every rotation evicted classes the
next one compiled again. ``session.CODEGEN_CACHE_ENTRIES`` keeps them."""

from __future__ import annotations

import time

from perfbench.workloads import MIX_QUERIES

from big_data_competition_dxc_spark import plans
from big_data_competition_dxc_spark.plans import memos
from big_data_competition_dxc_spark.session import compiled_classes

from conftest import SF_TEST_DIR

plans.load_all()


def test_mix_rotation_compiles_nothing_once_warm(spark):
    """Three rotations of the mix's ten queries, one after another: by
    the third, every class the rotation needs is cached. Each rotation
    runs the builders: the registry's held answers would compile
    nothing on a repeat."""
    # the counter moves on a shape no earlier test compiled
    before = compiled_classes(spark)
    spark.range(3).selectExpr(f"id * {time.time_ns() % 10**9 + 7}").collect()
    assert compiled_classes(spark) > before

    compiles = []
    try:
        for _ in range(3):
            before = compiled_classes(spark)
            for q in MIX_QUERIES:
                plans.QUERIES[q].build(spark, SF_TEST_DIR).collect()
            compiles.append(compiled_classes(spark) - before)
    finally:
        memos.clear_all()
    assert compiles[2] == 0, compiles
