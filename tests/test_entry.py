"""Smoke test of the driver contract in __spark_entry__.py."""

from __future__ import annotations

import importlib
import pkgutil
import sys

import pytest

import big_data_competition_dxc_spark as pkg
from big_data_competition_dxc_spark import plans


def test_entry_contract(spark):
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "user_id" in df.columns and "n_click" in df.columns

    # importing the contract ran load_all(): every module of the package
    # is imported, and the contract is a view of the whole registry
    found = {m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")}
    assert found and found <= set(sys.modules)
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert set(qs) == set(plans.QUERIES)
    assert set(oracles) == {n for n, e in plans.QUERIES.items() if e.oracle is not None}
    assert all(oracles[n] == plans.QUERIES[n].oracle for n in oracles)
    assert "daily_rollup" in qs and "daily_rollup" in oracles


class _Unimportable:
    """Meta-path finder that fails the import of one module name."""

    def __init__(self, name: str) -> None:
        self.name = name

    def find_spec(self, fullname, path=None, target=None):
        if fullname == self.name:
            raise ImportError(f"injected failure importing {fullname}")
        return None


@pytest.mark.parametrize(
    "broken",
    [
        "big_data_competition_dxc_spark.operators.rollup",  # leaf module
        "big_data_competition_dxc_spark.streaming",  # subpackage
    ],
)
def test_load_all_surfaces_import_errors(monkeypatch, broken):
    """A module that fails to import must fail load_all(), never shrink
    the registry quietly — for a subpackage too, whose ImportError
    ``pkgutil.walk_packages`` would swallow."""
    plans.load_all()  # imports `broken`, so delitem has an entry to restore
    monkeypatch.delitem(sys.modules, broken)
    monkeypatch.setattr(sys, "meta_path", [_Unimportable(broken), *sys.meta_path])
    with pytest.raises(ImportError, match="injected failure"):
        plans.load_all()


def test_central_memo_registry_clears_everything(spark):
    """Every session memo lives in the one central store of
    plans/memos.py, so one clear_all() releases them all — a
    free-floating module-level cache is the r8-advice leak class.
    Builds the simhash pair set and the ratings memo, asserts both sit
    in the store cached, then that clear_all empties the store and
    releases their blocks, and that a rebuild after clearing works."""
    from pyspark import StorageLevel

    from big_data_competition_dxc_spark.ml import recommend
    from big_data_competition_dxc_spark.plans import memos
    from conftest import SF_TEST_DIR

    plans.load_all()

    def stored() -> set[str]:
        return {k[0] for k in memos._MEMOS}

    pairs = plans.QUERIES["simhash_neardup_pairs"].fn(spark, SF_TEST_DIR)
    pairs.count()
    ratings = recommend.cached_ratings(spark, SF_TEST_DIR)
    ratings.count()
    assert {"simhash_pairs", "ratings"} <= stored()
    assert pairs.storageLevel != StorageLevel.NONE
    assert ratings.storageLevel != StorageLevel.NONE
    memos.clear_all()
    assert not memos._MEMOS
    assert pairs.storageLevel == StorageLevel.NONE
    assert ratings.storageLevel == StorageLevel.NONE
    # second build after clearing must work (no stale state)
    plans.QUERIES["simhash_neardup_pairs"].fn(spark, SF_TEST_DIR).count()
    assert "simhash_pairs" in stored()
    memos.clear_all()
