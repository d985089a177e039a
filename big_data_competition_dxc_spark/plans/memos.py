"""Session memos (canonical DataFrames and table relations) and the one
release call.

Several query families derive one expensive canonical intermediate that
multiple registered queries consume: the music feature table
(ml/regression), the ratings matrix and its cosine pairs (ml/recommend),
the minhash shingle/band/size frames and the simhash and Jaccard pair
sets (dedup/). Production runs each derivation once per input; every
such memo goes through ``memoized``. The same store holds each fixture
table's resolved relation (``sources.load``, ``cache=False``): the frame
is kept uncached, so a warm lookup saves the parquet footer read and
nothing is materialized.

The contract:
- memos hold PARAMETERLESS canonical derivations only — a forced or
  parameterized variant must never be served from, or stored into, one;
- an entry is keyed ``(name, applicationId, sf_dir)`` and valid only for
  the input identity it was built from (name, size and ``mtime_ns`` of
  every entry under ``sf_dir``, descending into table directories): a
  table rewritten under the same path is rebuilt, and a stale cached
  frame is unpersisted first, because Spark's CacheManager matches
  cached data by plan and would otherwise serve the old blocks to the
  rebuilt scan;
- each key has its own lock, so concurrent callers of one memo build it
  once; a memo may build on another memo (locks nest outer-to-inner,
  never the reverse; a relation builds on nothing, so its lock is
  always innermost);
- a waiter or later caller served a cached memo counts as a warm hit;
  one served an uncached relation does not, because the benchmarks read
  the count to tell memo-warm readings from standalone query cost;
- plan-audit mode (``SPARK_GRAFT_NO_CHECKPOINT``) bypasses them: the
  build runs uncached and nothing is stored (a cache is a
  materialization barrier that hides the pipeline from ``.explain``);
- ``clear_all()`` is a teardown call: it forgets every memo and releases
  every cached frame and persisted RDD of the live context, including
  ``localCheckpoint`` blocks, and every JVM object held only by Python
  garbage. Frames returned before it are invalid after it.
"""

from __future__ import annotations

import gc
import os
import threading
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

_Key = tuple[str, str, str]  # (name, applicationId, sf_dir)

_LOCK = threading.Lock()  # guards the three globals below
_MEMOS: dict[_Key, tuple[tuple, DataFrame]] = {}  # key -> (input identity, frame)
_KEY_LOCKS: dict[_Key, threading.Lock] = {}

#: Count of cached-memo lookups served warm since the last ``consume_warm_hits``
#: — the benchmarks read it to tell memo-warm readings from standalone
#: query cost.
_WARM_HITS = 0


def _input_identity(path: str) -> tuple:
    """Name, size and mtime of every entry under ``path``. It descends
    into directories: Spark's writer stores a table as a directory, and
    a part file rewritten in place leaves the directory's own size and
    mtime as they were."""
    with os.scandir(path) as it:
        return tuple(
            sorted(
                (
                    e.name,
                    e.stat().st_size,
                    e.stat().st_mtime_ns,
                    _input_identity(e.path) if e.is_dir() else (),
                )
                for e in it
            )
        )


def memoized(
    name: str,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], DataFrame],
    *,
    cache: bool = True,
) -> DataFrame:
    """``build()`` stored once per (session, ``sf_dir``, input identity)
    under ``name``, and cached unless ``cache`` is false; see the module
    docstring for the contract."""
    global _WARM_HITS
    if os.environ.get("SPARK_GRAFT_NO_CHECKPOINT"):
        return build()
    app = spark.sparkContext.applicationId
    key = (name, app, sf_dir)
    identity = _input_identity(sf_dir)
    with _LOCK:
        # cached frames pin their (possibly stopped) session: drop other
        # sessions' entries (their blocks died with their executors)
        for k in [k for k in _KEY_LOCKS if k[1] != app]:
            _MEMOS.pop(k, None)
            del _KEY_LOCKS[k]
        key_lock = _KEY_LOCKS.setdefault(key, threading.Lock())
    with key_lock:
        with _LOCK:
            entry = _MEMOS.get(key)
            if entry is not None and entry[0] == identity:
                if cache:
                    _WARM_HITS += 1
                return entry[1]
        if cache and entry is not None:
            entry[1].unpersist()
        df = build()
        if cache:
            df = df.cache()
        with _LOCK:
            _MEMOS[key] = (identity, df)
        return df


def consume_warm_hits() -> int:
    """Return the warm-hit count since the previous call and reset it."""
    global _WARM_HITS
    with _LOCK:
        n, _WARM_HITS = _WARM_HITS, 0
    return n


def clear_all() -> None:
    """Session teardown: forget every memo, then release every cached
    frame and every persisted RDD (``localCheckpoint`` blocks included)
    of the live context. Without a live context there is nothing left
    to release: a stopped session's blocks died with it.

    It also runs Python's cycle collector. Every py4j proxy a method
    was called on sits in a reference cycle, and until the collector
    frees it the JVM keeps its object alive: a finished query's
    DataFrames then pin their plans, broadcast relations included."""
    with _LOCK:
        _MEMOS.clear()
        _KEY_LOCKS.clear()
    gc.collect()
    sc = SparkContext._active_spark_context
    if sc is None:
        return
    SparkSession.active().catalog.clearCache()
    for rdd in sc._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
