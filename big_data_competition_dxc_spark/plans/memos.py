"""Session memos (canonical DataFrames, table relations and query
results) and the one release call.

Several query families derive one expensive canonical intermediate that
multiple registered queries consume: the music feature table
(ml/regression), the ratings matrix and its cosine pairs (ml/recommend),
the minhash shingle/band/size frames and the simhash and Jaccard pair
sets (dedup/), and the release ledger's exact-dup flags, which four of
its branches read (textops/release). Production runs each derivation
once per input; every such memo goes through ``memoized``, which holds
a frame in one of three ways (``hold``):

- ``"cached"``: the canonical intermediates above, ``.cache()``d;
- ``"relation"``: each fixture table's resolved relation
  (``sources.load``), kept uncached, so a warm lookup saves the parquet
  footer read and nothing is materialized;
- ``"result"``: a registered query's answer (``plans.registry``, the
  entry's ``fn``). Its rows are collected to the driver once and served
  as a local frame (``local``): a hit runs no Spark job, and the frame
  owns no cached blocks. At most ``N`` rows are held; a larger answer
  is returned lazily and not held.

``local`` is also the one way a builder hands back a finished, bounded
result (a write-and-read-back aggregate, a drained stream, a top-k
computed over query-local caches it then releases): its Java rows
become a ``LocalRelation`` of the caller's session with the frame's own
schema, so no Python worker runs when it is read.

``held(*frames)`` is the one way a builder keeps an intermediate of its
own: every ``.cache()``, ``.persist()`` and ``.localCheckpoint()``
outside this module is its direct argument (``tests/test_isolation.py``
guards it), and the ``with`` block encloses every consumer. On every
way out, return or raise, it releases each frame: a cached frame's
entry in the CacheManager, else the persisted RDD under each RDD leaf
of its logical plan (a checkpoint's blocks, or an ALS model's factor
RDDs). ``df.rdd`` would not reach them: it is a new RDD over the plan.
Iterative builders enter each round's checkpoint into one
``contextlib.ExitStack``.

The contract:
- memos hold PARAMETERLESS canonical derivations only — a forced or
  parameterized variant must never be served from, or stored into, one;
- a cached memo is keyed ``(name, applicationId, sf_dir)``: every
  session of the application shares it, as they share the
  CacheManager that holds its blocks;
- a relation or a result is keyed per session as well. A frame is
  bound to the session that built it, and a join built on it is
  planned under that session's confs. A child session made for one
  request's confs (``session.scoped``) therefore resolves relations of
  its own: served the root's relations, the Bloom-filter join planned
  a plain broadcast join. A result is bound to the session that asked
  for it, whichever session its builder ran on;
- an entry is valid only for the input identity it was built from
  (name, size and ``mtime_ns`` of every entry under ``sf_dir``,
  descending into table directories): a table rewritten under the
  same path is rebuilt, and a stale cached frame is unpersisted first,
  because Spark's CacheManager matches cached data by plan and would
  otherwise serve the old blocks to the rebuilt scan;
- each key has its own lock, so concurrent callers of one memo build it
  once; a memo may build on another memo (locks nest outer-to-inner,
  never the reverse; a result builds on memos and relations and
  nothing builds on a result, so its lock is always outermost; a
  relation builds on nothing, so its lock is always innermost);
- a waiter or later caller served a cached memo or a result counts as
  a warm hit; one served an uncached relation does not, because the
  benchmarks read the count to tell memo-warm readings from standalone
  query cost;
- ``clear_all()`` is a teardown call: it forgets every memo and releases
  every cached frame and persisted RDD of the live context, including
  ``localCheckpoint`` blocks, and every JVM object held only by Python
  garbage. Every frame a builder or ``fn`` returned before it still
  reads the same rows after it: a local frame's rows live in its plan,
  and a lazy frame over a memo recomputes from its lineage. No builder
  returns a frame backed by checkpoint blocks
  (``tests/test_memos.py``). A builder's own intermediates are released
  by ``held`` when it returns, so a serving session needs no teardown
  call to get that memory back.
"""

from __future__ import annotations

import gc
import os
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import Literal

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

_Key = tuple[str, str, int | None, str]  # (name, applicationId, id(session) or None, sf_dir)
Hold = Literal["cached", "relation", "result"]

#: Rows a held result may have. A result is collected through
#: ``limit(N + 1)``; one over ``N`` rows is returned lazily and not held,
#: so no unbounded answer sits on the driver. The registry's largest
#: answers are ``linear_interpolate_hourly``'s: 779,439 rows on the
#: benchmark's seed-1 input and 105,171 on ``sf0.01``; the next largest
#: have under 90,000.
N = 1_000_000

_LOCK = threading.Lock()  # guards the three globals below
_MEMOS: dict[_Key, tuple[tuple, DataFrame]] = {}  # key -> (input identity, frame)
_KEY_LOCKS: dict[_Key, threading.Lock] = {}

#: Count of cached-memo and result lookups served warm since the last
#: ``consume_warm_hits`` — the benchmarks read it to tell memo-warm
#: readings from standalone query cost.
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
    hold: Hold = "cached",
) -> DataFrame:
    """``build()`` stored once per (session, ``sf_dir``, input identity)
    under ``name``, held as ``hold`` says; see the module docstring for
    the contract."""
    global _WARM_HITS
    app = spark.sparkContext.applicationId
    # the memo's frame holds its session, so the id is not reused while
    # the entry lives
    key = (name, app, None if hold == "cached" else id(spark), sf_dir)
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
                if hold != "relation":
                    _WARM_HITS += 1
                return entry[1]
        if hold == "cached" and entry is not None:
            entry[1].unpersist()
        df = build()
        if hold == "cached":
            kept = df.cache()
        elif hold == "result":
            kept = _local_or_none(spark, df)
        else:
            kept = df
        with _LOCK:
            if kept is None:  # over N rows: served lazily, not held
                _MEMOS.pop(key, None)
                return df
            _MEMOS[key] = (identity, kept)
        return kept


def local(spark: SparkSession, df: DataFrame) -> DataFrame:
    """``df``'s rows as a local frame of ``spark`` (a ``LocalRelation``
    with ``df``'s schema); raises ``ValueError`` if it has more than
    ``N`` rows."""
    held = _local_or_none(spark, df)
    if held is None:
        raise ValueError(f"more than {N} rows: too many to hold as a local frame")
    return held


def _local_or_none(spark: SparkSession, df: DataFrame) -> DataFrame | None:
    """``local``, or None if ``df`` has more than ``N`` rows. The rows
    stay JVM-side: collected as Java rows and handed back to
    ``createDataFrame``, the round trip is exact for every column type.
    (``toDF()``: a ``spark.range`` frame is a ``Dataset[Long]`` on the
    JVM side, not one of rows.)"""
    jdf = df._jdf.toDF()
    rows = jdf.limit(N + 1).collectAsList()
    if rows.size() > N:
        return None
    return DataFrame(spark._jsparkSession.createDataFrame(rows, jdf.schema()), spark)


@contextmanager
def held(*frames: DataFrame) -> Iterator:
    """Yield ``frames`` (a lone frame as itself) and release each one on
    exit, whether the block returns or raises: a cached frame's
    CacheManager entry, else the persisted RDD at each ``LogicalRDD`` or
    ``ExternalRDD`` leaf of its logical plan."""
    try:
        yield frames[0] if len(frames) == 1 else frames
    finally:
        for df in frames:
            if df.is_cached:
                df.unpersist()
                continue
            leaves = df._jdf.queryExecution().logical().collectLeaves().iterator()
            while leaves.hasNext():
                leaf = leaves.next()
                if leaf.getClass().getSimpleName() in ("LogicalRDD", "ExternalRDD"):
                    leaf.rdd().unpersist(True)


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
