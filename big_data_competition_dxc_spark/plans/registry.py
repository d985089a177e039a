"""Query registry: the single source of truth consumed by
``__spark_entry__.py`` (driver contract), ``perfbench/`` and the tests.

Each entry couples a PySpark implementation (spark, sf_dir) -> DataFrame
with an optional ANSI-SQL oracle string DuckDB can run over the same
parquet tables. Entries without an oracle (ML / streaming / Pandas-UDF
plumbing) get the driver's weaker rows-only check (SURVEY §5).

An entry has two ways to call its query:

- ``build`` is the registered function itself, the lazy builder: every
  call builds the plan anew and returns an unexecuted frame. Plan
  inspection (``explain``, the executed plan, storage levels) and any
  test that must re-execute the query read it. ``@query`` returns the
  function unchanged, so module bindings and direct callers (the batch
  pipelines) are builders too.
- ``fn`` is the answer: computed once per (session, ``sf_dir``, input
  identity) and then served to every later caller as a local frame over
  the collected rows, which runs no Spark job and owns no cached
  blocks (``plans.memos``, ``hold="result"``). ``__spark_entry__``
  hands these out.

A query whose body writes files or tables, or starts a stream, is
registered with ``writes=True``: its ``fn`` is its builder, so every
call performs the write again.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .memos import memoized

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryEntry:
    build: QueryFn
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    writes: bool = False
    fn: QueryFn = field(init=False)  # the answer; the builder if ``writes``


def _answer(name: str, entry: QueryEntry) -> QueryFn:
    """``entry``'s memoized answer. It reads ``entry.build`` at call
    time, so a test may swap the builder to count builds."""

    @functools.wraps(entry.build)
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        return memoized(
            f"query:{name}",
            spark,
            sf_dir,
            lambda: entry.build(spark, sf_dir),
            hold="result",
        )

    return fn


QUERIES: dict[str, QueryEntry] = {}


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    writes: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Register a named query, optionally paired with its DuckDB oracle.
    ``writes=True`` declares a body that writes or streams; see the
    module docstring.

    A name registers once: ``plans.load_all`` imports modules in file
    order, so a second registration would otherwise win by file name."""

    def deco(fn: QueryFn) -> QueryFn:
        prev = QUERIES.get(name)
        if prev is not None:
            raise ValueError(
                f"query {name!r} is already registered by "
                f"{prev.build.__module__}.{prev.build.__qualname__}"
            )
        entry = QueryEntry(
            build=fn,
            oracle=oracle,
            doc=(fn.__doc__ or "").strip(),
            tags=tags,
            writes=writes,
        )
        entry.fn = fn if writes else _answer(name, entry)
        QUERIES[name] = entry
        return fn

    return deco
