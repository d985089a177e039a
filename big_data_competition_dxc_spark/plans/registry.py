"""Query registry: the single source of truth consumed by
``__spark_entry__.py`` (driver contract), ``perfbench/`` and the tests.

Each entry couples a PySpark implementation (spark, sf_dir) -> DataFrame
with an optional ANSI-SQL oracle string DuckDB can run over the same
parquet tables. Entries without an oracle (ML / streaming / Pandas-UDF
plumbing) get the driver's weaker rows-only check (SURVEY §5).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryEntry:
    fn: QueryFn
    oracle: str | None = None
    doc: str = ""
    bench: bool = False  # in the headline set scripts/gen_plan_audit.py audits
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QueryEntry] = {}


def query(
    name: str,
    oracle: str | None = None,
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Register a named query, optionally paired with its DuckDB oracle.

    A name registers once: ``plans.load_all`` imports modules in file
    order, so a second registration would otherwise win by file name."""

    def deco(fn: QueryFn) -> QueryFn:
        prev = QUERIES.get(name)
        if prev is not None:
            raise ValueError(
                f"query {name!r} is already registered by "
                f"{prev.fn.__module__}.{prev.fn.__qualname__}"
            )
        QUERIES[name] = QueryEntry(
            fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip(), bench=bench, tags=tags
        )
        return fn

    return deco
