"""Spark 4 COLLATIONS — case-insensitive semantics as a COLUMN TYPE.

The reference normalizes string case imperatively (lower() before
every compare, 流行音乐趋势预测.md:68's key-munging idiom); Spark 4
attaches the comparison semantics to the string type itself
(``COLLATE UTF8_LCASE``), so GROUP BY / JOIN / DISTINCT / ORDER BY
become case-insensitive without rewriting every expression — the
grouping key carries its equality relation. The registered query
derives a deterministically MIXED-case key from the fixture (upper()
on even doc_ids), groups under UTF8_LCASE, and emits the lower()
canonical form per group; the DuckDB oracle is the classic
normalize-then-group formulation. Hash-equality proves the collation
implements exactly lower()-equivalence on this data — and the paired
test proves the collation is LOAD-BEARING by showing the binary-
collation grouping of the same key yields strictly more groups.

Scale note: collation-aware grouping hashes the collation key
JVM-side exactly like any other group key (one map-side-combined
shuffle); nothing here changes the aggregation's scale shape — that
is the point of the surface (semantics move into the type, the plan
stays the plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources import table_sql

#: The deterministic mixed-case derivation (SQL text shared by both
#: engines modulo nothing — identical ANSI).
_MIXED = "CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END"


@query(
    "collated_group_counts",
    oracle=f"""
SELECT lower({_MIXED}) AS lang_ci,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM documents
GROUP BY 1
""",
    tags=("A1", "F11", "extension"),
)
def collated_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive per-language counts over a deliberately
    mixed-case key, via the UTF8_LCASE collation on the GROUP BY key
    (no lower() in the grouping expression — the collation carries the
    equivalence). The emitted ``lang_ci`` is the lower() canonical
    form, which is identical for every representative of a collated
    group, so the output is deterministic."""
    return table_sql(
        spark,
        sf_dir,
        f"""
SELECT lower(k) AS lang_ci,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM (SELECT CAST({_MIXED} AS STRING COLLATE UTF8_LCASE) AS k, source
      FROM {{documents}})
GROUP BY k
""",
    )
