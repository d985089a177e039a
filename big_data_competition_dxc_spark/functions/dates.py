"""The reference's ``Convert`` date library (流行音乐趋势预测.md:53-62,
276-286, 573-632, 792-920) re-expressed as Catalyst builtin expressions
(SURVEY §2.8 F1–F10). Zero Python UDFs: every function returns a Column
built from ``pyspark.sql.functions``, so Catalyst can constant-fold and
push predicates through them — the reference's opaque Java-Calendar
closures (M:54-62) forfeit both.

Date columns here are proper DATE/TIMESTAMP types; ``yyyyMMdd`` string
form (the reference's universal date encoding, M:48) exists only at the
exit edge via ``to_ds``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DS_FMT = "yyyyMMdd"


def to_ds(col: Column | str) -> Column:
    """DateType -> yyyyMMdd string (exit edge, submission format M:15-17)."""
    return F.date_format(F.col(col) if isinstance(col, str) else col, DS_FMT)


def shift_days(col: Column | str, n: int) -> Column:
    """F1/F2/F3/F4: findYesterday / find{10,20,40}dayBefore /
    findNextMonth(-30) / findBeforeMonth(+30) — all are +/- n days
    (M:54-62, M:804-872)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_add(c, n) if n >= 0 else F.date_sub(c, -n)


def day_of_week(col: Column | str) -> Column:
    """F5 findWeek (M:624-631): Java Calendar.DAY_OF_WEEK convention,
    Sunday=1..Saturday=7 — identical to Spark's dayofweek."""
    return F.dayofweek(F.col(col) if isinstance(col, str) else col)


def hour_bucket4(hour: Column | str) -> Column:
    """F9 getTime (M:909-919): 4-way bucket over hour-of-day.
    (8,12] -> 0 morning, (12,18] -> 1 afternoon, (18,23] -> 2 evening,
    else -> 3 midnight/early."""
    h = F.col(hour) if isinstance(hour, str) else hour
    return (
        F.when((h > 8) & (h <= 12), F.lit(0))
        .when((h > 12) & (h <= 18), F.lit(1))
        .when((h > 18) & (h <= 23), F.lit(2))
        .otherwise(F.lit(3))
    )


# DuckDB-oracle fragments for the same semantics (used by plans/*.py oracle
# SQL). Spark dayofweek is Sunday=1; DuckDB dayofweek is Sunday=0 -> +1.
ORACLE_DAYOFWEEK = "(dayofweek({col}) + 1)"
ORACLE_HOUR_BUCKET4 = (
    "CASE WHEN {h} > 8 AND {h} <= 12 THEN 0 "
    "WHEN {h} > 12 AND {h} <= 18 THEN 1 "
    "WHEN {h} > 18 AND {h} <= 23 THEN 2 ELSE 3 END"
)
