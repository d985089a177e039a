"""SQL scripting (Spark 4 ``BEGIN … END`` procedural SQL) — iterative
sigma-clipping as a single multi-statement script.

The reference builds multi-stage pipelines by chaining
``registerTempTable`` + ``sqlContext.sql`` calls with driver-side Scala
glue between statements (流行音乐趋势预测.md:36-98); Spark 4's SQL
scripting is the modern in-SQL form of that control flow — variables,
loops, and conditionals INSIDE one script, no host-language round-trips
per statement. The registered query runs the classic data-quality
iteration that is awkward in a single SQL statement: sigma-clipping
(recompute mean/stddev over the currently-kept rows, re-clip the FULL
table at mean ± k·stddev, repeat), here with a FIXED three passes so a
set-based engine can mirror it exactly.

Cross-engine float determinism: prices enter as exact integer CENTS
(floor(x*100+0.5) — the functions/rounding.py convention), all sums are
exact integer accumulations (Spark DECIMAL(38,0), DuckDB HUGEINT — two
different 128-bit-exact routes), and the only float ops (one division
chain, one sqrt, one multiply-subtract per bound) are identical IEEE
expressions on identical inputs, floored to integer-cent bounds before
any row comparison — so the kept row set is bit-exact in both engines
and the oracle can unroll the loop as three CTE stages.

Scale path (100 TB): each iteration is ONE full-scan aggregate (two
exact sums + a count, map-side combined) and the final pass one more —
four scans total for three clips, no shuffle wider than the 1-row
stats, no driver materialization beyond two BIGINT variables per pass.
The loop count is fixed (bounded work by construction); a convergence-
tested variant would add a ``WHILE bounds_moved`` guard on the same
per-iteration cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..session import scoped
from ..sources import load

#: Clip width in standard deviations. 1.0 (aggressive) so every pass
#: moves the bounds on the fixture's wide price distribution — 2.5
#: would keep all 60k sf0.01 rows and the loop would fixpoint at
#: iteration one, exercising nothing.
K_SIGMA = 1.0

#: Fixed clip passes (see module docstring — fixed so the DuckDB
#: oracle can unroll the loop).
N_PASSES = 3

#: Shared bound expression: mean ± K_SIGMA·stddev over the currently
#: kept cents, floored to an integer-cent BIGINT. ``{sq}`` is the
#: engine's exact sum-of-squares route (Spark DECIMAL, DuckDB HUGEINT);
#: everything else is textually identical IEEE double arithmetic.
_BOUND = (
    "CAST(floor((CAST(SUM(c) AS DOUBLE) / COUNT(*)) {sign} "
    f"{K_SIGMA} * sqrt((CAST(SUM({{sq}}) AS DOUBLE) "
    "- (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)) / COUNT(*)) "
    "/ COUNT(*))) AS BIGINT)"
)

_SPARK_SQ = "CAST(c AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))"
_DUCK_SQ = "c::HUGEINT * c::HUGEINT"

#: Identical final-projection text in both engines (sql_round form).
_FINAL = (
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,\n"
    "       (floor((CAST(SUM(c) AS DOUBLE) / COUNT(*) / 100.0) * 10000.0"
    " + 0.5) / CAST(10000.0 AS DOUBLE)) AS kept_mean"
)


def _duck_oracle() -> str:
    lo = _BOUND.format(sign="-", sq=_DUCK_SQ)
    hi = _BOUND.format(sign="+", sq=_DUCK_SQ)
    ctes = [
        "base AS (SELECT CAST(floor(l_extendedprice * 100.0 + 0.5)"
        " AS BIGINT) AS c FROM lineitem)"
    ]
    prev = "base"
    for i in range(1, N_PASSES + 1):
        ctes.append(f"s{i} AS (SELECT {lo} AS lo, {hi} AS hi FROM {prev})")
        ctes.append(
            f"k{i} AS (SELECT c FROM base, s{i} "
            f"WHERE c BETWEEN s{i}.lo AND s{i}.hi)"
        )
        prev = f"k{i}"
    n = N_PASSES
    return (
        "WITH " + ",\n".join(ctes) + f"\n{_FINAL},\n"
        f"       (SELECT lo FROM s{n}) AS lo_cents,\n"
        f"       (SELECT hi FROM s{n}) AS hi_cents\n"
        f"FROM k{n}"
    )


@query(
    "sql_scripting_sigma_clip",
    oracle=_duck_oracle(),
    tags=("F16", "A9", "extension"),
)
def sql_scripting_sigma_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-pass sigma-clip of ``l_extendedprice`` via Spark 4 SQL
    scripting: a WHILE loop re-derives integer-cent [lo, hi] bounds
    from the currently kept rows and re-clips the full table; the
    script's final statement returns kept-row count, the clipped mean
    ({K_SIGMA}-sigma, {N_PASSES} passes), and the final bounds. The
    DuckDB oracle unrolls the identical iteration as chained CTEs —
    the procedural and set-based formulations must agree bit-exactly
    (see module docstring for the integer-cents determinism chain).

    Empty-pass guard: each pass computes the new bounds AND the kept
    count in ONE scan into scratch variables; if a clip ever kept zero
    rows (unreachable on TPC-H prices at K_SIGMA=1, but nothing
    enforces that) the NULL-bound SET is discarded and the loop LEAVEs
    with the previous pass's bounds instead of silently emitting an
    empty result. The unrolled oracle assumes the non-empty regime —
    the guard keeps the procedural side total without adding scans.

    Session hygiene: the script runs on a child session holding
    ``spark.sql.scripting.enabled`` (``session.scoped``), so the shared
    session's conf never changes, and the cents column reaches the
    script as a DataFrame argument, whose view PySpark drops once the
    script has run (it executes eagerly inside the ``sql`` call)."""
    spark = scoped(spark, {"spark.sql.scripting.enabled": "true"})
    li_cents = load(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
        .cast("bigint")
        .alias("c")
    )
    lo = _BOUND.format(sign="-", sq=_SPARK_SQ)
    hi = _BOUND.format(sign="+", sq=_SPARK_SQ)
    return spark.sql(
        f"""
BEGIN
  DECLARE lo BIGINT DEFAULT -9223372036854775807;
  DECLARE hi BIGINT DEFAULT  9223372036854775807;
  DECLARE nlo BIGINT; DECLARE nhi BIGINT; DECLARE n BIGINT;
  DECLARE it INT DEFAULT 0;
  clip: WHILE it < {N_PASSES} DO
    SET (nlo, nhi, n) = (SELECT {lo}, {hi}, COUNT(*)
                         FROM {{li_cents}} WHERE c BETWEEN lo AND hi);
    IF n = 0 THEN LEAVE clip; END IF;
    SET lo = nlo; SET hi = nhi;
    SET it = it + 1;
  END WHILE clip;
  {_FINAL},
         lo AS lo_cents, hi AS hi_cents
  FROM {{li_cents}} WHERE c BETWEEN lo AND hi;
END
""",
        li_cents=li_cents,
    )
