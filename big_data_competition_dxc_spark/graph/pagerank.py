"""Fixed-iteration PageRank over the supplier co-supply graph.

The reference's workloads stop at recommender-style link analysis
(豆瓣图书推荐.md's user/book graph, D:7-21); PageRank is the canonical
iterative graph algorithm a production analytics engine is expected to
run on the same relational substrate. Graph: suppliers are linked when
they ship lines of the SAME order (a co-supply edge, both directions),
i.e. the supplier projection of the order-supplier bipartite graph —
the exact construction 豆瓣图书推荐.md would call the item-item
projection of its user::book matrix.

Determinism design (why every rank is a BIGINT): float PageRank sums
contributions in partition order, so the low bits differ between
engines and between runs — the flake class functions/rounding.py
exists to kill. Everything here is integer fixed-point at SCALE=1e9:

    base          = SCALE div N                      (exact, both engines)
    contrib(u->v) = r(u) div outdeg(u)               (BIGINT floor-div)
    r'(v)         = (15*base) div 100
                  + (85 * sum(contrib)) div 100      (exact integer sum)

Sums of BIGINTs are order-independent, so the scaled ranks are
bit-identical on Spark and DuckDB with NO rounding guard at all; the
double `rank` column is derived from the scaled value at the very end.
The div-truncation loses < 1e-9 of mass per edge — irrelevant for
ranking, decisive for cross-engine verification.

Scale notes (100 TB): the edge projection self-joins lineitem on
l_orderkey — shuffle on orderkey, fanout bounded by lines-per-order
(O(k^2) per order, k~7 for TPC-H-shaped data). Each iteration is one
shuffle (groupBy dst) plus a broadcast-sized join with the rank vector
IF nodes fit in memory; here the rank frame is joined normally and AQE
picks the strategy. The edge list is cached (S8) because every
iteration rescans it; at cluster scale you would also
``localCheckpoint`` the rank frame per iteration to truncate lineage —
with a FIXED iteration count of 3 the composed lazy plan is shallow
enough to skip that, which keeps the whole computation one Catalyst
plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import round_to, sql_round
from ..plans.memos import held, local
from ..plans.registry import query
from ..sources import load

SCALE = 1_000_000_000
DAMP_NUM, DAMP_DEN = 85, 100  # d = 0.85 as an exact integer ratio
N_ITER = 3
TOP_N = 20

_PAIRS_SQL = """
  SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
"""


def _oracle() -> str:
    """Unrolled 3-iteration PageRank as chained CTEs (DuckDB `//` is
    BIGINT floor division — same as Spark's `div` on non-negative
    values). Each rank is CAST back to BIGINT because DuckDB widens
    SUM(BIGINT) to HUGEINT, which would break the schema compare."""
    cte = [
        f"WITH pairs AS ({_PAIRS_SQL}),",
        "deg AS (SELECT src, COUNT(*) AS outdeg FROM pairs GROUP BY src),",
        "nodes AS (SELECT DISTINCT src AS node FROM pairs),",
        f"params AS (SELECT {SCALE} // COUNT(*) AS base FROM nodes),",
        "r0 AS (SELECT node, (SELECT base FROM params) AS r FROM nodes),",
    ]
    for i in range(N_ITER):
        cte.append(
            f"c{i + 1} AS (SELECT p.dst, SUM(r.r // d.outdeg) AS s"
            f" FROM pairs p JOIN r{i} r ON p.src = r.node"
            f" JOIN deg d ON p.src = d.src GROUP BY p.dst),"
        )
        cte.append(
            f"r{i + 1} AS (SELECT n.node, CAST("
            f"(15 * (SELECT base FROM params)) // {DAMP_DEN}"
            f" + ({DAMP_NUM} * COALESCE(c.s, 0)) // {DAMP_DEN}"
            f" AS BIGINT) AS r"
            f" FROM nodes n LEFT JOIN c{i + 1} c ON n.node = c.dst),"
        )
    body = "\n".join(cte).rstrip(",")
    return f"""
{body}
SELECT node AS s_suppkey, r AS rank_scaled,
       {sql_round(f"r / {SCALE}.0", 6)} AS rank
FROM r{N_ITER}
ORDER BY r DESC, node
LIMIT {TOP_N}
"""


@query(
    "pagerank_cosupply_top20",
    oracle=_oracle(),
    tags=("iterative", "J2", "A1", "S8", "O1"),
)
def pagerank_cosupply_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 suppliers by 3-iteration fixed-point PageRank over the
    co-supply graph. The driver loop only CONSTRUCTS the plan (fixed
    N_ITER=3); no data touches the driver except the node count, a
    single scalar needed to embed the exact teleport constant, and the
    top-20 rows it returns."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") != F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
        .distinct()
    )
    # every iteration rescans the edge list (S8)
    with held(edges.cache()):
        # Per-node frames are |suppliers|-sized — broadcast them explicitly
        # so NO iteration ever shuffles or sorts the edge list: the r13 plan
        # sort-merge-joined edges⨝ranks each iteration (an Exchange + Sort
        # of the full edge list per pass, 11 SMJs total at sf0.1); with the
        # rank vector carrying its out-degree and broadcast, each iteration
        # is one broadcast hash join over the cached edges plus the
        # unavoidable partial-aggregated groupBy(dst) exchange (guide §2.4,
        # §3.1). Integer arithmetic is unchanged — BIGINT sums are
        # order-independent, so the ranks are bit-identical.
        deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
        nodes = deg.select(F.col("src").alias("node"))  # same set: every node has outdeg >= 1
        n_nodes = nodes.count()  # tiny scalar: pins the exact base constant
        base = SCALE // n_nodes
        teleport = (15 * base) // DAMP_DEN

        ranks = nodes.withColumn("r", F.lit(base).cast("bigint"))
        for _ in range(N_ITER):
            rd = ranks.join(F.broadcast(deg), ranks.node == deg.src).select(
                "node", "r", "outdeg"
            )
            contrib = (
                edges.join(F.broadcast(rd), edges.src == rd.node)
                .groupBy("dst")
                .agg(F.sum(F.expr("r div outdeg")).alias("s"))
            )
            ranks = nodes.join(
                F.broadcast(contrib), nodes.node == contrib.dst, "left"
            ).select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(f"({DAMP_NUM} * coalesce(s, CAST(0 AS BIGINT))) div {DAMP_DEN}")
                )
                .cast("bigint")
                .alias("r"),
            )

        return local(
            spark,
            ranks.orderBy(F.col("r").desc(), F.col("node"))
            .limit(TOP_N)
            .select(
                F.col("node").alias("s_suppkey"),
                F.col("r").alias("rank_scaled"),
                round_to(F.col("r") / F.lit(float(SCALE)), 6).alias("rank"),
            ),
        )
