"""Triangle counting + global clustering coefficient, degree-oriented.

The third graph primitive beside PageRank (centrality) and connected
components (clustering): triangle statistics measure local cohesion —
the global clustering coefficient 3T/W (triangles over wedges) is the
standard "how clique-like is this graph" monitor. Graph: the same
supplier co-supply projection as pagerank.py (suppliers linked when
they ship lines of the same order).

The scale trick is DEGREE ORIENTATION (Suri & Vassilvitskii, WWW'11):
orient every undirected edge from its lower-(degree, id) endpoint to
the higher one. The orientation is acyclic and bounds every node's
OUT-degree by O(sqrt(m)) however skewed the raw degree distribution
is, so the pivot self-join (pairs of out-neighbors) — the step a
naive per-node neighbor-pairing blows up on for hub nodes — has
per-node fanout C(outdeg, 2) = O(m) total instead of O(Σdeg²). Every
triangle is counted EXACTLY once, at its minimum-rank vertex, which is
also what makes the count portable: no /3 or /6 correction, no
overcount semantics to match.

Everything is exact integer arithmetic (counts, floor-div micro-unit
coefficient), so the single summary row hash-matches DuckDB running
the identical orientation + joins.

Scale notes (100 TB): edge projection shuffles on orderkey (bounded
per-order fanout); degrees are one map-side-combinable aggregate; the
two triangle joins shuffle on node keys with orientation-bounded
fanout. No iteration, no driver loop — one lazy plan.

Fixture caveat: the small-SF co-supply graph is COMPLETE (every
supplier pair shares some order), so clustering_micro reads 1e6 there
— the oracle still exercises every join exactly (the counts are
C(n,3)/ΣC(d,2), verified against a brute-force triple join in tests),
and the degree orientation becomes load-bearing on any graph with
degree skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.memos import held
from ..plans.registry import query
from ..sources import load
from .pagerank import _PAIRS_SQL

MICRO = 1_000_000

#: Dense fast-path gate: run the broadcast-bitset kernel only when the
#: graph's node count keeps the packed adjacency matrix broadcastable
#: (n*n/8 bytes — 32 MiB at the gate). Above it, the degree-oriented
#: join pipeline takes over (and triangle_count_sampled estimates).
DENSE_MAX_NODES = 16384

# Deterministic DOULION edge sampling (see triangle_count_sampled):
# keep an edge iff md5(u|v) mod 10000 < P_KEEP_BP. 5000bp = p=1/2, so
# the unbiased estimator scale 1/p^3 is EXACTLY 8 — integer arithmetic
# end-to-end, no float estimator to drift cross-engine.
P_KEEP_BP = 5000
EST_SCALE = 8  # (10000 // P_KEEP_BP) ** 3; update together

_SQL_SAMPLE_FILTER = (
    "('0x' || substr(md5(CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR)), 1, 12))"
    f"::BIGINT % 10000 < {P_KEEP_BP}"
)

_TRIANGLES_ORACLE = f"""
WITH pairs AS ({_PAIRS_SQL}),
und AS (SELECT src AS u, dst AS v FROM pairs WHERE src < dst),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) GROUP BY node
),
o AS (
  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS a,
         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS b
  FROM und e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
tri AS (
  SELECT COUNT(*) AS t
  FROM o e1
  JOIN deg d1 ON d1.node = e1.b
  JOIN o e2 ON e2.a = e1.a
  JOIN deg d2 ON d2.node = e2.b
  JOIN o e3 ON e3.a = e1.b AND e3.b = e2.b
  WHERE (d1.d < d2.d) OR (d1.d = d2.d AND e1.b < e2.b)
),
w AS (SELECT SUM((d * (d - 1)) // 2) AS wedges FROM deg)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges,
       CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles,
       CAST((SELECT wedges FROM w) AS BIGINT) AS n_wedges,
       CAST(CASE WHEN (SELECT wedges FROM w) = 0 THEN 0
            ELSE (3 * (SELECT t FROM tri) * {MICRO})
                 // (SELECT wedges FROM w) END AS BIGINT)
         AS clustering_micro
"""


@query(
    "triangle_count_cosupply",
    oracle=_TRIANGLES_ORACLE,
    tags=("graph", "A1", "J2", "scale"),
)
def triangle_count_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One summary row over the co-supply graph: nodes, undirected
    edges, triangles (each counted once at its min-(degree, id)
    vertex in the join path; as popcount/3 in the dense path), wedges
    Σ C(deg,2), and the global clustering coefficient 3T/W in exact
    integer micro-units.

    Two physical strategies behind one contract, picked by node count:

    - **Dense fast path** (n_nodes <= DENSE_MAX_NODES): the co-supply
      projection saturates at fixture scales (sf1: ~10k nodes, 4.5M
      edges, ~9% dense), where the pivot-pair join grinds through ~1B
      wedge rows. Instead, build each node's neighbor bitset as
      ceil(n/64) BIGINT words (one ``bit_or(shiftleft(..))`` aggregate
      — pure JVM since r14; the r8 numpy/pandas kernel spent its wall
      on Python worker spin-up and Arrow transposes, guide §4),
      broadcast the word rows (sf1: 12.5 MiB; 32 MiB at the gate) onto
      both edge endpoints, and sum
      ``zip_with(wu, wv, bit_count(x & y))`` in whole-stage codegen.
      Each triangle is seen by all 3 of its edges, so
      T = Σ popcount / 3 exactly — no orientation needed. Degrees,
      edge and wedge counts are ``bit_count`` folds over the same word
      rows; only scalars reach the driver.
    - **Degree-oriented join path** (above the gate — suppliers grow
      with SF, so a 100 TB run lands here): the original Suri &
      Vassilvitskii pipeline below, whose out-degree bound keeps the
      pivot fanout O(m^1.5) on sparse skewed graphs where the bitset
      matrix can no longer be broadcast. This branch is byte-identical
      to the pre-r8 driver-green plan: fully lazy, no persist, no
      eager driver step.

    The gate itself is a cheap UPPER BOUND on the node count —
    a map-side ``approx_count_distinct`` estimate with a 10% pad (see
    ``_node_upper_bound`` — the r9-r13 ``max(l_suppkey)`` bound broke
    the slow way on the r14 sf1 fixture's sparse id scheme) — so
    neither the expensive edge projection nor a full key repartition
    is ever paid just to decide the strategy. Measured A/B at
    sf1 (10k nodes / 4.5M edges / 1.24B triangles): dense 25.2s vs
    join 189.5s cold in the same r14 window (24.0s vs 99.7s in the r8
    window), identical row both times.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a, b = li.alias("a"), li.alias("b")
    und = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v"))
        .distinct()
    )
    if _node_upper_bound(li) <= DENSE_MAX_NODES:
        n_nodes, n_edges, tri, wedges = _dense_counts(spark, und)
        cm = 0 if wedges == 0 else (3 * tri * MICRO) // wedges
        return spark.createDataFrame(
            [(n_nodes, n_edges, tri, wedges, cm)],
            schema=(
                "n_nodes bigint, n_edges bigint, n_triangles bigint, "
                "n_wedges bigint, clustering_micro bigint"
            ),
        )
    return _triangles_join(spark, und)


def _node_upper_bound(li) -> int:
    """Cheap node-count estimate for the strategy gate WITHOUT a
    distinct shuffle: ``approx_count_distinct`` (HLL++) aggregates
    map-side (partial sketches merge in a 1-row final exchange, same
    cost shape as a max()), padded by 10% for the sketch's rsd so a
    borderline graph errs toward the join path. The r8 gate's
    ``distinct().count()`` paid a full hash-repartition just to pick a
    strategy; the r9-r13 gate used ``max(l_suppkey)`` as a free upper
    bound, but sparse id schemes break it the EXPENSIVE way — the r14
    sf1 fixture ships max(l_suppkey)=90,000,999 over 10,000 distinct
    suppliers, which silently parked the query on the ~100s join path
    when the 24s dense kernel applied (the slow strategy, not a wrong
    answer). An estimate is safe here because the gate only PICKS the
    strategy: the dense kernel indexes the actual distinct nodes and
    sizes its bitset matrix from the true count, so a near-boundary
    under-estimate costs a slightly-above-32MiB broadcast, never
    correctness."""
    row = li.agg(F.approx_count_distinct("l_suppkey").alias("n")).first()
    return int((row[0] or 0) * 1.10)


def _dense_counts(
    spark: SparkSession, und: DataFrame
) -> tuple[int, int, int, int]:
    """Broadcast-bitset triangle kernel (eager): returns exact
    ``(n_nodes, n_edges, n_triangles, n_wedges)`` for an undirected
    edge list ``und(u, v)`` with u < v and no duplicates. Caller must
    have gated ``n_nodes <= DENSE_MAX_NODES`` (via any upper bound).

    Shape (r14: pure JVM — the r8 kernel packed numpy bitsets in a
    pandas UDF and popcounted in mapInPandas, which spent most of its
    wall on the Python boundary: worker fleet spin-up + Arrow
    transposes dominated the trivial per-batch math, guide §4): index
    nodes 0..n-1 (tiny global window), build each node's neighbor
    bitset as an array<bigint> of ``ceil(n/64)`` words — one
    ``bit_or(shiftleft(1, i % 64))`` aggregate per (node, word), then a
    map->dense-array fill per node — broadcast-join the word rows onto
    both endpoints of the edge list, and sum
    ``aggregate(zip_with(wu, wv, bit_count(x & y)))`` in whole-stage
    codegen. Every triangle is seen by its 3 edges, so T = total // 3
    exactly; degrees (and so edge/wedge counts) are per-row
    ``bit_count`` folds over the same word rows — only scalars reach
    the driver. The broadcast is the same n x n/8-byte matrix as the r8
    kernel (<=32 MiB at the gate), just held as JVM rows instead of a
    numpy array.
    """
    idx = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .distinct()
        .select(
            "node",
            (F.row_number().over(Window.orderBy("node")) - 1).alias("i"),
        )
    )
    edges_idx = (
        und.join(
            F.broadcast(idx.select(F.col("node").alias("u"), F.col("i").alias("iu"))),
            "u",
        )
        .join(
            F.broadcast(idx.select(F.col("node").alias("v"), F.col("i").alias("iv"))),
            "v",
        )
        .select("iu", "iv")
    )
    with held(und.persist(), idx.persist(), edges_idx.persist()):
        n_nodes = idx.count()
        nw = (n_nodes + 63) // 64

        both = edges_idx.unionAll(
            edges_idx.select(F.col("iv").alias("iu"), F.col("iu").alias("iv"))
        )
        words = both.groupBy(
            "iu", F.expr("CAST(iv div 64 AS INT)").alias("w")
        ).agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(iv % 64 AS INT)))"
            ).alias("word")
        )
        rows = (
            words.groupBy("iu")
            .agg(
                F.map_from_arrays(
                    F.collect_list("w"), F.collect_list("word")
                ).alias("m")
            )
            .select(
                "iu",
                F.expr(
                    f"transform(sequence(0, {nw - 1}), "
                    "wi -> coalesce(m[wi], CAST(0 AS BIGINT)))"
                ).alias("words"),
            )
        )
        with held(rows.persist()):
            stat = (
                rows.select(
                    F.expr(
                        "aggregate(words, CAST(0 AS BIGINT), (acc, x) -> acc + bit_count(x))"
                    ).alias("d")
                )
                .agg(
                    F.sum("d").alias("s2e"),
                    F.sum(F.expr("(d * (d - 1)) div 2")).alias("wedges"),
                )
                .first()
            )
            n_edges = int(stat["s2e"] or 0) // 2
            wedges = int(stat["wedges"] or 0)
            total = (
                edges_idx.join(
                    F.broadcast(rows.select("iu", F.col("words").alias("wu"))), "iu"
                )
                .join(
                    F.broadcast(
                        rows.select(F.col("iu").alias("iv"), F.col("words").alias("wv"))
                    ),
                    "iv",
                )
                .select(
                    F.expr(
                        "aggregate(zip_with(wu, wv, (x, y) -> bit_count(x & y)), "
                        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
                    ).alias("c")
                )
                .agg(F.sum("c").alias("s"))
                .collect()[0]["s"]
                or 0
            )
    return n_nodes, n_edges, int(total) // 3, wedges


def _triangles_join(spark: SparkSession, und: DataFrame) -> DataFrame:
    """Degree-oriented join pipeline (lazy) — the sparse/large-graph
    path. See triangle_count_cosupply."""
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    e = (
        und.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = e.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    e1 = o.select(F.col("a"), F.col("b").alias("b1")).join(
        deg.select(F.col("node").alias("b1"), F.col("d").alias("d1")), "b1"
    )
    e2 = o.select(F.col("a"), F.col("b").alias("b2")).join(
        deg.select(F.col("node").alias("b2"), F.col("d").alias("d2")), "b2"
    )
    pivot_pairs = e1.join(e2, "a").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("b1") < F.col("b2")))
    )
    closed = pivot_pairs.join(
        o.select(F.col("a").alias("b1"), F.col("b").alias("b2")), ["b1", "b2"]
    )
    tri = closed.agg(F.count("*").alias("t"))
    wedges = deg.agg(
        F.sum(F.expr("(d * (d - 1)) div 2")).alias("wedges")
    )
    counts = und.agg(F.count("*").alias("n_edges")).join(
        deg.agg(F.count("*").alias("n_nodes"))
    )
    return (
        counts.join(tri)
        .join(wedges)
        .select(
            F.col("n_nodes").cast("bigint"),
            F.col("n_edges").cast("bigint"),
            F.col("t").cast("bigint").alias("n_triangles"),
            F.col("wedges").cast("bigint").alias("n_wedges"),
            F.when(F.col("wedges") == 0, F.lit(0))
            .otherwise(F.expr(f"(3 * t * {MICRO}) div wedges"))
            .cast("bigint")
            .alias("clustering_micro"),
        )
    )


_SAMPLED_ORACLE = f"""
WITH pairs AS ({_PAIRS_SQL}),
und0 AS (SELECT src AS u, dst AS v FROM pairs WHERE src < dst),
und AS (SELECT u, v FROM und0 WHERE {_SQL_SAMPLE_FILTER}),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
  ) GROUP BY node
),
o AS (
  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS a,
         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS b
  FROM und e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
tri AS (
  SELECT COUNT(*) AS t
  FROM o e1
  JOIN deg d1 ON d1.node = e1.b
  JOIN o e2 ON e2.a = e1.a
  JOIN deg d2 ON d2.node = e2.b
  JOIN o e3 ON e3.a = e1.b AND e3.b = e2.b
  WHERE (d1.d < d2.d) OR (d1.d = d2.d AND e1.b < e2.b)
)
SELECT CAST((SELECT COUNT(*) FROM und0) AS BIGINT) AS n_edges_full,
       CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges_sampled,
       CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles_sampled,
       CAST((SELECT t FROM tri) * {EST_SCALE} AS BIGINT) AS est_triangles
"""


@query(
    "triangle_count_sampled",
    oracle=_SAMPLED_ORACLE,
    tags=("graph", "A1", "J2", "scale", "sampling"),
)
def triangle_count_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION (Tsourakakis et al., KDD'09) sampled triangle count — the
    100 TB lever for the repo's most expensive exact query (r8
    spotlight: triangle_count_cosupply 14.8s at sf0.1, 92.8s at sf1):
    keep each undirected edge with probability p, count triangles on
    the sampled graph with the SAME degree-oriented pipeline, scale by
    1/p^3 for an unbiased estimate. Sampling here is a DETERMINISTIC
    md5 threshold on the canonical edge key (no RNG), so the whole
    estimator — sample, orientation, count, scale — is reproducible
    and carries a full DuckDB oracle; p=1/2 makes 1/p^3 exactly 8,
    keeping every op integer. The expensive wedge join runs on ~p^2 of
    the edge-pair space (p x p per endpoint), the concentration bound
    tightens with the triangle count, and tests pin the estimate
    against the exact count at fixture scale.

    Shares both physical strategies with the exact query (same dense
    gate on the distinct-supplier upper bound): below the gate the
    broadcast-bitset kernel counts the sampled graph; above it the
    degree-oriented join pipeline runs on the sampled edges — the
    sampling is exactly where its p^2 wedge-space reduction pays."""
    from ..functions.hashing import md5_bigint

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    a, b = li.alias("a"), li.alias("b")
    und0 = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v"))
        .distinct()
    )
    und = und0.filter(
        md5_bigint(F.concat_ws("|", F.col("u"), F.col("v")), 12) % 10000
        < F.lit(P_KEEP_BP)
    )
    if _node_upper_bound(li) <= DENSE_MAX_NODES:
        # The full projection feeds both the n_edges_full count and
        # (through the sample filter) the kernel — cache it so the
        # expensive pair-join + distinct materializes once.
        with held(und0.persist()):
            n_full = und0.count()
            _, n_sampled, tri, _ = _dense_counts(spark, und)
        return spark.createDataFrame(
            [(n_full, n_sampled, tri, tri * EST_SCALE)],
            schema=(
                "n_edges_full bigint, n_edges_sampled bigint, "
                "n_triangles_sampled bigint, est_triangles bigint"
            ),
        )
    base = _triangles_join(spark, und)
    return (
        und0.agg(F.count("*").cast("bigint").alias("n_edges_full"))
        .join(
            base.select(
                F.col("n_edges").alias("n_edges_sampled"),
                F.col("n_triangles").alias("n_triangles_sampled"),
                (F.col("n_triangles") * F.lit(EST_SCALE))
                .cast("bigint")
                .alias("est_triangles"),
            )
        )
        .select(
            "n_edges_full", "n_edges_sampled", "n_triangles_sampled", "est_triangles"
        )
    )
