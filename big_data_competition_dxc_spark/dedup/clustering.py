"""Connected-components clustering over the near-dup pair graph.

Pair detection (jaccard/minhash/simhash) tells you WHICH documents
overlap; curation needs to know which FAMILY each document belongs to
so exactly one canonical copy survives. That is connected components
over the pair graph — transitive: if A~B and B~C, all three are one
family even when A and C share nothing directly. The reference has no
graph operator at all (SURVEY §2); this is the step that makes its
DISTINCT-style dedup (流行音乐趋势预测.md:42) work on *near*-dups.

Algorithm: iterative min-label propagation expressed as DataFrame ops —
each round every node takes the minimum label among itself and its
neighbors; converges in O(graph diameter) rounds. Near-dup families are
dense and tiny (diameter 1-3), so this beats the O(log n)-round
large-star/small-star of Kiveris et al. (CC in MapReduce, SoCC'14) in
practice: fewer rounds AND each round is one shuffle on the node id.
Propagation runs ONLY over edge-touched nodes (r9): singletons can
never change label, so the per-round frames are O(|V(E)|), not O(N) —
at sf1 that's 4,770 label rows instead of 50,000, and at 100 TB the
iteration cost tracks the (sparse) near-dup graph, not the corpus.
Untouched nodes rejoin once at the end via a left join + coalesce.
Driver involvement per round is a single scalar (sum of labels,
monotonically decreasing — the convergence test); labels stay
distributed throughout, lineage truncated per round with
localCheckpoint so plans don't grow with iteration count; every round's
checkpoint is held in one ExitStack and released when the loop ends.

r9 profiling note: the family's sf1 cost was 31.7s pair detection +
4.4s propagation — the fix that mattered was the shuffle_hash hint in
jaccard_pairs_frame (dedup/jaccard.py), not the CC kernel; large-star/
small-star would have optimized the cheap 4.4s term.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.memos import held, local
from ..plans.registry import query
from ..sources import load
from .jaccard import _JACCARD_ORACLE, jaccard_pairs_cached

MAX_ROUNDS = 25


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(id) nodes + undirected (u, v) edges -> (id, label) where label is
    the minimum node id reachable from id (= the component id).

    Each round: one shuffle to aggregate neighbor minima, one broadcast-
    able left join back onto the label frame, one scalar to the driver.
    Only edge-touched nodes iterate; untouched nodes (which can never
    change label) are appended at the end via left join + coalesce.
    Raises if MAX_ROUNDS rounds don't converge (diameter > MAX_ROUNDS —
    not a near-dup graph shape)."""
    with ExitStack() as rounds:
        sym = rounds.enter_context(
            held(
                edges.select("u", "v")
                .union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
                .localCheckpoint(eager=True)
            )
        )
        # sym holds both directions, so distinct u covers every endpoint.
        # Checkpoints inside the loop are LAZY: the convergence-sum action
        # right after materializes them, so each round costs one job
        # (checkpoint+sum fused), not two — at fixture scale the rounds are
        # pure job overhead and this halves it (r9: 2.5s -> 1.3s/round sf1).
        labels = rounds.enter_context(
            held(
                sym.select(F.col("u").alias("id"))
                .distinct()
                .select("id", F.col("id").alias("label"))
                .localCheckpoint(eager=False)
            )
        )
        prev_sum = labels.agg(F.sum("label")).first()[0]
        for _ in range(MAX_ROUNDS):
            nmin = (
                sym.join(labels.select(F.col("id").alias("v"), "label"), "v")
                .groupBy(F.col("u").alias("id"))
                .agg(F.min("label").alias("nmin"))
            )
            labels = rounds.enter_context(
                held(
                    labels.join(nmin, "id", "left")
                    .select(
                        "id",
                        F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
                    )
                    .localCheckpoint(eager=False)
                )
            )
            # labels only ever decrease, so the sum strictly decreases until
            # the fixpoint — one scalar action per round, no row-level diff.
            cur_sum = labels.agg(F.sum("label")).first()[0]
            if cur_sum == prev_sum:
                # Every round's blocks are released when this block
                # exits, so the returned frame must not rest on them: the
                # final labels (edge-touched nodes only) become a local
                # frame.
                labels = local(nodes.sparkSession, labels)
                return nodes.join(labels, "id", "left").select(
                    "id", F.coalesce("label", "id").alias("label")
                )
            prev_sum = cur_sum
    raise RuntimeError(f"connected_components: no fixpoint in {MAX_ROUNDS} rounds")


# DuckDB twin: recursive transitive closure over the same Jaccard pair
# graph, component id = min reachable doc_id (self for singletons).
_COMPONENTS_CLOSURE = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_JACCARD_ORACLE})
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
assignment AS (
  SELECT d.doc_id,
         CAST(LEAST(COALESCE(MIN(r.v), d.doc_id), d.doc_id) AS BIGINT)
           AS component_id
  FROM documents d LEFT JOIN reach r ON d.doc_id = r.u
  GROUP BY d.doc_id
)
"""

_COMPONENTS_ORACLE = _COMPONENTS_CLOSURE + "SELECT doc_id, component_id FROM assignment"

_STATS_ORACLE = (
    _COMPONENTS_CLOSURE
    + """
SELECT component_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
FROM assignment
GROUP BY component_id
HAVING COUNT(*) >= 2
"""
)


def _component_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    edges = jaccard_pairs_cached(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    nodes = docs.select(F.col("doc_id").alias("id"))
    return connected_components(nodes, edges).select(
        F.col("id").alias("doc_id"), F.col("label").alias("component_id")
    )


@query(
    "neardup_components",
    oracle=_COMPONENTS_ORACLE,
    tags=("dedup", "clustering", "graph"),
)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's near-dup family id (min doc_id reachable through
    the Jaccard>=0.5 pair graph; singletons map to themselves). The
    canonical copy of each family is doc_id == component_id; dropping
    the rest is one filter."""
    return _component_assignment(spark, sf_dir)


_CANONICAL_ORACLE = (
    _COMPONENTS_CLOSURE
    + """
, fam AS (
  SELECT component_id FROM assignment
  GROUP BY component_id HAVING COUNT(*) >= 2
),
members AS (
  SELECT a.component_id, a.doc_id, d.n_chars
  FROM assignment a
  JOIN fam f ON f.component_id = a.component_id
  JOIN documents d ON d.doc_id = a.doc_id
),
ranked AS (
  SELECT component_id, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY component_id
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM members
)
SELECT component_id, doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       rn = 1 AS keep
FROM ranked
"""
)


@query(
    "neardup_canonical_keep",
    oracle=_CANONICAL_ORACLE,
    tags=("dedup", "clustering", "graph", "W4"),
)
def neardup_canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-based canonical selection per multi-document near-dup
    family: keep the member with the most content (n_chars DESC, doc_id
    tie-break), drop the rest — the keep/drop decision list a curation
    pipeline actually applies (min-id canonicalization keeps an
    ARBITRARY copy; real pipelines keep the best one). One window over
    the family members joined to a quality column; singleton families
    are excluded (nothing to drop)."""
    from pyspark.sql import Window

    comp = _component_assignment(spark, sf_dir)
    fam = (
        comp.groupBy("component_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("component_id")
    )
    quality = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = comp.join(fam, "component_id").join(quality, "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return members.select(
        "component_id",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        (F.row_number().over(w) == 1).alias("keep"),
    )


@query(
    "neardup_component_stats",
    oracle=_STATS_ORACLE,
    tags=("dedup", "clustering", "graph"),
)
def neardup_component_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per multi-document family: size and how many copies dedup would
    drop — the curation yield report (total corpus shrink = sum of
    n_dropped)."""
    comp = _component_assignment(spark, sf_dir)
    return (
        comp.groupBy("component_id")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select(
            "component_id",
            "n_docs",
            (F.col("n_docs") - F.lit(1)).alias("n_dropped"),
        )
    )
