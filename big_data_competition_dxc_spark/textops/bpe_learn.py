"""Iterative BPE merge-table learning — the tokenizer-training loop.

``bpe_pair_counts`` (textops/vocab.py) publishes merge iteration ZERO's
count table; this module runs the actual loop for {N_MERGES} rounds and
returns the LEARNED MERGE TABLE — the artifact a tokenizer trainer
persists (Sennrich et al. 2016's word-type formulation).

Spark-first shape, designed for the 100 TB corpus:

- The corpus collapses to the (word, freq) TYPE table first — one
  map-side-combinable groupBy. Every subsequent iteration runs on word
  TYPES weighted by freq, not on corpus tokens: the classic trick that
  makes the loop's working set vocabulary-sized (sublinear in corpus)
  while counts stay exact.
- Symbols are ROWS, not arrays: (w, freq, pos, sym). Pair extraction
  is lead(sym) over the per-word window; the merge application marks
  the lead row and drops the lag row, then renumbers with row_number.
  Rows distribute — a pathological 10 MB "word" costs one skewed
  partition, not one un-splittable array cell.
- Each iteration's argmax is a driver collect of exactly ONE row
  (count DESC, pair ASC tie-break — deterministic on every engine);
  the count step itself is the distributed aggregate, exactly the
  ML12-forecast-style bounded driver loop.
- Per-iteration ``localCheckpoint`` truncates lineage (the iterative
  pattern of dedup/clustering.py — part of the algorithm, not a result
  memo: without it iteration N's plan nests 2^N window
  recomputations). Every round's checkpoint is held in one ExitStack
  and released when the loop's ``with`` block exits.

Documented semantic restriction: self-adjacent pairs (left == right)
are excluded from merge candidacy. Greedy BPE resolves runs like
"aaa" left-to-right — an inherently sequential order inside the run —
while with left != right every occurrence of the chosen pair is
non-overlapping, so all merge simultaneously and Spark, DuckDB, and a
single-threaded reference implementation agree bit-for-bit. (Real
tokenizer trainers handle the left == right case with the same
run-parity rule both engines would need; the restriction removes the
one order-dependent branch from the oracle comparison.)

The DuckDB oracle replays the identical loop as chained MATERIALIZED
CTEs (one pair/best/apply block per iteration), generated by the same
helper that fixes N_MERGES.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import sql_round
from ..plans.memos import held, local
from ..plans.registry import query
from ..sources import load

N_MERGES = 3


def _oracle_sql(n_merges: int) -> str:
    """Chained-CTE DuckDB replay of the merge loop: tok0 is the
    character-row table; each iteration appends pair/best/apply CTEs.
    MATERIALIZED pins each tok level so the optimizer does not inline
    the whole chain 2^N times.

    Degenerate-corpus symmetry: if best{i} is empty (fewer than
    n_merges mergeable pairs), its scalar subqueries are NULL. The
    tok{i} WHERE clause COALESCEs each comparison to FALSE so every
    row survives unchanged — tok{i} == tok{i-1} — exactly matching
    the Spark loop's clean `break` (which keeps the last valid toks).
    Without the COALESCE, `NOT (NULL AND ...)` is NULL and every row
    with non-null prv would be silently dropped."""
    blocks = [
        """
WITH wf AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) >= 2 GROUP BY w
),
tok0 AS MATERIALIZED (
  SELECT w, freq, i AS pos, substr(w, CAST(i AS INT), 1) AS sym
  FROM wf, unnest(generate_series(1, len(w))) AS t(i)
)"""
    ]
    for i in range(1, n_merges + 1):
        p = i - 1
        blocks.append(
            f""",
lead{i} AS MATERIALIZED (
  SELECT w, freq, pos, sym,
         lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt,
         lag(sym)  OVER (PARTITION BY w ORDER BY pos) AS prv
  FROM tok{p}
),
best{i} AS MATERIALIZED (
  SELECT sym AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS n
  FROM lead{i}
  WHERE nxt IS NOT NULL AND sym <> nxt
  GROUP BY sym, nxt
  ORDER BY n DESC, a, b LIMIT 1
),
tok{i} AS MATERIALIZED (
  SELECT w, freq,
         ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS pos,
         CASE WHEN sym = (SELECT a FROM best{i})
               AND nxt IS NOT DISTINCT FROM (SELECT b FROM best{i})
              THEN (SELECT a || b FROM best{i}) ELSE sym END AS sym
  FROM lead{i}
  WHERE prv IS NULL
     OR NOT (COALESCE(prv = (SELECT a FROM best{i}), FALSE)
             AND COALESCE(sym = (SELECT b FROM best{i}), FALSE))
)"""
        )
    selects = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS it, a AS left_sym, b AS right_sym, "
        f"a || b AS merged, n FROM best{i}"
        for i in range(1, n_merges + 1)
    )
    return "".join(blocks) + f"\nSELECT * FROM ({selects}) ORDER BY it"


@contextmanager
def _run_merge_loop(
    spark: SparkSession, sf_dir: str, n_merges: int
) -> Iterator[tuple[list[tuple], DataFrame]]:
    """The loop itself, yielding (merge table rows, final token rows);
    every round's checkpoint is released when the ``with`` block exits.
    Exposed separately so tests can assert the reconstruction law:
    concatenating the surviving symbols of a word in position order
    must reproduce the word exactly, after every round — the merge
    APPLICATION (mark lead row, drop lag row, renumber) loses or
    duplicates nothing."""
    docs = load(spark, sf_dir, "documents").select("text")
    wf = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    with ExitStack() as rounds:
        toks = rounds.enter_context(
            held(
                wf.select(
                    "w",
                    "freq",
                    F.posexplode(
                        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
                    ).alias("pos", "sym"),
                )
                # posexplode is 0-based; the oracle's tok0 (generate_series) is
                # 1-based. Only the ORDER matters inside the loop, but if zero
                # merges ever apply the un-renumbered positions ARE the final
                # output, so align the bases (caught by the random-corpus
                # property test on the corpus "aa").
                .withColumn("pos", (F.col("pos") + 1).cast("bigint"))
                .localCheckpoint(eager=False)
            )
        )

        wwin = Window.partitionBy("w").orderBy("pos")
        merges = []
        for it in range(1, n_merges + 1):
            led = toks.select(
                "w", "freq", "pos", "sym",
                F.lead("sym").over(wwin).alias("nxt"),
                F.lag("sym").over(wwin).alias("prv"),
            )
            top = (
                led.filter(F.col("nxt").isNotNull() & (F.col("sym") != F.col("nxt")))
                .groupBy("sym", "nxt")
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.col("n").desc(), "sym", "nxt")
                .limit(1)
                .collect()
            )
            if not top:
                break
            a, b, n = top[0]["sym"], top[0]["nxt"], int(top[0]["n"])
            merges.append((it, a, b, a + b, n))
            absorbed = (F.col("prv") == F.lit(a)) & (F.col("sym") == F.lit(b))
            toks = rounds.enter_context(
                held(
                    led.filter(F.col("prv").isNull() | ~absorbed)
                    .withColumn(
                        "sym",
                        F.when(
                            (F.col("sym") == F.lit(a)) & (F.col("nxt") == F.lit(b)),
                            F.lit(a + b),
                        ).otherwise(F.col("sym")),
                    )
                    .withColumn("pos", F.row_number().over(wwin).cast("bigint"))
                    .select("w", "freq", "pos", "sym")
                    # iterative lineage cut (see module docstring) — without it
                    # round N's two consumers re-expand 2^N nested windows
                    .localCheckpoint(eager=True)
                )
            )
        yield merges, toks


@query(
    "bpe_learn_merges",
    oracle=_oracle_sql(N_MERGES),
    tags=("textops", "vocab", "A1", "W1", "iterative"),
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table after {N_MERGES} greedy rounds over
    the word-type table: (iteration, left, right, merged, weighted
    count). Distributed count + 1-row driver argmax per round;
    left != right restriction documented in the module docstring."""
    with _run_merge_loop(spark, sf_dir, N_MERGES) as (merges, _):
        return spark.createDataFrame(
            merges, "it bigint, left_sym string, right_sym string, merged string, n bigint"
        )


def _encode_oracle_sql(n_merges: int) -> str:
    """The learn-loop CTE chain with an encoding-stats tail: weighted
    symbol counts before (tok0 = corpus characters inside words) and
    after the merges, and the fixed-point compression ratio."""
    head = _oracle_sql(n_merges)
    head = head[: head.index("\nSELECT * FROM (")]
    return (
        head
        + f"""
SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS n_word_types,
       CAST(SUM(CASE WHEN src = 0 THEN freq END) AS BIGINT) AS tokens_before,
       CAST(SUM(CASE WHEN src = 1 THEN freq END) AS BIGINT) AS tokens_after,
       CAST(SUM(CASE WHEN src = 0 THEN freq ELSE -freq END) AS BIGINT) AS saved,
       {sql_round(
           "CAST(SUM(CASE WHEN src = 0 THEN freq END) AS DOUBLE)"
           " / SUM(CASE WHEN src = 1 THEN freq END)", 4)} AS compression
FROM (
  SELECT w, freq, 0 AS src FROM tok0
  UNION ALL
  SELECT w, freq, 1 AS src FROM tok{n_merges}
)
"""
    )


@query(
    "bpe_encode_stats",
    oracle=_encode_oracle_sql(N_MERGES),
    tags=("textops", "vocab", "A5", "iterative"),
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closes the tokenizer-training loop: ENCODE the corpus with the
    learned merge table and report the fertility gain — corpus-weighted
    token counts before (characters inside words) and after the
    {N_MERGES} merges, plus the compression ratio. The encode step is
    free here: the learn loop's final token rows ARE the encoded
    corpus (word-type rows weighted by freq), so the stats are one
    aggregate over the loop output unioned with the round-zero table."""
    from ..functions.rounding import round_to

    docs = load(spark, sf_dir, "documents").select("text")
    before = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            "w", (F.col("freq") * F.length("w")).alias("weighted"), F.lit(0).alias("src")
        )
    )
    # the loop's tokens are released when it exits: their per-word
    # totals (one row per word type, the same integer sums) are held as
    # a local frame
    with _run_merge_loop(spark, sf_dir, N_MERGES) as (_, toks):
        after = local(spark, toks.groupBy("w").agg(F.sum("freq").alias("weighted")))
    after = after.withColumn("src", F.lit(1))
    u = before.unionByName(after)
    return u.agg(
        F.countDistinct("w").alias("n_word_types"),
        F.sum(F.when(F.col("src") == 0, F.col("weighted"))).alias("tokens_before"),
        F.sum(F.when(F.col("src") == 1, F.col("weighted"))).alias("tokens_after"),
        F.sum(
            F.when(F.col("src") == 0, F.col("weighted")).otherwise(-F.col("weighted"))
        ).alias("saved"),
        round_to(
            F.sum(F.when(F.col("src") == 0, F.col("weighted"))).cast("double")
            / F.sum(F.when(F.col("src") == 1, F.col("weighted"))),
            4,
        ).alias("compression"),
    )
