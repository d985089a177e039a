"""End-to-end curated-corpus RELEASE: the one output a training-data
pipeline actually ships.

Every ladder in the LLM-pipeline family ends in an actionable artifact
(exact-dup keepers, span scrub, quality/langid flags, DSIR resample
keeps) — this module composes them into the release decision itself:
one row per source document with its final text and the auditable
reason it was dropped, as ONE lazy Catalyst plan over ``documents``.
The natural referent is the reference's own multi-stage ETL chains
(流行音乐趋势预测.md:36-98), which materialize text files between every
stage; here the stages are CTE-chained in a single plan and each stage
reuses the SAME factored definition its standalone oracle-proven query
pins (dedup/spans.py ``spans_of``, textops/dsir.py ``keep_bps_col`` /
``SQL_KEEP_BPS``, langid's stopword scorer, text_quality's bounds).

Stage order (first matching drop wins — the release ledger):

1. ``empty``      — NULL or all-whitespace text.
2. ``exact_dup``  — md5-content duplicate that is not its group's
                    lowest-doc_id keeper (dedup/exact.py semantics).
3. *scrub*        — cross-document duplicated spans are removed from
                    the KEEPER corpus (Lee et al. 2022 exact-substring
                    scrub). Scoped to keepers on purpose: scrubbing
                    before exact dedup would see every retained copy's
                    spans as duplicated and erase the keeper too.
4. ``quality``    — Gopher/C4-style bounds on the SCRUBBED text
                    (token count, mean token length) — gate after
                    scrub, so boilerplate can't buoy a document over
                    the length bar.
5. ``lang``       — langid confidence gate on the scrubbed tokens: no
                    stopword hit for ANY known language = unidentifiable.
6. ``dsir``       — DSIR importance resampling (Xie et al. 2023):
                    deterministic md5-uniform draw against the
                    document's keep-probability; models are built over
                    the FULL raw pool (the paper's structure — the
                    proposal distribution is pool-wide, the decision
                    applies to the candidate set).

Kept rows ship ``text_final`` (the scrubbed text); dropped rows ship
the reason and a NULL text — never the payload of a document the
release excluded.

Quality-gate determinism: the mean-token-length bound is evaluated in
INTEGER arithmetic (``lo*n_tok <= n_chars <= hi*n_tok``), so the gate
can never sit on a float knife edge in either engine.

Scale shape (100 TB): the exact-dedup window shuffles the text once on
the content hash, and the flagged frame is cached as a session memo
(``plans.memos``) before fanning out — four downstream branches
(keeper tokens, keeper spans, the dup ledger, the final join) consume
it, and without the cache each re-runs the full-text window
shuffle (measured: 4 Window nodes, 0 ReusedExchange — per-branch
column pruning makes the exchanges non-identical, so Catalyst cannot
reuse them). A stage-boundary materialization is also what a
production curation pipeline does between dedup and scrub. Downstream:
the span stream shuffles once into the (fp, doc_id) pre-agg and once
into the per-doc covered-start arrays; scrub, quality, and langid are
per-row JVM higher-order functions over the keeper table; DSIR adds
its proven one-token-pass + 128-row broadcast + per-doc sum; the final
assembly is a shuffle-free union of the three ledgers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..dedup.spans import SPAN_TOKENS, _words, spans_of
from ..functions.hashing import md5_bigint, sql_md5_bigint
from ..plans.memos import memoized
from ..plans.registry import query
from ..sources import load
from .dsir import _SQL_DSIR, SQL_KEEP_BPS, SQL_KEEP_U, dsir_doc_units, keep_bps_col
from .langid import LANG_STOPWORDS, _LANGS

#: Gopher/C4-style bounds, matching textops/quality.py text_quality
#: (token count in [10, 10000]; mean token length in [2, 20] chars).
QUALITY_MIN_TOKENS = 10
QUALITY_MAX_TOKENS = 10000
QUALITY_MIN_AVG_LEN = 2
QUALITY_MAX_AVG_LEN = 20

_SCORE_SQL = ",\n         ".join(
    "CAST(SUM(CASE WHEN cov.j IS NULL AND lower(tokp.word) IN ({words})"
    " THEN 1 ELSE 0 END) AS BIGINT) AS score_{lang}".format(
        words=", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]), lang=lang
    )
    for lang in _LANGS
)

_RELEASE_ORACLE = f"""
WITH {_SQL_DSIR},
ne AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
fpk AS (
  SELECT doc_id, text, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
  FROM ne
),
keepers AS (SELECT doc_id, text FROM fpk WHERE doc_id = keeper),
kw AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS words
  FROM keepers
),
sp AS (
  SELECT doc_id, i,
         md5(array_to_string(words[i:i+{SPAN_TOKENS}-1], ' ')) AS fp
  FROM kw, UNNEST(range(1, len(words) - {SPAN_TOKENS} + 2)) AS t(i)
),
dupf AS (SELECT fp FROM sp GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT sp.doc_id, u.j
  FROM sp JOIN dupf USING (fp), UNNEST(range(sp.i, sp.i + {SPAN_TOKENS})) AS u(j)
),
tokp AS (
  SELECT kw.doc_id, t.j, kw.words[t.j] AS word
  FROM kw, UNNEST(range(1, len(kw.words) + 1)) AS t(j)
),
scrub AS (
  SELECT tokp.doc_id,
         CAST(COUNT(CASE WHEN cov.j IS NULL THEN 1 END) AS BIGINT) AS n_tok,
         CAST(COALESCE(SUM(CASE WHEN cov.j IS NULL THEN length(tokp.word) END), 0)
              AS BIGINT) AS n_chars,
         {_SCORE_SQL},
         COALESCE(string_agg(CASE WHEN cov.j IS NULL THEN tokp.word END,
                             ' ' ORDER BY tokp.j), '') AS text_scrubbed
  FROM tokp LEFT JOIN cov ON cov.doc_id = tokp.doc_id AND cov.j = tokp.j
  GROUP BY tokp.doc_id
),
dsirdec AS (
  SELECT doc_id,
         {SQL_KEEP_BPS.format(t="doc")} AS keep_bps,
         {SQL_KEEP_U.format(md5=sql_md5_bigint("CAST(doc_id AS VARCHAR)"))} AS u
  FROM doc
),
decided AS (
  SELECT s.doc_id,
         CASE
           WHEN NOT (s.n_tok BETWEEN {QUALITY_MIN_TOKENS} AND {QUALITY_MAX_TOKENS}
                     AND s.n_chars BETWEEN {QUALITY_MIN_AVG_LEN} * s.n_tok
                                       AND {QUALITY_MAX_AVG_LEN} * s.n_tok)
             THEN 'quality'
           WHEN greatest({", ".join(f"s.score_{la}" for la in _LANGS)}) = 0
             THEN 'lang'
           WHEN d.u >= d.keep_bps THEN 'dsir'
         END AS drop_reason,
         s.text_scrubbed
  FROM scrub s JOIN dsirdec d USING (doc_id)
)
SELECT doc_id,
       CAST(CASE WHEN drop_reason IS NULL THEN 1 ELSE 0 END AS INT) AS kept,
       drop_reason,
       CASE WHEN drop_reason IS NULL THEN text_scrubbed END AS text_final
FROM decided
UNION ALL
SELECT doc_id, CAST(0 AS INT) AS kept, 'empty' AS drop_reason,
       CAST(NULL AS VARCHAR) AS text_final
FROM documents WHERE text IS NULL OR trim(text) = ''
UNION ALL
SELECT doc_id, CAST(0 AS INT) AS kept, 'exact_dup' AS drop_reason,
       CAST(NULL AS VARCHAR) AS text_final
FROM fpk WHERE doc_id <> keeper
"""


@query(
    "corpus_release_pipeline",
    oracle=_RELEASE_ORACLE,
    tags=("textops", "dedup", "sampling", "llm-pipeline", "pipeline"),
)
def corpus_release_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated-corpus release ledger: one row per source document —
    (doc_id, kept, drop_reason, text_final) — from the composed
    exact-dedup → span-scrub → quality/langid gate → DSIR-resample
    pipeline (stage semantics and scale shape in the module
    docstring). Kept documents ship their scrubbed text; dropped
    documents ship the first-matching drop reason
    ('empty' | 'exact_dup' | 'quality' | 'lang' | 'dsir')."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    is_empty = F.col("text").isNull() | (F.trim("text") == "")
    # one full-text window shuffle, held as a session memo for the
    # four-branch fan-out (see module docstring)
    flagged = memoized(
        "release_flagged",
        spark,
        sf_dir,
        lambda: docs.filter(~is_empty).withColumn(
            "keeper", F.min("doc_id").over(Window.partitionBy(F.md5("text")))
        ),
    )
    keepers = flagged.filter(F.col("doc_id") == F.col("keeper")).select(
        "doc_id", "text"
    )

    # span scrub, scoped to the keeper corpus (see module docstring)
    spans = spans_of(keepers)
    pairs = spans.groupBy("fp", "doc_id").agg(F.count("*").alias("c"))
    dupf = (
        pairs.groupBy("fp")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("fp")
    )
    covered = (
        spans.join(dupf, "fp")
        .groupBy("doc_id")
        .agg(F.collect_set("i").alias("dup_starts"))
    )
    joined = keepers.select("doc_id", _words().alias("w")).join(
        covered, "doc_id", "left"
    )
    starts = F.coalesce("dup_starts", F.array().cast("array<int>"))
    cov = F.array_distinct(
        F.flatten(
            F.transform(starts, lambda s: F.sequence(s, s + SPAN_TOKENS - 1))
        )
    )
    keep_pos = F.array_except(F.sequence(F.lit(1), F.size("w")), cov)
    kw = F.transform(keep_pos, lambda p: F.element_at(F.col("w"), p))
    kw_low = F.transform(kw, lambda x: F.lower(x))

    def scorer(lang: str):
        words = LANG_STOPWORDS[lang]
        return lambda t: t.isin(*words)

    scrubbed = joined.select(
        "doc_id",
        F.size(kw).cast("bigint").alias("n_tok"),
        F.aggregate(
            kw, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
        ).alias("n_chars"),
        *[
            F.size(F.filter(kw_low, scorer(lang)))
            .cast("bigint")
            .alias(f"score_{lang}")
            for lang in _LANGS
        ],
        F.array_join(kw, " ").alias("text_scrubbed"),
    )

    dsir = dsir_doc_units(spark, sf_dir).select(
        "doc_id",
        keep_bps_col().alias("keep_bps"),
        (md5_bigint(F.col("doc_id").cast("string")) % 10000).alias("u"),
    )
    quality_ok = F.col("n_tok").between(
        QUALITY_MIN_TOKENS, QUALITY_MAX_TOKENS
    ) & F.col("n_chars").between(
        QUALITY_MIN_AVG_LEN * F.col("n_tok"),
        QUALITY_MAX_AVG_LEN * F.col("n_tok"),
    )
    known_lang = F.greatest(*[F.col(f"score_{la}") for la in _LANGS]) > 0
    decided = scrubbed.join(dsir, "doc_id").select(
        "doc_id",
        F.when(~quality_ok, "quality")
        .when(~known_lang, "lang")
        .when(F.col("u") >= F.col("keep_bps"), "dsir")
        .alias("drop_reason"),
        "text_scrubbed",
    )
    released = decided.select(
        "doc_id",
        F.when(F.col("drop_reason").isNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("kept"),
        "drop_reason",
        F.when(F.col("drop_reason").isNull(), F.col("text_scrubbed")).alias(
            "text_final"
        ),
    )
    drop_row = lambda reason: [  # noqa: E731 — tiny local shaper
        F.lit(0).cast("int").alias("kept"),
        F.lit(reason).alias("drop_reason"),
        F.lit(None).cast("string").alias("text_final"),
    ]
    empties = docs.filter(is_empty).select("doc_id", *drop_row("empty"))
    dups = flagged.filter(F.col("doc_id") != F.col("keeper")).select(
        "doc_id", *drop_row("exact_dup")
    )
    return released.unionByName(empties).unionByName(dups)
