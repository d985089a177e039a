"""NULL/empty-text parity pins for the document-exploding operators.

ADVICE (round 4) flagged a latent cross-engine divergence: the UDTF
coerced NULL text to '' (one phantom chunk row Spark-side) while the
DuckDB oracle NULL-propagates to zero rows, and span_corruption's
oracle COALESCEd target_text to '' while Spark left it NULL. The main
fixtures carry no NULL text, so the hash gate could never catch it.
This module builds a degenerate documents fixture — NULL text, empty
string, single word, normal doc — and runs BOTH engines on it through
the registered query + oracle pair, using the same canonicalization as
test_oracle_parity.
"""

from __future__ import annotations

import duckdb
import pytest

from big_data_competition_dxc_spark import plans

from test_oracle_parity import _rowset

plans.load_all()

EDGE_QUERIES = [
    "udtf_word_chunks",
    "span_corruption_pairs",
    "mapinarrow_token_stats",  # NULL propagation + UTF-8 byte lengths
    # r12 document-exploding additions (r12 ADVICE): NULL text must drop
    # rows in BOTH engines; '' must tokenize identically (one '' token).
    "substring_span_dedup",
    "substring_span_hotspots",
    "dsir_importance_weights",
    # r13 additions: scrub drops NULL-text docs explicitly in both
    # engines; the resample decision inherits dsir's NULL handling.
    "substring_span_scrub",
    "substring_span_islands",
    "dsir_resample_keep",
    # r14 composition: NULL/blank text must land in the 'empty' ledger
    # tier in BOTH engines, never reach the scrub/gate stages.
    "corpus_release_pipeline",
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("nulltext")
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT * FROM (VALUES
            (0::BIGINT, NULL::VARCHAR, 'en', 'src0', NULL::BIGINT),
            (1::BIGINT, ''::VARCHAR, 'en', 'src0', 0::BIGINT),
            (2::BIGINT, 'one'::VARCHAR, 'de', 'src1', 3::BIGINT),
            (4::BIGINT, 'héllo wörld 数据 引擎'::VARCHAR, 'zh', 'src3', 16::BIGINT),
            (3::BIGINT, 'a b c d e f g h i j k l m n o p q r s t u v'::VARCHAR,
             'es', 'src2', 43::BIGINT)
          ) AS t(doc_id, text, lang, source, n_chars)
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return str(d)


@pytest.mark.parametrize("name", EDGE_QUERIES)
def test_null_text_parity(name, spark, edge_dir):
    entry = plans.QUERIES[name]
    sdf = entry.fn(spark, edge_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{edge_dir}/documents.parquet')"
    )
    rel = con.execute(entry.oracle)
    duck_cols = [dsc[0] for dsc in rel.description]
    duck_rows = rel.fetchall()
    con.close()

    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: rowcount spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    assert _rowset(spark_cols, spark_rows) == _rowset(duck_cols, duck_rows)
    # The NULL-text doc must not contribute chunk rows / must not
    # produce a NULL-vs-'' divergence — pin the intended semantics too.
    if name == "udtf_word_chunks":
        assert all(r[0] != 0 for r in spark_rows), "NULL text must emit no chunks"


def test_multiprobe_recall_empty_embeddings(spark, tmp_path):
    """An empty embeddings input gives a summary row of zero counts in
    both engines, never NULL (a SUM over no rows is NULL in Spark)."""
    from conftest import SF_TEST_DIR

    entry = plans.QUERIES["ann_multiprobe_recall"]
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{SF_TEST_DIR}/embeddings.parquet') LIMIT 0)"
        f" TO '{tmp_path}/embeddings.parquet' (FORMAT PARQUET)"
    )
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{tmp_path}/embeddings.parquet')"
    )
    rel = con.execute(entry.oracle)
    duck_cols = [dsc[0] for dsc in rel.description]
    duck_rows = rel.fetchall()
    con.close()

    sdf = entry.fn(spark, str(tmp_path))
    spark_rows = [tuple(r) for r in sdf.collect()]
    assert len(spark_rows) == 1
    counts = {c: v for c, v in zip(sdf.columns, spark_rows[0]) if c not in ("n_queries", "k")}
    assert counts and all(v == 0 for v in counts.values()), counts
    assert _rowset(sdf.columns, spark_rows) == _rowset(duck_cols, duck_rows)
