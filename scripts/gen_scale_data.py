"""Generate a 10x scale-up of the driver's sf0.1 fixtures for scale
checks (benchdata/sf1, gitignored, ~10x rows): SCALING.md's sf1
measurements and tests/test_fixture_layout.py read it.

Deterministic DuckDB SQL over the read-only /root/testdata/sf0.1
parquet: every fact table is replicated COPIES times with key strides
larger than any source key, so join fan-outs scale like a real 10x
dataset (10x customers each with their own orders, 10x orders each
with their own lineitems) instead of multiplying join multiplicity.
Dimension tables (region, nation) stay fixed, as they would at any
scale. Documents get a per-copy Caesar rotation of the alphabet
(translate): replicas keep the original's length, word shape, and
whitespace structure but share no letter shingles across copy strata,
while any two docs WITHIN a stratum keep exactly their original
similarity — so near-dup pair counts scale linearly (10x) like a real
10x corpus. (A first draft used a text prefix; replicas were then
mutual near-dups and simhash_neardup_pairs went superlinear from pair
volume alone — 2.1M pairs. A vowel-only substitution still left the
consonant skeleton shared and minhash verified 100x pairs.)
Embeddings get a small per-vector deterministic offset (so replicas
are not exactly collinear).

Usage: python scripts/gen_scale_data.py [src_dir] [out_dir] [copies]
"""

from __future__ import annotations

import os
import sys

import duckdb

COPIES = 10
# strides exceed every source key's max by a wide margin
S_CUST = 10_000_000
S_ORDER = 100_000_000
S_PART = 10_000_000
S_SUPP = 10_000_000
S_USER = 10_000_000
S_EVENT = 100_000_000
S_DOC = 10_000_000
S_VEC = 10_000_000


def generate(
    src: str = "/root/testdata/sf0.1",
    out: str = os.path.join(os.path.dirname(__file__), "..", "benchdata", "sf1"),
    copies: int = COPIES,
) -> str:
    out = os.path.abspath(out)
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE TEMP TABLE copies AS SELECT unnest(range({copies})) AS i")

    # Row-group sizing (r10): DuckDB's default 122,880-row groups left
    # documents/embeddings as ONE row group — and a parquet row group is
    # Spark's unit of scan parallelism, so every CPU-heavy projection
    # over the corpus (tokenize, stopword scoring, shingle explode) ran
    # single-threaded regardless of cores. A production 100 TB corpus
    # has orders of magnitude more row groups than executor cores; the
    # scale fixture should look like production, not like an accidental
    # 1-split file. Sizes target >= 32 groups per fact table at 10x.
    # (The sf0.1 driver fixture is read-only and keeps its single-group
    # layout; SCALING.md discloses the resulting denominator effect.)
    ROW_GROUPS: dict[str, int] = {
        "documents": 1_536,
        "embeddings": 1_536,
        "events": 30_000,
        "orders": 45_000,
        "lineitem": 50_000,
        "customer": 4_500,
        "part": 6_000,
        "supplier": 2_000,
    }

    def write(table: str, select_sql: str) -> None:
        dest = os.path.join(out, f"{table}.parquet")
        rg = ROW_GROUPS.get(table)
        opts = f", ROW_GROUP_SIZE {rg}" if rg else ""
        con.execute(
            f"COPY ({select_sql}) TO '{dest}' (FORMAT PARQUET{opts})",
        )

    def src_tbl(table: str) -> str:
        return f"'{os.path.join(src, table + '.parquet')}'"

    # dims: fixed at any scale
    for t in ("region", "nation"):
        write(t, f"SELECT * FROM {src_tbl(t)}")

    write(
        "customer",
        f"""SELECT c_custkey + i * {S_CUST} AS c_custkey, c_name, c_nationkey,
                   c_acctbal, c_mktsegment
            FROM {src_tbl('customer')}, copies""",
    )
    write(
        "supplier",
        f"""SELECT s_suppkey + i * {S_SUPP} AS s_suppkey, s_name, s_nationkey,
                   s_acctbal
            FROM {src_tbl('supplier')}, copies""",
    )
    write(
        "part",
        f"""SELECT p_partkey + i * {S_PART} AS p_partkey, p_name, p_brand,
                   p_type, p_size, p_retailprice
            FROM {src_tbl('part')}, copies""",
    )
    write(
        "orders",
        f"""SELECT o_orderkey + i * {S_ORDER} AS o_orderkey,
                   o_custkey + i * {S_CUST} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM {src_tbl('orders')}, copies""",
    )
    write(
        "lineitem",
        f"""SELECT l_orderkey + i * {S_ORDER} AS l_orderkey,
                   l_partkey + i * {S_PART} AS l_partkey,
                   l_suppkey + i * {S_SUPP} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM {src_tbl('lineitem')}, copies""",
    )
    write(
        "events",
        f"""SELECT event_id + i * {S_EVENT} AS event_id, ts,
                   user_id + i * {S_USER} AS user_id,
                   event_type, value, props
            FROM {src_tbl('events')}, copies""",
    )
    lower = "abcdefghijklmnopqrstuvwxyz"
    upper = lower.upper()
    write(
        "documents",
        f"""SELECT doc_id + i * {S_DOC} AS doc_id,
                   CASE WHEN i = 0 THEN text
                        ELSE translate(text, '{lower}{upper}',
                             substr('{lower}{lower}', CAST(i * 2 + 1 AS INT), 26) ||
                             substr('{upper}{upper}', CAST(i * 2 + 1 AS INT), 26))
                   END AS text,
                   lang, source, n_chars
            FROM {src_tbl('documents')}, copies""",
    )
    write(
        "embeddings",
        f"""SELECT vec_id + i * {S_VEC} AS vec_id,
                   list_transform(embedding, x -> CAST(
                       x + ((vec_id * 31 + i * 17) % 97 - 48) / 2000.0
                       AS FLOAT)) AS embedding,
                   label
            FROM {src_tbl('embeddings')}, copies""",
    )
    con.close()
    return out


if __name__ == "__main__":
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(os.path.dirname(__file__), "..", "benchdata", "sf1")
    )
    copies = int(sys.argv[3]) if len(sys.argv) > 3 else COPIES
    print(generate(src, out, copies))
