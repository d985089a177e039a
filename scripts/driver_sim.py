"""Local simulation of the competition driver's verify pass:

1. smoke: ``entry(spark)`` at sf0.001 must return >=0 rows, stable schema
2. t2 gate: every ``queries()[name]`` at sf0.01 vs ``oracle_sql()[name]``
   through DuckDB — row count + sorted columns + order-insensitive
   value hash. Queries without an oracle get a rows-only check.
   Each oracle query is then asked a second time: the answer must hash
   the same, and it must be a warm hit of the registry's answer memo
   (``plans.memos``) unless the query is declared ``writes=True``, whose
   body runs on every call.

3. leak check: after the query loop, ``plans.memos.clear_all()`` must
   leave no persisted RDD in the session (a query that pins blocks
   outside the memo store would show up here), and the session's
   catalog must list no table or view (a query that leaves a temp view
   or a scratch table behind would show up here).

The last line gives the number of generated classes Janino compiled
over the t2 sweep, the figure that sizes ``session.CODEGEN_CACHE_ENTRIES``.

Exit code 0 iff everything matches and nothing leaks. Run from the repo
root.

``--only name1,name2`` restricts the t2 gate to the named queries (for
targeted re-checks after editing one family; the smoke step still runs).
The FULL sweep remains the standing regression net — run it before any
round-end commit.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return str(v)


def hash_result(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> int:
    sys.path.insert(0, os.getcwd())
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    import importlib

    from big_data_competition_dxc_spark.plans import QUERIES
    from big_data_competition_dxc_spark.plans.memos import clear_all, consume_warm_hits
    from big_data_competition_dxc_spark.session import compiled_classes, get_spark
    from big_data_competition_dxc_spark.sources import TABLES

    mod = importlib.import_module("__spark_entry__")
    spark = get_spark("driver-sim")
    spark.sparkContext.setLogLevel("ERROR")

    df = mod.entry(spark)
    n = len(df.collect())
    print(f"entry: rows={n} cols={df.columns}")

    sf = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    qs, oracles = mod.queries(), mod.oracle_sql()
    if "--only" in sys.argv:
        names = sys.argv[sys.argv.index("--only") + 1].split(",")
        unknown = [n for n in names if n not in qs]
        if unknown:
            print(f"unknown queries: {unknown}")
            return 1
        qs = {n: qs[n] for n in names}
    print(f"{len(qs)} queries, {len(oracles)} oracles")
    failures = []
    warm, rerun = 0, 0  # second answers served warm / run again (writes=True)
    compiled0 = compiled_classes(spark)
    for name, fn in sorted(qs.items()):
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        dt = time.perf_counter() - t0
        if name not in oracles:
            print(f"rows  {name}: rows={len(srows)} ({dt:.1f}s)")
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        ok = (
            sorted(sdf.columns) == sorted(dcols)
            and len(srows) == len(drows)
            and hash_result(sdf.columns, srows) == hash_result(dcols, drows)
        )
        if not ok:
            failures.append(name)
        print(
            f"{'MATCH' if ok else 'FAIL '} {name}: spark={len(srows)} duck={len(drows)} ({dt:.1f}s)"
        )
        consume_warm_hits()
        again = fn(spark, sf)
        hit = consume_warm_hits() == 1
        same = hash_result(again.columns, [tuple(r) for r in again.collect()]) == hash_result(
            sdf.columns, srows
        )
        writes = QUERIES[name].writes
        warm += hit and not writes
        rerun += writes
        if not same or not (hit or writes):
            failures.append(name)
            print(f"FAIL  {name}: second answer {'differs' if not same else 'was not a warm hit'}")
    clear_all()
    leaked = len(spark.sparkContext._jsc.getPersistentRDDs())
    if leaked:
        failures.append(f"{leaked} persisted RDDs after clear_all()")
    tables = [t.name for t in spark.catalog.listTables()]
    if tables:
        failures.append(f"tables or views left in the catalog: {tables}")
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
    else:
        print("\nall good")
    print(f"second answers: {warm} warm hits, {rerun} writing queries run again")
    print(f"codegen: {compiled_classes(spark) - compiled0} classes compiled over the sweep")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
