"""Seeded input generator for the benchmark.

Writes the fixture schemas (FIXTURES.md §2) the three workloads read —
``events``, ``customer``, ``nation``, ``region``, ``orders`` and
``lineitem`` — as one parquet file per table. The same seed gives
byte-identical files; a different seed gives different ones.

Shape of the data:

- ``events``: user activity over 2024-01-01..30 with Zipf-skewed users
  (a few heavy users, a long tail), all five event types, values on a
  cent grid and ~1% exact duplicate rows (the reference's dirty-data
  trait that ``daily_user_rollup`` deduplicates).
- ``orders`` / ``lineitem``: a TPC-H-like star with Zipf item
  popularity, so the KNN hot-item cap (``ITEM_CAP`` = 32 raters) binds.

The value domains the program hard-codes are checked here, so a run
never measures an input on which a query silently degenerates.

Run ``python3 perfbench/gen.py`` to check that determinism.
"""

from __future__ import annotations

import hashlib
import sys
import tempfile
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25

# Domains hard-coded in the program (see the module docstring).
TRAIN_TEST_SPLIT = np.datetime64("2024-01-22", "D")  # ml/regression.py
KNN_QUERY_USERS = 10  # ml/recommend.py N_QUERY_USERS: user_id <= 10
KNN_ITEM_CAP = 32  # ml/recommend.py ITEM_CAP

EVENTS_START = np.datetime64("2024-01-01", "D")
EVENT_DAYS = 30
ORDERS_START = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # through 2001-08-01
US_PER_DAY = 86_400_000_000


@dataclass(frozen=True)
class Profile:
    """Table sizes for one generated input."""

    events: int
    users: int
    customers: int
    orders: int
    parts: int
    suppliers: int


#: The measured input: 20k events and a ~32k-lineitem star.
MAIN = Profile(events=20_000, users=1_500, customers=1_500, orders=8_000, parts=1_500, suppliers=100)
#: The set-up warm-up input.
TINY = Profile(events=1_000, users=100, customers=100, orders=500, parts=100, suppliers=10)


class DomainError(ValueError):
    """The generated data misses a value domain the program relies on."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise DomainError(what)


def _zipf_keys(rng: np.random.Generator, n_keys: int, size: int, s: float) -> np.ndarray:
    """``size`` keys from 0..n_keys-1 with Zipf(s) popularity, in seeded
    order. How many times each popularity rank occurs is fixed (largest
    remainder rounding), so every seed gives the same skew; the seed
    picks which key holds which rank and the row order."""
    weights = 1.0 / np.arange(1, n_keys + 1) ** s
    exact = size * weights / weights.sum()
    counts = np.floor(exact).astype(int)
    counts[np.argsort(counts - exact)[: size - counts.sum()]] += 1
    keys = np.repeat(rng.permutation(n_keys), counts)
    return keys[rng.permutation(size)]


def _cents(rng: np.random.Generator, lo: int, hi: int, size: int) -> np.ndarray:
    return rng.integers(lo, hi, size) / 100.0


def _days(start: np.datetime64, offsets: np.ndarray) -> np.ndarray:
    return (start + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def _events(rng: np.random.Generator, p: Profile) -> pa.Table:
    n_dups = p.events // 100
    n = p.events - n_dups
    ts = _days(EVENTS_START, rng.integers(0, EVENT_DAYS, n)) + rng.integers(
        0, US_PER_DAY, n
    ).astype("timedelta64[us]")
    cols = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": _zipf_keys(rng, p.users, n, 0.8).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "value": _cents(rng, 0, 56_000, n),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }
    # exact duplicate rows, then a seeded shuffle of the whole table
    order = np.concatenate([np.arange(n), rng.choice(n, n_dups, replace=False)])
    order = order[rng.permutation(len(order))]
    cols = {k: v[order] for k, v in cols.items()}

    days = cols["ts"].astype("datetime64[D]")
    _require(bool((days < TRAIN_TEST_SPLIT).any()), "no events before the 2024-01-22 split")
    _require(bool((days >= TRAIN_TEST_SPLIT).any()), "no events after the 2024-01-22 split")
    _require(set(cols["event_type"]) == set(EVENT_TYPES), "an event_type is missing")
    return pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.timestamp("us")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string()),
        }
    )


def _dims(rng: np.random.Generator, p: Profile) -> dict[str, pa.Table]:
    keys = np.arange(p.customers, dtype=np.int64)
    customer = pa.table(
        {
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, p.customers), pa.int32()),
            "c_acctbal": pa.array(_cents(rng, -99_999, 1_000_000, p.customers), pa.float64()),
            "c_mktsegment": pa.array(
                np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), p.customers)], pa.string()
            ),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(N_NATIONS), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(N_NATIONS)], pa.string()),
            "n_regionkey": pa.array(np.arange(N_NATIONS) % len(REGIONS), pa.int32()),
        }
    )
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(len(REGIONS)), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    return {"customer": customer, "nation": nation, "region": region}


def _orders_lineitem(rng: np.random.Generator, p: Profile) -> dict[str, pa.Table]:
    # the first orders belong to the KNN query users 0..10, so every
    # query user has ratings; the rest are uniform over all customers
    n_q = KNN_QUERY_USERS + 1
    custkey = np.concatenate(
        [np.arange(n_q), rng.integers(0, p.customers, p.orders - n_q)]
    ).astype(np.int64)
    orderdate_off = rng.integers(0, ORDER_DAYS, p.orders)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(p.orders), pa.int64()),
            "o_custkey": pa.array(custkey, pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, p.orders)], pa.string()),
            "o_totalprice": pa.array(_cents(rng, 100_000, 50_000_000, p.orders), pa.float64()),
            "o_orderdate": pa.array(_days(ORDERS_START, orderdate_off), pa.timestamp("us")),
            "o_orderpriority": pa.array(
                np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                    rng.integers(0, 5, p.orders)
                ],
                pa.string(),
            ),
        }
    )

    # 1..7 lines per order, every count equally often: 4 lines on average
    lines = rng.permutation(np.arange(p.orders) % 7 + 1)
    n = int(lines.sum())
    okey = np.repeat(np.arange(p.orders), lines)
    linenumber = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    partkey = _zipf_keys(rng, p.parts, n, 1.0).astype(np.int64)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    shipdate_off = orderdate_off[okey] + rng.integers(1, 122, n)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, p.suppliers, n), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(quantity, pa.float64()),
            "l_extendedprice": pa.array(_cents(rng, 90_000, 10_500_000, n), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)], pa.string()),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)], pa.string()),
            "l_shipdate": pa.array(_days(ORDERS_START, shipdate_off), pa.timestamp("us")),
        }
    )

    # rating = clamp(floor(avg(l_quantity) / 10) + 1, 1, 5) (ml/recommend.py)
    buckets = np.minimum(5, np.floor(quantity / 10.0).astype(int) + 1)
    _require(set(buckets) == {1, 2, 3, 4, 5}, "l_quantity does not cover ratings 1..5")
    _require(custkey.min() == 0, "custkeys do not start at 0")
    raters = np.unique(np.stack([partkey, custkey[okey]]), axis=1)[0]
    return {
        "orders": orders,
        "lineitem": lineitem,
        "_max_raters": int(np.bincount(raters).max()),
    }


def generate(out_dir: Path, seed: int, profile: Profile = MAIN) -> Path:
    """Write every table for ``seed`` into ``out_dir`` and return it."""
    rng = np.random.default_rng(seed)
    tables = {"events": _events(rng, profile), **_dims(rng, profile)}
    star = _orders_lineitem(rng, profile)
    max_raters = star.pop("_max_raters")
    if profile is MAIN:
        _require(max_raters > KNN_ITEM_CAP, "the KNN hot-item cap does not bind")
    tables.update(star)
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet", compression="snappy")
    return out_dir


def digest(data_dir: Path) -> str:
    """One hash over every table file's bytes."""
    h = hashlib.sha256()
    for path in sorted(data_dir.glob("*.parquet")):
        h.update(path.name.encode())
        h.update(path.read_bytes())
    return h.hexdigest()


def _selfcheck() -> int:
    with tempfile.TemporaryDirectory(dir=Path(__file__).resolve().parent.parent) as tmp:
        a = digest(generate(Path(tmp, "a"), 1))
        b = digest(generate(Path(tmp, "b"), 1))
        c = digest(generate(Path(tmp, "c"), 2))
    print(f"seed 1: {a}\nseed 1: {b}\nseed 2: {c}")
    ok = a == b and a != c
    print("ok" if ok else "FAILED: same seed must match, different seeds must differ")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(_selfcheck())
