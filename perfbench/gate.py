"""Correctness gate, run outside the timed region.

- Relational results are compared with their registry query's DuckDB
  ``oracle`` SQL over the same generated parquet, by the canonical
  order-insensitive hash (floats rounded to 9 places, ``None`` as NULL,
  columns sorted by name, rows sorted, md5).
- ML results are checked against counts DuckDB derives independently
  from the same input, and their ``audit_*`` scalars must repeat exactly
  across runs of one seed (kept in a file beside the run records).
"""

from __future__ import annotations

import hashlib
import json
import math
from collections.abc import Sequence
from pathlib import Path

import duckdb

TABLES = ("events", "customer", "nation", "region", "orders", "lineitem")


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    return str(v)


def result_hash(cols: Sequence[str], rows: Sequence[Sequence]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


# Counts the ML outputs must reproduce, derived without Spark.
_FEATURE_SPLIT_SQL = """
WITH d AS (SELECT user_id, CAST(ts AS DATE) AS ds FROM events GROUP BY 1, 2),
l AS (SELECT ds, LEAD(ds) OVER (PARTITION BY user_id ORDER BY ds) AS nx FROM d)
SELECT COUNT(*),
       COUNT(*) FILTER (WHERE nx IS NOT NULL AND ds < DATE '2024-01-22'),
       COUNT(*) FILTER (WHERE nx IS NOT NULL AND ds >= DATE '2024-01-22')
FROM l
"""
_RATINGS_SQL = """
SELECT COUNT(*), COUNT(DISTINCT o_custkey) FROM (
  SELECT o_custkey, l_partkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2)
"""


class Oracle:
    """DuckDB views over one generated input directory."""

    def __init__(self, data_dir: Path):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / (t + '.parquet')}')"
            )

    def hash(self, sql: str) -> str:
        cur = self.con.execute(sql)
        return result_hash([d[0] for d in cur.description], cur.fetchall())

    def ml_counts(self) -> dict[str, int]:
        n_feat, n_train, n_test = self.con.execute(_FEATURE_SPLIT_SQL).fetchone()
        n_ratings, n_rating_users = self.con.execute(_RATINGS_SQL).fetchone()
        return {
            "feature_rows": n_feat,
            "train_rows": n_train,
            "test_rows": n_test,
            "ratings": n_ratings,
            "rating_users": n_rating_users,
        }

    def close(self) -> None:
        self.con.close()


def _finite_nonneg(*xs) -> bool:
    return all(x is not None and math.isfinite(x) and x >= 0 for x in xs)


def check_ml(step: str, rows: list[dict], c: dict[str, int]) -> str | None:
    """Problem found in one ML step's output rows, or None."""
    if step == "ml_linear_regression":
        ok = [r["target"] for r in rows] == ["events", "clicks", "purchases"] and all(
            r["n_train"] == c["train_rows"] and r["n_test"] == c["test_rows"]
            and _finite_nonneg(r["mse_train"], r["mse_test"], r["mse_naive"])
            for r in rows
        )
    elif step == "ml_random_forest":
        by_target: dict[str, float] = {}
        for r in rows:
            by_target[r["target"]] = by_target.get(r["target"], 0.0) + r["importance"]
        ok = len(rows) == 45 and len(by_target) == 5 and all(
            abs(s - 1.0) < 1e-3 for s in by_target.values()
        ) and all(_finite_nonneg(r["mse_train"], r["mse_test"]) for r in rows)
    elif step == "ml_gbt_horizon_blend":
        ok = len(rows) == 1 and rows[0]["n_test"] == c["test_rows"] and _finite_nonneg(
            rows[0]["mse_h1"], rows[0]["mse_h2"], rows[0]["mse_blend"]
        )
    elif step == "ml_cluster_ensemble":
        total = sum(r["n_test"] for r in rows)
        ok = 1 <= len(rows) <= 4 and 0 < total <= c["test_rows"] and all(
            r["audit_n_test_total"] == total and _finite_nonneg(r["mse_test"]) for r in rows
        )
    elif step == "ml_als_recommend":
        r = rows[0] if len(rows) == 1 else {}
        ok = bool(r) and r["n_users"] == c["rating_users"] and _finite_nonneg(r["mse_test"]) and (
            0.0 <= r["hit_rate"] <= 1.0
        )
    else:
        raise KeyError(step)
    return None if ok else f"{step}: output fails its invariants"


def audit_values(rows: list[dict]) -> list:
    """The ``audit_*`` column values of a result, in row order."""
    return [v for r in rows for k, v in sorted(r.items()) if k.startswith("audit_")]


class AuditLog:
    """Audit scalars per (workload, seed), kept across runs in one file."""

    def __init__(self, path: Path):
        self.path = path
        self.seen = json.loads(path.read_text()) if path.exists() else {}

    def check(self, key: str, values: dict[str, list]) -> list[str]:
        """Names whose audits differ from an earlier run of ``key``."""
        prev = self.seen.setdefault(key, {})
        bad = [k for k, v in values.items() if k in prev and prev[k] != v]
        for k, v in values.items():
            prev.setdefault(k, v)
        return bad

    def save(self) -> None:
        self.path.parent.mkdir(parents=True, exist_ok=True)
        self.path.write_text(json.dumps(self.seen, indent=1, sort_keys=True))
