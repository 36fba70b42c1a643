"""Output checks: DuckDB twins of the engine's answers and exact
recomputations in Python. Every function here returns a list of
problems; an empty list means the output is correct."""

from __future__ import annotations

import math
from collections.abc import Sequence

import duckdb
import numpy as np

# The 7 dashboard queries of plans.analytics over the gold parquet,
# restricted to the segment IN-list bound as $segments.
_BASE = """
    SELECT f.*, c.customer_state
    FROM fact_sales f JOIN dim_customers c USING (customer_id)
    WHERE list_contains($segments, c.customer_state)
"""
_MONEY = "round(sum(CAST({} AS DECIMAL(38,6))), 2)::DOUBLE"
DASHBOARD_SQL = {
    "kpis": f"""
        WITH o AS (
            SELECT order_id, sum(price) AS rev, max(delivery_time_days) AS dd,
                   sum(freight_value) AS fr
            FROM ({_BASE}) GROUP BY order_id)
        SELECT {_MONEY.format("rev")}, round(avg(dd), 4), count(*),
               round(avg(fr), 4), round(avg(rev), 4) FROM o""",
    "top_categories": f"""
        SELECT p.product_category_name, {_MONEY.format("price")} AS revenue
        FROM ({_BASE}) b JOIN dim_products p USING (product_id)
        GROUP BY 1 ORDER BY revenue DESC, 1 LIMIT 10""",
    "orders_by_state": f"""
        SELECT customer_state, count(DISTINCT order_id) AS n
        FROM ({_BASE}) GROUP BY 1 ORDER BY n DESC, 1""",
    "delivery_days_by_state": f"""
        WITH o AS (SELECT order_id, customer_state, max(delivery_time_days) AS dd
                   FROM ({_BASE}) GROUP BY 1, 2)
        SELECT customer_state, round(avg(dd), 4) AS v FROM o GROUP BY 1 ORDER BY v DESC, 1""",
    "freight_by_state": f"""
        WITH o AS (SELECT order_id, customer_state, sum(freight_value) AS fr
                   FROM ({_BASE}) GROUP BY 1, 2)
        SELECT customer_state, round(avg(fr), 4) AS v FROM o GROUP BY 1 ORDER BY v DESC, 1""",
    "monthly_trend": f"""
        SELECT strftime(order_purchase_timestamp, '%Y-%m') AS period, {_MONEY.format("price")}
        FROM ({_BASE}) GROUP BY 1 ORDER BY 1""",
    "weekday_seasonality": f"""
        SELECT dayname(order_purchase_timestamp) AS d, {_MONEY.format("price")}
        FROM ({_BASE}) GROUP BY 1 ORDER BY isodow(min(order_purchase_timestamp))""",
}


def gold_connection(gold_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for table in ("fact_sales", "dim_customers", "dim_products"):
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{gold_dir}/{table}/*.parquet')"
        )
    return con


def dashboard_expected(con: duckdb.DuckDBPyConnection, segments: Sequence[str]) -> dict:
    return {
        name: con.execute(sql, {"segments": list(segments)}).fetchall()
        for name, sql in DASHBOARD_SQL.items()
    }


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        # rounded aggregates: summation order may flip the last kept digit
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=0.0101)
    return a == b


def compare_rows(name: str, got: Sequence[Sequence], want: Sequence[Sequence]) -> list[str]:
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return [f"{name}: row {i} is {tuple(g)}, expected {tuple(w)}"]
    return []


# --- dedup ----------------------------------------------------------------


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    words = text.split(" ")
    return {tuple(words[i : i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def check_doc_pairs(
    pairs: Sequence[tuple[int, int, float]],
    texts: dict[int, str],
    planted: Sequence[tuple[int, int]],
    threshold: float,
) -> list[str]:
    """``pairs`` are the emitted (id_a, id_b, jaccard) rows: each must
    carry its true Jaccard and meet the threshold; every planted pair
    must be among them."""
    problems = []
    for a, b, j in pairs:
        true = jaccard(texts[a], texts[b])
        if abs(true - j) > 1e-4 or true < threshold:
            problems.append(f"doc pair ({a},{b}) reported {j}, true Jaccard {true:.4f}")
    found = {(a, b) for a, b, _ in pairs}
    problems += [f"planted doc pair {p} not found" for p in planted if tuple(sorted(p)) not in found]
    return problems


def check_vector_pairs(
    pairs: Sequence[tuple[int, int, float]],
    vectors: dict[int, np.ndarray],
    planted: Sequence[tuple[int, int]],
    threshold: float,
) -> list[str]:
    problems = []
    for a, b, c in pairs:
        va, vb = vectors[a].astype(np.float64), vectors[b].astype(np.float64)
        true = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        if abs(true - c) > 1e-4 or true < threshold - 1e-6:
            problems.append(f"vector pair ({a},{b}) reported {c}, true cosine {true:.6f}")
    found = {tuple(sorted((a, b))) for a, b, _ in pairs}
    problems += [f"planted vector pair {p} not found" for p in planted if tuple(sorted(p)) not in found]
    return problems
