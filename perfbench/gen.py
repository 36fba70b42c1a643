"""Seeded input generator for the benchmark workloads.

Everything the engine sees is produced here from ``--seed``; the engine
receives only the generated tables (written as parquet into the run's
work directory) and the generated per-op parameters. The same seed
gives byte-identical inputs.

Shapes follow the TPC-H-ish testdata the package is built for
(``orders``/``lineitem``/``customer``/``part``) plus the LLM-data tables
(``documents``/``embeddings``). ``SIZES`` is the sf0.1 row count of each
star table; ``scale`` multiplies it.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "orders": 150_000,
    "customer": 15_000,
    "part": 20_000,
}
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
STATUSES = ("F", "O", "P")
FIRST_MONTH = np.datetime64("1995-01", "M")
N_MONTHS = 80  # 1995-01 .. 2001-08
DIM = 64
N_CLUSTERS = 16
VOCAB = tuple(
    "spark batch part line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join index plan cache shuffle task stage job driver worker lake gold "
    "bronze silver file ledger month delta page chart metric store load read "
    "write commit retry node disk memory core thread queue event log trace".split()
)


def rng_for(seed: int, *stream: object) -> np.random.Generator:
    """Independent generator per (seed, stream name...) so adding a
    stream never shifts the numbers another stream draws."""
    digest = hashlib.sha256(repr((seed, *stream)).encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def sized(table: str, scale: float) -> int:
    return max(1, int(round(SIZES[table] * scale)))


# --- TPC-H-ish star tables ------------------------------------------------


def customers(seed: int, scale: float) -> pa.Table:
    n = sized("customer", scale)
    rng = rng_for(seed, "customer")
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)],
    })


def parts(seed: int, scale: float) -> pa.Table:
    n = sized("part", scale)
    rng = rng_for(seed, "part")
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": keys,
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 2),
    })


def orders(seed: int, scale: float) -> pa.Table:
    """Orders spread evenly over ``N_MONTHS`` months (equal counts, so
    every monthly delivery carries the same number of orders),
    day-of-month uniform."""
    n = sized("orders", scale)
    rng = rng_for(seed, "orders")
    month = rng.permutation(np.arange(n) % N_MONTHS)
    start = (FIRST_MONTH + month).astype("datetime64[D]")
    days = ((FIRST_MONTH + month + 1).astype("datetime64[D]") - start).astype(np.int64)
    date = start + (rng.random(n) * days).astype(np.int64)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, sized("customer", scale), n).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, len(STATUSES), n)],
        "o_totalprice": np.round(rng.uniform(1_000, 400_000, n), 2),
        "o_orderdate": pa.array(date.astype("datetime64[us]")),
    })


def lineitems(seed: int, scale: float, orders_tbl: pa.Table) -> pa.Table:
    """1..7 lines per order (mean 4); ship date 1..120 days after the order."""
    rng = rng_for(seed, "lineitem")
    okeys = orders_tbl["o_orderkey"].to_numpy()
    odate = orders_tbl["o_orderdate"].to_numpy()
    lines = rng.integers(1, 8, len(okeys))
    n = int(lines.sum())
    order_idx = np.repeat(np.arange(len(okeys)), lines)
    starts = np.cumsum(lines) - lines
    linenumber = (np.arange(n) - np.repeat(starts, lines) + 1).astype(np.int32)
    ship = odate[order_idx] + rng.integers(1, 121, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": okeys[order_idx],
        "l_partkey": rng.integers(0, sized("part", scale), n).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })


def order_month(orders_tbl: pa.Table) -> np.ndarray:
    """Month index (0-based from FIRST_MONTH) of every order."""
    d = orders_tbl["o_orderdate"].to_numpy().astype("datetime64[M]")
    return (d - FIRST_MONTH).astype(np.int64)


def held_back(seed: int, month: np.ndarray, share: float = 0.1) -> np.ndarray:
    """Mask of the orders each month's first delivery leaves out: exactly
    ``floor(share * n)`` of every month, picked by the seed."""
    rng = rng_for(seed, "held_back")
    mask = np.zeros(len(month), dtype=bool)
    for m in np.unique(month):
        idx = np.flatnonzero(month == m)
        mask[rng.choice(idx, int(len(idx) * share), replace=False)] = True
    return mask


def completed_month(seed: int, batch: int, incomplete: list[int]) -> int:
    """The earlier month re-delivered complete with ``batch``."""
    return incomplete[int(rng_for(seed, "complete", batch).integers(len(incomplete)))]


# --- LLM-data tables ------------------------------------------------------
#
# Every document carries one stutter run ("x y x y", as scraped pages
# repeat a nav link). A planted near-duplicate lengthens that run by one
# more "x y": the text differs but the set of word 3-shingles is the same,
# so the pair's Jaccard is exactly 1.0 and banded LSH must find it.


def _doc_text(rng: np.random.Generator) -> str:
    words = list(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(20, 81))])
    x, y = rng.choice(len(VOCAB), 2, replace=False)
    at = int(rng.integers(0, len(words) + 1))
    words[at:at] = [VOCAB[x], VOCAB[y], VOCAB[x], VOCAB[y]]
    return " ".join(words)


def stutter_copy(text: str) -> str:
    """The planted near-duplicate of ``text`` (same shingle set)."""
    words = text.split(" ")
    for i in range(len(words) - 3):
        if words[i] == words[i + 2] and words[i + 1] == words[i + 3] and words[i] != words[i + 1]:
            return " ".join(words[: i + 2] + words[i : i + 2] + words[i + 2 :])
    raise ValueError("document has no stutter run")


def documents(seed: int, n: int, first_id: int, stream: str) -> pa.Table:
    rng = rng_for(seed, "documents", stream)
    return pa.table({
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": [_doc_text(rng) for _ in range(n)],
    })


def _centers(seed: int) -> np.ndarray:
    c = rng_for(seed, "centers").normal(size=(N_CLUSTERS, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def embeddings(seed: int, n: int, first_id: int, stream: str) -> pa.Table:
    """Clustered unit-ish vectors: same-cluster cosine is about 0.8, far
    below the near-duplicate threshold."""
    rng = rng_for(seed, "embeddings", stream)
    label = rng.integers(0, N_CLUSTERS, n)
    vecs = (_centers(seed)[label] + rng.normal(scale=0.06, size=(n, DIM))).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def perturb(vectors: np.ndarray, rng: np.random.Generator) -> np.ndarray:
    """Planted vector near-duplicates: cosine to the original > 0.999."""
    return (vectors + rng.normal(scale=0.002, size=vectors.shape)).astype(np.float32)


# --- Per-op parameters ----------------------------------------------------

QUESTION_METRICS = ("revenue", "sales", "orders", "delivery", "freight")
QUESTION_DIMS = ("category", "state", "city", "month", "weekday", "year")
QUESTION_YEARS = tuple(range(1995, 2001))


@dataclass(frozen=True)
class Page:
    segments: tuple[str, ...]
    question: str


def dashboard_page(seed: int, i: int) -> Page:
    """Page refresh ``i``: a segment IN-list and one question from the
    translator's grammar (metric x by-dimension x top-N x year). The
    IN-list size cycles 1..5 so every run sees the same mix of sizes;
    the seed picks the segments and the question."""
    rng = rng_for(seed, "page", i)
    k = i % len(SEGMENTS) + 1
    segs = tuple(sorted(SEGMENTS[j] for j in rng.choice(len(SEGMENTS), k, replace=False)))
    metric = QUESTION_METRICS[rng.integers(len(QUESTION_METRICS))]
    dim = QUESTION_DIMS[rng.integers(len(QUESTION_DIMS))]
    top = int(rng.integers(3, 11))
    year = QUESTION_YEARS[rng.integers(len(QUESTION_YEARS))]
    return Page(segs, f"{metric} by {dim} top {top} in {year}")


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
