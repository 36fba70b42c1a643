"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import twins  # noqa: E402
from spans import Tracer  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)


def _inputs(seed: int) -> dict:
    orders = gen.orders(seed, 0.01)
    return {
        "orders": orders,
        "lineitem": gen.lineitems(seed, 0.01, orders),
        "customer": gen.customers(seed, 0.01),
        "part": gen.parts(seed, 0.01),
        "documents": gen.documents(seed, 50, 0, "stored"),
        "embeddings": gen.embeddings(seed, 50, 0, "stored"),
        "held": gen.held_back(seed, gen.order_month(orders)),
        "pages": [gen.dashboard_page(seed, i) for i in range(10)],
        "completed": [gen.completed_month(seed, i, list(range(5))) for i in range(10)],
    }


def _equal(a, b) -> bool:
    if isinstance(a, np.ndarray):
        return np.array_equal(a, b)
    if hasattr(a, "equals"):
        return a.equals(b)
    return a == b


def test_same_seed_gives_identical_inputs():
    a, b, c = _inputs(7), _inputs(7), _inputs(8)
    assert all(_equal(a[k], b[k]) for k in a)
    assert not all(_equal(a[k], c[k]) for k in a)


def test_months_and_held_back_share_are_exact():
    orders = gen.orders(3, 0.1)
    month = gen.order_month(orders)
    counts = np.bincount(month)
    assert len(counts) == gen.N_MONTHS and counts.max() - counts.min() <= 1
    held = gen.held_back(3, month)
    assert np.all(np.bincount(month[held], minlength=gen.N_MONTHS) == counts // 10)


def test_planted_document_copy_keeps_the_shingle_set():
    docs = gen.documents(5, 30, 0, "stored")
    for text in docs["text"].to_pylist():
        copy = gen.stutter_copy(text)
        assert copy != text and twins.jaccard(text, copy) == 1.0


def test_corrupted_dashboard_rows_fail_their_check():
    want = [("BUILDING", 120, 3.5), ("MACHINERY", 100, 4.25)]
    assert twins.compare_rows("q", list(want), want) == []
    assert twins.compare_rows("q", [("BUILDING", 120, 3.5), ("MACHINERY", 100, 4.5)], want)
    assert twins.compare_rows("q", [("BUILDING", 121, 3.5), ("MACHINERY", 100, 4.25)], want)
    assert twins.compare_rows("q", want[:1], want)


def test_corrupted_dedup_pairs_fail_their_check():
    texts = {1: "a b c d e f", 2: "a b c d e f", 3: "a b c x y z"}
    good = [(1, 2, 1.0)]
    assert twins.check_doc_pairs(good, texts, [(1, 2)], 0.8) == []
    assert twins.check_doc_pairs([], texts, [(1, 2)], 0.8)  # planted pair missed
    assert twins.check_doc_pairs(good + [(1, 3, 0.9)], texts, [(1, 2)], 0.8)  # below threshold
    v = {1: np.array([1.0, 0.0]), 2: np.array([1.0, 0.001]), 3: np.array([0.0, 1.0])}
    assert twins.check_vector_pairs([(1, 2, 1.0)], v, [(1, 2)], 0.99) == []
    assert twins.check_vector_pairs([(1, 3, 0.995)], v, [(1, 2)], 0.99)


def test_printed_metric_names_equal_benchmark_json():
    e2e = run.end_to_end_metrics(1.0, [2.0, 3.0], [10, 10], 100.0)
    assert set(e2e) == {m["name"] for m in SPEC["end_to_end"]}
    per_layer = layers.per_layer(Tracer(True), {}, 4, 1.0, 100.0)
    assert set(per_layer) == {m["name"] for m in SPEC["per_layer"]}


def test_layer_map_covers_every_metric():
    with open(os.path.join(HERE, "layer_map.json"), encoding="utf-8") as fh:
        layer_map = json.load(fh)
    moves = layer_map["moves"]
    names = {m["name"] for m in SPEC["per_layer"]}
    workloads = {w["name"] for w in SPEC["workloads"]}
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    assert {m["layer"] for m in moves} | set(layer_map["unmapped"]) == names
    assert set(layer_map["end_to_end"]) == e2e
    for m in moves:
        assert m["end_to_end"] in e2e and set(m["workloads"]) <= workloads


@pytest.mark.parametrize("children,want", [
    ([], 10.0),
    ([(1.0, 3.0)], 8.0),
    ([(1.0, 3.0), (2.0, 4.0)], 7.0),  # overlapping children count once
])
def test_self_time_subtracts_the_covered_part(children, want):
    t = Tracer(True)
    with t.span("parent") as p:
        pass
    p.start, p.end = 0.0, 10.0
    for a, b in children:
        with t.span("child") as c:
            pass
        c.start, c.end, c.parent = a, b, p.id
    assert t.self_time(p) == pytest.approx(want)
