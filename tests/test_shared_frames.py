"""The per-session memo: plans/workload._shared_frame and the
session_cache module behind it."""

from __future__ import annotations

import tempfile
import threading
from collections import Counter
from types import SimpleNamespace

import pytest

from data_engineering_project_spark import session_cache
from data_engineering_project_spark.plans import workload


def test_shared_frame_builds_once_per_key(spark, sf_dir):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return workload.load(spark, sf_dir, "region")

    a = workload._shared_frame(spark, sf_dir, "test_region", build)
    b = workload._shared_frame(spark, sf_dir, "test_region", build)
    assert a is b
    assert calls["n"] == 1
    # a different sf_dir (or tag) is a different key
    c = workload._shared_frame(spark, sf_dir + "/", "test_region", build)
    assert calls["n"] == 2
    assert c is not a
    # the memoized frame is materialized (checkpointed) and readable
    assert a.count() == 5


def test_shared_frame_outputs_match_unshared_build(spark, sf_dir):
    """The memo is pure caching: a query through the shared frame must
    equal the same pipeline built from scratch."""
    from pyspark.sql import functions as F

    shared = workload._copurchase_pair_counts(spark, sf_dir)
    items = (
        workload.load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    fresh = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    got = sorted(map(tuple, shared.collect()))
    want = sorted(map(tuple, fresh.collect()))
    assert got == want and len(got) > 0


# --- the session cache behind _shared_frame, load and the fixture memos ---


def _session(app: str):
    """The one attribute path the cache reads from a SparkSession."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture
def fresh_cache(monkeypatch):
    """An empty cache for stub sessions; the real session's entries are
    restored afterwards, so later tests keep their fixtures."""
    monkeypatch.setattr(session_cache, "_owner", None)
    monkeypatch.setattr(session_cache, "_entries", {})
    monkeypatch.setattr(session_cache, "_builds", Counter())
    monkeypatch.setattr(session_cache, "_hits", Counter())


def test_memo_builds_once_per_key_and_counts_hits(fresh_cache):
    s = _session("app-1")
    built = []

    def build(v):
        built.append(v)
        return v

    assert session_cache.memo(s, ("k", "a"), lambda: build(1)) == 1
    assert session_cache.memo(s, ("k", "a"), lambda: build(2)) == 1
    assert session_cache.memo(s, ("k", "b"), lambda: build(3)) == 3
    # a build that returns None is still a stored value, not a miss
    session_cache.memo(s, ("side_effect",), lambda: build(None))
    session_cache.memo(s, ("side_effect",), lambda: build(None))
    assert built == [1, 3, None]
    assert session_cache.stats() == {
        "builds": {"k": 2, "side_effect": 1},
        "hits": {"k": 1, "side_effect": 1},
    }


def test_memo_drops_entries_under_another_application(fresh_cache):
    built = []
    first, second = _session("app-1"), _session("app-2")
    session_cache.memo(first, ("k",), lambda: built.append("first") or "v1")
    assert session_cache.memo(second, ("k",), lambda: built.append("second") or "v2") == "v2"
    assert built == ["first", "second"]
    assert session_cache.stats() == {"builds": {"k": 1}, "hits": {}}
    # the first application's entry went with it
    assert session_cache._entries == {("k",): "v2"}


def test_invalidate_by_prefix_forces_a_rebuild(fresh_cache):
    s = _session("app-1")
    n = {"built": 0}

    def build():
        n["built"] += 1
        return n["built"]

    for key in [("table", "sf", "orders"), ("table", "sf", "part"), ("table", "sf2", "orders"), ("shared", "sf", "x")]:
        session_cache.memo(s, key, build)
    session_cache.invalidate(s, "table", "sf")
    assert set(session_cache._entries) == {("table", "sf2", "orders"), ("shared", "sf", "x")}
    assert session_cache.memo(s, ("table", "sf", "orders"), build) == 5
    assert session_cache.memo(s, ("table", "sf2", "orders"), build) == 3
    session_cache.invalidate(s)
    assert session_cache._entries == {}


def test_memo_counts_stay_consistent_under_threads(fresh_cache):
    """Concurrent callers on a few keys: every call is a build or a hit,
    and each key keeps the first value stored."""
    s = _session("app-1")
    calls_per_thread, n_threads = 200, 16
    barrier = threading.Barrier(n_threads, timeout=30)
    results: dict[int, list] = {}

    def worker(i):
        barrier.wait()
        results[i] = [
            session_cache.memo(s, ("k", j % 4), lambda: (i, j)) for j in range(calls_per_thread)
        ]

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    st = session_cache.stats()
    assert st["builds"]["k"] + st["hits"]["k"] == calls_per_thread * n_threads
    for got in results.values():
        for j, v in enumerate(got):
            assert v == session_cache._entries[("k", j % 4)]


def test_scratch_dir_lands_under_the_temp_root(fresh_cache, monkeypatch, tmp_path):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    path = session_cache.scratch_dir(_session("app-9"), "ann_index", "/data/tpch/sf0.01/")
    assert path == str(tmp_path / "spark_graft" / "app-9" / "ann_index" / "data_tpch_sf0_01")


def test_load_reads_rewritten_input_after_invalidate(spark, sf_dir, tmp_path):
    """ADVICE r13: a memoized relation snapshots the table's files; after
    the input is rewritten, invalidate makes load() read the new rows."""
    src = str(tmp_path / "sf")
    path = f"{src}/region.parquet"
    workload.load(spark, sf_dir, "region").write.parquet(path)
    before = workload.load(spark, src, "region")
    assert before.count() == 5
    before.limit(2).write.mode("overwrite").parquet(path + ".new")
    spark.read.parquet(path + ".new").write.mode("overwrite").parquet(path)
    session_cache.invalidate(spark, "table", src)
    after = workload.load(spark, src, "region")
    assert after is not before
    assert after.count() == 2
