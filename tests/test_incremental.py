"""Pipeline-level invariants for the incremental path (FIXTURES.md §4,
reference README_FASE2.md:149-157 idempotence contract)."""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from data_engineering_project_spark.plans.incremental import (
    IncrementalSpec,
    content_fingerprint,
    dq_check,
    land_monthly,
    replace_dimension,
    run_incremental,
)
from data_engineering_project_spark.sources import dirswap
from data_engineering_project_spark.sources.control_table import ControlTable, ledger_records

SPEC = IncrementalSpec(
    order_key="o_orderkey",
    item_order_key="l_orderkey",
    item_line_key="l_linenumber",
    ts_col="o_orderdate",
)


@pytest.fixture()
def orders(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))


@pytest.fixture()
def lineitem(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))


def _months(df, n):
    """First n distinct order months, sorted."""
    rows = (
        df.select(F.date_format("o_orderdate", "yyyy-MM").alias("m"))
        .distinct()
        .orderBy("m")
        .limit(n)
        .collect()
    )
    return [r.m for r in rows]


def _land_months(orders, landing, months):
    land_monthly(
        orders.filter(F.date_format("o_orderdate", "yyyy-MM").isin(months)),
        "o_orderdate", "o_orderkey", landing,
    )


def _ledger_rows(spark, bronze):
    """Ledger rows without processed_at, sorted by file name."""
    ledger = ControlTable(spark, os.path.join(bronze, "tech_processed_files")).read()
    return sorted(tuple(r) for r in ledger.drop("processed_at").collect())


def _count_upserts(monkeypatch) -> list:
    calls = []
    real = ControlTable.upsert

    def counting(self, records):
        calls.append(self.path)
        real(self, records)

    monkeypatch.setattr(ControlTable, "upsert", counting)
    return calls


def test_landing_write_and_skip(spark, orders, tmp_path):
    landing = str(tmp_path / "landing")
    months = _months(orders, 2)
    subset = orders.filter(F.date_format("o_orderdate", "yyyy-MM").isin(months))
    written1 = land_monthly(subset, "o_orderdate", "o_orderkey", landing)
    assert sorted(written1) == months
    # Idempotence: unchanged input → nothing rewritten.
    written2 = land_monthly(subset, "o_orderdate", "o_orderkey", landing)
    assert written2 == {}


def test_incremental_idempotent_and_new_month(spark, orders, lineitem, tmp_path):
    landing = str(tmp_path / "landing")
    bronze = str(tmp_path / "bronze")
    months = _months(orders, 3)
    first_two = orders.filter(F.date_format("o_orderdate", "yyyy-MM").isin(months[:2]))
    land_monthly(first_two, "o_orderdate", "o_orderkey", landing)

    r1 = run_incremental(spark, landing, bronze, SPEC, lineitem)
    total_orders_1 = sum(v["orders_inserted"] for v in r1.values())
    assert total_orders_1 == first_two.count()
    bronze_orders = spark.read.parquet(os.path.join(bronze, "orders"))
    assert bronze_orders.count() == total_orders_1
    # every item belongs to an ingested order; the anti-dup layer adds no
    # composite-key dupes beyond the source's own intra-batch dupes (the
    # reference's NOT EXISTS checks bronze, not the batch itself —
    # scripts/bronze_incremental.py:308-313)
    items = spark.read.parquet(os.path.join(bronze, "order_items"))
    scoped_src = lineitem.join(
        bronze_orders.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey", "left_semi"
    )
    src_dupes = scoped_src.groupBy("l_orderkey", "l_linenumber").count().filter("count > 1").count()
    got_dupes = items.groupBy("l_orderkey", "l_linenumber").count().filter("count > 1").count()
    assert got_dupes == src_dupes

    # Scenario 1: idempotence — re-run inserts 0
    r2 = run_incremental(spark, landing, bronze, SPEC, lineitem)
    assert all(v["orders_inserted"] == 0 and v["items_inserted"] == 0 for v in r2.values())
    assert spark.read.parquet(os.path.join(bronze, "orders")).count() == total_orders_1

    # Scenario 2: new month arrives → only its rows append
    third = orders.filter(F.date_format("o_orderdate", "yyyy-MM") == months[2])
    land_monthly(
        orders.filter(F.date_format("o_orderdate", "yyyy-MM").isin(months)),
        "o_orderdate",
        "o_orderkey",
        landing,
    )
    r3 = run_incremental(spark, landing, bronze, SPEC, lineitem)
    inserted3 = sum(v["orders_inserted"] for v in r3.values())
    assert inserted3 == third.count()

    # ledger recorded every file with a terminal status
    ledger = ControlTable(spark, os.path.join(bronze, "tech_processed_files")).read()
    assert ledger.filter(~F.col("status").isin("OK", "SKIP")).count() == 0


def test_changed_month_redelivers_only_new_rows(spark, orders, lineitem, tmp_path):
    """Scenario 3: a changed month file re-delivers old rows; the
    anti-join layer must insert only the genuinely new ones."""
    landing = str(tmp_path / "landing")
    bronze = str(tmp_path / "bronze")
    month = _months(orders, 1)[0]
    month_df = orders.filter(F.date_format("o_orderdate", "yyyy-MM") == month)
    # hold one order back, ingest, then re-deliver the full month
    keys = [r.o_orderkey for r in month_df.select("o_orderkey").orderBy("o_orderkey").limit(1).collect()]
    partial = month_df.filter(~F.col("o_orderkey").isin(keys))
    land_monthly(partial, "o_orderdate", "o_orderkey", landing)
    run_incremental(spark, landing, bronze, SPEC, lineitem)
    n_before = spark.read.parquet(os.path.join(bronze, "orders")).count()

    land_monthly(month_df, "o_orderdate", "o_orderkey", landing)  # fingerprint moves
    r = run_incremental(spark, landing, bronze, SPEC, lineitem)
    assert sum(v["orders_inserted"] for v in r.values()) == 1
    assert spark.read.parquet(os.path.join(bronze, "orders")).count() == n_before + 1


def test_run_commits_its_ledger_rows_in_one_upsert(spark, orders, lineitem, tmp_path, monkeypatch):
    """One ledger commit per run, holding the same rows (processed_at
    aside) a commit per file wrote: OK with rows_in, rows_inserted and
    the insert note, then SKIP for every file on a re-run."""
    landing = str(tmp_path / "landing")
    bronze = str(tmp_path / "bronze")
    _land_months(orders, landing, _months(orders, 3))
    upserts = _count_upserts(monkeypatch)

    r1 = run_incremental(spark, landing, bronze, SPEC, lineitem)
    assert len(r1) == 3 and len(upserts) == 1
    fps = {
        f: content_fingerprint(spark.read.parquet(os.path.join(landing, f)), "o_orderkey", "o_orderdate")
        for f in r1
    }
    assert _ledger_rows(spark, bronze) == sorted(
        (f, fps[f], r["rows_in"], r["orders_inserted"], "OK",
         f"orders+{r['orders_inserted']} items+{r['items_inserted']}")
        for f, r in r1.items()
    )
    assert all(r["orders_inserted"] == r["rows_in"] > 0 for r in r1.values())

    run_incremental(spark, landing, bronze, SPEC, lineitem)
    assert len(upserts) == 2
    assert _ledger_rows(spark, bronze) == sorted(
        (f, fps[f], 0, 0, "SKIP", "SKIP: unchanged") for f in r1
    )


def test_dq_failure_still_commits_the_files_before_it(spark, orders, lineitem, tmp_path, monkeypatch):
    """The k-th file failing its DQ gate re-raises, and the run's one
    ledger commit still records files 1..k-1 (and nothing after)."""
    landing = str(tmp_path / "landing")
    bronze = str(tmp_path / "bronze")
    months = _months(orders, 3)
    month = F.date_format("o_orderdate", "yyyy-MM")
    first_key = orders.filter(month == months[1]).agg(F.min("o_orderkey")).first()[0]
    poisoned = orders.withColumn(
        "o_orderkey", F.when(F.col("o_orderkey") == first_key, None).otherwise(F.col("o_orderkey"))
    )
    _land_months(poisoned, landing, months)
    upserts = _count_upserts(monkeypatch)

    with pytest.raises(ValueError, match="DQ violations"):
        run_incremental(spark, landing, bronze, SPEC, lineitem)
    assert len(upserts) == 1
    rows = _ledger_rows(spark, bronze)
    assert [(r[0], r[4]) for r in rows] == [(f"orders_{months[0]}.parquet", "OK")]
    n_first = orders.filter(month == months[0]).count()
    assert rows[0][2:4] == (n_first, n_first)


def test_ledger_swap_crash_keeps_the_old_ledger(spark, tmp_path, monkeypatch):
    """A crash after the live ledger is renamed aside, before the new
    one is renamed in: the next read restores the old ledger."""
    path = str(tmp_path / "ledger")
    ledger = ControlTable(spark, path)
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    ledger.upsert(ledger_records(spark, [("f1.parquet", "aaa", ts, 10, 10, "OK", "first")]))

    real_rename = os.rename

    def crash_on_rename_in(src, dst):
        if src == dirswap.staging_path(path):
            raise OSError("simulated crash after the rename-aside")
        real_rename(src, dst)

    monkeypatch.setattr(dirswap.os, "rename", crash_on_rename_in)
    with pytest.raises(OSError, match="simulated crash"):
        ledger.upsert(ledger_records(spark, [("f2.parquet", "bbb", ts, 5, 5, "OK", "second")]))
    monkeypatch.undo()
    assert not os.path.exists(path)  # the torn state: only the backup holds the ledger

    assert [(r.file_name, r.note) for r in ledger.read().collect()] == [("f1.parquet", "first")]
    assert sorted(os.listdir(tmp_path)) == ["ledger"]  # backup and staging cleaned up
    assert ledger.processed_ok() == {("f1.parquet", "aaa")}


def test_ledger_processed_at_is_utc_under_any_host_zone(spark, tmp_path):
    """The ledger stamps the UTC wall clock whatever the host's zone:
    read back in the UTC session, processed_at reads the UTC time of
    the write."""
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        ledger = ControlTable(spark, str(tmp_path / "ledger"))
        dim = spark.range(3).withColumnRenamed("id", "k")
        before = datetime.now(timezone.utc)
        replace_dimension(spark, str(tmp_path / "dim"), dim, "k", ledger, "dim.parquet")
        after = datetime.now(timezone.utc)
        stamp = ledger.read().select(
            F.date_format("processed_at", "yyyy-MM-dd HH:mm:ss").alias("t")
        ).first().t
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    fmt = "%Y-%m-%d %H:%M:%S"
    assert before.strftime(fmt) <= stamp <= after.strftime(fmt)


def test_dimension_replace_on_change(spark, sf_dir, tmp_path):
    """Scenario 4: dimension fully replaced only when fingerprint moves."""
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    bronze_dim = str(tmp_path / "bronze" / "customers")
    ledger = ControlTable(spark, str(tmp_path / "bronze" / "ledger"))

    assert replace_dimension(spark, bronze_dim, cust, "c_custkey", ledger, "customers.parquet")
    assert not replace_dimension(spark, bronze_dim, cust, "c_custkey", ledger, "customers.parquet")
    changed = cust.withColumn(
        "c_name", F.when(F.col("c_custkey") == 1, "CHANGED").otherwise(F.col("c_name"))
    )
    # fingerprint is key-based; a same-keys content change needs a content column in the key —
    # emulate the reference, which fingerprints the whole file: use row hash as key here.
    fp_before = content_fingerprint(cust, "c_name")
    fp_after = content_fingerprint(changed, "c_name")
    assert fp_before != fp_after


def test_incremental_generalizes_to_olist_shape(spark, tmp_path):
    """Same incremental plan, Olist-shaped columns (string keys,
    order_items composite key) — the spec is the only thing that
    changes (SURVEY §7.1 'generalize, don't hardcode')."""
    from datetime import datetime

    orders = spark.createDataFrame(
        [
            (f"o{i:02d}", f"c{i % 3}", "delivered", datetime(2017, 1 + i % 2, 1 + i))
            for i in range(10)
        ],
        "order_id string, customer_id string, order_status string, order_purchase_timestamp timestamp",
    )
    items = spark.createDataFrame(
        [(f"o{i:02d}", j + 1, f"p{j}", 10.0) for i in range(10) for j in range(2)],
        "order_id string, order_item_id int, product_id string, price double",
    )
    spec = IncrementalSpec(
        order_key="order_id",
        item_order_key="order_id",
        item_line_key="order_item_id",
        ts_col="order_purchase_timestamp",
    )
    landing, bronze = str(tmp_path / "landing"), str(tmp_path / "bronze")
    land_monthly(orders, "order_purchase_timestamp", "order_id", landing)
    r1 = run_incremental(spark, landing, bronze, spec, items)
    assert sum(v["orders_inserted"] for v in r1.values()) == 10
    assert sum(v["items_inserted"] for v in r1.values()) == 20
    r2 = run_incremental(spark, landing, bronze, spec, items)
    assert all(v["orders_inserted"] == 0 for v in r2.values())


def test_dq_gate_raises(spark, orders):
    bad = orders.withColumn(
        "o_orderkey", F.when(F.col("o_orderkey") % 100 == 0, None).otherwise(F.col("o_orderkey"))
    )
    with pytest.raises(ValueError, match="DQ violations"):
        dq_check(bad, ["o_orderkey"], [])
    with pytest.raises(ValueError, match="empty"):
        dq_check(orders.filter(F.lit(False)), ["o_orderkey"], [])


def test_ledger_upsert_and_update(spark, tmp_path):
    """S8 keyed upsert + S9 in-place UPDATE (normalize_tech_log.py)."""
    from datetime import datetime

    from data_engineering_project_spark.sources.control_table import LEDGER_SCHEMA

    ledger = ControlTable(spark, str(tmp_path / "ledger"))
    now = datetime(2024, 1, 1)
    r1 = spark.createDataFrame(
        [("f1.parquet", "aaa", now, 10, 10, "OK", "first")], LEDGER_SCHEMA
    )
    r2 = spark.createDataFrame(
        [("f1.parquet", "bbb", now, 10, 0, "SKIP", "SKIP: unchanged")], LEDGER_SCHEMA
    )
    ledger.upsert(r1)
    ledger.upsert(r2)
    rows = ledger.read().collect()
    assert len(rows) == 1 and rows[0].fingerprint == "bbb"  # latest wins

    # S9: UPDATE ... SET note=replace(note,'SKIP: ','') WHERE note LIKE 'SKIP:%'
    ledger.update_where(
        F.col("note").like("SKIP:%") & (F.col("rows_inserted") == 0),
        {"note": F.regexp_replace("note", "^SKIP: ", "")},
    )
    assert ledger.read().collect()[0].note == "unchanged"


def test_merge_aggregate_equals_full_recompute(spark, sf_dir):
    """Folding one month's partial into the materialized aggregate
    yields exactly the full-recompute answer (additive measures)."""
    from data_engineering_project_spark.plans.incremental import merge_aggregate
    from data_engineering_project_spark.plans.workload import load

    orders = load(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("period"),
        "o_totalprice",
    )
    cutoff = "1997-01"
    hist = orders.filter(F.col("period") < cutoff)
    new = orders.filter(F.col("period") >= cutoff)
    agg = lambda df: df.groupBy("period").agg(
        F.sum("o_totalprice").alias("revenue"), F.count("*").alias("n")
    )
    merged = merge_aggregate(agg(hist), agg(new), keys=["period"], sums=["revenue"], counts=["n"])
    full = agg(orders)
    m = {r.period: (round(r.revenue, 2), r.n) for r in merged.collect()}
    f = {r.period: (round(r.revenue, 2), r.n) for r in full.collect()}
    assert m == f
    # bootstrap case: no existing aggregate yet
    boot = merge_aggregate(None, agg(new), ["period"], ["revenue"], ["n"])
    assert boot.count() == agg(new).count()


def test_scd2_apply_versions_and_idempotence(spark):
    """SCD2 dimension history: changed attrs close the current version
    and open a new one, new keys insert, unchanged rows are untouched,
    and re-applying the same batch is a no-op."""
    from data_engineering_project_spark.plans.incremental import scd2_apply

    t0, t1, t2 = "2024-01-01 00:00:00", "2024-02-01 00:00:00", "2024-03-01 00:00:00"
    initial = spark.createDataFrame(
        [(1, "SP", "gold"), (2, "RJ", "silver"), (3, None, "bronze")],
        "customer_id long, state string, tier string",
    )
    dim = scd2_apply(None, initial, "customer_id", ["state", "tier"], t0)
    assert dim.count() == 3 and dim.filter("is_current").count() == 3

    batch = spark.createDataFrame(
        [
            (1, "MG", "gold"),      # state changed -> new version
            (2, "RJ", "silver"),    # unchanged -> untouched
            (3, None, "bronze"),    # unchanged incl. NULL attr -> untouched
            (4, "BA", "gold"),      # new key -> insert
        ],
        "customer_id long, state string, tier string",
    )
    dim2 = scd2_apply(dim, batch, "customer_id", ["state", "tier"], t1)
    rows = {
        (r.customer_id, r.state, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in dim2.collect()
    }
    assert (1, "SP", f"{t0}", f"{t1}", False) in rows      # closed old version
    assert (1, "MG", f"{t1}", "None", True) in rows        # opened new version
    assert (2, "RJ", f"{t0}", "None", True) in rows        # untouched
    assert (3, None, f"{t0}", "None", True) in rows        # NULL attr != new key
    assert (4, "BA", f"{t1}", "None", True) in rows        # inserted
    assert len(rows) == 5

    # idempotence: same batch, later ts -> nothing changes
    dim3 = scd2_apply(dim2, batch, "customer_id", ["state", "tier"], t2)
    rows3 = {
        (r.customer_id, r.state, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in dim3.collect()
    }
    assert rows3 == rows

    # as-of correctness: a January fact sees SP, a February fact sees MG
    from data_engineering_project_spark import session as _s  # noqa: F401
    import pyspark.sql.functions as F2

    jan = dim2.filter(
        (F2.col("customer_id") == 1)
        & (F2.col("valid_from") <= "2024-01-15")
        & ((F2.col("valid_to").isNull()) | (F2.col("valid_to") > "2024-01-15"))
    )
    feb = dim2.filter(
        (F2.col("customer_id") == 1)
        & (F2.col("valid_from") <= "2024-02-15")
        & ((F2.col("valid_to").isNull()) | (F2.col("valid_to") > "2024-02-15"))
    )
    assert [r.state for r in jan.collect()] == ["SP"]
    assert [r.state for r in feb.collect()] == ["MG"]
