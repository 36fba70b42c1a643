"""The three benchmark workloads: how each user of the engine drives it.

Each workload calls the package's public functions directly (never the
``plans.workload`` registry, whose module-level caches would turn
repeated ops into cache hits). ``setup`` runs once before timing;
``prepare`` writes the inputs of one op (untimed); ``op`` is one
closed-loop operation and returns the rows it handled; ``check`` then verifies that op's output after the clock has stopped,
and ``finish`` runs the checks that need the whole run. Checks return a
list of problems; an empty list means the output is correct.
"""

from __future__ import annotations

import contextlib
import os

import duckdb
import numpy as np
import pyarrow as pa

import gen
import twins
from spans import Tracer

from data_engineering_project_spark.operators import ann_index, dedup
from data_engineering_project_spark.plans import analytics, incremental, medallion
from data_engineering_project_spark.serving import sql, text2sql
from data_engineering_project_spark.sources import control_table
from data_engineering_project_spark.sources.parquet import read_parquet, read_testdata, write_parquet

SCALE = 1.0  # sf0.1 row counts (gen.SIZES)


def query_plan_ms(df) -> float:
    """Analysis + optimization + planning time of an executed frame."""
    phases = df._jdf.queryExecution().tracker().phases()
    total, it = 0, phases.iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def build_gold(tracer: Tracer, orders, items, customers, parts, gold_dir: str) -> None:
    """Full star-schema build, materialized as parquet (one dir per table)."""
    with tracer.span("medallion.build_star_schema"):
        gold = medallion.build_star_schema(orders, items, customers, parts)
        for name, df in gold.items():
            write_parquet(df, os.path.join(gold_dir, name))


class Workload:
    name = ""
    warmup_ops = 0
    nominal_op_s = 1.0  # one op on a 4-core box; sets how many ops a run times

    def __init__(self, spark, tracer: Tracer, seed: int, work: str):
        self.spark, self.tracer, self.seed, self.work = spark, tracer, seed, work

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def setup(self) -> None:
        raise NotImplementedError

    def prepare(self, i: int) -> None:
        """Generate and write the inputs of op ``i`` (not timed)."""

    def op(self, i: int) -> int:
        raise NotImplementedError

    def check(self) -> list[str]:
        return []

    def after_op(self) -> None:
        """Traced run only, after the op's clock stopped: extra counts."""

    def finish(self) -> list[str]:
        return []

    def layer_context(self) -> contextlib.AbstractContextManager:
        """Patches that time calls made inside public functions (traced run)."""
        return contextlib.nullcontext()


def _write_star_inputs(seed: int, in_dir: str) -> dict[str, pa.Table]:
    orders = gen.orders(seed, SCALE)
    tables = {
        "orders": orders,
        "lineitem": gen.lineitems(seed, SCALE, orders),
        "customer": gen.customers(seed, SCALE),
        "part": gen.parts(seed, SCALE),
    }
    for name, table in tables.items():
        gen.write_parquet(table, os.path.join(in_dir, f"{name}.parquet"))
    return tables


# --- dashboard: the read path ---------------------------------------------

QUERIES = (
    ("kpis", lambda f, dc, dp, s: analytics.kpis(f, dc, s)),
    ("top_categories", lambda f, dc, dp, s: analytics.top_categories(f, dp, dc, s)),
    ("orders_by_state", lambda f, dc, dp, s: analytics.orders_by_state(f, dc, s)),
    ("delivery_days_by_state", lambda f, dc, dp, s: analytics.delivery_days_by_state(f, dc, s)),
    ("freight_by_state", lambda f, dc, dp, s: analytics.freight_by_state(f, dc, s)),
    ("monthly_trend", lambda f, dc, dp, s: analytics.monthly_trend(f, dc, s)),
    ("weekday_seasonality", lambda f, dc, dp, s: analytics.weekday_seasonality(f, dc, s)),
)


class Dashboard(Workload):
    """One op = one page refresh (the 7 ``plans.analytics`` queries for a
    segment IN-list, each collected) followed by one text-to-SQL ask."""

    name = "dashboard"
    warmup_ops = 1
    nominal_op_s = 4.0

    def setup(self) -> None:
        in_dir, gold_dir = self.path("in"), self.path("gold")
        _write_star_inputs(self.seed, in_dir)
        build_gold(self.tracer, *(read_testdata(self.spark, in_dir, t)
                                  for t in ("orders", "lineitem", "customer", "part")), gold_dir)
        self.gold = {name: read_parquet(self.spark, os.path.join(gold_dir, name))
                     for name in ("fact_sales", "dim_customers", "dim_products", "dim_time")}
        sql.register_gold_views(self.spark, self.gold)
        self.fact_rows = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{gold_dir}/fact_sales/*.parquet')").fetchone()[0]
        self.con = twins.gold_connection(gold_dir)

    def prepare(self, i: int) -> None:
        self.page = gen.dashboard_page(self.seed, i)

    def op(self, i: int) -> int:
        page = self.page
        f, dc, dp = self.gold["fact_sales"], self.gold["dim_customers"], self.gold["dim_products"]
        segs = list(page.segments)
        got = {}
        for name, build in QUERIES:
            with self.tracer.span(f"analytics.{name}") as s:
                df = build(f, dc, dp, segs)
                got[name] = df.collect()
            if s is not None:
                self.tracer.count("analytics.plan_ms", query_plan_ms(df))
        with self.tracer.span("serving.ask"):
            try:
                with self.tracer.span("sql.plan"):
                    df = text2sql.answer(self.spark, page.question)
                with self.tracer.span("sql.run") as s:
                    answer = df.collect()
                if s is not None:
                    self.tracer.count("sql.plan_ms", query_plan_ms(df))
            except sql.UnsafeSQLError as exc:
                answer, refused = [], exc
            else:
                refused = None
        self.pending = (page, got, answer, refused)
        return self.fact_rows * (len(QUERIES) + 1)

    def check(self) -> list[str]:
        page, got, answer, refused = self.pending
        want = twins.dashboard_expected(self.con, page.segments)
        problems = []
        for name, _ in QUERIES:
            problems += twins.compare_rows(name, got[name], want[name])
        if refused is not None:
            problems.append(f"ask {page.question!r} refused: {refused}")
        elif not answer:
            problems.append(f"ask {page.question!r} returned no rows")
        return problems

    def layer_context(self):
        return self.tracer.patch(text2sql, "translate", "text2sql.translate")


# --- ingest: the write path -----------------------------------------------

SPEC = incremental.IncrementalSpec(
    order_key="o_orderkey", item_order_key="l_orderkey", item_line_key="l_linenumber",
    ts_col="o_orderdate",
)
PRELOAD_MONTHS = 1


class Ingest(Workload):
    """One op = one delivery: the next month (less its held-back 10%) plus
    one earlier month re-delivered complete, landed, ingested into bronze
    with lineitem as the items source, then gold rebuilt from bronze."""

    name = "ingest"
    nominal_op_s = 8.0

    def setup(self) -> None:
        in_dir = self.path("in")
        tables = _write_star_inputs(self.seed, in_dir)
        self.orders = tables["orders"]
        self.line_keys = tables["lineitem"].select(["l_orderkey"])
        self.lines_per_order = np.bincount(
            self.line_keys["l_orderkey"].to_numpy(), minlength=self.orders.num_rows)
        self.month = gen.order_month(self.orders)
        self.held = gen.held_back(self.seed, self.month)
        self.items = read_testdata(self.spark, in_dir, "lineitem")
        self.customers = read_testdata(self.spark, in_dir, "customer")
        self.parts = read_testdata(self.spark, in_dir, "part")
        self.delivered = np.zeros(self.orders.num_rows, dtype=bool)
        self.incomplete: list[int] = []
        self.next_month = 0
        first = np.isin(self.month, range(PRELOAD_MONTHS)) & ~self.held
        self._stage("preload", first, range(PRELOAD_MONTHS))
        self._ingest()

    def _stage(self, tag: str, mask: np.ndarray, new_months) -> None:
        """Write the delivery of the orders in ``mask`` and note the
        (orders, items) it should insert."""
        fresh = mask & ~self.delivered
        self.expect = (int(fresh.sum()), int(self.lines_per_order[fresh].sum()))
        self.staged = self.path("deliveries", tag)
        gen.write_parquet(self.orders.filter(pa.array(mask)),
                          os.path.join(self.staged, "orders.parquet"))
        self.delivered |= mask
        self.incomplete += list(new_months)
        self.next_month = max(self.next_month, max(new_months) + 1)

    def _ingest(self) -> None:
        """Land the staged delivery, ingest it into bronze, rebuild gold."""
        batch = read_testdata(self.spark, self.staged, "orders")
        with self.tracer.span("incremental.land_monthly"):
            incremental.land_monthly(batch, SPEC.ts_col, SPEC.order_key, self.path("landing"))
        with self.tracer.span("incremental.run_incremental"):
            self.result = incremental.run_incremental(
                self.spark, self.path("landing"), self.path("bronze"), SPEC, self.items)
        build_gold(self.tracer, read_parquet(self.spark, self.path("bronze", "orders")),
                   read_parquet(self.spark, self.path("bronze", "order_items")),
                   self.customers, self.parts, self.path("gold"))

    def prepare(self, i: int) -> None:
        m = self.next_month
        j = gen.completed_month(self.seed, i, self.incomplete)
        self.incomplete.remove(j)
        self._stage(f"b{i}", ((self.month == m) & ~self.held) | (self.month == j), [m])

    def op(self, i: int) -> int:
        self._ingest()
        got_orders = sum(r["orders_inserted"] for r in self.result.values())
        got_items = sum(r["items_inserted"] for r in self.result.values())
        self.tracer.count("incremental.files", len(self.result))
        self.tracer.count("incremental.files_ingested",
                          sum(1 for r in self.result.values() if r["orders_inserted"] + r["items_inserted"]))
        self.pending = (i, (got_orders, got_items), self.expect)
        return got_orders + got_items

    def check(self) -> list[str]:
        i, got, want = self.pending
        if got != want:
            return [f"batch {i} inserted {got[0]} orders/{got[1]} items, "
                    f"expected {want[0]}/{want[1]}"]
        return []

    def finish(self) -> list[str]:
        con = duckdb.connect()
        con.register("delivered", self.orders.filter(pa.array(self.delivered)))
        con.register("lineitem", self.line_keys)
        bronze = self.path("bronze")
        problems = []
        got = con.execute(f"SELECT count(*), sum(hash(o_orderkey)) FROM "
                          f"read_parquet('{bronze}/orders/*.parquet')").fetchone()
        want = con.execute("SELECT count(*), sum(hash(o_orderkey)) FROM delivered").fetchone()
        if got != want:
            problems.append(f"bronze orders (count, key hash) {got}, expected {want}")
        dup = con.execute(f"SELECT count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM "
                          f"read_parquet('{bronze}/order_items/*.parquet')").fetchone()[0]
        if dup:
            problems.append(f"bronze items hold {dup} duplicate (l_orderkey, l_linenumber) keys")
        got_fact = con.execute(f"SELECT count(*) FROM read_parquet('{self.path('gold')}"
                               f"/fact_sales/*.parquet')").fetchone()[0]
        want_fact = con.execute("SELECT count(*) FROM delivered d JOIN lineitem l "
                                "ON d.o_orderkey = l.l_orderkey WHERE d.o_orderstatus = 'F'"
                                ).fetchone()[0]
        if got_fact != want_fact:
            problems.append(f"gold fact_sales has {got_fact} rows, expected {want_fact}")
        return problems

    def layer_context(self) -> contextlib.AbstractContextManager:
        stack = contextlib.ExitStack()
        for owner, attr, name in (
            (incremental, "content_fingerprint", "incremental.content_fingerprint"),
            (control_table.ControlTable, "upsert", "control_table.upsert"),
            (control_table.ControlTable, "processed_ok", "control_table.read"),
            (incremental, "load_manifest", "manifest.io"),
            (incremental, "save_manifest", "manifest.io"),
        ):
            stack.enter_context(self.tracer.patch(owner, attr, name))
        return stack


# --- dedup: the operator path ---------------------------------------------

STORED_DOCS, STORED_VECS = 4_000, 1_600
BATCH_DOCS, PLANTED_DOCS = 100, 20
BATCH_VECS, PLANTED_VECS = 40, 10
DOC_THRESHOLD = 0.8
VEC_THRESHOLD = 0.99


class Dedup(Workload):
    """One op = one arriving batch of documents and vectors, each with
    planted near-duplicates of stored items, checked against the
    persisted LSH band index and the persisted IVF index."""

    name = "dedup"
    warmup_ops = 1
    nominal_op_s = 5.0

    def setup(self) -> None:
        in_dir = self.path("in")
        docs = gen.documents(self.seed, STORED_DOCS, 0, "stored")
        vecs = gen.embeddings(self.seed, STORED_VECS, 0, "stored")
        gen.write_parquet(docs, os.path.join(in_dir, "documents.parquet"))
        gen.write_parquet(vecs, os.path.join(in_dir, "embeddings.parquet"))
        self.texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        self.vectors = dict(zip(vecs["vec_id"].to_pylist(),
                                np.stack(vecs["embedding"].to_numpy(zero_copy_only=False))))
        self.stored_docs = read_testdata(self.spark, in_dir, "documents")
        with self.tracer.span("dedup.lsh_band_rows_portable"):
            write_parquet(dedup.lsh_band_rows_portable(self.stored_docs, "text", "doc_id"),
                          self.path("lsh", "batch=-1"))
        with self.tracer.span("ann_index.build_index"):
            ann_index.build_index(read_testdata(self.spark, in_dir, "embeddings"), self.path("ivf"))

    def _arrivals(self, i: int):
        """Write batch ``i``'s documents and vectors; return the planted pairs."""
        rng = gen.rng_for(self.seed, "planted", i)
        base = 10_000 + 1_000 * i
        docs = gen.documents(self.seed, BATCH_DOCS, base, f"batch{i}")
        orig = rng.choice(STORED_DOCS, PLANTED_DOCS, replace=False)
        copy_ids = np.arange(base + 500, base + 500 + PLANTED_DOCS)
        docs = pa.concat_tables([docs, pa.table({
            "doc_id": copy_ids, "text": [gen.stutter_copy(self.texts[int(k)]) for k in orig]})])
        vecs = gen.embeddings(self.seed, BATCH_VECS, base, f"batch{i}").select(["vec_id", "embedding"])
        vorig = rng.choice(STORED_VECS, PLANTED_VECS, replace=False)
        vcopy_ids = np.arange(base + 500, base + 500 + PLANTED_VECS)
        copies = gen.perturb(np.stack([self.vectors[int(k)] for k in vorig]), rng)
        vecs = pa.concat_tables([vecs, pa.table({
            "vec_id": vcopy_ids, "embedding": pa.array(list(copies), type=pa.list_(pa.float32()))})])
        gen.write_parquet(docs, self.path("arrivals", "documents", f"batch={i}", "part.parquet"))
        gen.write_parquet(vecs, self.path("arrivals", "embeddings", f"batch={i}", "part.parquet"))
        self.texts.update(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        self.vectors.update(zip(vecs["vec_id"].to_pylist(),
                                np.stack(vecs["embedding"].to_numpy(zero_copy_only=False))))
        return (list(zip(orig.tolist(), copy_ids.tolist())),
                list(zip(vorig.tolist(), vcopy_ids.tolist())), docs.num_rows + vecs.num_rows)

    def prepare(self, i: int) -> None:
        self.pending = self._arrivals(i)

    def op(self, i: int) -> int:
        spark, t = self.spark, self.tracer
        new_docs = read_parquet(spark, self.path("arrivals", "documents", f"batch={i}"))
        corpus = self.stored_docs.unionByName(
            read_parquet(spark, self.path("arrivals", "documents")).select("doc_id", "text"))
        with t.span("dedup.lsh_band_rows_portable"):
            write_parquet(dedup.lsh_band_rows_portable(new_docs, "text", "doc_id"),
                          self.path("lsh", f"batch={i}"))
        index = read_parquet(spark, self.path("lsh"))
        with t.span("dedup.lsh_candidates_incremental"):
            cands = dedup.lsh_candidates_incremental(
                index.filter(f"batch = {i}").drop("batch"),
                index.filter(f"batch < {i}").drop("batch"),
            ).localCheckpoint(eager=True)
        with t.span("dedup.ngram_jaccard"):
            scored = dedup.ngram_jaccard(corpus, cands, "text", "doc_id").collect()
        new_vecs = read_parquet(spark, self.path("arrivals", "embeddings", f"batch={i}"))
        with t.span("ann_index.incremental_near_dups_indexed"):
            vec_pairs = ann_index.incremental_near_dups_indexed(
                spark, self.path("ivf"), new_vecs, threshold=VEC_THRESHOLD, append=True).collect()
        doc_pairs = [(r.id_a, r.id_b, r.jaccard) for r in scored if r.jaccard >= DOC_THRESHOLD]
        t.count("dedup.candidates", len(scored))
        t.count("dedup.verified", len(doc_pairs))
        t.count("ann_index.pairs", len(vec_pairs))
        self.found = (doc_pairs, [(r.id_a, r.id_b, r.cosine) for r in vec_pairs])
        return self.pending[2]

    def check(self) -> list[str]:
        planted_docs, planted_vecs, _ = self.pending
        doc_pairs, vec_pairs = self.found
        return (twins.check_doc_pairs(doc_pairs, self.texts, planted_docs, DOC_THRESHOLD)
                + twins.check_vector_pairs(vec_pairs, self.vectors, planted_vecs, VEC_THRESHOLD))

    def layer_context(self) -> contextlib.AbstractContextManager:
        stack = contextlib.ExitStack()
        stack.enter_context(self.tracer.patch(ann_index, "add_to_index", "ann_index.add_to_index"))
        stack.enter_context(self.tracer.patch(
            ann_index, "probe_assignments", "ann_index.probe_assignments", on_result=self._probed))
        return stack

    def _probed(self, probes) -> None:
        # the probe frame is lazy; its distinct cells are counted after the op
        self.probes = probes

    def after_op(self) -> None:
        self.tracer.count("ann_index.cells_probed",
                          self.probes.select("cell").distinct().count())


WORKLOADS = {w.name: w for w in (Dashboard, Ingest, Dedup)}
