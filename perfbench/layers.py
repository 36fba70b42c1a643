"""Per-layer metrics of a traced run, computed from its spans.

Per-op figures are medians over the timed ops; ratios are taken over
the totals of all timed ops. A layer the workload never calls reports 0
(e.g. ``dedup.*`` on ``dashboard``): that is the predicted non-move.
"""

from __future__ import annotations

import statistics

from spans import Span, Tracer


class OpView:
    def __init__(self, tracer: Tracer, op: int | None, wall_s: float):
        self.wall_s = wall_s
        self.spans = [s for s in tracer.spans if s.op == op]
        self.counters = {k[1]: v for k, v in tracer.counters.items() if k[0] == op}

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name == prefix or s.name.startswith(prefix + ".")]

    def secs(self, prefix: str) -> float:
        return sum(s.end - s.start for s in self.named(prefix))

    def jobs(self, prefix: str = "") -> int:
        return sum(s.jobs for s in (self.named(prefix) if prefix else self.spans))

    def task(self, figure: str) -> float:
        return sum(s.task.get(figure, 0.0) for s in self.spans)

    def counter(self, name: str) -> float:
        return self.counters.get(name, 0.0)


def per_layer(tracer: Tracer, op_walls: dict[int, float], slots: int, session_start_s: float,
              peak_rss_mb: float) -> dict:
    ops = [OpView(tracer, i, wall) for i, wall in op_walls.items()]
    setup = OpView(tracer, None, 0.0)

    def med(fn) -> float:
        return float(statistics.median(fn(o) for o in ops)) if ops else 0.0

    def ratio(num: str, den: str) -> float:
        d = sum(o.counter(den) for o in ops)
        return sum(o.counter(num) for o in ops) / d if d else 0.0

    gold = "medallion.build_star_schema"
    # gold is rebuilt per op on ingest, and once in set-up on dashboard
    gold_view = [o for o in ops if o.named(gold)] or [setup]
    m = {
        "spark.jobs": med(lambda o: o.jobs()),
        "spark.stages": med(lambda o: sum(s.stages for s in o.spans)),
        "spark.tasks": med(lambda o: sum(s.tasks for s in o.spans)),
        "spark.executor_run_s": med(lambda o: o.task("run_s")),
        "spark.executor_cpu_s": med(lambda o: o.task("cpu_s")),
        "spark.gc_s": med(lambda o: o.task("gc_s")),
        "spark.shuffle_bytes": med(lambda o: o.task("shuffle_bytes")),
        "spark.spill_bytes": med(lambda o: o.task("spill_bytes")),
        "spark.result_bytes": med(lambda o: o.task("result_bytes")),
        "spark.dispatch_s": med(lambda o: o.wall_s - o.task("run_s") / slots),
        "session.start_s": session_start_s,
        "process.peak_rss_mb": peak_rss_mb,
        "medallion.gold_build_s": float(statistics.median(o.secs(gold) for o in gold_view)),
        "medallion.jobs": float(statistics.median(o.jobs(gold) for o in gold_view)),
        "analytics.plan_ms": med(lambda o: o.counter("analytics.plan_ms")),
        "analytics.exec_s": med(lambda o: o.secs("analytics") - o.counter("analytics.plan_ms") / 1e3),
        "analytics.jobs_per_page": med(lambda o: o.jobs("analytics")),
        "text2sql.translate_ms": med(lambda o: o.secs("text2sql.translate") * 1e3),
        "sql.plan_ms": med(lambda o: o.counter("sql.plan_ms")),
        "sql.run_s": med(lambda o: o.secs("sql.run")),
        "incremental.land_s": med(lambda o: o.secs("incremental.land_monthly")),
        "incremental.run_s": med(lambda o: o.secs("incremental.run_incremental")),
        "incremental.fingerprint_s": med(lambda o: o.secs("incremental.content_fingerprint")),
        "incremental.fingerprints": med(lambda o: len(o.named("incremental.content_fingerprint"))),
        "incremental.files_ingested_ratio": ratio("incremental.files_ingested", "incremental.files"),
        "control_table.upsert_s": med(lambda o: o.secs("control_table.upsert")),
        "control_table.upserts": med(lambda o: len(o.named("control_table.upsert"))),
        "control_table.read_s": med(lambda o: o.secs("control_table.read")),
        "manifest.io_ms": med(lambda o: o.secs("manifest.io") * 1e3),
        "dedup.band_rows_s": med(lambda o: o.secs("dedup.lsh_band_rows_portable")),
        "dedup.candidates_s": med(lambda o: o.secs("dedup.lsh_candidates_incremental")),
        "dedup.verify_s": med(lambda o: o.secs("dedup.ngram_jaccard")),
        "dedup.candidates": med(lambda o: o.counter("dedup.candidates")),
        "dedup.precision": ratio("dedup.verified", "dedup.candidates"),
        "ann_index.probe_s": med(lambda o: o.secs("ann_index.incremental_near_dups_indexed")
                                 - o.secs("ann_index.add_to_index")),
        "ann_index.append_s": med(lambda o: o.secs("ann_index.add_to_index")),
        "ann_index.cells_probed": med(lambda o: o.counter("ann_index.cells_probed")),
        "ann_index.pairs": med(lambda o: o.counter("ann_index.pairs")),
    }
    return {k: float(v) for k, v in m.items()}


def per_op_jobs(tracer: Tracer, op_walls: dict[int, float]) -> dict[int, int]:
    """Spark jobs of every timed op: these repeat exactly between two
    traced runs with the same seed."""
    return {i: OpView(tracer, i, w).jobs() for i, w in op_walls.items()}
