"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 16 --trace 0

Runs from the root of a checkout of the repository. The engine runs in
this process on ``local[$SPARK_GRAFT_CPUS]`` (default: every CPU this
process may use but one, which is left to the rest of the machine).
After set-up, ops run back to back; a new op starts only while it is
expected to end within ``--seconds``. Every op's output is checked
after its clock stops.

The last stdout line is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``). The line
before it records the run conditions. A traced run also writes its
spans and per-layer figures under ``.perfbench_out/``. Scratch files
live under ``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def java_processes() -> int:
    n = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/comm", encoding="utf-8") as fh:
                n += fh.read().strip() == "java"
        except OSError:
            pass
    return n


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def pin_cpus() -> None:
    """Run this process, and the Spark JVM it starts, on every CPU it may
    use but the first. The spare CPU takes the rest of the machine's work,
    so job dispatch (thread hand-offs between Python, Py4J and Spark's
    scheduler) does not wait behind it. On a 4-vCPU VM this narrowed the
    run-to-run spread of dashboard page times."""
    cpus = sorted(os.sched_getaffinity(0))
    if len(cpus) > 1:
        os.sched_setaffinity(0, cpus[1:])


def configure_env(work: str, trace: bool) -> None:
    """Point every scratch path of Spark and Python into ``work`` and
    switch the event log on for the traced run only."""
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file, so the JVM too
    # writes only under ``work``. -Xms2g -XX:+AlwaysPreTouch: the heap's
    # first 2 GB are committed and touched at start, so a run does not pay
    # for heap growth and first-touch page faults at a moment that differs
    # from run to run (the maximum stays spark.driver.memory)
    args = ["--driver-java-options",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            " -Xms2g -XX:+AlwaysPreTouch"]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def conditions() -> dict:
    return {
        "nproc": os.cpu_count(),
        "cpus_used": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": os.getloadavg()[0],
        "jvms_running": java_processes(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a kill still runs the clean-up below (stop the JVM, remove scratch files)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    import data_engineering_project_spark  # noqa: F401  (fails outside a checkout)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    pin_cpus()
    configure_env(work, bool(args.trace))
    start = conditions()
    try:
        result, detail = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    detail["conditions"] = {"start": start, "end": conditions()}
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(result, sort_keys=True))
    return 0


def run(args, work: str) -> tuple[dict, dict]:
    from pyspark import SparkContext

    import layers
    from spans import Tracer
    from workloads import WORKLOADS

    from data_engineering_project_spark.session import get_spark

    units = metric_units()
    tracer = Tracer(bool(args.trace))
    t = time.perf_counter()
    spark = get_spark("perfbench")
    session_start_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    slots = spark.sparkContext.defaultParallelism
    tracer.bind(spark)
    workload = WORKLOADS[args.workload](spark, tracer, args.seed, work)

    attempted = failed = 0
    problems: list[str] = []
    op_walls: dict[int, float] = {}
    op_rows: dict[int, int] = {}

    def one_op(i: int, timed: bool) -> float | None:
        nonlocal attempted, failed
        attempted += 1
        tracer.op = i if timed else None
        try:
            workload.prepare(i)
            t0 = time.perf_counter()
            with tracer.span("op"):
                n = workload.op(i)
            wall = time.perf_counter() - t0
            if tracer.enabled:
                workload.after_op()
            found = workload.check()
        except Exception:  # one failed op is reported, not fatal
            traceback.print_exc()
            failed += 1
            problems.append(f"op {i} raised")
            return None
        finally:
            tracer.op = None
        if found:
            failed += 1
            problems.extend(found)
        if timed:
            op_walls[i] = wall
            op_rows[i] = n
        return wall

    try:
        with workload.layer_context():
            with tracer.span("setup"):
                workload.setup()
            for i in range(workload.warmup_ops):
                one_op(i, timed=False)
            setup_s = time.perf_counter() - PROCESS_START
            first = workload.warmup_ops
            for i in range(first, first + timed_ops(workload, args.seconds)):
                if one_op(i, timed=True) is None:
                    break
            end_problems = workload.finish()
        if end_problems:
            failed += 1
            problems.extend(end_problems)
        peak_rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
                       + vm_hwm_mb(jvm_pid))
    finally:
        gateway = SparkContext._gateway
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
        gateway.proc.wait(timeout=60)

    walls = list(op_walls.values())
    end_to_end = end_to_end_metrics(setup_s, walls, list(op_rows.values()), peak_rss_mb)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "timed_ops": len(walls), "op_s": walls,
        "error_rate": failed / attempted, "peak_rss_mb": peak_rss_mb, "problems": problems[:20],
    }
    for p in problems[:20]:
        print(f"check failed: {p}", file=sys.stderr)
    if args.trace:
        tracer.attach_event_log(os.path.join(work, "eventlog"))
        per_layer = layers.per_layer(tracer, op_walls, slots, session_start_s, peak_rss_mb)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in per_layer.items()}
        out = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, "spans.json"))
        with open(os.path.join(out, "layers.json"), "w", encoding="utf-8") as fh:
            json.dump({"per_layer": per_layer,
                       "jobs_per_op": layers.per_op_jobs(tracer, op_walls),
                       "end_to_end_traced": end_to_end,
                       **detail}, fh, indent=1, sort_keys=True)
        detail["trace_dir"] = os.path.relpath(out, ROOT)
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in end_to_end.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return result, detail


def timed_ops(workload, seconds: float) -> int:
    """Ops that fit in ``seconds`` at the workload's nominal op time. A
    fixed count (not a deadline) keeps every run of a seed doing the
    same work, so run-to-run spread is speed alone."""
    return max(1, int(seconds // workload.nominal_op_s))


def end_to_end_metrics(setup_s: float, walls: list[float], rows: list[int],
                       peak_rss_mb: float) -> dict:
    """Median op time, and throughput over the whole timed run: ``rows[k]``
    is the rows op ``k`` handled."""
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(walls) if walls else 0.0,
        "rows_per_s": sum(rows) / sum(walls) if walls else 0.0,
        "peak_rss_mb": peak_rss_mb,
    }


def metric_units() -> dict[str, str]:
    """Unit of every metric, as BENCHMARK.json declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}


if __name__ == "__main__":
    sys.exit(main())
