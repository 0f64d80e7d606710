"""Seeded benchmark of the spatial-join + tiling engine.

    python3 perfbench/run.py --workload pip_tiling --seed 1 --seconds 20 --trace 0

Runs one workload (pip_tiling, proximity or tile_ingest) in one process
at local[4]: set-up, then timed iterations for --seconds, each iteration
checked against the first and the first against a brute-force numpy
twin. The last stdout line is one JSON object with the keys correct,
attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end ones; with --trace 1 every iteration is traced and the metrics
are the per-layer ones. Earlier stdout lines carry the host record and
the per-operator detail. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = min(4, len(os.sched_getaffinity(0)))
MIN_ITERS = 1       # timed iterations even when --seconds runs out first
DEADLINE_S = 150.0  # no new iteration starts after this much process time
T_START = time.monotonic()  # setup_s runs from here to the first timed iteration


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test runs tiny inputs)")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    (SPARK_LOCAL_DIRS is honoured when already set)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(work, "spark-local"))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # the engine's own heap default for the core count, never an override
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false --driver-java-options "
        f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell")


def start_spark():
    from geopy_spark.session import get_spark
    spark = get_spark("perfbench", cores=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(mem) -> None:
    """Stop Spark, end the gateway JVM and wait for every process this
    run started (the Python worker daemon outlives the JVM briefly)."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    if sc is not None:
        t = threading.Thread(target=sc.stop, daemon=True)
        t.start()
        t.join(30)
    gw = SparkContext._gateway
    if gw is not None:
        proc = gw.proc
        try:
            gw.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(20)
        except Exception:
            proc.kill()
            proc.wait(10)
    me = os.getpid()
    left = [p for p in mem.pids if p != me]
    deadline = time.monotonic() + 15
    while left and time.monotonic() < deadline:
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in left:
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if b"spark" in f.read():
                    os.kill(p, signal.SIGKILL)
        except OSError:
            pass


# ----------------------------------------------------------------- running

class Checker:
    """Counts attempted and failed passes over a workload's operators. The
    first successful result of each operator is checked against the twin;
    every later one must reproduce its digest."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.twin_ok = True
        self.digests: dict[str, object] = {}
        self.errors: list[str] = []

    def check(self, op, out) -> bool:
        try:
            if op.name not in self.digests:
                errs = op.verify(out)
                if errs:
                    self.twin_ok = False
                    self.errors.extend(errs)
                    return False
                self.digests[op.name] = op.digest(out)
                return True
            if op.digest(out) != self.digests[op.name]:
                self.errors.append(f"{op.name}: digest differs from first result")
                return False
            return True
        finally:
            op.release(out)

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def run_pass(ops, checker: Checker, tracer=None):
    """One pass over the operators; returns (all correct, per-op walls,
    CPU seconds the process tree used in the timed parts). Checking a
    result is not timed."""
    import measure

    def span(name):
        return tracer.span(name) if tracer is not None else nullcontext()

    walls: dict[str, float] = {}
    cpu = 0.0
    ok = True
    me = os.getpid()
    for op in ops:
        try:
            cpu0 = measure.tree_cpu_s(me)
            t0 = time.monotonic()
            with span(f"{op.name}.call"):
                handle = op.call()
            with span(f"{op.name}.action") as sp:
                out = op.action(handle)
                if sp is not None and hasattr(out, "num_rows"):
                    sp.counters["result_rows"] = out.num_rows
            walls[op.name] = time.monotonic() - t0
            cpu += measure.tree_cpu_s(me) - cpu0
        except Exception:
            checker.errors.append(traceback.format_exc(limit=3))
            ok = False
            continue
        ok = checker.check(op, out) and ok
    checker.record(ok)
    return ok, walls, cpu


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def run_workload(args, work: str) -> tuple[Checker, dict, dict]:
    import measure
    import workloads

    host = measure.host_record(CORES)
    cpu0 = measure.cpu_ticks()
    t0 = time.monotonic()
    wl = workloads.WORKLOADS[args.workload](args.seed, work, args.scale)
    inputs_s = time.monotonic() - t0

    # the rest of set-up: JVM launch and session start through the
    # engine's session module, loading the inputs, then one cold pass,
    # checked against the twin
    t0 = time.monotonic()
    spark = start_spark()
    ops = wl.load(spark)
    session_s = time.monotonic() - t0
    checker = Checker()
    t0 = time.monotonic()
    run_pass(ops, checker)
    cold_s = time.monotonic() - t0

    tracer = measure.Tracer(spark) if args.trace else None
    if tracer is not None and args.workload == "tile_ingest":
        workloads.trace_table_writes(tracer)
    iters: list[dict] = []
    retained = float("nan")
    t_loop = time.monotonic()
    setup_s = t_loop - T_START
    k = 0
    while (k < MIN_ITERS or time.monotonic() - t_loop < args.seconds) \
            and time.monotonic() - T_START < DEADLINE_S:
        before = len(spark.sparkContext._jsc.getPersistentRDDs())
        n_spans = len(tracer.spans) if tracer else 0
        trace0 = tracer.overhead_s if tracer else 0.0
        ok, walls, cpu = run_pass(ops, checker, tracer)
        k += 1
        if k == 1:
            # at a fixed point, so later iterations cannot move it
            retained = measure.retained_heap_mb(spark)
        if not ok:
            continue
        it = {"wall": sum(walls.values()), "cpu": cpu, "walls": walls,
              "persisted": len(spark.sparkContext._jsc.getPersistentRDDs()) - before}
        if tracer is not None:
            it["spans"] = tracer.spans[n_spans:]
            it["trace_s"] = tracer.overhead_s - trace0
            it.update(wl.written)
        iters.append(it)

    host.update(measure.cpu_shares(cpu0, measure.cpu_ticks()))
    host.update({"seed": args.seed, "workload": args.workload,
                 "input_rows": wl.rows, "inputs_s": round(inputs_s, 3),
                 "session_s": round(session_s, 3),
                 "cold_pass_s": round(cold_s, 3)})
    summary = {"setup_s": setup_s, "iters": iters, "retained_mb": retained,
               "rows": wl.rows, "queries": getattr(wl, "nq", 0),
               "kernels": wl.kernel_metrics() if args.trace else {}}
    return checker, host, summary


# ----------------------------------------------------------------- reports

def end_to_end(summary: dict, mem) -> tuple[dict, dict]:
    iters = summary["iters"]
    wall = median([it["wall"] for it in iters])
    cpu = median([it["cpu"] for it in iters])
    ops = sorted({op for it in iters for op in it["walls"]})
    per_op = {f"{op}_s": median([it["walls"][op] for it in iters if op in it["walls"]])
              for op in ops}
    metrics = {"setup_s": (summary["setup_s"], "s"),
               "rows_per_cpu_s": (summary["rows"] / cpu, "rows/cpu_s"),
               "heap_retained_mb": (summary["retained_mb"], "MB")}
    # wall-clock throughput follows the host's CPU steal too closely to
    # carry a regression bound, so it is reported beside the metrics
    detail = {"rows_per_s": summary["rows"] / wall,
              "iterations": len(iters), "iter_s": wall, "iter_cpu_s": cpu,
              "peak_pss_mb": mem.peak_mb, **per_op,
              "iter_walls": [round(it["wall"], 3) for it in iters],
              "iter_cpus": [round(it["cpu"], 3) for it in iters]}
    return metrics, detail


def per_layer(summary: dict) -> tuple[dict, dict]:
    import measure
    traced = summary["iters"]

    per_op_runs: dict[str, list[dict]] = {}
    layer_runs: list[dict] = []
    for it in traced:
        ops = measure.op_records(it["spans"])
        for op, rec in ops.items():
            per_op_runs.setdefault(op, []).append(rec)
        tot = measure.layer_totals(ops)
        tot["persisted_rdds"] = it["persisted"]
        tot["bytes_written"] = it["bytes_written"]
        tot["files_written"] = it["files_written"]
        layer_runs.append(tot)

    def med(runs, key):
        return median([r.get(key, 0.0) for r in runs])

    metrics = {k: (med(layer_runs, k), u) for k, u in measure.LAYER_UNITS.items()}
    metrics["trace_overhead_s"] = (median([it["trace_s"] for it in traced]), "s")
    detail = {op: {k: med(runs, k) for k in sorted({k for r in runs for k in r})}
              for op, runs in per_op_runs.items()}
    if "knn_join" in detail and summary["queries"]:
        detail["knn_join"]["candidates_per_query"] = (
            detail["knn_join"].get("join_rows", 0.0) / summary["queries"])
    for key in ("py_s", "write_s", "commit_s"):
        detail[f"total.{key}"] = med(layer_runs, key)
    detail.update(summary["kernels"])
    detail["traced_iterations"] = len(traced)
    detail["traced_iter_s"] = median([it["wall"] for it in traced])
    return metrics, detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "geopy_spark", "__init__.py")):
        print(f"perfbench: no geopy_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import measure
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    try:
        with measure.MemSampler() as mem:
            try:
                checker, host, summary = run_workload(args, work)
            finally:
                stop_jvm(mem)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    if not summary["iters"]:
        print("perfbench: no iteration completed", file=sys.stderr)
        for e in checker.errors[:5]:
            print(e, file=sys.stderr)
        return 1

    if args.trace:
        metrics, detail = per_layer(summary)
    else:
        metrics, detail = end_to_end(summary, mem)
    detail["fail_ratio"] = checker.failed / checker.attempted
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({"host": host}))
    print(json.dumps({"detail": detail, "errors": checker.errors[:5]}))
    print(json.dumps({
        "correct": checker.twin_ok and checker.failed == 0,
        "attempted": checker.attempted,
        "failed": checker.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
