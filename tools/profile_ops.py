"""Layer-by-layer profile of the bench shapes in the bench.py registry.

Usage: python tools/profile_ops.py [name ...]   (default: every shape)

Each named shape in ``bench.SHAPES`` runs one cold pass, then 5 warm
passes. Every pass is traced as two spans with ``perfbench.measure.Tracer``
— ``<name>.call`` (the builder, including any driver actions it runs) and
``<name>.action`` (the ``count()``) — so the numbers come from per-span
job groups, the SQL status store and the app status store, all live with
the Spark UI off. Per shape it prints:

- median / min / runs / rows of the warm passes' walls;
- per warm pass, each span's wall and job count and the plan counters
  (shuffle and broadcast bytes, rows/bytes/time into Python nodes, PIP
  residual rows, join output rows) and the tracer's own bookkeeping time,
  which the pass walls leave out;
- per warm pass, the job wall summed by job callsite (the driver action
  that launched the job).

The last stdout line is one JSON object holding all of it, keyed by shape.
Input: $SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS].
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SHAPES  # noqa: E402
from geopy_spark.session import get_spark  # noqa: E402
from perfbench.measure import Tracer, op_records  # noqa: E402

REPS = 5
LAYERS = ("call_s", "call_jobs", "action_s", "action_jobs", "shuffle_bytes",
          "broadcast_bytes", "py_rows", "py_bytes", "py_s", "pip_rows",
          "join_rows", "trace_overhead_s")


def callsites(spark, spans) -> dict[str, dict[str, float]]:
    """Jobs of ``spans`` grouped by callsite: count and summed job wall,
    read from the app status store (kept with the UI off)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out: dict[str, dict[str, float]] = {}
    for sp in spans:
        for group in sp.groups:
            for jid in tracker.getJobIdsForGroup(group):
                job = store.job(jid)
                wall = (job.completionTime().get().getTime()
                        - job.submissionTime().get().getTime()) / 1e3
                rec = out.setdefault(job.name().split("\n")[0],
                                     {"jobs": 0, "wall_s": 0.0})
                rec["jobs"] += 1
                rec["wall_s"] += wall
    return out


def profile(tr: Tracer, spark, sf_dir: str, name: str) -> dict:
    def run():
        with tr.span(f"{name}.call"):
            df = SHAPES[name](spark, sf_dir)
        with tr.span(f"{name}.action"):
            return df.count()

    run()  # cold pass: JIT, python workers, page faults
    tr.spans.clear()
    overhead0 = tr.overhead_s
    for _ in range(REPS):
        rows = run()
    # a pass's wall is its two spans, without the tracer's bookkeeping
    runs = [round(c.seconds + a.seconds, 3)
            for c, a in zip(tr.spans[::2], tr.spans[1::2])]
    rec = op_records(tr.spans)[name]
    rec["trace_overhead_s"] = tr.overhead_s - overhead0
    sites = callsites(spark, tr.spans)
    return {
        "median": round(statistics.median(runs), 3), "min": min(runs),
        "runs": runs, "rows": int(rows),
        "per_pass": {k: round(rec.get(k, 0.0) / REPS, 3) for k in LAYERS},
        "callsites": {s: {"jobs": round(v["jobs"] / REPS, 2),
                          "wall_s": round(v["wall_s"] / REPS, 3)}
                      for s, v in sorted(sites.items(),
                                         key=lambda kv: -kv[1]["wall_s"])},
    }


def show(name: str, r: dict) -> None:
    p = r["per_pass"]
    print(f"== {name}: median={r['median']:.3f}s min={r['min']:.3f}s "
          f"runs={r['runs']} rows={r['rows']}")
    print(f"  call   {p['call_s']:7.3f}s jobs={p['call_jobs']:g}")
    print(f"  action {p['action_s']:7.3f}s jobs={p['action_jobs']:g}")
    print("  " + " ".join(f"{k}={p[k]:g}" for k in LAYERS[4:]))
    sites = r["callsites"]
    print(f"  -- per pass: {sum(v['jobs'] for v in sites.values()):g} jobs, "
          f"sum(job wall) = {sum(v['wall_s'] for v in sites.values()):.3f}s")
    for site, v in sites.items():
        print(f"  {v['wall_s']:7.3f}s  x{v['jobs']:<5g} {site}")


def main() -> None:
    names = sys.argv[1:] or list(SHAPES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    # one tracer for the whole run: its job-group names are numbered per
    # tracer, so a second one would see the first one's jobs
    tr = Tracer(spark)
    out = {}
    for name in names:
        out[name] = profile(tr, spark, sf_dir, name)
        show(name, out[name])
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
