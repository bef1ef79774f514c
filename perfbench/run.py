#!/usr/bin/env python3
"""KG benchmark: one workload per run, in a fresh Spark session.

    python3 perfbench/run.py --workload kg_build --seed 0 --seconds 10 --trace 0

Run from the repository root. Workloads (see perfbench/README.md):

- ``kg_build``: ``materialize_graph`` with linking over a seeded corpus;
- ``query_suite``: the 14 headline operator queries over seeded tables.

Inputs are generated from ``--seed`` and written before timing starts.
A run measures one pass in the fresh session: a batch build, or a suite
of queries, is one pass per ``spark-submit``. A pass takes longer than
``--seconds`` on a 4-core host, so the flag is accepted and not used.
Both metrics are CPU seconds of this process and every process it
started: ``setup_s`` up to the first finished job, ``pass_cpu_s`` over
the pass. The walls, which follow the host's CPU steal, are in the
report. The run prints a readable report, then, as its last line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics).
Everything it writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time

SETUP_T0 = time.monotonic()

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [REPO, HERE]

from host import RssSampler, conditions, cpu_times, fit_host, stop_spark, tree_cpu_s  # noqa: E402
from kg_build import LAYER_METRICS as KG_LAYERS, KgBuild  # noqa: E402
from query_suite import LAYER_METRICS as SUITE_LAYERS, QuerySuite  # noqa: E402
from spans import STAGE_FIELDS, Tracer  # noqa: E402

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}
SESSION_METRICS = ["jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                   "shuffle_write_bytes", "spill_bytes"]


def unit_of(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_us", "us"), ("_s", "s"), ("_mb", "MB"),
                         ("bytes", "B"), ("_per_row_returned", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


WORKLOADS = {"kg_build": KgBuild, "query_suite": QuerySuite}
LAYERS = (KG_LAYERS + SUITE_LAYERS
          + [f"plans.session.{m}" for m in SESSION_METRICS + ["peak_rss_mb"]]
          + ["trace.tracer_s", "trace.pass_s", "trace.pass_cpu_s"])


def session_metrics(spans: list[dict]) -> dict:
    tot = {k: sum(s.get(k, 0) for s in spans) for k in [*STAGE_FIELDS, "jobs"]}
    return {"plans.session.jobs": tot["jobs"],
            "plans.session.tasks": tot["tasks"],
            "plans.session.executor_run_s": tot["executor_run_ms"] / 1e3,
            "plans.session.executor_cpu_s": tot["executor_cpu_ns"] / 1e9,
            "plans.session.gc_s": tot["gc_ms"] / 1e3,
            "plans.session.shuffle_write_bytes": tot["shuffle_write_bytes"],
            "plans.session.spill_bytes": tot["disk_spill_bytes"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted; a run measures one pass")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    base = os.path.join(REPO, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    host = fit_host(work)

    since = cpu_times()
    from npm_extraction_server_spark.plans.session import get_spark

    spark = get_spark(app=f"perfbench-{args.workload}",
                      master=f"local[{host['cores']}]")
    spark.range(1).count()
    setup_wall_s = time.monotonic() - SETUP_T0
    setup_s = tree_cpu_s()  # every process here started with this run
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        tracer = Tracer(spark, enabled=bool(args.trace))
        # RSS sampling polls /proc; it runs only when tracing
        with RssSampler() if args.trace else contextlib.nullcontext() as rss:
            steal0 = cpu_times()
            pass_s, pass_cpu_s = wl.run_pass(tracer)
            steal1 = cpu_times()
        layers = {}
        if args.trace:
            layers = dict.fromkeys(LAYERS, 0)
            # the pass's own spans: not the checks, not the layer calls below
            layers.update(session_metrics(
                [s for s in tracer.spans if not s["name"].startswith("check.")]))
            layers["plans.session.peak_rss_mb"] = rss.peak_kb / 1024
            layers.update(wl.layer_metrics(tracer))
            layers["trace.tracer_s"] = tracer.tracer_s
            layers["trace.pass_s"] = pass_s
            layers["trace.pass_cpu_s"] = pass_cpu_s
        host.update(conditions(since))
    finally:
        stop_spark(spark)

    e2e = {"setup_s": setup_s, "pass_cpu_s": pass_cpu_s}
    host["pass_steal_pct"] = round(100.0 * (steal1[0] - steal0[0])
                                   / max(steal1[1] - steal0[1], 1), 3)
    print(f"host: {json.dumps(host)}")
    print(f"workload {args.workload} seed {args.seed}: one pass over "
          f"{wl.size} {wl.pass_unit}; {wl.report}")
    for name, value in e2e.items():
        print(f"  {name:<14} {value:12.4f} {END_TO_END[name]:<5} (samples 1)")
    for name, value in (("setup_wall_s", setup_wall_s), ("pass_s", pass_s)):
        print(f"  {name:<14} {value:12.4f} s     (samples 1; wall, not bounded: "
              f"it follows CPU steal)")
    print(f"  {'work_per_s':<14} {wl.size / pass_s:12.4f} {wl.pass_unit}/s "
          f"(pass wall)")
    print(f"  {'failed_share':<14} {wl.failed / max(wl.attempted, 1):12.4f} ratio "
          f"({wl.failed} of {wl.attempted} operations)")
    if args.trace:
        path = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
        tracer.write(path, {"host": host, "end_to_end": e2e, "layers": layers})
        print(f"trace: {path}")
    shutil.rmtree(work, ignore_errors=True)

    metrics = layers if args.trace else e2e
    units = {n: unit_of(n) for n in metrics} if args.trace else END_TO_END
    print(json.dumps({
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
