#!/usr/bin/env python3
"""Measure the trait a workload claims: where a query's wall time goes.

    python3 perfbench/traits.py etl_batch          # the workload's members
    python3 perfbench/traits.py etl_batch --full   # every query of its families

Runs the queries traced in one JVM, one cold pass then `--warm` warm passes
(default 1), and prints one JSON object per query from the last pass, then
a summary line for the set:

- `driver_share`: the share of wall time with no stage running (planning,
  `fn` build, result handling, commits: driver work);
- `exec_share`: executor run time over wall time times nproc (how busy the
  executors kept the cores);
- `plan_ms`: the Catalyst analysis + optimization + planning phases.

Development tool: the benchmark itself does not run it.
"""
import argparse
import json
import math
import os
import shutil
import statistics

import run


def summary(rows):
    wall = sum(r["wall_ms"] for r in rows)
    return {
        "queries": len(rows),
        "wall_ms": round(wall),
        "geomean_wall_ms": round(math.exp(statistics.fmean(
            math.log(max(r["wall_ms"], 1e-3)) for r in rows)), 1),
        "driver_share": round(sum(r["driver_only_ms"] for r in rows) / wall, 3),
        "exec_share": round(sum(r["exec_run_ms"] for r in rows)
                            / (wall * rows[0]["cpus"]), 3),
        "plan_share": round(sum(r["plan_ms"] for r in rows) / wall, 3),
        "median_query_driver_share": round(statistics.median(
            r["driver_only_ms"] / max(r["wall_ms"], 1e-3) for r in rows), 3),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload")
    ap.add_argument("--full", action="store_true")
    ap.add_argument("--warm", type=int, default=1)
    a = ap.parse_args()
    spec = run.load_json("workloads.json")
    wl = spec["workloads"][a.workload]
    if a.full:
        queries = [q for f in wl["families"] for q in spec["families"][f]]
    else:
        queries = [q for f in wl["families"] for q in wl["members"][f]]
    run.build()
    run.check_inputs()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(run.ROOT, ".bench_work", f"traits-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run.run_harness({
            "cpus": cpus, "trace": True, "warmup": wl["warmup"],
            "stage": wl["stage"], "passes": [queries] * (1 + a.warm),
            "spans_out": os.path.join(work, "spans.json")}, work,
            timeout=3000)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    fam_of = {q: f for f, qs in spec["families"].items() for q in qs}
    rows = []
    for e in res["execs"]:
        if e["pass"] != a.warm or not e["ok"]:
            continue
        rows.append({
            "q": e["q"], "family": fam_of[e["q"]], "cpus": cpus,
            "wall_ms": round(e["wall_ms"], 1),
            "driver_only_ms": e.get("driver_only_ms", 0),
            "exec_run_ms": e.get("exec_run_ms", 0),
            "plan_ms": e.get("analysis_ms", 0) + e.get("optimization_ms", 0)
            + e.get("planning_ms", 0)})
    for r in rows:
        print(json.dumps(r))
    failed = sorted({e["q"] for e in res["execs"] if not e["ok"]})
    print(json.dumps({"workload": a.workload, "full": a.full,
                      "failed": failed, "summary": summary(rows)}))


if __name__ == "__main__":
    main()
