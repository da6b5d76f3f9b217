#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on the perfbench benchmark.

    python3 dev/ab_pairs.py --parent ../parent --change . --name lean \\
        --workload lake_stream --seeds 1001-1010 --seconds 30 --trace 0

Builds both checkouts first (perfbench/run.py builds once per source
state), then runs one pair per seed: `perfbench/run.py` in the parent and
in the change with the same seed and settings, alternating which side runs
first. Every run's last two stdout lines (host/pass record and result) are
appended as they finish to `dev/ab_<name>/<workload>[_trace].jsonl` in
this checkout; `--report` re-reads that file without running anything.

For every metric in the results it prints each side's runs, median and
quartiles, the pairs each side won (ties count for neither) and a verdict:

- `gain`: the change won at least 9/10 of the pairs and its median beats
  the parent's by more than the parent's quartile distance;
- `regression`: the change's median is worse than the parent's by more than
  the metric's BENCHMARK.json bound (per-layer metrics have no bound: the
  mirror of `gain` instead);
- `unresolved`: the parent's quartile distance is wider than the bound,
  and not every change run beats every parent run;
- `within bound` / `no clear change` otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def build(checkout):
    code = ("import sys; sys.path.insert(0, 'perfbench'); import run; "
            "run.build()")
    subprocess.run([sys.executable, "-c", code], cwd=checkout, check=True,
                   stdout=sys.stderr)


def run_once(checkout, a, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace)]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.stderr.write(r.stderr[-3000:])
        return {"error": f"exit {r.returncode}"}, None
    return json.loads(lines[-1]), json.loads(lines[-2])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    spec = {m["name"]: m for m in b["per_layer"]}
    spec.update({m["name"]: m for m in b["end_to_end"]})
    return spec


def verdict(par, chg, lower, bound):
    """par, chg: per-pair values (same order)."""
    sign = 1 if lower else -1
    wins = sum(1 for p, c in zip(par, chg) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(par, chg) if sign * (c - p) > 0)
    mp, mc = statistics.median(par), statistics.median(chg)
    q1, q3 = quartiles(par)
    iqr = q3 - q1
    gain = sign * (mp - mc)
    n = len(par)
    if n and wins >= 0.9 * n and gain > iqr:
        return wins, losses, "gain"
    if bound is None:
        if n and losses >= 0.9 * n and -gain > iqr:
            return wins, losses, "worse"
        return wins, losses, "no clear change"
    if -gain > bound * abs(mp):
        return wins, losses, "regression"
    all_better = all(sign * (p - c) > 0 for p in par for c in chg)
    if mp and iqr / abs(mp) > bound and not all_better:
        return wins, losses, "unresolved"
    return wins, losses, "within bound"


def report(path):
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    pairs = {}
    for r in rows:
        pairs.setdefault(r["seed"], {})[r["side"]] = r
    done = [s for s, p in pairs.items() if {"parent", "change"} <= p.keys()]
    spec = bench_spec()
    print(f"{os.path.relpath(path, ROOT)}: {len(done)} complete pairs")
    for side in ("parent", "change"):
        res = [pairs[s][side]["result"] for s in done]
        bad = [s for s, r in zip(done, res) if not r.get("correct")]
        print(f"  {side}: {len(res)} runs, not correct: {bad or 'none'}")
    ok = [s for s in done
          if all(pairs[s][x]["result"].get("correct") for x in pairs[s])]
    if not ok:
        return
    names = list(pairs[ok[0]]["parent"]["result"]["metrics"])
    for name in names:
        par = [pairs[s]["parent"]["result"]["metrics"][name]["value"]
               for s in ok]
        chg = [pairs[s]["change"]["result"]["metrics"][name]["value"]
               for s in ok]
        m = spec.get(name, {})
        lower = m.get("better", "lower") == "lower"
        wins, losses, v = verdict(par, chg, lower, m.get("bound"))
        mp, mc = statistics.median(par), statistics.median(chg)
        rel = f"{100 * (mc - mp) / mp:+.1f} %" if mp else "n/a"
        print(f"\n  {name} [{m.get('unit', '')}] {v}: median "
              f"{mp:.4g} -> {mc:.4g} ({rel}); change won {wins}/{len(ok)},"
              f" lost {losses}")
        for side, xs in (("parent", par), ("change", chg)):
            q1, q3 = quartiles(xs)
            print(f"    {side:6} median {statistics.median(xs):.4g} "
                  f"q1 {q1:.4g} q3 {q3:.4g} | "
                  + " ".join(f"{x:.4g}" for x in xs))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--name", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true",
                    help="only print the report of the recorded runs")
    a = ap.parse_args()
    out_dir = os.path.join(ROOT, "dev", f"ab_{a.name}")
    path = os.path.join(out_dir, a.workload
                        + ("_trace" if a.trace else "") + ".jsonl")
    if not a.report:
        os.makedirs(out_dir, exist_ok=True)
        sides = {"parent": os.path.abspath(a.parent),
                 "change": os.path.abspath(a.change)}
        for checkout in sides.values():
            build(checkout)
        for i, seed in enumerate(parse_seeds(a.seeds)):
            order = ["parent", "change"] if i % 2 == 0 else \
                ["change", "parent"]
            for side in order:
                result, info = run_once(sides[side], a, seed)
                row = {"side": side, "seed": seed, "pair": i,
                       "first": order[0], "result": result, "info": info}
                with open(path, "a") as f:
                    f.write(json.dumps(row) + "\n")
                wall = result.get("metrics", {}).get("wall_s", {})
                print(f"pair {i} seed {seed} {side}: correct="
                      f"{result.get('correct')} wall_s={wall.get('value')}",
                      file=sys.stderr, flush=True)
    report(path)


if __name__ == "__main__":
    main()
