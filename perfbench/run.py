#!/usr/bin/env python3
"""Benchmark of the graft ETL engine: one workload, one run.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run builds (see build()); later
runs reuse the build while the sources are unchanged. Each run starts one
JVM on the compiled engine plus the Spark jars, sets up a session, runs the
workload's fixed query list in seeded orders as a closed loop on
local[nproc], and checks every query's output against perfbench/goldens.json.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1). The line before it records the host's noise, the
pass walls, per-query medians and the tail percentile. A traced run writes
its spans to .bench_out/.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.1")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
JAR = os.path.join(HERE, "target", "perfbench.jar")
CDS = os.path.join(HERE, "target", "perfbench.jsa")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
JVM_TIMEOUT_S = 170
# the same module options spark-submit injects on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def sources():
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    # the build, and the archive run it records
    yield os.path.join(HERE, "build.sbt")
    yield os.path.abspath(__file__)


def build():
    """Once per source state: compile engine + harness, jar the classes and
    record a class-data archive (AppCDS) of what a run loads."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found; run from the "
             "root of a checkout")
    h = hashlib.sha256()
    for p in sources():
        with open(p, "rb") as f:
            h.update(p.encode() + b"\0" + f.read())
    digest = h.hexdigest()
    if os.path.isfile(CDS) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    sbt = shutil.which("sbt") or "/opt/sbt/bin/sbt"
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    r = subprocess.run(cmd + ["compile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        fail(f"build failed (sbt exit {r.returncode})")
    for p in (JAR, CDS, STAMP):
        if os.path.exists(p):
            os.remove(p)
    # CDS maps classes from jars only, not from a classes directory
    subprocess.run(["jar", "cf", JAR, "-C", CLASSES, "."], check=True)
    # the archive holds the classes of a session start, the streaming
    # warm-up and one etl_batch pass; each run maps them instead of loading
    # and verifying them again
    wl = load_json("workloads.json")["workloads"]["etl_batch"]
    work = os.path.join(ROOT, ".bench_work", f"cds-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        run_harness({"cpus": len(os.sched_getaffinity(0)), "trace": False,
                     "warmup": ["stream"], "stage": [],
                     "passes": [[q for f in wl["families"]
                                 for q in wl["members"][f]]]},
                    work, timeout=600,
                    jvm_args=[f"-XX:ArchiveClassesAtExit={CDS}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.isfile(CDS):
        fail("build failed: no class-data archive")
    with open(STAMP, "w") as f:
        f.write(digest)


def check_inputs():
    """The inputs are the committed sf0.1 tables; verify them byte for byte."""
    with open(os.path.join(HERE, "data", "sf0.1.sha256")) as f:
        for line in f:
            want, name = line.split()
            with open(os.path.join(DATA, name), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != want:
                    fail(f"input {name} does not match its checksum")


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v[:8])


def run_harness(spec, work, timeout=JVM_TIMEOUT_S, jvm_args=None):
    """Run the JVM on `spec` in the fresh directory `work`; return its
    result JSON."""
    os.makedirs(os.path.join(work, "tmp"))
    spec = dict(spec, sf_dir=DATA, out=os.path.join(work, "result.json"))
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    if jvm_args is None:
        jvm_args = [f"-XX:SharedArchiveFile={CDS}"]
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"] + jvm_args
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false",
            "-cp", f"{JAR}:{SPARK_JARS}/*",
            "graft.perfbench.Harness", spec_path]
    env = dict(os.environ, GRAFT_LAKE_ROOT=f"{work}/tmp")
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                            stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        # also on SIGTERM / Ctrl-C: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    log.close()
    if rc != 0 or not os.path.isfile(spec["out"]):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM failed ({rc})")
    with open(spec["out"]) as f:
        return json.load(f)


def pass_orders(members, seed, passes):
    """The seed only permutes the query order, independently per pass."""
    orders = []
    for p in range(passes):
        o = list(members)
        random.Random(f"{seed}:{p}").shuffle(o)
        orders.append(o)
    return orders


def tail(samples, medians):
    """(value, percentile, sample count, over) of the highest percentile of
    the query walls with at least ten samples beyond it. While that
    percentile would not lie above the median (fewer than 21 samples), the
    slowest query's median wall: one noisy sample must not set the tail."""
    s = sorted(samples)
    if len(s) < 21:
        return max(medians), 100.0, len(medians), "query medians"
    return (s[len(s) - 11], 100.0 * (len(s) - 10) / len(s), len(s),
            "query walls")


def judge(execs, goldens):
    """Count failed and wrong executions; apply the fake-fast guards."""
    failed = wrong = 0
    problems = []
    for e in execs:
        g = goldens[e["q"]]
        if not e["ok"]:
            failed += 1
            problems.append(f"{e['q']}: {e['err']}")
        elif g.get("stream") and e.get("stream_rows", 0) == 0:
            failed += 1
            problems.append(f"{e['q']}: streaming read 0 input rows")
        elif g.get("lake_writes") and e.get("lake_writes", 0) == 0:
            failed += 1
            problems.append(f"{e['q']}: lake query issued no write action")
        elif e["rows"] != g["rows"] or (
                g["check"] == "fingerprint" and e["fp"] != g["fp"]):
            wrong += 1
            problems.append(f"{e['q']}: output rows={e['rows']} fp={e['fp']}"
                            f" want rows={g['rows']} fp={g.get('fp')}")
    return failed, wrong, problems


def per_layer(res, execs, walls, families, cpus, host):
    passes = len(walls)

    def total(k):
        return sum(e.get(k, 0) for e in execs)

    def per_pass(k):
        return total(k) / passes

    wall_ms = total("wall_ms")
    m = {
        "SparkEntry.build_ms": per_pass("build_ms"),
        "GraftExtensions.analysis_ms": per_pass("analysis_ms"),
        "GraftExtensions.optimization_ms": per_pass("optimization_ms"),
        "GraftExtensions.planning_ms": per_pass("planning_ms"),
        "GraftExtensions.actions": per_pass("actions"),
        "driver.only_ms": per_pass("driver_only_ms"),
        "driver.gc_ms": per_pass("driver_gc_ms"),
        "operators.tasks": per_pass("tasks"),
        "operators.stages": per_pass("stages"),
        "operators.exec_run_ms": per_pass("exec_run_ms"),
        "operators.exec_cpu_ms": per_pass("exec_cpu_ms"),
        "operators.gc_ms": per_pass("task_gc_ms"),
        "operators.peak_mem_b": max((e.get("peak_mem_b", 0) for e in execs),
                                    default=0),
        "operators.busy_frac": total("exec_run_ms") / (wall_ms * cpus)
        if wall_ms else 0.0,
        "operators.task_deser_ms": per_pass("task_deser_ms"),
        "exchange.shuffle_write_b": per_pass("shuffle_write_b"),
        "exchange.shuffle_read_b": per_pass("shuffle_read_b"),
        "exchange.fetch_wait_ms": per_pass("fetch_wait_ms"),
        "exchange.spill_disk_b": per_pass("spill_disk_b"),
        "exchange.spill_mem_b": per_pass("spill_mem_b"),
        "Tables.scan_bytes": per_pass("scan_bytes"),
        "Tables.scan_rows": per_pass("scan_rows"),
        "GraftLakeCatalog.write_actions": per_pass("lake_writes"),
        "GraftLakeCatalog.write_action_ms": per_pass("write_action_ms"),
        "GraftLakeCatalog.post_task_ms": per_pass("post_task_ms"),
        "GraftLakeCatalog.write_rows": per_pass("write_rows"),
        "GraftLakeCatalog.write_b": per_pass("write_b"),
        "StreamingOps.queries": per_pass("stream_queries"),
        "StreamingOps.batches": per_pass("batches"),
        "StreamingOps.input_rows": per_pass("stream_rows"),
        "StreamingOps.trigger_ms": per_pass("trigger_ms"),
        "StreamingOps.planning_ms": per_pass("stream_planning_ms"),
        "StreamingOps.add_batch_ms": per_pass("add_batch_ms"),
        "StreamingOps.wal_commit_ms": per_pass("wal_commit_ms"),
        "StreamingOps.commit_offsets_ms": per_pass("commit_offsets_ms"),
        "StreamingOps.state_commit_ms": per_pass("state_commit_ms"),
        "StreamingOps.state_rows": per_pass("state_rows"),
        "StreamingOps.state_mem_b": max((e.get("state_mem_b", 0)
                                         for e in execs), default=0),
    }
    for k in ("session_ms", "warmup_ms", "staging_ms"):
        m[f"setup.{k}"] = res["setup"][k]
    fam_of = {q: f for f, qs in families.items() for q in qs}
    for f in families:
        m[f"family.{f}.wall_s"] = sum(
            e["wall_ms"] for e in execs if fam_of[e["q"]] == f) / passes / 1e3
    m["trace.wall_s"] = statistics.median(walls) / 1e3
    m["jvm.peak_rss_mb"] = res["peak_rss_kb"] / 1024
    m.update(host)
    return m


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    workloads = load_json("workloads.json")
    if a.workload not in workloads["workloads"]:
        fail(f"unknown workload {a.workload}")
    wl = workloads["workloads"][a.workload]
    families = workloads["families"]
    goldens = load_json("goldens.json")
    build()
    check_inputs()

    cpus = len(os.sched_getaffinity(0))
    # as many passes as fit at the pass length measured when the workload
    # was defined, not at this run's speed: the pass count, and with it the
    # mix of cold and warm samples, must not depend on the host's load
    passes = max(1, round(a.seconds / wl["nominal_pass_s"]))
    members = [q for f in wl["families"] for q in wl["members"][f]]
    work = os.path.join(ROOT, ".bench_work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    spans = os.path.join(out_dir, f"spans-{a.workload}-{a.seed}.json")
    steal0, tot0 = cpu_times()
    try:
        res = run_harness({
            "cpus": cpus, "trace": bool(a.trace),
            "warmup": wl["warmup"], "stage": wl["stage"],
            "passes": pass_orders(members, a.seed, passes),
            "spans_out": spans}, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, tot1 = cpu_times()
    host = {
        "host.nproc": cpus,
        "host.loadavg_1m": os.getloadavg()[0],
        "host.steal_frac": (steal1 - steal0) / max(1, tot1 - tot0),
    }

    execs = res["execs"]
    failed, wrong, problems = judge(execs, goldens)
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    # with several passes the first, cold one is timed and checked but
    # kept out of the figures: it mostly times the JIT and the code
    # generator warming up, which the host's load makes erratic
    first = 1 if passes > 1 else 0
    measured = [e for e in execs if e["pass"] >= first]
    walls = res["pass_wall_ms"][first:]
    by_query = {}
    for e in measured:
        if e["ok"]:
            by_query.setdefault(e["q"], []).append(e["wall_ms"] / 1e3)
    q_med = [statistics.median(v) for v in by_query.values()] or [float("nan")]
    t_val, t_pct, t_n, t_over = tail(
        [x for v in by_query.values() for x in v] or [float("nan")], q_med)
    if a.trace:
        layer = per_layer(res, measured, walls, families, cpus, host)
        layer["bench.failed_frac"] = failed / len(execs)
        layer["bench.wrong_frac"] = wrong / len(execs)
        units = {m["name"]: m["unit"] for m in load_json(
            os.path.join("..", "BENCHMARK.json"))["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
    else:
        metrics = {
            "setup_s": (res["setup"]["total_ms"] / 1e3, "s"),
            "wall_s": (statistics.median(walls) / 1e3, "s"),
            "query_geomean_s": (math.exp(statistics.fmean(
                math.log(x) for x in q_med)), "s"),
            "query_p50_s": (statistics.median(q_med), "s"),
            "query_tail_s": (t_val, "s"),
            "live_heap_mb": (res["live_heap_kb"] / 1024, "MB"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "passes": passes,
        "queries": len(members), "failed_frac": failed / len(execs),
        "wrong_frac": wrong / len(execs),
        "query_tail": {"percentile": t_pct, "samples": t_n, "over": t_over},
        "pass_wall_ms": res["pass_wall_ms"], "measured_from_pass": first,
        "query_median_s": {q: round(statistics.median(v), 4)
                           for q, v in sorted(by_query.items())},
        "host": host, "spans": spans if a.trace else None}))
    print(json.dumps({"correct": failed == 0 and wrong == 0,
                      "attempted": len(execs), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
