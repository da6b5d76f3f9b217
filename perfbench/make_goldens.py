#!/usr/bin/env python3
"""Record perfbench/goldens.json: the expected output of every benchmark query.

    python3 perfbench/make_goldens.py [workload ...]

Runs each workload's queries twice in one JVM (one pass each) and dumps the
first pass's outputs as parquet. A query with DuckDB oracle SQL
(`SparkEntry.oracleSql`) must match DuckDB's result on the same tables,
compared value by value; a query without one must give the same
fingerprint on both passes. A query whose fingerprint does not repeat is
checked by row count only, with the reason recorded. The guards are
recorded too: `stream` when every execution read streaming input rows,
`lake_writes` when every execution issued a lake write action.

Development tool: the benchmark itself only reads goldens.json.
"""
import datetime
import json
import math
import os
import shutil
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    # DuckDB's date_trunc on a DATE returns a DATE where Spark returns a
    # midnight TIMESTAMP: the same value, compared as a timestamp
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        v = datetime.datetime.combine(v, datetime.time())
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in v.items()) + "}"
    return repr(v)


def duck_check(con, sql, dump):
    """None when the Spark dump equals DuckDB's result, else the problem."""
    got = con.execute(f"SELECT * FROM '{dump}/*.parquet'")
    gcols = [d[0] for d in got.description]
    g = got.fetchall()
    want = con.execute(sql)
    wcols = [d[0] for d in want.description]
    w = want.fetchall()
    if sorted(gcols) != sorted(wcols):
        return f"columns spark={gcols} duckdb={wcols}"
    gi = [gcols.index(c) for c in sorted(gcols)]
    wi = [wcols.index(c) for c in sorted(wcols)]
    gs = sorted(tuple(canon(r[i]) for i in gi) for r in g)
    ws = sorted(tuple(canon(r[i]) for i in wi) for r in w)
    if gs != ws:
        return f"values differ (spark {len(gs)} rows, duckdb {len(ws)} rows)"
    return None


def main():
    spec = run.load_json("workloads.json")
    names = sys.argv[1:] or list(spec["workloads"])
    path = os.path.join(run.HERE, "goldens.json")
    goldens = json.load(open(path)) if os.path.isfile(path) else {}
    run.build()
    run.check_inputs()
    con = duckdb.connect()
    tmp = os.path.join(run.ROOT, ".bench_work", "duckdb")
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET max_temp_directory_size='4GB'")
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{run.DATA}/{t}.parquet'")
    for name in names:
        wl = spec["workloads"][name]
        members = [q for f in wl["families"] for q in wl["members"][f]]
        work = os.path.join(run.ROOT, ".bench_work", f"goldens-{name}")
        shutil.rmtree(work, ignore_errors=True)
        dump = os.path.join(work, "dump")
        oracle_path = os.path.join(work, "oracle.json")
        res = run.run_harness({
            "cpus": len(os.sched_getaffinity(0)), "trace": False,
            "passes": [members, members],
            "dump_dir": dump, "oracle_out": oracle_path}, work, timeout=3000)
        oracle = json.load(open(oracle_path))
        first = {e["q"]: e for e in res["execs"] if e["pass"] == 0}
        second = {e["q"]: e for e in res["execs"] if e["pass"] == 1}
        for q in members:
            a, b = first[q], second[q]
            if not (a["ok"] and b["ok"]):
                print(f"FAIL {q}: {a['err'] or b['err']}")
                continue
            g = {"rows": a["rows"], "check": "fingerprint", "fp": a["fp"],
                 "stream": a.get("stream_rows", 0) > 0
                 and b.get("stream_rows", 0) > 0,
                 "lake_writes": a.get("lake_writes", 0) > 0
                 and b.get("lake_writes", 0) > 0}
            if q in oracle:
                try:
                    problem = duck_check(con, oracle[q], f"{dump}/{q}")
                except Exception as e:  # noqa: BLE001 - report and skip
                    problem = f"{type(e).__name__}: {e}"
                if problem:
                    print(f"FAIL {q}: DuckDB oracle: {problem}")
                    continue
                g["oracle"] = "duckdb"
            else:
                g["oracle"] = "repeat"
            if a["rows"] != b["rows"]:
                print(f"FAIL {q}: row count does not repeat")
                continue
            if a["fp"] != b["fp"]:
                g["check"] = "rows"
                del g["fp"]
                g["reason"] = "fingerprint differs between two runs"
            goldens[q] = g
            print(f"OK   {q}: {g['check']} ({g['oracle']}, {g['rows']} rows)")
        shutil.rmtree(work, ignore_errors=True)
        with open(path, "w") as f:
            json.dump(dict(sorted(goldens.items())), f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
