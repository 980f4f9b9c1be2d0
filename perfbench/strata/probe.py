#!/usr/bin/env python3
"""Listener probe that derived the frozen strata in this directory.

It runs registry queries once each (one traced pass of the benchmark
harness) and records, per query, the wall time split into construct /
plan / exec and the Spark jobs each phase ran (probe_<sf>.json). From
those records it selects:

  construct_sf001  at sf0.01: >= 3 construction jobs and construct_s
                   >= 60 % of the query's wall
  exec_sf01        <= 1 construction job at sf0.01, and at sf0.1 exec_s
                   >= 70 % of the query's wall

It then freezes the DuckDB oracle's answer for every selected query
(oracle/<sf>/<query>.parquet), so that each benchmark run can check its
results with tools/check.py in seconds; the data is frozen too, so the
frozen answer is the oracle's answer. A query whose oracle does not
finish within ORACLE_LIMIT_S is left out (a run must check its sample
well inside its time limit), as is one that fails or mismatches; both
are listed in the stratum file.

The lists are frozen: a later change that moves a query's work between
layers does not move the query between workloads. Re-run this only to
define new strata, never to re-sort the existing ones.

Usage (from the repository root; a probe pass whose record is already
in .bench_build/probe/ is reused):
  python3 perfbench/strata/probe.py <commit>
The sf0.1 stage reads perfbench/data/sf0.1: the sf0.1 tables of the same
generator as perfbench/data/sf0.01, not shipped while exec_sf01 is not a
workload.
"""
import json
import os
import shutil
import subprocess
import sys
import threading
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402
import run as bench  # noqa: E402

PROBE_HEAP = "4g"
ORACLE_LIMIT_S = 20
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def probe(root, data, names, tag):
    """One traced pass over `names` ("*" = the whole registry):
    {query: per-layer record}, and the dump directory of its results."""
    run_dir = os.path.join(root, build.BUILD_DIR, "probe", tag)
    out = os.path.join(run_dir, "record.json")
    dump = os.path.join(run_dir, "dump")
    if not os.path.exists(out):
        classpath = build.build(root)
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        qfile = os.path.join(run_dir, "queries.txt")
        with open(qfile, "w") as f:
            f.write("\n".join(names) + "\n")
        bench.HEAP = PROBE_HEAP
        jvm = bench.Jvm(bench.java_cmd(classpath, run_dir, [
            "--mode", "registry", "--data", data, "--queries", qfile,
            "--dump", dump, "--seconds", "0", "--passes", "1", "--warmup", "0",
            "--trace", "1",
            "--out", out]), os.path.join(run_dir, "harness.log"))
        if jvm.wait(time.monotonic() + 7200) != 0:
            raise SystemExit(f"probe {tag} failed")
    rec = json.load(open(out))
    jobs = {}
    for j in rec["jobs"]:
        jobs.setdefault((j["query"], j["phase"]), []).append(j)
    per = {}
    for r in rec["runs"]:
        per[r["name"]] = dict(
            {k: r[k] for k in ("ok", "wall_s", "construct_s", "plan_s",
                               "exec_s", "spine_builds")},
            construct_jobs=len(jobs.get((r["id"], "construct"), [])),
            exec_jobs=len(jobs.get((r["id"], "exec"), [])))
    with open(os.path.join(HERE, f"probe_{tag}.json"), "w") as f:
        json.dump(per, f, indent=0, sort_keys=True)
    return per, dump


def freeze_oracle(data, dump, names, tag):
    """Write the oracle's answer for each of `names` to oracle/<tag>/,
    then check the probe's results against the frozen answers with
    tools/check.py. Returns the names left out, with the reason."""
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    odir = os.path.join(HERE, "oracle", tag)
    os.makedirs(odir, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    left = {}
    for q in names:
        if q not in oracle:
            continue
        timer = threading.Timer(ORACLE_LIMIT_S, con.interrupt)
        timer.start()
        try:
            con.execute(f"COPY ({oracle[q]}) TO '{odir}/{q}.parquet' "
                        "(FORMAT PARQUET)")
        except duckdb.Error as e:
            left[q] = f"oracle over {ORACLE_LIMIT_S} s" \
                if "INTERRUPT" in str(e).upper() else f"oracle error: {e}"
        finally:
            timer.cancel()
    keep = [q for q in names if q not in left]
    check_dir = dump + "_check"
    shutil.rmtree(check_dir, ignore_errors=True)
    os.makedirs(check_dir)
    for q in keep:
        os.symlink(os.path.join(dump, q), os.path.join(check_dir, q))
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump(bench.frozen_sql(keep, oracle, odir), f)
    chk = subprocess.run([sys.executable, "tools/check.py", check_dir, data],
                         stdout=subprocess.PIPE, text=True)
    for line in chk.stdout.splitlines():
        if line.startswith("FAIL ") or ("EMPTY" in line and line.startswith("rows ")):
            left[line.split()[1].rstrip(":")] = "oracle mismatch"
    for q in left:
        if os.path.exists(f"{odir}/{q}.parquet"):
            os.remove(f"{odir}/{q}.parquet")
    return left


def write(name, rows, header):
    with open(os.path.join(HERE, name + ".txt"), "w") as f:
        f.write(header)
        f.write("# query  probed_wall_s\n")
        for q, wall in sorted(rows):
            f.write(f"{q} {wall:.3f}\n")


def main():
    root = os.getcwd()
    commit = sys.argv[1] if len(sys.argv) > 1 else "unknown"
    small_dir, big_dir = "perfbench/data/sf0.01", "perfbench/data/sf0.1"
    small, small_dump = probe(root, small_dir, ["*"], "sf0.01")
    ok = {q: r for q, r in small.items() if r["ok"]}
    construct = sorted(q for q, r in ok.items()
                       if r["construct_jobs"] >= 3
                       and r["construct_s"] >= 0.60 * r["wall_s"])
    cands = sorted(q for q, r in ok.items() if r["construct_jobs"] <= 1)
    big, big_dump = probe(root, big_dir, cands, "sf0.1")
    execs = sorted(q for q, r in big.items()
                   if r["ok"] and r["exec_s"] >= 0.70 * r["wall_s"])
    # exec_sf01 is not a workload of BENCHMARK.json yet, so its oracle
    # answers (tens of MB at sf0.1) are not frozen
    for name, sf, data, dump, names, per, freeze in (
            ("construct_sf001", "sf0.01", small_dir, small_dump, construct,
             small, True),
            ("exec_sf01", "sf0.1", big_dir, big_dump, execs, big, False)):
        left = (freeze_oracle(os.path.abspath(data), dump, names, sf)
                if freeze else {})
        failed = sorted(q for q, r in per.items() if not r["ok"])
        crit = ("sf0.01, >= 3 construction jobs, construct_s >= 60 % of wall"
                if sf == "sf0.01" else
                "<= 1 construction job at sf0.01, exec_s >= 70 % of wall at sf0.1")
        write(name, [(q, per[q]["wall_s"]) for q in names if q not in left],
              f"# frozen by perfbench/strata/probe.py at commit {commit}\n"
              f"# criteria: {crit}\n"
              f"# oracle answers frozen: {'yes' if freeze else 'no'}\n"
              f"# probed queries that failed: {' '.join(failed) or 'none'}\n"
              + "".join(f"# left out: {q} ({why})\n"
                        for q, why in sorted(left.items())))
        print(f"{name}: {len(names) - len(left)} queries, left out {len(left)}")


if __name__ == "__main__":
    main()
