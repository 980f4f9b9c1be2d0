#!/usr/bin/env python3
"""Layered benchmark of graft: end-to-end and per-layer metrics over two
workloads. Run from the repository root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --smoke     # every workload at minimal size

The program is compiled from source (perfbench/build.py) on first use. One
JVM runs one client in a closed loop: the next query (or pipeline run)
starts when the previous one has returned, on local[N] with N = the
machine's processors and N shuffle partitions. Set-up (JVM start,
SparkSession, first job) is timed from outside in three JVM launches and
reported as the median.

Workloads (see BENCHMARK.json for why each was chosen):
  construct_sf001     queries of the frozen construction-bound stratum
                      (perfbench/strata) over perfbench/data/sf0.01, served
                      warm as from a long-lived session: untimed warm-up
                      passes, then timed passes of the sample
  medallion_pipeline  PipelineRunner.run with a submission export over a
                      seeded Kaggle-schema regular-season results CSV, run
                      cold once per JVM as a batch job is
The execution-bound stratum (perfbench/strata/exec_sf01.txt) is frozen
but not yet a workload.

Outputs are checked outside the timed window: registry results against
the DuckDB oracle with tools/check.py, pipeline runs against their
invariants. The last stdout line is the JSON result. Every run also saves
a record with every metric, the host counters and (traced) its spans to
.bench_build/records/ (smoke runs save none); perfbench/layerdiff.py
diffs two of them.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
from layerdiff import merged_ms  # noqa: E402

BUILD_DIR = build.BUILD_DIR
# set-up is measured this many times per invocation (one is the measuring
# JVM itself) and reported as the median
SETUP_SAMPLES = 3
# an invocation (after the build) must end within this many seconds
RUN_LIMIT_S = 170
HEAP = "1g"
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

# sample: cost bins whose median query runs in each pass (see sample_queries)
WORKLOADS = {
    "construct_sf001": {"kind": "registry", "data": "sf0.01", "sample": 2},
    "medallion_pipeline": {"kind": "pipeline", "seasons": 4, "teams": 60,
                           "games": 400},
}
SMOKE = {"construct_sf001": {"sample": 1},
         "medallion_pipeline": {"seasons": 3, "teams": 30, "games": 200}}


def fail(msg, log=None):
    """Exit non-zero without a result; `log` (a harness log, deleted with
    the run directory) is shown first."""
    if log and os.path.exists(log):
        with open(log, "rb") as f:
            sys.stderr.write(f.read()[-4000:].decode(errors="replace"))
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ inputs

def stratum(name, data):
    """Frozen stratum: (query, probed wall s, probed spine builds) sorted
    by wall time; the spine builds come from the probe record
    (strata/probe_<data>.json)."""
    probed = json.load(open(os.path.join(HERE, "strata", f"probe_{data}.json")))
    rows = []
    for line in open(os.path.join(HERE, "strata", name + ".txt")):
        line = line.split("#", 1)[0].split()
        if line:
            rows.append((line[0], float(line[1]),
                         probed[line[0]]["spine_builds"]))
    return sorted(rows, key=lambda r: (r[1], r[0]))


def sample_queries(rows, k, rng):
    """The median query of each of k equal-count bins of the stratum
    sorted by probed wall time, plus the median of the queries that build
    a spine when no bin median does, in seeded order. Membership is fixed:
    a sample of two or three queries drawn by seed moved wall_s by ~50 %
    between seeds (cold and warm costs vary far more per query than the
    probe shows), so the seed picks only the order."""
    bins = [rows[len(rows) * i // k:len(rows) * (i + 1) // k] for i in range(k)]
    picked = [b[len(b) // 2] for b in bins]
    spines = [r for r in rows if r[2] > 0]
    if spines and not any(r[2] > 0 for r in picked):
        picked.append(spines[len(spines) // 2])
    names = [r[0] for r in picked]
    rng.shuffle(names)
    return names


def write_games(path, seasons, teams, games, rng):
    """Kaggle-schema MRegularSeasonCompactResults.csv. Each team has a
    latent strength, so the backtest has signal to fit."""
    strength = {1101 + t: rng.gauss(0, 8) for t in range(teams)}
    ids = sorted(strength)
    with open(path, "w") as f:
        f.write("Season,DayNum,WTeamID,WScore,LTeamID,LScore,WLoc,NumOT\n")
        for season in range(2003, 2003 + seasons):
            for _ in range(games):
                a, b = rng.sample(ids, 2)
                margin = strength[a] - strength[b] + rng.gauss(0, 11)
                w, l = (a, b) if margin > 0 else (b, a)
                ls = rng.randint(45, 85)
                ws = ls + max(1, int(abs(margin)))
                f.write(f"{season},{rng.randint(0, 132)},{w},{ws},{l},{ls},"
                        f"{rng.choice('HAN')},{int(rng.random() < 0.06)}\n")


def checksum_changed(root, seed, csv, runs):
    """1 when the gold table's checksum differs between runs on the same
    input: within this invocation, or against an earlier invocation in
    this checkout (kept in .bench_build/gold_checksums.json)."""
    with open(csv, "rb") as f:
        key = f"{seed}:{hashlib.sha256(f.read()).hexdigest()}"
    path = os.path.join(root, BUILD_DIR, "gold_checksums.json")
    known = json.load(open(path)) if os.path.exists(path) else {}
    sums = {r["gold_checksum"] for r in runs if r["ok"]}
    if key in known:
        sums.add(known[key])
    elif len(sums) == 1:
        known[key] = next(iter(sums))
        with open(path, "w") as f:
            json.dump(known, f)
    return int(len(sums) > 1)


def frozen_sql(names, oracle, odir):
    """oracle_sql.json for tools/check.py whose oracle reads the answers
    perfbench/strata/probe.py froze in `odir`."""
    return {q: f"SELECT * FROM '{odir}/{q}.parquet'"
            for q in names if q in oracle}


# ------------------------------------------------------------------ JVMs

def java_cmd(classpath, run_dir, harness_args):
    opens = []
    for p in JDK17_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + opens + [
        f"-Xmx{HEAP}",
        "-XX:ReservedCodeCacheSize=512m",
        "-Dspark.callstack.depth=400", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.sql.session.timeZone=UTC", "-cp", classpath,
        "perfbench.Harness"] + harness_args)


class Jvm:
    """One harness JVM; `setup_s` is the time from launch until it reports
    ready (JVM start, SparkSession, warm-up)."""

    def __init__(self, cmd, log_path):
        self.log = open(log_path, "ab")
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                                     stderr=self.log)
        try:
            for line in self.proc.stdout:
                if line.strip() == b"PERFBENCH READY":
                    self.setup_s = time.perf_counter() - t0
                    return
        except BaseException:
            self.close()
            raise
        self.close()
        fail("harness exited before set-up finished", log_path)

    def wait(self, deadline):
        """Exit code, or None when the JVM outlived the monotonic deadline
        (it is killed then)."""
        try:
            self.proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
            return self.proc.returncode
        except subprocess.TimeoutExpired:
            return None
        finally:
            self.close()

    def close(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.log.close()


# ------------------------------------------------------------------ metrics

def percentile(values, p):
    """Linear interpolation between closest ranks."""
    v = sorted(values)
    x = (len(v) - 1) * p
    lo = int(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def layer_metrics(rec, runs, passes):
    """Per-layer figures of a traced run, per pass of the sample."""
    ids = {r["id"] for r in runs}
    jobs = [j for j in rec.get("jobs", []) if j["query"] in ids]
    by_query = {}
    for j in jobs:
        by_query.setdefault(j["query"], []).append(j)
    m = {}

    def add(k, v):
        m[k] = m.get(k, 0.0) + v

    for r in runs:
        start = r["start_ms"]
        busy = merged_ms([(j["start_ms"], j["end_ms"])
                          for j in by_query.get(r["id"], [])],
                         start, start + r["wall_s"] * 1e3)
        add("driver.nonjob_s", r["wall_s"] - busy / 1e3)
        for ph in ("construct", "plan", "exec"):
            add(f"{ph}_s", r.get(f"{ph}_s", 0.0))
        add("materialize.blocks", r.get("blocks", 0))
        add("spine.builds", r.get("spine_builds", 0))
        add("spine.bytes", r.get("spine_bytes", 0))
        add("lake.bytes_written", r.get("lake_bytes", 0))
        add("lake.files_written", r.get("lake_files", 0))
    for j in jobs:
        secs = (j["end_ms"] - j["start_ms"]) / 1e3
        ph = j["phase"]
        if ph == "construct":
            add("construct.jobs", 1)
            add("construct.tasks", j["tasks"])
        if ph == "exec":
            add("exec.jobs", 1)
            for k in ("stages", "tasks", "task_run_s", "shuffle_write_bytes",
                      "input_bytes", "spill_bytes"):
                add(f"exec.{k}", j[k])
        if j["materialize"]:
            add("materialize.jobs", 1)
            add("materialize.job_s", secs)
        if j["spine"]:
            add("spine.job_s", secs)
        add(f"module.{j['module']}.job_s", secs)
        if j["module"] != "unattributed":
            add(f"module.{j['module']}.jobs", 1)
    out = {k: v / passes for k, v in m.items()}
    for k in ["construct.jobs", "construct.tasks", "materialize.jobs",
              "materialize.job_s", "spine.job_s", "exec.jobs", "exec.stages",
              "exec.tasks", "exec.task_run_s", "exec.shuffle_write_bytes",
              "exec.input_bytes", "exec.spill_bytes",
              "module.unattributed.job_s"] + [
              f"module.{x}.{y}" for x in rec["modules"]
              for y in ("job_s", "jobs")]:
        out.setdefault(k, 0.0)
    return out


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name in ("failed_frac", "lake.bytes_per_input_byte"):
        return "ratio"
    return "count"


# ------------------------------------------------------------------ run

def run(workload, seed, seconds, trace, root, overrides=None, passes=None,
        keep_record=True):
    spec = dict(WORKLOADS[workload], **(overrides or {}))
    classpath = build.build(root)
    deadline = time.monotonic() + RUN_LIMIT_S
    for need in ("tools/check.py", "perfbench/data/sf0.01/lineitem.parquet"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"missing {need}")
    rng = random.Random(f"{workload}:{seed}")
    run_dir = os.path.join(root, BUILD_DIR, "runs",
                           f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "record.json")
    log = os.path.join(run_dir, "harness.log")
    try:
        common = ["--seconds", str(seconds), "--trace", str(trace),
                  "--out", out]
        if passes:
            common += ["--passes", str(passes)]
        input_bytes = 0
        if spec["kind"] == "registry":
            data = os.path.join(root, "perfbench", "data", spec["data"])
            names = sample_queries(stratum(workload, spec["data"]),
                                   spec["sample"], rng)
            qfile = os.path.join(run_dir, "queries.txt")
            with open(qfile, "w") as f:
                f.write("\n".join(names) + "\n")
            dump = os.path.join(run_dir, "dump")
            args = ["--data", data, "--queries", qfile, "--dump", dump]
        else:
            inp = os.path.join(run_dir, "input")
            os.makedirs(inp)
            csv = os.path.join(inp, "MRegularSeasonCompactResults.csv")
            write_games(csv, spec["seasons"], spec["teams"], spec["games"], rng)
            input_bytes = os.path.getsize(csv)
            args = ["--input", inp, "--lake", os.path.join(run_dir, "lake"),
                    "--folds", str(spec["seasons"] - 1)]
        setups = []
        for _ in range(SETUP_SAMPLES - 1):
            jvm = Jvm(java_cmd(classpath, run_dir,
                               ["--mode", "setup"] + common), log)
            setups.append(jvm.setup_s)
            jvm.wait(deadline)
        jvm = Jvm(java_cmd(classpath, run_dir,
                           ["--mode", spec["kind"]] + args + common), log)
        setups.append(jvm.setup_s)
        rc = jvm.wait(deadline)
        if rc != 0 or not os.path.exists(out):
            fail(f"harness failed (exit {rc})", log)
        rec = json.load(open(out))
        runs = rec["runs"]
        attempted = len(runs) + rec.get("warmup_runs", 0)
        failed = sum(not r["ok"] for r in runs) + rec.get("warmup_failed", 0)
        if spec["kind"] == "registry":
            # the oracle's answers on this frozen data were frozen with
            # the strata; tools/check.py compares the dump against them
            sql_path = os.path.join(dump, "oracle_sql.json")
            odir = os.path.join(HERE, "strata", "oracle", spec["data"])
            frozen = frozen_sql(names, json.load(open(sql_path)), odir)
            with open(sql_path, "w") as f:
                json.dump(frozen, f)
            chk = subprocess.run(
                [sys.executable, os.path.join(root, "tools", "check.py"),
                 dump, data], stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT, text=True, timeout=300)
            last = chk.stdout.strip().splitlines()[-1] if chk.stdout else ""
            mismatches = (0 if last == "ALL GREEN"
                          else int(last.split()[0]) if last[:1].isdigit()
                          else 1)
            if mismatches:
                sys.stderr.write(chk.stdout[-4000:])
        else:
            mismatches = (sum(len(r["violations"]) for r in runs)
                          + checksum_changed(root, seed, csv, runs))
        walls = [r["wall_s"] for r in runs]
        metrics = {
            "wall_s": statistics.median(rec["pass_wall_s"]),
            "query_p50_s": percentile(walls, 0.5),
            "query_p90_s": percentile(walls, 0.9),
            "setup_s": statistics.median(setups),
            "cpu_s": statistics.median(rec["pass_cpu_s"]),
            "peak_rss_mb": rec["peak_rss_mb"],
        }
        passes_done = len(rec["pass_wall_s"])
        layers = {
            "jvm.gc_s": rec["gc_s"] / passes_done,
            "jvm.heap_peak_mb": rec["heap_peak_mb"],
            "codegen.compile_s": rec["codegen_compile_s"] / passes_done,
            "codegen.classes": rec["codegen_classes"] / passes_done,
            "host.steal_s": rec["host_steal_s"],
            "host.iowait_s": rec["host_iowait_s"],
            "failed_frac": failed / attempted if attempted else 1.0,
            "oracle_mismatches": mismatches,
            "traced_wall_s": metrics["wall_s"],
            "warmup_s": rec.get("warmup_s", 0.0),
        }
        if trace:
            layers.update(layer_metrics(rec, runs, passes_done))
            layers["lake.bytes_per_input_byte"] = (
                layers["lake.bytes_written"] / input_bytes
                if input_bytes else 0.0)
        record = {
            "workload": workload, "seed": seed, "trace": trace,
            "passes": passes_done, "query_samples": attempted,
            "setup_samples": setups, "pass_wall_s": rec["pass_wall_s"],
            "sample": names if spec["kind"] == "registry" else None,
            "metrics": dict(metrics, **layers)}
        if keep_record:
            rdir = os.path.join(root, BUILD_DIR, "records")
            os.makedirs(rdir, exist_ok=True)
            stamp = time.strftime("%Y%m%dT%H%M%S")
            name = f"{workload}-seed{seed}-trace{trace}-{stamp}-{os.getpid()}"
            with open(os.path.join(rdir, name + ".json"), "w") as f:
                json.dump(dict(record, runs=runs, jobs=rec.get("jobs", [])), f)
        print("perfbench record: " + json.dumps(
            {k: v for k, v in record.items() if k != "metrics"}),
            file=sys.stderr)
        shown = layers if trace else metrics
        return {
            "correct": failed == 0 and mismatches == 0,
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)}
                        for k, v in sorted(shown.items())},
        }, record
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def smoke(root):
    """Every workload at minimal size, traced and untraced: each metric
    BENCHMARK.json names must print with its unit."""
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    ok = True
    for w in spec["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, _ = run(name, 1, 1, trace, root, SMOKE[name], passes=1,
                         keep_record=False)
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                good = got is not None and got["unit"] == m["unit"]
                ok &= good
                print(f"{'ok  ' if good else 'FAIL'} {name:<20} "
                      f"{m['name']:<28} {got}")
            ok &= res["correct"]
    print("SMOKE " + ("OK" if ok else "FAILED"))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    # a terminated run still stops its JVM (Jvm.close runs on the way out)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if a.smoke:
        sys.exit(smoke(root))
    if not a.workload:
        ap.error("--workload is required")
    res, _ = run(a.workload, a.seed, a.seconds, a.trace, root)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
