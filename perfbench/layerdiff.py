#!/usr/bin/env python3
"""Diff two benchmark run records layer by layer (stdlib only).

Every run of perfbench/run.py saves its record to
.bench_build/records/<workload>-seed<n>-trace<0|1>-<time>-<pid>.json; a
traced run's
record also holds its spans (one per query run, with construct / plan /
exec children and one child per Spark job, tagged with its module).

  python3 perfbench/layerdiff.py BEFORE.json AFTER.json

prints, per pass of the sample:
  - each layer's self time: the part of its span that no child span
    covers (construct and exec minus their Spark jobs; job time per
    module), and its counts (jobs, stages, tasks, spine builds);
  - every end-to-end metric of both records.
Given one untraced and one traced record of the same workload and seed,
the wall_s difference is the tracing overhead.
"""
import json
import sys


def merged_ms(intervals, lo, hi):
    """Milliseconds of [lo, hi] covered by the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layers(rec):
    """Self time (s) and counts per layer, per pass."""
    out = {}

    def add(k, v):
        out[k] = out.get(k, 0.0) + v

    jobs = {}
    ids = {r["id"] for r in rec.get("runs", [])}
    for j in (j for j in rec.get("jobs", []) if j["query"] in ids):
        jobs.setdefault((j["query"], j["phase"]), []).append(j)
        secs = (j["end_ms"] - j["start_ms"]) / 1e3
        add(f"jobs.{j['phase']}.module.{j['module']}.job_s", secs)
        add(f"jobs.{j['phase']}.count", 1)
        add(f"jobs.{j['phase']}.stages", j["stages"])
        add(f"jobs.{j['phase']}.tasks", j["tasks"])
        add(f"jobs.{j['phase']}.task_run_s", j["task_run_s"])
    for r in rec.get("runs", []):
        phases = [p for p in ("construct", "plan", "exec") if p in r]
        for p in phases:
            lo, hi = r[p]
            iv = [(j["start_ms"], j["end_ms"]) for j in jobs.get((r["id"], p), [])]
            add(f"self.{p}_s", (hi - lo - merged_ms(iv, lo, hi)) / 1e3)
            add(f"span.{p}_s", (hi - lo) / 1e3)
        add("query.wall_s", r["wall_s"])
        add("spine.builds", r.get("spine_builds", 0))
    passes = max(1, rec.get("passes", 1))
    return {k: v / passes for k, v in out.items()}


def fmt(v):
    return f"{v:14.4f}" if isinstance(v, (int, float)) else f"{'-':>14}"


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = (json.load(open(p)) for p in sys.argv[1:])
    print(f"A: {sys.argv[1]} ({a['workload']} seed {a['seed']} trace {a['trace']}, "
          f"{a['passes']} passes)")
    print(f"B: {sys.argv[2]} ({b['workload']} seed {b['seed']} trace {b['trace']}, "
          f"{b['passes']} passes)")
    print(f"\n{'metric':<44}{'A':>14}{'B':>14}{'B-A':>14}{'(B-A)/A':>10}")
    rows = [("", k, a["metrics"].get(k), b["metrics"].get(k))
            for k in sorted(set(a["metrics"]) | set(b["metrics"]))]
    if a["trace"] and b["trace"]:
        la, lb = layers(a), layers(b)
        rows = [("layer ", k, la.get(k, 0.0), lb.get(k, 0.0))
                for k in sorted(set(la) | set(lb))] + rows
    for tag, k, x, y in rows:
        d = y - x if x is not None and y is not None else None
        rel = f"{d / x:10.1%}" if d is not None and x else f"{'':>10}"
        print(f"{(tag + k)[:44]:<44}{fmt(x)}{fmt(y)}{fmt(d)}{rel}")
    if a["trace"] != b["trace"] and a["workload"] == b["workload"]:
        un, tr = (a, b) if a["trace"] == 0 else (b, a)
        w0, w1 = un["metrics"]["wall_s"], tr["metrics"]["traced_wall_s"]
        print(f"\ntracing overhead: wall_s {w0:.4f} untraced -> {w1:.4f} "
              f"traced ({(w1 - w0) / w0:+.1%})")


if __name__ == "__main__":
    main()
