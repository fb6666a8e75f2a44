#!/usr/bin/env python3
"""Summarize a scale-ritual pair (/tmp/bench_sfscale_{sf1,sf10}.json).

Prints a per-gate decade table sorted by cpu ratio (worst first):
sf1/sf10 wall, the wall ratio, the process-cpu ratio (`cpu x`), jobs and
gc. The flag reads the cpu ratio, not the wall ratio: a loaded host
inflates wall time at flat cpu, while a plan that grows faster than its
data grows its cpu too. Gates whose cpu ratio exceeds the --flag
threshold (default 10x, ~linear at 10x data with fixed overheads
amortized) are marked SUPER-LINEAR.
"""
import json, sys, os

flag = 10.0
for a in sys.argv[1:]:
    if a.startswith("--flag="):
        flag = float(a.split("=", 1)[1])

def load(path):
    with open(path) as f:
        txt = f.read().strip()
    return json.loads(txt.splitlines()[-1])

p1, p10 = "/tmp/bench_sfscale_sf1.json", "/tmp/bench_sfscale_sf10.json"
if not (os.path.exists(p1) and os.path.exists(p10)):
    print(f"scale_report: missing {p1} or {p10} (run tools/scale_ritual.sh first)")
    sys.exit(1)
a, b = load(p1), load(p10)

# job_stats rows follow job_stats_schema; fall back to the pre-r15
# 5-field layout [jobs,stages,tasks,loadavg,cpu_s]
def row(d, name):
    r = d["job_stats"][name]
    sch = d.get("job_stats_schema")
    if sch:
        m = dict(zip(sch, r))
    else:
        m = {"jobs": r[0], "stages": r[1], "tasks": r[2], "loadavg": r[3],
             "cpu_s": r[4], "wall_s": d["queries"][name], "gc_ms": -1}
    m["wall_s"] = d["queries"].get(name, m.get("wall_s"))
    return m

common = sorted(set(a["queries"]) & set(b["queries"]))
only1 = set(a["queries"]) - set(b["queries"])
onlyX = set(b["queries"]) - set(a["queries"])
if only1 or onlyX:
    print(f"NOT COMPARED — sf1-only: {sorted(only1)}  sf10-only: {sorted(onlyX)}")
print(f"{'gate':32s} {'sf1 s':>7s} {'sf10 s':>8s} {'ratio':>6s} "
      f"{'cpu x':>6s} {'jobs':>9s} {'gc ms':>11s}")
rows = []
for g in common:
    r1, r10 = row(a, g), row(b, g)
    ratio = r10["wall_s"] / max(r1["wall_s"], 1e-9)
    cpux = r10["cpu_s"] / max(r1["cpu_s"], 1e-9)
    rows.append((cpux, g, r1, r10, ratio))
for cpux, g, r1, r10, ratio in sorted(rows, reverse=True):
    mark = "  SUPER-LINEAR" if cpux > flag else ""
    print(f"{g:32s} {r1['wall_s']:7.2f} {r10['wall_s']:8.2f} {ratio:6.1f} "
          f"{cpux:6.1f} {r1['jobs']:>3}->{r10['jobs']:<4} "
          f"{r1['gc_ms']:>4}->{r10['gc_ms']:<5}{mark}")
n_bad = sum(1 for cpux, *_ in rows if cpux > flag)
print(f"\n{len(rows)} gates compared; {n_bad} above {flag:.0f}x (cpu ratio)")
