#!/usr/bin/env python3
"""Timeline of a Spark event log, one line per SQL execution.

    python3 tools/eventlog_timeline.py <event-log-dir> [--start REGEX]

Reads every uncompressed event log under the directory (one
`eventlog_v2_*` app directory, or a directory of them; apps are read in
turn). For each root SQL execution it prints the start (seconds after its
window began), the duration, the Spark jobs it ran, and the first
`graft.` frame of its call site. A window is one app, or, with --start,
begins at each root execution whose "description | first graft frame"
matches REGEX. Each window ends with its span, its jobs, and the time
inside the span with no job running. For diagnosis only: event logging
slows the run it records.
"""
import argparse
import json
import os
import re


def read_app(paths):
    execs, jobs = {}, {}
    for e in (json.loads(line) for path in paths for line in open(path)):
        ev = e["Event"]
        if ev.endswith("SQLExecutionStart"):
            if e.get("rootExecutionId", e["executionId"]) != e["executionId"]:
                continue
            site = next((l for l in e.get("details", "").splitlines()
                         if l.startswith("graft.")), "-")
            execs[e["executionId"]] = {"start": e["time"], "end": e["time"],
                                       "desc": e["description"], "site": site}
        elif ev.endswith("SQLExecutionEnd") and e["executionId"] in execs:
            execs[e["executionId"]]["end"] = e["time"]
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            root = props.get("spark.sql.execution.root.id",
                             props.get("spark.sql.execution.id"))
            jobs[e["Job ID"]] = [e["Submission Time"], None,
                                 int(root) if root is not None else None]
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]][1] = e["Completion Time"]
    return execs, [j for j in jobs.values() if j[1] is not None]


def idle_ms(lo, hi, intervals):  # time in [lo, hi] outside every interval
    busy, cur = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e > cur:
            busy += e - max(s, cur)
            cur = e
    return (hi - lo) - busy


def report(execs, jobs, start_re):
    order = sorted(execs.items(), key=lambda kv: kv[1]["start"])
    windows, cur = [], []
    for eid, x in order:
        if cur and start_re and start_re.search(f'{x["desc"]} | {x["site"]}'):
            windows.append(cur)
            cur = []
        cur.append((eid, x))
    windows.append(cur)
    per_exec = {}
    for _, _, root in jobs:
        per_exec[root] = per_exec.get(root, 0) + 1
    for w in windows:
        lo, hi = w[0][1]["start"], max(x["end"] for _, x in w)
        print(f'{"start_s":>8} {"dur_ms":>7} {"jobs":>4}  first graft frame | description')
        for eid, x in w:
            print(f'{(x["start"] - lo) / 1000:8.3f} {x["end"] - x["start"]:7d} '
                  f'{per_exec.get(eid, 0):4d}  {x["site"]} | {x["desc"]}')
        inside = [(s, e) for s, e, _ in jobs if s < hi and e > lo]
        print(f"window: {(hi - lo) / 1000:.3f} s, {len(w)} SQL executions, "
              f"{len(inside)} jobs, no job running for "
              f"{idle_ms(lo, hi, inside) / 1000:.3f} s\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dir")
    ap.add_argument("--start", help="regex that opens a new window")
    a = ap.parse_args()
    start_re = re.compile(a.start) if a.start else None
    apps = []  # a rolled (v2) log is one dir of events_<n>_<app> files
    for d, _, fs in sorted(os.walk(a.dir)):
        rolled = sorted((f for f in fs if f.startswith("events_")),
                        key=lambda f: int(f.split("_")[1]))
        apps += [(d, [os.path.join(d, f) for f in rolled])] if rolled else []
        apps += [(os.path.join(d, f), [os.path.join(d, f)]) for f in sorted(fs)
                 if f.startswith(("app-", "local-")) and not f.endswith(".inprogress")]
    for name, paths in apps:
        execs, jobs = read_app(paths)
        if execs:
            print(f"== {name}")
            report(execs, jobs, start_re)


if __name__ == "__main__":
    main()
