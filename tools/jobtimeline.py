#!/usr/bin/env python3
"""Where a Spark application's jobs go, per SQL execution, from its
event log.

Usage (from the repository root):

    python3 tools/jobtimeline.py <eventlog-dir-or-file> [--brief]

Enable the event log of any run through system properties, which
SparkConf reads; perfbench needs no change for it:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.dir=file:/tmp/ev -Dspark.eventLog.compress=false" \\
      python3 perfbench/run.py --workload corpus_dedup --seed 11 --seconds 12 --trace 0
    python3 tools/jobtimeline.py /tmp/ev

Every uncompressed event log under the argument is read (a rolling
`eventlog_v2_*` directory or a plain application file); each
application prints on its own. Per SQL execution:

- its description, wall time, job count, stages run and skipped, and
  the time inside it with no job running (planning, collects and
  scheduling between jobs);
- each job (offset from the execution start, wall time) and each of its
  stages that ran: tasks, stage wall time, summed task run and CPU
  time, shuffle records read and written;
- the final adaptive plan's Broadcast, Shuffle and TableCache query
  stages with their size estimates.

Jobs that belong to no SQL execution (an action on an RDD, such as a
`count` on a persisted RDD) follow, then a summary of the executions
grouped by description: how many, jobs per execution, median wall.
`--brief` prints the execution lines and the summary only.
"""
import argparse
import json
import os
import re
import statistics
import sys

SQL = "org.apache.spark.sql.execution.ui."
STAGE_LINE = re.compile(
    r"(Broadcast|Shuffle|TableCache|Result)QueryStage \((\d+)\)"
    r"(?:, Statistics\(sizeInBytes=([^,)]+)(?:, rowCount=([^)]+))?\))?")


def log_files(path):
    """Every event log file under `path` (a file or a directory tree)."""
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _, files in os.walk(path):
        for f in sorted(files):
            if f.startswith(".") or f.startswith("appstatus") or f.endswith(".crc"):
                continue
            out.append(os.path.join(root, f))
    return sorted(out)


def acc(stage_info, name):
    for a in stage_info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return float(a.get("Value") or 0)
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def busy_ms(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def final_stages(plan_text):
    """(kind, id, size, rows, column) of every query stage in the tree
    part of a formatted plan."""
    out = []
    for line in plan_text.split("\n"):
        if not line.strip():
            break  # the tree ends at the first blank line; details follow
        m = STAGE_LINE.search(line)
        if m and m.group(1) != "Result":
            out.append((m.group(1), int(m.group(2)), m.group(3), m.group(4), m.start()))
    return out


def read_app(path):
    app = {"id": os.path.basename(path), "execs": {}, "order": [], "jobs": {}, "stages": {}}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            try:
                e = json.loads(line)
            except ValueError:
                continue
            ev = e.get("Event", "")
            if ev == "SparkListenerApplicationStart":
                app["id"] = e.get("App ID", app["id"])
            elif ev == SQL + "SparkListenerSQLExecutionStart":
                x = {"id": e["executionId"], "desc": e.get("description", ""),
                     "start": e["time"], "end": None, "plan": e.get("physicalPlanDescription", ""),
                     "jobs": []}
                app["execs"][x["id"]] = x
                app["order"].append(x["id"])
            elif ev == SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                x = app["execs"].get(e["executionId"])
                if x is not None:
                    x["plan"] = e.get("physicalPlanDescription", x["plan"])
            elif ev == SQL + "SparkListenerSQLExecutionEnd":
                x = app["execs"].get(e["executionId"])
                if x is not None:
                    x["end"] = e["time"]
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                xid = props.get("spark.sql.execution.id")
                j = {"id": e["Job ID"], "start": e["Submission Time"], "end": None,
                     "stages": e.get("Stage IDs", []),
                     "exec": int(xid) if xid not in (None, "") else None,
                     "after": app["order"][-1] if app["order"] else None}
                app["jobs"][j["id"]] = j
                if j["exec"] in app["execs"]:
                    app["execs"][j["exec"]]["jobs"].append(j["id"])
            elif ev == "SparkListenerJobEnd":
                j = app["jobs"].get(e["Job ID"])
                if j is not None:
                    j["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                app["stages"][si["Stage ID"]] = {
                    "name": si.get("Stage Name", ""),
                    "tasks": si.get("Number of Tasks", 0),
                    "wall": (si.get("Completion Time") or 0) - (si.get("Submission Time") or 0),
                    "run": acc(si, "internal.metrics.executorRunTime"),
                    "cpu": acc(si, "internal.metrics.executorCpuTime") / 1e6,
                    "read": acc(si, "internal.metrics.shuffle.read.recordsRead"),
                    "write": acc(si, "internal.metrics.shuffle.write.recordsWritten")}
    return app


def job_line(app, j, t0):
    ran = [s for s in j["stages"] if s in app["stages"]]
    wall = (j["end"] or j["start"]) - j["start"]
    return (f"job {j['id']} (+{j['start'] - t0} ms) {wall} ms, stages ran {ran}, "
            f"skipped {len(j['stages']) - len(ran)}")


def stage_line(app, sid):
    s = app["stages"][sid]
    return (f"stage {sid} \"{s['name']}\" tasks {s['tasks']} wall {s['wall']} ms "
            f"run {s['run']:.0f} ms cpu {s['cpu']:.0f} ms "
            f"shuffle read {s['read']:.0f} rec, write {s['write']:.0f} rec")


def print_app(app, brief):
    execs = [app["execs"][i] for i in app["order"]]
    loose = [j for j in app["jobs"].values() if j["exec"] not in app["execs"]]
    print(f"app {app['id']}: {len(execs)} SQL executions, {len(app['jobs'])} jobs "
          f"({len(loose)} outside SQL executions)")
    for x in execs:
        jobs = [app["jobs"][i] for i in x["jobs"]]
        end = x["end"] or max([j["end"] or j["start"] for j in jobs] + [x["start"]])
        stage_ids = [s for j in jobs for s in j["stages"]]
        ran = sum(1 for s in stage_ids if s in app["stages"])
        idle = (end - x["start"]) - busy_ms(
            [(j["start"], j["end"] or end) for j in jobs], x["start"], end)
        print(f"exec {x['id']} \"{x['desc']}\" wall {end - x['start']} ms, jobs {len(jobs)}, "
              f"stages {ran} run + {len(stage_ids) - ran} skipped, no job running {idle} ms")
        if brief:
            continue
        for j in jobs:
            print("  " + job_line(app, j, x["start"]))
            for s in j["stages"]:
                if s in app["stages"]:
                    print("    " + stage_line(app, s))
        qs = final_stages(x["plan"])
        if qs:
            kinds = {k: sum(1 for q in qs if q[0] == k) for k in ("Broadcast", "Shuffle", "TableCache")}
            print("  final plan query stages: " +
                  ", ".join(f"{n} {k}" for k, n in kinds.items()))
            base = min(q[4] for q in qs)
            for kind, sid, size, rows, col in qs:
                est = f" {size}" + (f", {rows} rows" if rows else "") if size else ""
                print("    " + " " * ((col - base) // 6) + f"{kind}QueryStage ({sid}){est}")
    if loose and not brief:
        print("jobs outside SQL executions")
        for j in sorted(loose, key=lambda j: j["id"]):
            x = app["execs"].get(j["after"])
            where = f"after exec {x['id']}" if x else "before any execution"
            print(f"  {where}: " + job_line(app, j, j["start"]))
            for s in j["stages"]:
                if s in app["stages"]:
                    print("    " + stage_line(app, s))
    groups = {}
    for x in execs:
        end = x["end"] or x["start"]
        groups.setdefault(x["desc"], []).append((len(x["jobs"]), end - x["start"]))
    print("summary by description")
    for desc, rows in groups.items():
        counts = sorted(n for n, _ in rows)
        print(f"  {len(rows)} x \"{desc}\": jobs {counts[0]}-{counts[-1]} per execution, "
              f"median wall {statistics.median(w for _, w in rows):.0f} ms")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("path")
    ap.add_argument("--brief", action="store_true")
    a = ap.parse_args()
    files = log_files(a.path)
    if not files:
        sys.exit(f"jobtimeline: no event log under {a.path}")
    for i, f in enumerate(files):
        if i:
            print()
        print_app(read_app(f), a.brief)


if __name__ == "__main__":
    main()
