#!/usr/bin/env python3
"""Per-job and per-stage times from Spark event logs.

Usage:

    python3 tools/stage_times.py <eventlog dir or file> [--scope NAME]

Run the program under test with
`-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false`
(and `-Dspark.eventLog.dir=<dir>`; Spark's default is /tmp/spark-events,
which must exist). Each application in the directory is read: a plain
event log file, or a rolling log's `eventlog_v2_*` directory, whose
`events_<n>_*` files are read in order.

For each job it prints the job's wall time and description, and under it
each stage: wall time (submission to completion), task count, summed task
run time and summed task CPU time, and the RDD scopes the stage runs
(Catalyst operators such as TrailPack, Exchange, TrailMatch). `--scope NAME`
also prints, for the stages that run scope NAME, the count and the min,
median and max of stage wall, task run and task CPU time: with one such
stage per query, that is the operator's layer per query.
"""

import argparse
import json
import os
import statistics
import sys


def read_events(files):
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def log_files(path):
    """The event files of one application at `path`, in order, or None."""
    name = os.path.basename(path)
    if os.path.isdir(path):
        parts = [f for f in os.listdir(path) if f.startswith("events_")]
        parts.sort(key=lambda f: int(f.split("_")[1]))
        return [os.path.join(path, f) for f in parts] or None
    if name.startswith(".") or name.startswith("appstatus_") or name.endswith(".crc"):
        return None
    return [path]


def scopes_of(stage_info):
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            try:
                names.add(json.loads(scope)["name"])
            except (ValueError, KeyError):
                pass
    return sorted(names)


def application(files):
    """(jobs, stages) of one event log: jobs in start order, stages by id."""
    jobs, stages = {}, {}
    for ev in read_events(files):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "id": ev["Job ID"], "start": ev.get("Submission Time"), "end": None,
                "stages": ev.get("Stage IDs", []),
                "desc": props.get("spark.job.description") or props.get("callSite.short") or "",
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], {"run_ms": 0, "cpu_ns": 0, "tasks": 0})
            st.update(name=info.get("Stage Name", ""), scopes=scopes_of(info),
                      start=info.get("Submission Time"), end=info.get("Completion Time"))
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], {"run_ms": 0, "cpu_ns": 0, "tasks": 0})
            metrics = ev.get("Task Metrics") or {}
            st["run_ms"] += metrics.get("Executor Run Time", 0)
            st["cpu_ns"] += metrics.get("Executor CPU Time", 0)
            st["tasks"] += 1
    return sorted(jobs.values(), key=lambda j: j["id"]), stages


def secs(start, end):
    return (end - start) / 1000.0 if start is not None and end is not None else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("path", help="event log directory, or one event log file")
    ap.add_argument("--scope", help="summarize the stages that run this RDD scope (e.g. TrailMatch)")
    args = ap.parse_args()
    top = args.path
    if os.path.isdir(top) and not os.path.basename(os.path.normpath(top)).startswith("eventlog_v2_"):
        paths = [os.path.join(top, f) for f in sorted(os.listdir(top))]
    else:
        paths = [top]
    picked = []
    for path in paths:
        files = log_files(path)
        if not files:
            continue
        if any(f.endswith((".lz4", ".zstd", ".zst", ".snappy", ".lzf", ".inprogress")) for f in files):
            print(f"skip {path}: compressed or unfinished (run with spark.eventLog.compress=false)",
                  file=sys.stderr)
            continue
        jobs, stages = application(files)
        print(f"== {os.path.basename(path)}: {len(jobs)} jobs, {len(stages)} stages")
        for job in jobs:
            print(f"job {job['id']:>4}  wall {secs(job['start'], job['end']):8.3f} s  {job['desc'][:70]}")
            for sid in job["stages"]:
                st = stages.get(sid)
                if st is None or "start" not in st:
                    continue  # skipped stage (its shuffle output was reused)
                print(f"  stage {sid:>4}  wall {secs(st['start'], st['end']):8.3f} s  tasks {st['tasks']:>4}"
                      f"  task run {st['run_ms'] / 1000.0:8.3f} s  cpu {st['cpu_ns'] / 1e9:8.3f} s"
                      f"  [{', '.join(st['scopes'])}]")
                if args.scope and args.scope in st["scopes"]:
                    picked.append(st)
    if args.scope:
        if not picked:
            print(f"no stage runs scope {args.scope}")
            return
        print(f"== stages running {args.scope}: {len(picked)}")
        for label, values in (
                ("wall s", [secs(s["start"], s["end"]) for s in picked]),
                ("task run s", [s["run_ms"] / 1000.0 for s in picked]),
                ("task cpu s", [s["cpu_ns"] / 1e9 for s in picked])):
            print(f"{label:>11}: min {min(values):.3f}  median {statistics.median(values):.3f}"
                  f"  max {max(values):.3f}")


if __name__ == "__main__":
    main()
