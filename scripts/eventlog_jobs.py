#!/usr/bin/env python3
"""Per-job timeline of one uncompressed Spark event log.

Usage:

    python3 scripts/eventlog_jobs.py <event-log file>

Write the log by starting the JVM with
`-Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false
-Dspark.eventLog.dir=<dir>` (for example through JAVA_TOOL_OPTIONS). One
line per job, in submission order: start offset from the application start,
duration, task count, slowest task, executor CPU, and the description of the
SQL execution that submitted it (`-` for a job outside any SQL execution).
"""
import json
import sys


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip())
    app_start = None
    sql = {}          # execution id -> description
    jobs = {}         # job id -> row
    stage_job = {}    # stage id -> job id that ran it
    with open(sys.argv[1]) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerApplicationStart":
                app_start = e["Timestamp"]
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                sql[str(e["executionId"])] = e.get("description", "")
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"], "end": None, "tasks": 0,
                    "slowest": 0, "cpu_ns": 0,
                    "sql": props.get("spark.sql.execution.id")}
                for s in e["Stage IDs"]:
                    stage_job[s] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(e["Stage ID"]))
                if job is None:
                    continue
                info = e["Task Info"]
                job["tasks"] += 1
                job["slowest"] = max(job["slowest"], info["Finish Time"] - info["Launch Time"])
                job["cpu_ns"] += (e.get("Task Metrics") or {}).get("Executor CPU Time", 0)
    if not jobs:
        sys.exit("no job in the log")
    origin = app_start if app_start is not None else min(j["start"] for j in jobs.values())
    print(f"{'job':>5} {'start_s':>9} {'dur_ms':>7} {'tasks':>5} {'slow_ms':>7} {'cpu_s':>6}  sql")
    for jid in sorted(jobs):
        j = jobs[jid]
        dur = "-" if j["end"] is None else str(j["end"] - j["start"])
        desc = "-" if j["sql"] is None else f"{j['sql']}: {sql.get(j['sql'], '')}"
        print(f"{jid:>5} {(j['start'] - origin) / 1000:>9.3f} {dur:>7} {j['tasks']:>5} "
              f"{j['slowest']:>7} {j['cpu_ns'] / 1e9:>6.3f}  {desc[:90]}")
    done = [j for j in jobs.values() if j["end"] is not None]
    print(f"{len(jobs)} jobs, {sum(j['tasks'] for j in jobs.values())} tasks, "
          f"{sum(j['end'] - j['start'] for j in done)} ms summed job time, "
          f"{sum(j['cpu_ns'] for j in jobs.values()) / 1e9:.3f} s executor CPU")


if __name__ == "__main__":
    main()
