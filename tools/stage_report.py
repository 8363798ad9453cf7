#!/usr/bin/env python
"""Offline job report from a Spark event log.

Reads one event-log file (plain or ``.zstd``) or a rolling
``eventlog_v2_*`` directory and prints one row per Spark job: start
offset from the first job, duration, tasks run, executor run seconds
(the tasks' ``Executor Run Time``), executor CPU seconds (the tasks'
``Executor CPU Time``), Python worker seconds (the tasks' ``time to run
Python workers`` SQL metric, milliseconds spent in ``mapInPandas`` and
other Python UDF workers), shuffle bytes written, output bytes
written (the tasks' ``Output Metrics`` ``Bytes Written``), and what
submitted it (the SQL execution description, else the job description,
else the name of its last stage). The last line is the total.

Turn the log on for any session without touching the package:

    spark-submit --conf spark.eventLog.enabled=true \\
        --conf spark.eventLog.dir=file:///tmp/events job.py ...
    build_session(extra_conf={"spark.eventLog.enabled": "true",
                              "spark.eventLog.dir": "file:///tmp/events"})

Usage: python tools/stage_report.py <event log file or eventlog_v2_* dir>
"""
from __future__ import annotations

import json
import os
import sys


def _event_files(path: str) -> list:
    if not os.path.isdir(path):
        return [path]
    # rolling logs: events_<n>_<appId>[.zstd], read in <n> order
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n)
            for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def read_events(path: str):
    """Yield the JSON events of ``path`` in log order."""
    import pyarrow as pa

    for f in _event_files(path):
        codec = "zstd" if f.endswith(".zstd") else None
        with pa.input_stream(f, compression=codec) as stream:
            data = stream.read().decode("utf-8")
        for line in data.splitlines():
            if line.strip():
                yield json.loads(line)


def job_rows(events) -> list:
    """One dict per job: id, start_ms, duration_ms, tasks, run_ms, cpu_ns,
    py_ms, shuffle_bytes, out_bytes, description."""
    jobs, stage_job, sql_desc = {}, {}, {}
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            sql_desc[str(e["executionId"])] = e.get("description", "")
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            stages = e.get("Stage Infos") or [{}]
            desc = (sql_desc.get(exec_id) if exec_id is not None else None) \
                or props.get("spark.job.description") \
                or max(stages, key=lambda s: s.get("Stage ID", 0)) \
                .get("Stage Name", "")
            jobs[e["Job ID"]] = {"id": e["Job ID"],
                                 "start_ms": e["Submission Time"],
                                 "end_ms": e["Submission Time"],
                                 "tasks": 0, "run_ms": 0, "cpu_ns": 0,
                                 "py_ms": 0, "shuffle_bytes": 0, "out_bytes": 0,
                                 "description": desc}
            # a reused shuffle stage is listed again by later jobs but its
            # tasks ran under the first one
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(e["Stage ID"])
            if job is not None:
                m = e.get("Task Metrics") or {}
                jobs[job]["tasks"] += 1
                jobs[job]["run_ms"] += m.get("Executor Run Time", 0)
                jobs[job]["cpu_ns"] += m.get("Executor CPU Time", 0)
                # SQL metrics ride the task's accumulables; "Update" is
                # this task's share ("Value" is the running total)
                jobs[job]["py_ms"] += sum(
                    int(a.get("Update", 0))
                    for a in (e.get("Task Info") or {}).get("Accumulables", [])
                    if a.get("Name") == "time to run Python workers")
                jobs[job]["shuffle_bytes"] += (
                    m.get("Shuffle Write Metrics") or {}
                ).get("Shuffle Bytes Written", 0)
                jobs[job]["out_bytes"] += (
                    m.get("Output Metrics") or {}
                ).get("Bytes Written", 0)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
    rows = sorted(jobs.values(), key=lambda j: j["id"])
    for j in rows:
        j["duration_ms"] = j.pop("end_ms") - j["start_ms"]
    return rows


def report(rows: list) -> str:
    t0 = rows[0]["start_ms"] if rows else 0
    lines = [f"{'job':>4} {'start_s':>8} {'dur_s':>7} {'tasks':>6} "
             f"{'run_s':>7} {'cpu_s':>7} {'py_s':>7} {'shuffle_B':>11} "
             f"{'out_B':>11}  "
             "description"]
    for j in rows:
        desc = " ".join(j["description"].split())[:90]
        lines.append(f"{j['id']:>4} {(j['start_ms'] - t0) / 1e3:8.2f} "
                     f"{j['duration_ms'] / 1e3:7.2f} {j['tasks']:>6} "
                     f"{j['run_ms'] / 1e3:7.2f} "
                     f"{j['cpu_ns'] / 1e9:7.2f} {j['py_ms'] / 1e3:7.2f} "
                     f"{j['shuffle_bytes']:>11} "
                     f"{j['out_bytes']:>11}  {desc}")
    lines.append(f"total: {len(rows)} jobs, "
                 f"{sum(j['tasks'] for j in rows)} tasks, "
                 f"{sum(j['duration_ms'] for j in rows) / 1e3:.2f} s in jobs, "
                 f"{sum(j['run_ms'] for j in rows) / 1e3:.2f} executor run-s, "
                 f"{sum(j['cpu_ns'] for j in rows) / 1e9:.2f} executor cpu-s, "
                 f"{sum(j['py_ms'] for j in rows) / 1e3:.2f} python worker "
                 "run-s, "
                 f"{sum(j['shuffle_bytes'] for j in rows)} shuffle bytes "
                 f"written, {sum(j['out_bytes'] for j in rows)} output bytes "
                 "written")
    return "\n".join(lines)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    print(report(job_rows(read_events(argv[0]))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
