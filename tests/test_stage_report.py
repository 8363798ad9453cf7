"""tools/stage_report.py on a synthetic, uncompressed Spark event log."""
import json
import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import stage_report  # noqa: E402


def _events():
    sql = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
    return [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 900},
        {"Event": sql, "executionId": 0, "description": "save at job.py:1"},
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1],
         "Stage Infos": [{"Stage ID": 0, "Stage Name": "map"},
                         {"Stage ID": 1, "Stage Name": "result"}],
         "Properties": {"spark.sql.execution.id": "0"}},
        *[{"Event": "SparkListenerTaskEnd", "Stage ID": s,
           # only the Python-time accumulable counts, by its "Update"
           "Task Info": {"Accumulables": [
               {"ID": 7, "Name": "time to run Python workers",
                "Update": str(py), "Value": "99999"},
               {"ID": 8, "Name": "time to start Python workers",
                "Update": "50", "Value": "50"}]},
           "Task Metrics": {"Executor Run Time": run,
                            "Executor CPU Time": cpu,
                            "Shuffle Write Metrics": {
                                "Shuffle Bytes Written": shuf},
                            "Output Metrics": {"Bytes Written": out}}}
          for s, run, cpu, py, shuf, out in (
              (0, 500, 400_000_000, 450, 1000, 0),
              (0, 700, 600_000_000, 640, 24, 0),
              (1, 300, 250_000_000, 0, 0, 2048))],
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
        # a later job lists the reused stage 0 again, but runs only stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 4000, "Stage IDs": [0, 2],
         "Stage Infos": [{"Stage ID": 0, "Stage Name": "map"},
                         {"Stage ID": 2, "Stage Name": "parquet at x:0"}],
         "Properties": {}},
        # a task end without metrics (a failed task) counts as zero
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 4250},
    ]


def test_stage_report_rows_and_total(tmp_path, capsys):
    log = tmp_path / "local-1"
    log.write_text("\n".join(json.dumps(e) for e in _events()) + "\n")
    rows = stage_report.job_rows(stage_report.read_events(str(log)))
    assert rows == [
        {"id": 0, "start_ms": 1000, "tasks": 3, "run_ms": 1500,
         "cpu_ns": 1_250_000_000, "py_ms": 1090,
         "shuffle_bytes": 1024, "out_bytes": 2048,
         "description": "save at job.py:1",
         "duration_ms": 2500},
        {"id": 1, "start_ms": 4000, "tasks": 1, "run_ms": 0, "cpu_ns": 0,
         "py_ms": 0, "shuffle_bytes": 0, "out_bytes": 0, "description": "parquet at x:0",
         "duration_ms": 250},
    ]
    # a rolling-log directory reads the same
    roll = tmp_path / "eventlog_v2_local-1"
    roll.mkdir()
    (roll / "events_1_local-1").write_text(log.read_text())
    assert stage_report.main([str(roll)]) == 0
    out = capsys.readouterr().out.splitlines()
    assert len(out) == 4  # header, two jobs, total
    assert out[1].split()[:9] == ["0", "0.00", "2.50", "3", "1.50", "1.25",
                                  "1.09", "1024", "2048"]
    assert out[2].split()[:9] == ["1", "3.00", "0.25", "1", "0.00", "0.00",
                                  "0.00", "0", "0"]
    assert out[-1] == ("total: 2 jobs, 4 tasks, 2.75 s in jobs, "
                       "1.50 executor run-s, 1.25 executor cpu-s, "
                       "1.09 python worker run-s, "
                       "1024 shuffle bytes written, 2048 output bytes written")
