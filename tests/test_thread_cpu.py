"""tools/thread_cpu.py on canned /proc task stat lines."""
import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import thread_cpu  # noqa: E402


def _stat(tid, comm, utime, stime, start=4242):
    # fields 3..22 of proc(5): state ... utime(14) stime(15) ... starttime(22)
    rest = ["S", "1", "1", "1", "0", "-1", "4194368", "10", "0", "0", "0",
            str(utime), str(stime), "0", "0", "20", "0", "40", "0", str(start),
            "123456", "789"]
    return f"{tid} ({comm}) " + " ".join(rest) + "\n"


def test_parse_stat_reads_name_and_cpu_ticks():
    assert thread_cpu.parse_stat(_stat(77, "C2 CompilerThre", 1400, 60)) == \
        (77, "C2 CompilerThre", 4242, 1460)
    # a name holding spaces and a ')' ends at the last ')'
    assert thread_cpu.parse_stat(_stat(78, "a) (b c", 5, 6, start=9)) == \
        (78, "a) (b c", 9, 11)


def test_thread_classes():
    got = {c: thread_cpu.thread_class(c) for c in (
        "C1 CompilerThre", "C2 CompilerThre", "Executor task l", "GC Thread#3",
        "G1 Conc#0", "Thread-4", "Thread-pool", "dag-scheduler-e", "java")}
    assert got == {
        "C1 CompilerThre": "c1", "C2 CompilerThre": "c2",
        "Executor task l": "task", "GC Thread#3": "gc", "G1 Conc#0": "gc",
        "Thread-4": "py4j", "Thread-pool": "other",
        "dag-scheduler-e": "other", "java": "other"}


def test_summarize_counts_exited_and_reused_threads():
    rows = [thread_cpu.parse_stat(line) for line in (
        _stat(10, "C2 CompilerThre", 900, 100),
        _stat(11, "C1 CompilerThre", 250, 50),
        _stat(12, "Executor task l", 400, 0),
        # tid 12 reused by a later task thread: a second thread, not an update
        _stat(12, "Executor task l", 150, 50, start=9000),
        _stat(13, "Thread-3", 80, 20),
        _stat(14, "GC Thread#0", 30, 0),
        _stat(15, "VM Thread", 10, 0))]
    threads = {(tid, start): (comm, ticks) for tid, comm, start, ticks in rows}
    assert thread_cpu.summarize(threads, 100) == {
        "c1": 3.0, "c2": 10.0, "task": 6.0, "gc": 0.3, "py4j": 1.0,
        "other": 0.1}


def test_sample_of_an_exited_pid_is_empty():
    import subprocess

    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    assert thread_cpu.sample(p.pid) == []
    # a live process lists at least its main thread, named after it
    assert any(comm for _tid, comm, _s, _t in thread_cpu.sample(os.getpid()))
