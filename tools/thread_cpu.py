#!/usr/bin/env python
"""CPU seconds per JVM thread class of one running process.

Polls ``/proc/<pid>/task/*/stat`` (read-only) every 0.1 s until ``pid``
exits, keeping each thread's last value, so threads that exit before the
process does (JIT compiler threads, finished task threads) still count.
At exit it prints user+system CPU seconds per thread class:

* ``c1`` / ``c2``: the JIT compiler threads (``C1 CompilerThre…``);
* ``task``: executor task threads (``Executor task launch worker…``);
* ``gc``: garbage-collector threads (``GC Thread#n``, ``G1 …``);
* ``py4j``: the py4j gateway threads (``Thread-n``) that run what the
  Python driver calls: planning, code generation, checkpoint and
  collect bookkeeping;
* ``other``: everything else (schedulers, RPC, listeners, ...).

Point it at the driver JVM of a local-mode run (``pgrep -f
SparkSubmit``); threads are named by the JVM, truncated to 15 bytes.

Usage: python tools/thread_cpu.py <pid>
"""
from __future__ import annotations

import os
import re
import sys
import time

CLASSES = ("c1", "c2", "task", "gc", "py4j", "other")


def parse_stat(line: str) -> tuple:
    """``(tid, comm, starttime, cpu_ticks)`` of one ``/proc/.../stat``
    line; ``cpu_ticks`` is utime + stime. The name may hold spaces and
    parentheses, so it ends at the LAST ``)``."""
    head, _, rest = line.rpartition(")")
    tid, _, comm = head.partition(" (")
    f = rest.split()  # f[0] is field 3 (state): field k is f[k - 3]
    return int(tid), comm, int(f[19]), int(f[11]) + int(f[12])


def thread_class(comm: str) -> str:
    if comm.startswith("C1 CompilerThre"):
        return "c1"
    if comm.startswith("C2 CompilerThre"):
        return "c2"
    if comm.startswith("Executor task l"):
        return "task"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    if re.fullmatch(r"Thread-\d+", comm):
        return "py4j"
    return "other"


def sample(pid: int) -> list:
    """Parsed stat lines of every live thread of ``pid`` (empty once it
    has exited)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                out.append(parse_stat(f.read()))
        except (FileNotFoundError, ProcessLookupError):
            pass  # the thread exited between the listing and the read
    return out


def summarize(threads: dict, clk_tck: int) -> dict:
    """CPU seconds per class from ``{(tid, starttime): (comm, ticks)}``."""
    secs = dict.fromkeys(CLASSES, 0.0)
    for comm, ticks in threads.values():
        secs[thread_class(comm)] += ticks / clk_tck
    return secs


def main(argv: list) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    pid = int(argv[1])
    threads = {}  # (tid, starttime) → (comm, last ticks): a reused tid is a new key
    while True:
        rows = sample(pid)
        if not rows:
            break
        for tid, comm, start, ticks in rows:
            threads[(tid, start)] = (comm, ticks)
        time.sleep(0.1)
    secs = summarize(threads, os.sysconf("SC_CLK_TCK"))
    for c in CLASSES:
        print(f"{c:6s} {secs[c]:9.2f} cpu-s")
    print(f"total  {sum(secs.values()):9.2f} cpu-s over {len(threads)} threads")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
