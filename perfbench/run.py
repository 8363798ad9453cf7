#!/usr/bin/env python3
"""Benchmark of pdf2doi_spark: one workload per process, at local[<cores>].

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

Run from the repository root. The run generates its seeded inputs under
``perfbench/.work`` (reused when seed and generators are unchanged),
builds the workload's fixtures when this program version has none yet
(in a JVM of their own), sets up the Spark session from a cold JVM, then
times passes for ``--seconds`` seconds, at least one. The first pass is
timed like the others: each job.py run is a fresh process that pays its
first pass. Every pass writes
to fresh output paths and its output is checked; a pass that raises or
fails its check counts as failed.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
the per-layer metrics, from spans recorded around every call into the
program (written to ``perfbench/.work/results``). The line before it
records the host, versions, input sizes and every pass time.

The process reads and writes only inside the repository checkout, and
stops the JVM and Python workers it started before it exits.
"""
from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END = {
    "docs_per_cpu_s": "docs/cpu-s", "setup_s": "s", "ok_rate": "share",
    "peak_rss_mb": "MB", "out_bytes_per_doc": "B/doc", "out_files": "count",
    "dup_recall": "share", "dup_precision": "share",
}
PER_LAYER = {
    "session.build_s": "s", "session.first_job_s": "s",
    "jvm.peak_rss_mb": "MB",
    "sources.open_s": "s", "sources.scan_s": "s", "sources.tasks": "count",
    "sources.rows_per_task": "count",
    "extract.crossing_s": "s", "extract.kernel_s": "s",
    "extract.n_docs": "count", "extract.n_candidates": "count",
    "extract.n_hits": "count", "extract.candidate_yield": "share",
    "core.main_content_us": "us", "core.meta_us": "us",
    "core.cascade_us": "us", "core.cpu_s_est": "s",
    "sources.run_resumable_s": "s", "sources.shard_write_s": "s",
    "sources.merge_cache_s": "s", "extract.metrics_s": "s",
    "sources.files_written": "count", "sources.bytes_written": "B",
    "dedup_index.sig_s": "s", "dedup_index.probe_join_s": "s",
    "dedup_index.merge_s": "s", "dedup_index.n_sigs": "count",
    "dedup_index.n_verdicts": "count", "dedup_index.touched_parts": "count",
    "dedup_index.files_written": "count",
    "trace.wall_s": "s", "trace.remainder_s": "s",
    "trace.docs_per_s": "docs/s", "trace.cpu_util": "share",
    "trace.overhead_share": "share",
}


def _tree_pids(root_pid: int) -> list:
    """root_pid and all its descendants, from /proc."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss(root_pid: int) -> tuple:
    """(bytes, bytes): RSS of the tree's JVM and of its Python processes
    (main process and workers). Other processes are left out: the JVM's
    short-lived spawn helpers (workers, Hadoop's chmod) share its address
    space while they start and would count the JVM twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    jvm = python = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except OSError:
            continue
        if comm == "java":
            jvm += rss
        elif comm.startswith("python"):
            python += rss
    return jvm, python


def _tree_cpu(root_pid: int) -> float:
    """User + system CPU seconds of root_pid's process tree. A child that
    has ended and been reaped inside the tree (a Python worker, a JVM spawn
    helper) is still counted: the kernel adds its time to its parent's
    cutime/cstime."""
    total = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])  # utime .. cstime
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak RSS of this process tree while a pass runs, sampled every
    ``interval`` seconds; JVM and Python processes are kept apart.
    ``cpu_seconds`` is the sampler thread's own CPU time, which a pass's
    CPU time leaves out."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.active = False
        self.peak_jvm = self.peak_python = 0
        self.cpu_seconds = 0.0
        self._done = threading.Event()

    def sample(self) -> None:
        jvm, python = _tree_rss(os.getpid())
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_python = max(self.peak_python, python)

    def run(self) -> None:
        while not self._done.wait(self.interval):
            if self.active:
                self.sample()
            self.cpu_seconds = time.thread_time()

    def stop(self) -> None:
        self._done.set()
        self.join()


def _process_cpu(sampler: RssSampler) -> float:
    """CPU seconds of this process tree so far, less the sampler's own."""
    return _tree_cpu(os.getpid()) - sampler.cpu_seconds


class Meter:
    """Times one pass, in wall and in CPU seconds of the process tree;
    memory is sampled while it runs."""

    def __init__(self, sampler: RssSampler):
        self.sampler = sampler
        self.seconds = self.cpu_seconds = None

    def __enter__(self):
        self.sampler.active = True
        self.cpu0 = _process_cpu(self.sampler)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self.t0
        self.cpu_seconds = _process_cpu(self.sampler) - self.cpu0
        self.sampler.active = False
        self.sampler.sample()
        return False


def _isolate_to_checkout() -> None:
    """Point every temporary location of Spark, the JVM and Python at WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # -XX:-UsePerfData: HotSpot otherwise writes /tmp/hsperfdata_<user>
    # whatever java.io.tmpdir says
    jvm = f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = (os.environ.get(var, "") + jvm).strip()
    import tempfile

    tempfile.tempdir = tmp


def _workers_up():
    def run(batches):
        yield from batches
    return run


def _setup(cores: int, tr):
    """Import pyspark, build_session with its defaults (JVM launch, package
    shipped) and one Python job on every slot (workers up)."""
    from pdf2doi_spark.session import build_session

    with tr.span("session.build"):
        t0 = time.perf_counter()
        spark = build_session(
            master=f"local[{cores}]", app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            })
        t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    with tr.span("session.first_job"):
        (spark.range(0, cores, 1, cores).mapInPandas(_workers_up(), "id long")
         .write.format("noop").mode("overwrite").save())
        t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def _shutdown(spark) -> None:
    """Stop the session, the gateway JVM and the Python workers, and wait
    until every process this run started has ended."""
    from pyspark import SparkContext

    pids = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _pass_spans(tr, first: int) -> dict:
    """Durations of the direct children of the pass span recorded since
    span index ``first``."""
    new = tr.spans[first:]
    roots = {s["id"] for s in new if s["name"] == "pass"}
    return {s["name"]: s["end"] - s["start"] for s in new
            if s["parent"] in roots}


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("pdf2doi_spark/__init__.py", "job.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"error: {need} not found next to perfbench/; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    _isolate_to_checkout()
    sys.path.insert(0, ROOT)
    import gen
    from spans import Tracer

    cores = len(os.sched_getaffinity(0))
    phases = {"start": time.perf_counter() - T_PROCESS}
    t_phase = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    inputs = gen.ensure_inputs(os.path.join(WORK, "inputs"), args.workload,
                               args.seed)
    phase("inputs")
    wl = WORKLOADS[args.workload](inputs, args.seed, WORK)
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tr = Tracer(run_id, enabled=bool(args.trace))
    sampler = RssSampler()
    sampler.start()
    passes_root = os.path.join(WORK, "passes")
    shutil.rmtree(passes_root, ignore_errors=True)

    spark = None
    attempted, failures, failed, timed = 0, [], set(), []
    try:
        if wl.fixtures_missing():
            # built in a JVM of their own: the measured set-up and first
            # pass must start cold, as every job.py run does
            spark = _setup(cores, Tracer(run_id, False))[0]
            wl.build_fixtures(spark)
            _shutdown(spark)
            spark = None
        phase("fixtures")
        # set-up is gated in CPU seconds, like the passes: work moved into
        # set-up shows there, and steal on a shared host stretches it far
        # less than the wall time kept beside it
        t0, cpu0 = time.perf_counter(), _process_cpu(sampler)
        spark, build_s, first_job_s = _setup(cores, tr)
        setup_wall_s = time.perf_counter() - t0
        setup_s = _process_cpu(sampler) - cpu0
        phase("setup")
        wl.prepare()
        layout = wl.layout(spark)
        phase("prepare")

        def one_pass(k: int, traced: bool):
            nonlocal attempted
            pass_dir = os.path.join(passes_root, str(k))
            os.makedirs(pass_dir)
            tr.enabled = traced
            first = len(tr.spans)
            attempted += 1
            meter = Meter(sampler)
            try:
                res = wl.run_pass(spark, tr, pass_dir, lambda: meter)
            except Exception as exc:  # a failed pass is a measured outcome
                failed.add(k)
                failures.append(f"pass {k}: {type(exc).__name__}: {exc}")
                return None
            finally:
                tr.enabled = False
                shutil.rmtree(pass_dir, ignore_errors=True)
            res.cpu_seconds = meter.cpu_seconds
            res.spans = _pass_spans(tr, first)
            res.traced = traced
            if res.failures:
                failed.add(k)
                failures.extend(f"pass {k}: {f}" for f in res.failures)
            return res

        # The first pass is timed, not treated as warm-up: every job.py run
        # is a fresh process that pays its first-pass JIT and codegen, so
        # that is the throughput a user of the entry point sees.
        t_loop = time.perf_counter()
        k = 1
        while k == 1 or time.perf_counter() - t_loop < args.seconds:
            res = one_pass(k, traced=bool(args.trace))
            if res is not None and not res.failures:
                timed.append(res)
            k += 1
        phase("timed_passes")
        layers = {}
        traced = [p for p in timed if p.traced]
        if traced:
            tr.enabled = True
            layers = wl.probes(spark, tr, traced)
            tr.enabled = False
            phase("probes")
    finally:
        sampler.stop()
        _shutdown(spark)
    phase("shutdown")

    rates = [p.n_docs / p.seconds for p in timed]
    e2e = {
        "docs_per_cpu_s": _median(p.n_docs / p.cpu_seconds for p in timed),
        "setup_s": setup_s,
        "ok_rate": 1.0 - len(failed) / attempted,
        "peak_rss_mb": sampler.peak_python / 2**20,
        "out_bytes_per_doc": _median(p.out_bytes for p in timed),
        "out_files": _median(p.out_files for p in timed),
        "dup_recall": _median(p.recall for p in timed),
        "dup_precision": _median(p.precision for p in timed),
    }
    info = {
        "workload": args.workload, "seed": args.seed, "cpus": cores,
        "host": socket.gethostname(), "platform": platform.platform(),
        "python": platform.python_version(),
        "spark": __import__("pyspark").__version__,
        "pyarrow": __import__("pyarrow").__version__,
        "input_rows": wl.n_rows, "input_bytes": gen.input_bytes(inputs["path"]),
        **layout,
        "setup_wall_s": setup_wall_s,
        "pass_seconds": [p.seconds for p in timed],
        "pass_cpu_seconds": [p.cpu_seconds for p in timed],
        "phase_seconds": phases,
        "failures": failures[:20],
    }
    if args.trace:
        layers.update(layout)
        layers.update({
            "session.build_s": build_s,
            "session.first_job_s": first_job_s,
            "jvm.peak_rss_mb": sampler.peak_jvm / 2**20,
            "trace.wall_s": _median(p.seconds for p in traced),
            "trace.docs_per_s": _median(rates),
            "trace.cpu_util": _median(
                p.cpu_seconds / (p.seconds * cores) for p in traced),
        })
        if traced:
            # pass wall not covered by the pass's top-level layer spans
            layers["trace.remainder_s"] = statistics.median(
                p.seconds - sum(p.spans.values()) for p in traced)
            # recording cost of the spans the timed passes carried, as a
            # share of their time; compare trace.docs_per_s with the
            # untraced runs' docs_per_s for the end-to-end view
            n_spans = sum(len(p.spans) + 1 for p in traced)
            layers["trace.overhead_share"] = (
                n_spans * Tracer.span_cost() / sum(p.seconds for p in traced))
        metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                   for name, unit in PER_LAYER.items()}
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        tr.write(os.path.join(WORK, "results", f"{run_id}-spans.json"))
    else:
        metrics = {name: {"value": float(e2e[name]), "unit": unit}
                   for name, unit in END_TO_END.items()}
    result = {"correct": not failed, "attempted": attempted,
              "failed": len(failed), "metrics": metrics}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{run_id}.json"), "w") as fh:
        json.dump({"info": info, **result}, fh, indent=1)
    for f in failures[:20]:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
