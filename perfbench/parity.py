#!/usr/bin/env python3
"""Parity of the ingest workload with the real entry point.

    python3 perfbench/parity.py --seed 1

Runs one in-process ingest pass (the benchmark's mirror of ``job.py
--cache``), then ``spark-submit job.py`` on the same input and a fresh
copy of the same pre-filled cache, and compares the two runs' results,
manifest, method metrics and merged cache row for row. Prints one JSON
line; exits 1 on any difference, so the mirror cannot drift from
``job.py`` unnoticed.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import pyarrow.dataset as ds

import run

TABLES = {
    "results": ("out/results", ["url", "identifier", "identifier_type",
                                "method", "tier", "validation_info",
                                "extracted_text", "shard"]),
    "manifest": ("out/manifest", ["shard", "status", "n_docs", "n_hits"]),
    "metrics": ("out/metrics", ["method", "identifier_type", "n_docs"]),
    "cache": ("cache", ["url", "identifier", "identifier_type", "method",
                        "shard"]),
}


def _key(row: tuple) -> tuple:
    return tuple("" if v is None else str(v) for v in row)


def _rows(root: str, rel: str, cols: list) -> list:
    t = ds.dataset(os.path.join(root, rel), partitioning="hive").to_table()
    return sorted(zip(*(t[c].to_pylist() for c in cols)), key=_key)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    run._isolate_to_checkout()
    sys.path.insert(0, run.ROOT)
    import gen
    from spans import Tracer
    from workloads import N_SHARDS, Ingest

    cores = len(os.sched_getaffinity(0))
    root = os.path.join(run.WORK, "parity")
    shutil.rmtree(root, ignore_errors=True)
    mirror, real = os.path.join(root, "mirror"), os.path.join(root, "job")
    os.makedirs(mirror)
    os.makedirs(real)
    wl = Ingest(gen.ensure_inputs(os.path.join(run.WORK, "inputs"), "ingest",
                                  args.seed), args.seed, run.WORK)
    spark = None
    try:
        spark, _b, _f = run._setup(cores, Tracer("parity", False))
        if wl.fixtures_missing():
            wl.build_fixtures(spark)
        wl.prepare()
        res = wl.run_pass(spark, Tracer("parity", False), mirror,
                          lambda: run.Meter(run.RssSampler()))
    finally:
        run._shutdown(spark)
    if res.failures:
        print(json.dumps({"parity": False, "mirror_failures": res.failures}))
        return 1

    shutil.copytree(wl.cache, os.path.join(real, "cache"))
    subprocess.run(
        ["spark-submit", "--master", f"local[{cores}]",
         os.path.join(run.ROOT, "job.py"), "--input", wl.input_path(),
         "--output", os.path.join(real, "out"),
         "--cache", os.path.join(real, "cache"),
         "--shards", str(N_SHARDS)],
        check=True, cwd=run.ROOT, stdout=subprocess.DEVNULL)

    diffs = {}
    for name, (rel, cols) in TABLES.items():
        a, b = _rows(mirror, rel, cols), _rows(real, rel, cols)
        if a != b:
            diffs[name] = {
                "mirror_rows": len(a), "job_rows": len(b),
                "only_mirror": sorted(set(a) - set(b), key=_key)[:3],
                "only_job": sorted(set(b) - set(a), key=_key)[:3]}
    print(json.dumps({"parity": not diffs, "seed": args.seed,
                      "tables": sorted(TABLES), "diffs": diffs}, default=str))
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
