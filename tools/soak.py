#!/usr/bin/env python
"""Production-job soak (BENCH.md §6): drive job.py through real
spark-submit over a replicated multi-million-page artifact, at two
cluster sizes, and report walls + output-layout health as one JSON line.

This is the ritual that surfaced (round 4) the tasks×shards small-file
explosion and the build_session master/--conf stomp — both invisible at
pytest scale. Keep running it per round on fresh boots.

Usage:
    python tools/soak.py [--pages N_MILLION] [--shards N] \
        [--masters local[8],local[32]] [--restart] [--keep]

Defaults: 10M pages (sf0.1 documents ×2000), 256 shards, masters
local[8] + local[32], with a restart run at the LAST master. Artifact is
content-addressed under /tmp and reused across invocations; outputs are
deleted afterwards unless --keep.
"""
from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def materialize(n_million: float, sf_dir: str) -> str:
    """Replicated pages artifact, content-addressed by (sf_dir, replicate).

    600 output files so the job's scan granularity is controlled by
    maxPartitionBytes, not by a handful of giant files.
    """
    from pdf2doi_spark.pages import pages_from_documents
    from pdf2doi_spark.session import build_session

    base = os.path.basename(os.path.normpath(sf_dir))
    replicate = int(n_million * 1e6) // 5000  # sf0.1 documents = 5k rows
    out = f"/tmp/soak_pages_{base}_x{replicate}"
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    spark = build_session(master="local[32]", shuffle_partitions=64,
                          app_name="soak-materialize")
    try:
        df = pages_from_documents(spark, sf_dir, replicate=replicate)
        df.repartition(600).write.mode("overwrite").parquet(out)
    finally:
        spark.stop()
    return out


def submit(spark_submit: str, master: str, zip_path: str, art: str,
           out: str, cache: str, shards: int, log_path: str | None = None) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [spark_submit, "--master", master, "--driver-memory", "48g",
         "--conf", "spark.sql.shuffle.partitions=64",
         # ~90 balanced input tasks for the 10M artifact: granularity must
         # outnumber slots at the LARGE size or the wall is wave-quantized
         "--conf", "spark.sql.files.maxPartitionBytes=33554432",
         "--conf", "spark.ui.enabled=false",
         "--py-files", zip_path,
         os.path.join(REPO, "job.py"),
         "--input", art, "--output", out, "--cache", cache,
         "--shards", str(shards)],
        capture_output=True, text=True, timeout=3600,
    )
    wall = round(time.time() - t0, 1)
    if log_path:
        with open(log_path, "w") as fh:  # per-stage forensics for BENCH §6
            fh.write(proc.stdout + "\n===STDERR===\n" + proc.stderr)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:] + "\n")
        raise SystemExit(f"job failed at {master} (rc={proc.returncode})")
    result_files = glob.glob(os.path.join(out, "results", "shard=*", "*.parquet"))
    shard_dirs = glob.glob(os.path.join(out, "results", "shard=*"))
    return {
        "master": master, "wall_s": wall,
        "result_files": len(result_files), "shard_dirs": len(shard_dirs),
        "files_per_shard_max": max(
            (len(glob.glob(os.path.join(d, "*.parquet"))) for d in shard_dirs),
            default=0),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=float, default=10.0,
                    help="artifact size in MILLIONS of pages")
    ap.add_argument("--shards", type=int, default=256)
    ap.add_argument("--masters", default="local[8],local[32]")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--restart", action="store_true",
                    help="re-submit at the last master against its own "
                         "output (sealed-manifest short-circuit timing)")
    ap.add_argument("--keep", action="store_true")
    args = ap.parse_args()

    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    art = materialize(args.pages, args.sf_dir)
    from pdf2doi_spark.session import zip_package

    zip_path = zip_package("soak_pkg_")
    n_pages = int(args.pages * 1e6)

    runs, outs = [], []
    try:
        for master in args.masters.split(","):
            tag = master.replace("[", "_").replace("]", "")
            out = f"/tmp/soak_out_{tag}"
            cache = f"/tmp/soak_cache_{tag}"
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(cache, ignore_errors=True)
            r = submit(spark_submit, master, zip_path, art, out, cache,
                       args.shards, log_path=f"/tmp/soak_{tag}.log")
            r["pages_per_sec"] = round(n_pages / r["wall_s"], 1)
            runs.append(r)
            outs.append((out, cache))
        if args.restart:
            master = args.masters.split(",")[-1]
            out, cache = outs[-1]
            r = submit(spark_submit, master, zip_path, art, out, cache,
                       args.shards, log_path="/tmp/soak_restart.log")
            r["restart"] = True
            runs.append(r)

        report = {"metric": "soak", "pages": n_pages, "shards": args.shards,
                  "runs": runs}
        walls = {r["master"]: r["wall_s"] for r in runs if not r.get("restart")}
        if len(walls) == 2:
            (m_small, w_small), (m_big, w_big) = list(walls.items())
            import re

            cores = [int(re.search(r"\[(\d+)\]", m).group(1))
                     for m in (m_small, m_big)]
            report["scaling_eff"] = round(
                (w_small / w_big) / (cores[1] / cores[0]), 3)
        print(json.dumps(report))
    finally:
        os.unlink(zip_path)
        if not args.keep:
            for out, cache in outs:
                shutil.rmtree(out, ignore_errors=True)
                shutil.rmtree(cache, ignore_errors=True)


if __name__ == "__main__":
    main()
