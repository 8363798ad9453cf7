#!/usr/bin/env python
"""Incremental corpus ingestion against a persisted near-dup index.

The production cadence for training-corpus construction: crawl dumps
arrive one at a time, and each must be near-dup-checked against EVERY
dump already ingested — without re-signaturing the whole corpus per dump
(operators/dedup_index.py). This example replays that cadence over the
synthetic documents table:

  dump 0.. → ingest_dump: the first call bootstraps an EMPTY index (so
             every dump, the first included, runs the same path and gets
             its intra-dump dups flagged); each call probes the dump
             against the index AND within itself, writes the flagged docs
             to <index-dir>_dups/dump=<i> (survivors get no row), then
             merges the survivors so the NEXT dump sees them
  finally  → compact_minhash_index (one file per partition again)

Per-dump cost is O(dump + collisions): the signature pass runs over the
new dump only; the postings/sigs scans are partition-pruned to the
buckets the dump actually hashes into. Nothing about the accumulated
corpus is recomputed — the index IS the corpus state.

Usage (plain python, or spark-submit --py-files pdf2doi_spark.zip):

    python examples/incremental_ingest.py \
        --sf-dir /root/testdata/sf0.001 --index-dir /tmp/incr_index \
        [--dumps 3] [--threshold 0.5]

Prints one JSON lineage line per dump and a final index summary.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--index-dir", default="/tmp/incr_index")
    ap.add_argument("--dumps", type=int, default=3)
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pdf2doi_spark.operators.dedup_index import (
        compact_minhash_index,
        ingest_dump,
    )
    from pdf2doi_spark.session import build_session

    spark = build_session(master=args.master, app_name="incremental-ingest")
    try:
        dups_dir = args.index_dir.rstrip("/") + "_dups"
        for d in (args.index_dir, dups_dir):
            shutil.rmtree(d, ignore_errors=True)
        docs = (
            spark.read.parquet(f"{args.sf_dir}/documents.parquet")
            .select("doc_id", "text")
        )

        for i in range(0, args.dumps):
            batch = docs.filter(F.col("doc_id") % args.dumps == i)
            # survivors of THIS dump join the corpus; the next dump's
            # probe sees them without any recompute of dumps 0..i
            by_source = ingest_dump(
                spark, args.index_dir, batch, f"{dups_dir}/dump={i}",
                threshold=args.threshold,
            )
            n_batch = batch.count()
            print(json.dumps({
                "dump": i, "docs": n_batch,
                "dups_vs_index": by_source["index"],
                "dups_within_dump": by_source["batch"],
                "survivors_merged": n_batch - sum(by_source.values()),
            }))

        compact_minhash_index(spark, args.index_dir)
        sigs = spark.read.parquet(args.index_dir + "/sigs")
        import glob

        print(json.dumps({
            "index_docs": sigs.count(),
            "sig_files": len(glob.glob(
                f"{args.index_dir}/sigs/sp=*/*.parquet")),
            "posting_files": len(glob.glob(
                f"{args.index_dir}/postings/pq=*/*.parquet")),
            "action": "compacted",
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
