#!/usr/bin/env python
"""Production job entrypoint.

    spark-submit --py-files pdf2doi_spark.zip job.py \
        --input  /path/to/pages_parquet_or_iceberg \
        --output /path/to/run_dir \
        [--cache /path/to/identifier_cache] \
        [--shards 4096] [--no-arxiv2doi] [--salt-partitions 0] \
        [--dedup-index /path/to/minhash_index]

With ``--dedup-index``, each run (= one crawl dump) is probed against the
persisted near-dup index of every prior dump, verdicts land in
<output>/dups, and the dump's survivors are merged into the index — the
rolling-crawl ingest loop behind one spark-submit flag.

Reads a pages table (url, warc_ts, html, text, lang), runs the fused
extraction cascade with per-shard checkpointed lineage, merges found
identifiers into the cache table, and writes the method/type audit
metrics. Restarting with the same --output resumes: completed shards are
skipped via the manifest.

Common-Crawl archives can be ingested WITHOUT a pages table: pass
``--cdx-index <dir-of-cdx files>`` (and ``--warc-base <prefix>`` if the
index's filenames are bucket-relative) instead of ``--input`` — the
published CDXJ index becomes the member table and tasks are byte ranges
of the archives (sources/warc.py read_cdx_index + read_warc_indexed),
so one 1 GB .warc.gz fans out across the cluster.

Shard count guidance at scale: pick shards so one shard ≈ 1-4 GB of input
(10^12 docs × ~100 KB ≈ 100 TB → ~65k shards); the partitioned write keeps
each shard's lineage independent.
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None,
                    help="pages source: a parquet path, "
                         "'table:<catalog.db.table>' (Iceberg or any "
                         "catalog table via spark.read.table), a directory "
                         "of WARC or raw HTML files, or a single "
                         ".warc[.gz]")
    ap.add_argument("--cdx-index", default=None,
                    help="CDXJ index files (CC's cdx-NNNNN.gz) — archives "
                         "are range-read at member granularity; mutually "
                         "exclusive with --input")
    ap.add_argument("--warc-base", default="",
                    help="prefix for the CDX index's relative filenames")
    ap.add_argument("--cdx-host", default=None,
                    help="scope the CDX index to one host before any WARC "
                         "byte is read: SURT urlkey prefix ('org,example') "
                         "or plain hostname ('example.org')")
    ap.add_argument("--cdx-from", default=None,
                    help="inclusive capture_ts lower bound (CDX 14-digit "
                         "'yyyyMMddHHmmss' or ISO-8601)")
    ap.add_argument("--cdx-to", default=None,
                    help="inclusive capture_ts upper bound (same formats)")
    ap.add_argument("--skip-unreadable-ranges", action="store_true",
                    help="skip+count unreadable WARC byte ranges instead "
                         "of failing (only for known-stale CDX indexes)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--cache", default=None)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--salt-partitions", type=int, default=0,
                    help="if >0, salted-repartition input before the kernel "
                         "(use when the upstream layout clusters by domain)")
    ap.add_argument("--no-arxiv2doi", action="store_true",
                    help="keep arXiv IDs (strict reference-offline parity)")
    ap.add_argument("--dedup-index", default=None,
                    help="persisted minhash near-dup index dir: probe this "
                         "run's extracted text against every prior dump, "
                         "write <output>/dups, merge survivors back in "
                         "(bootstraps an empty index on first use)")
    ap.add_argument("--dedup-threshold", type=float, default=0.5,
                    help="signature-agreement threshold for --dedup-index")
    ap.add_argument("--dedup-max-bucket", type=int, default=None,
                    help="cap on LSH bucket size for the --dedup-index "
                         "probe: buckets over this are excluded from the "
                         "candidate join (audit first with "
                         "minhash_index_profile; boilerplate-heavy crawls "
                         "need this to bound the intra-dump self-join)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pdf2doi_spark.session import build_session
    from pdf2doi_spark.operators.extract import (
        method_metrics,
        repartition_salted,
    )
    from pdf2doi_spark.sources.io import (
        merge_cache,
        read_cache,
        resolve_pages_source,
        run_resumable,
    )

    if bool(args.input) == bool(args.cdx_index):
        ap.error("exactly one of --input / --cdx-index is required")

    spark = build_session(master=args.master, app_name="pdf2doi-extract")
    try:
        if args.cdx_index:
            from pdf2doi_spark.sources.warc import (
                read_cdx_index,
                read_warc_indexed,
                scope_cdx_index,
            )

            idx = read_cdx_index(
                spark, args.cdx_index, warc_base=args.warc_base
            )
            if args.cdx_host or args.cdx_from or args.cdx_to:
                idx = scope_cdx_index(
                    idx, host=args.cdx_host,
                    ts_from=args.cdx_from, ts_to=args.cdx_to,
                )
            # index-only count — the cheapest audit of the run's scope
            # (~1/1000th of archive bytes; zero WARC bytes touched)
            print(f"cdx members in scope: {idx.count()}")
            pages = read_warc_indexed(
                spark, idx.select("path", "offset", "length"),
                skip_unreadable=args.skip_unreadable_ranges,
            )
        else:
            # the shared router (same one the CLI and library entry use):
            # parquet dir, WARC file/dir, or raw-HTML dir all resolve to
            # the pages shape
            pages = resolve_pages_source(spark, args.input)
        if args.salt_partitions > 0:
            pages = repartition_salted(pages, args.salt_partitions)

        cache = read_cache(spark, args.cache)

        # Write-once contract: --output belongs to ONE logical input. A
        # sealed output dir (all shards done) short-circuits to the stored
        # results and never re-examines --input — point a new/grown crawl
        # at a fresh --output (run_resumable warns if the seal fires).
        results = run_resumable(
            spark,
            pages,
            args.output,
            n_shards=args.shards,
            replace_arxiv=not args.no_arxiv2doi,
            cache=cache,
        )

        if (args.cache or args.dedup_index) \
                and spark.sparkContext.getCheckpointDir() is None:
            # durable checkpoint dir for the lineage cuts of the cache merge
            # and the near-dup probe (without one, _truncate_lineage falls
            # back to localCheckpoint, whose blocks die with a lost
            # executor mid-job)
            spark.sparkContext.setCheckpointDir(
                os.path.join(args.output, "_checkpoints"))

        if args.cache:
            merge_cache(spark, args.cache, results)

        if args.dedup_index:
            # Rolling-crawl near-dedup: one ingest_dump
            # step probes this dump's extracted text against the persisted
            # index (= every prior dump's survivors), writes the verdicts
            # and merges the survivors. doc_id = xxhash64(url):
            # deterministic across dumps, so a RECRAWL of the same url is
            # the same doc (self-matches are excluded by the probe), not a
            # near-dup of itself; at 10^12 docs the 64-bit birthday bound
            # leaves ~1e-8 of ids colliding — noise for an approximate
            # dedup.
            from pyspark.sql import functions as F

            from pdf2doi_spark.operators.dedup_index import ingest_dump

            docs = (
                results.filter(F.col("extracted_text").isNotNull())
                .select("url", F.xxhash64("url").alias("doc_id"),
                        F.col("extracted_text").alias("text"))
            )
            split = ingest_dump(
                spark, args.dedup_index, docs,
                os.path.join(args.output, "dups"),
                threshold=args.dedup_threshold,
                max_bucket=args.dedup_max_bucket, hash_fn="xxhash64",
            )
            print(f"near-dups flagged: {sum(split.values())}")

        metrics_path = os.path.join(args.output, "metrics")
        method_metrics(results).write.mode("overwrite").parquet(metrics_path)
        # print from the tiny written table: collecting the original plan
        # would re-scan + re-aggregate the full results a second time
        for row in spark.read.parquet(metrics_path).orderBy(
            "method", "identifier_type"
        ).collect():
            print(f"{row['method']:<28s} {row['identifier_type']:<12s} {row['n_docs']}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
