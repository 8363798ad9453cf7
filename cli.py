#!/usr/bin/env python
"""pdf2doi-style CLI over a folder (or parquet table) of web documents.

Mirrors the reference's command-line surface (reference ``main.py:244-377``)
for everything that exists offline:

    python cli.py <target> [-s FILENAME] [-no_arxiv2doi] [-google N]...

- ``target``: a directory of raw ``*.html`` files (reference: folder of
  PDFs, ``main.py:60-82``) or a parquet pages table.
- ``-s/--save``: write the fixed-width identifier report to a file
  (reference ``save_identifiers``, ``main.py:192-227``).
- ``-no_arxiv2doi``: keep arXiv IDs instead of rewriting to DOIs
  (reference flag at ``main.py:355``).
- web flags (``-nwv``, ``-nws``) are accepted for drop-in compatibility
  but are no-ops: the engine is permanently offline (no executor egress),
  which equals the reference run with both flags set.

Prints the reference's stdout table: ``{:<15s} {:<40s} {:<10s}`` with
``n.a.`` placeholders (reference ``main.py:366-372``).
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Find identifiers (DOI/arXiv) of web documents, distributed."
    )
    ap.add_argument("target", help="directory of *.html files, or a parquet pages table")
    ap.add_argument("-s", "--save", default=None, metavar="FILENAME",
                    help="save report (fixed-width rows) to this file")
    ap.add_argument("-no_arxiv2doi", action="store_true",
                    help="do not replace arXiv IDs with synthetic DOIs")
    ap.add_argument("-v", "--verbose", action="store_true",
                    help="print extraction-stage counters (docs seen, "
                         "prefilter candidates, hits) after the run "
                         "(reference -v flag, main.py:253)")
    ap.add_argument("-nostore", action="store_true",
                    help="do not write found identifiers back into the "
                         "cache table (reference -nostore flag, "
                         "main.py:265: disable identifier storage in the "
                         "document metadata); the cache is still USED as "
                         "the method-#1 fast path when --cache is given")
    ap.add_argument("-nwv", action="store_true", help="(no-op: always offline)")
    ap.add_argument("-nws", action="store_true", help="(no-op: always offline)")
    ap.add_argument("-id", dest="set_id", default=None, metavar="IDENTIFIER",
                    help="manually associate IDENTIFIER with the target url "
                         "(reference -id flag, main.py:347-353): upserts the "
                         "identifier cache instead of running extraction; "
                         "requires --cache")
    ap.add_argument("--cache", default=None, metavar="PATH",
                    help="identifier cache table (parquet). During extraction "
                         "it is broadcast-joined in as the method-#1 fast "
                         "path and updated with new hits afterwards "
                         "(reference write-back memoization, main.py:98-100)")
    ap.add_argument("--glob", default="*.html", help="raw-file glob (default *.html)")
    ap.add_argument("--master", default="local[*]")
    args = ap.parse_args()

    from pdf2doi_spark.session import build_session
    from pdf2doi_spark.operators.extract import extract_identifiers, format_report
    spark = build_session(master=args.master, app_name="pdf2doi-cli")
    try:
        if args.set_id is not None:
            # Manual tagging mode (reference -id, main.py:347-353): validate
            # syntactically, then upsert (url -> identifier) into the cache
            # table so the next extraction resolves it as the method-#1
            # fast path — the Spark analogue of writing the identifier into
            # the PDF's own metadata.
            from pdf2doi_spark.core.patterns import standardise_doi, validate_offline
            from pdf2doi_spark.sources.io import merge_cache

            if not args.cache:
                sys.exit("error: -id requires --cache PATH")
            ident = args.set_id
            if validate_offline(ident, "doi"):
                ident, id_type = standardise_doi(ident), "DOI"
            elif validate_offline(ident, "arxiv"):
                id_type = "arxiv ID"
            else:
                sys.exit(f"error: {ident!r} is not a valid DOI or arXiv ID")
            # Key the association with the SAME url the extraction will
            # produce: binaryFile emits fully-qualified URIs (file: local,
            # hdfs:/s3a: on a cluster), so a raw path would never match
            # the broadcast join and the manual tag would be silently
            # ignored. fs_qualify applies the identical resolution.
            from pdf2doi_spark.sources.io import fs_qualify

            tag_url = fs_qualify(spark, args.target) or args.target
            row = spark.createDataFrame(
                [(tag_url, ident, id_type, "manual", None)],
                "url string, identifier string, identifier_type string, "
                "method string, tier int",
            )
            merge_cache(spark, args.cache, row)
            print(f"{id_type:<15s} {ident:<40s} {tag_url:<10s}")
            return

        from pdf2doi_spark.sources.io import read_cache, resolve_pages_source

        pages = resolve_pages_source(spark, args.target, glob=args.glob)
        cache_df = read_cache(spark, args.cache)
        counters = None
        if args.verbose:
            from pdf2doi_spark.operators.extract import ExtractionCounters

            counters = ExtractionCounters(spark.sparkContext)
        results = extract_identifiers(
            pages, replace_arxiv=not args.no_arxiv2doi, with_text=False,
            cache=cache_df, counters=counters,
        )
        if args.cache and not args.nostore:
            # Materialize the extraction ONCE: both the report and the cache
            # merge re-read the parquet instead of re-running the kernel
            # (merge_cache would otherwise recompute the full mapInPandas
            # plan), and the materialized copy also removes the read-your-
            # own-input race of merging into a cache the plan still reads
            # (.cache() is best-effort, never a correctness barrier).
            import shutil
            import tempfile

            from pdf2doi_spark.sources.io import merge_cache

            snap_dir = tempfile.mkdtemp(prefix="pdf2doi_run_")
            try:
                snap = os.path.join(snap_dir, "results.parquet")
                results.write.mode("overwrite").parquet(snap)
                results = spark.read.parquet(snap)
                lines = [r["report_line"]
                         for r in format_report(results).collect()]
                merge_cache(spark, args.cache, results)
            finally:
                # merge_cache wrote the cache from the snapshot, which
                # nothing reads after it; the snapshot must not leak a full
                # results table into /tmp — on failure either
                # (collect/merge raise included)
                shutil.rmtree(snap_dir, ignore_errors=True)
        else:
            lines = [r["report_line"] for r in format_report(results).collect()]
        for line in lines:
            print(line)
        if args.save:
            with open(args.save, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            print(f"saved {len(lines)} rows -> {args.save}")
        if counters is not None:
            for k, v in counters.as_dict().items():
                print(f"{k}: {v}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
