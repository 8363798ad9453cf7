#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

    {"metric": "...", "value": <docs/sec>, "unit": "docs/sec",
     "queries": {"<name>": sec, ...}, "sf": <sf>, ...}

Methodology: the flagship measures extraction over a MATERIALIZED pages
parquet (the north-rule shape — a 100 TB job reads an existing Iceberg
table; synthesis is test scaffolding and is timed separately as
``pages_synth``). Every timing is steady-state: one warm pass (spins up
Python workers, codegen, file listing), then the timed pass — a
1000-executor job amortizes startup across hours, so steady-state is the
design point. Set SPARK_GRAFT_BENCH_WARM=0 to time cold instead.

``--scaling`` runs the flagship at local[4], local[16], and local[32] on
the same materialized input and reports throughputs + N→4N efficiency
(eff = tp4N / (4 * tpN)) — the sandbox stand-in for N→4N executors
(see BENCH.md).
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
WARM = os.environ.get("SPARK_GRAFT_BENCH_WARM", "1") != "0"
# The sf0.1 documents table is only 5k rows; the flagship is timed over a
# replicated pages table so the measurement is CPU-bound, not
# overhead-bound. Replicas are distinct deterministic pages (pages.py).
REPLICATE = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "100"))
SCALING_REPLICATE = int(os.environ.get("SPARK_GRAFT_SCALING_REPLICATE", "200"))

HEADLINE = [
    "method_metrics",
    "doi_tier0",
    "standardise_doi",
    "minhash_near_dups",
    "simhash_near_dups",
    "embedding_near_dups",
    "cosine_topk",
    "ann_ivf_topk",
    "length_percentiles",
    "canonical_urls",
    "redact_pii",
    "line_dedup",
    "media_features",
    "sessionize",
    "funnel",
    "corpus_pipeline",
    "metrics_cube",
    "domain_counts_salted",
    "tpch_q1",
    "tpch_q3",
    "pack_sequences",
    "mixture_sample",
    # round-4 additions
    "latest_capture",
    "chunk_documents",
    "domain_curation",
    # driver supersets of the deleted per-operator queries (the name
    # mapping for cross-round comparison is in BENCH.md)
    "quality_suite",
    "doc_signals",
    "exact_dedup",
    "dedup_bucket_profile",
]


def _sf_tag() -> str:
    return SF_DIR.rstrip("/").rsplit("/", 1)[-1]


# Layout version: bump whenever the materialized table's file layout rules
# change, so a stale artifact from an older bench can never be measured
# under the new layout's label.
_LAYOUT = "v2-2000rows"


def _content_tag() -> str:
    """Fingerprint of everything the materialized table depends on: the
    generator source (pages.py) and the source parquet's identity/stats,
    plus the resolved input dir. Without this, a pages.py edit or a
    regenerated/symlinked documents.parquet would silently re-benchmark a
    STALE artifact (the _SUCCESS check would still pass)."""
    import hashlib

    h = hashlib.md5()
    gen = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "pdf2doi_spark", "pages.py")
    with open(gen, "rb") as fh:
        h.update(fh.read())
    h.update(os.path.abspath(SF_DIR).encode())
    src = os.path.join(SF_DIR, "documents.parquet")
    if os.path.exists(src):
        st = os.stat(src)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()[:10]


def _pages_path(replicate: int) -> str:
    return (f"/tmp/pdf2doi_bench_pages_{_sf_tag()}_x{replicate}_{_LAYOUT}"
            f"_{_content_tag()}")


def _materialize_pages(spark, sf_dir: str, replicate: int) -> tuple:
    """Write the synthetic pages table once per (sf, replicate); return
    (path, seconds spent synthesising or 0.0 if reused). Written with many
    files so the scan has enough splits at every parallelism level."""
    from pdf2doi_spark.pages import pages_from_documents

    path = _pages_path(replicate)
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path, 0.0
    t0 = time.perf_counter()
    df = pages_from_documents(spark, sf_dir, replicate=replicate)
    if replicate > 1:
        # One file == one task under _BENCH_READ_CONF, so the file count
        # sets task granularity. ~2000 rows (≈600 KB) per task measured
        # fastest: 1000-row tasks pay ~40% scheduling/scan overhead, and
        # packed multi-file tasks straggle (see BENCH.md). Every file stays
        # well under the 1 MB split target so none is ever bisected.
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        n_files = max(64, (n_docs * replicate) // 2000)
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(path)
    return path, round(time.perf_counter() - t0, 3)


# Bench sessions read many small local files; the production 128 MB split
# target would pack them into a handful of partitions and cap parallelism
# (a bench artifact — a 100 TB table has ~800k natural splits). The conf
# must yield EXACTLY one task per file: with the previous 4 MB/256 KB pair
# the ~580 KB files still packed ~5-per-task into 52 partitions, and the
# resulting wave imbalance at local[32] cost 2.5x throughput (34k vs 117k
# docs/s, measured). openCostInBytes == maxPartitionBytes forces
# one-file-per-task outright:
# every file's packing cost (size + openCost) overflows the bin, and no
# bench file exceeds 1 MB so nothing is ever bisected.
_BENCH_READ_CONF = {
    "spark.sql.files.maxPartitionBytes": str(1 * 1024 * 1024),
    "spark.sql.files.openCostInBytes": str(1 * 1024 * 1024),
}


def _flagship(spark, pages_path: str):
    from pdf2doi_spark.operators.extract import extract_identifiers

    pages = spark.read.parquet(pages_path)
    return extract_identifiers(pages)


def _force(df) -> None:
    """Evaluate EVERY column of the plan: write to Spark's noop sink.
    ``df.count()`` is NOT a valid benchmark action for narrow-map queries —
    Catalyst prunes unreferenced projections under a count, so a query
    whose cost is its column expressions (token counting, zlib UDF, hash
    signatures) times as a bare scan+count. The noop sink consumes every
    row JVM-side with no serialization or I/O cost."""
    df.write.format("noop").mode("overwrite").save()


def _timed(df, runs: int = 2) -> tuple:
    """Steady-state timing: one warm pass, then min of ``runs`` timed passes
    (min because sandbox noise is one-sided — GC pauses and ambient CPU
    contention only ever add time; observed single-run spread on this box
    is up to ~30%). Returns (best_seconds, rows, all_run_seconds).

    The row count for throughput math rides along on the timed passes via
    ``df.observe`` (a pipelined CollectMetrics count, negligible and
    applied to every pass uniformly) — a separate ``df.count()`` would
    re-execute the full plan a fourth time for queries whose cost lives in
    joins/filters that a count cannot prune (round-3 review)."""
    from pyspark.sql import Observation, functions as F

    if WARM:
        _force(df)
    all_runs = []
    n = None
    for _ in range(runs if WARM else 1):
        obs = Observation()
        dfo = df.observe(obs, F.count(F.lit(1)).alias("n"))
        t0 = time.perf_counter()
        _force(dfo)
        all_runs.append(round(time.perf_counter() - t0, 2))
        n = obs.get["n"]
    return min(all_runs), n, all_runs


def _scaling(sf_dir: str):
    """Same job, same input, three parallelism levels.

    The headline N→4N pair is local[4]→local[16]: at ≤16 of 32 cores the box
    is not memory-bandwidth/turbo saturated, so the pair isolates the
    FRAMEWORK's scaling behavior — which is what transfers to a real
    cluster, where 4N executors bring 4N memory buses. The 16→32 step is
    reported alongside for transparency; a no-Spark multiprocessing
    control of the same kernel shows the same ~0.68 per-core retention at
    32 procs, i.e. full-box saturation measures this machine's memory
    ceiling, not the engine (see BENCH.md).
    """
    from pdf2doi_spark.session import build_session

    boot = build_session(master=f"local[{CPUS}]", app_name="bench-materialize")
    pages_path, _ = _materialize_pages(boot, sf_dir, SCALING_REPLICATE)
    boot.stop()

    out = {}
    # Run counts per level: short runs (16/32 cores) need more passes for a
    # stable min under ambient one-sided noise; the ~50 s local[4] runs
    # self-average. Observed same-boot spread reaches 50% on short runs.
    for label, master, runs in (
        ("local4", "local[4]", 3),
        ("local16", "local[16]", 6),
        ("local32", "local[32]", 5),
    ):
        spark = build_session(master=master, app_name=f"bench-{master}",
                              extra_conf=_BENCH_READ_CONF)
        try:
            dt, n, all_runs = _timed(_flagship(spark, pages_path), runs=runs)
            out[label] = {"docs_per_sec": round(n / dt, 1), "sec": round(dt, 2),
                          "n": n, "runs_sec": all_runs}
        finally:
            spark.stop()
    eff_4_16 = out["local16"]["docs_per_sec"] / (4 * out["local4"]["docs_per_sec"])
    eff_16_32 = out["local32"]["docs_per_sec"] / (2 * out["local16"]["docs_per_sec"])
    return out, round(eff_4_16, 3), round(eff_16_32, 3)


def main() -> None:
    sf = float(_sf_tag().replace("sf", "")) if "sf" in _sf_tag() else -1.0

    if "--scaling" in sys.argv:
        out, eff_4_16, eff_16_32 = _scaling(SF_DIR)
        print(json.dumps({
            "metric": "flagship extraction scaling, N -> 4N cores (headline pair local[4] -> local[16]; local[32] and a 2x step included; see BENCH.md for the no-Spark memory-ceiling control)",
            "value": eff_4_16,
            "unit": "efficiency",
            "queries": {
                "local4_docs_per_sec": out["local4"]["docs_per_sec"],
                "local16_docs_per_sec": out["local16"]["docs_per_sec"],
                "local32_docs_per_sec": out["local32"]["docs_per_sec"],
                "eff_4_to_16": eff_4_16,
                "eff_16_to_32": eff_16_32,
                "local4_runs_sec": out["local4"]["runs_sec"],
                "local16_runs_sec": out["local16"]["runs_sec"],
                "local32_runs_sec": out["local32"]["runs_sec"],
            },
            "n_docs": out["local32"]["n"],
            "sf": sf,
        }))
        return

    from pdf2doi_spark.session import build_session
    from pdf2doi_spark.queries import _BUILDERS

    spark = build_session(master=f"local[{CPUS}]", app_name="bench",
                          extra_conf=_BENCH_READ_CONF)
    try:
        pages_path, synth_sec = _materialize_pages(spark, SF_DIR, REPLICATE)
        flag_dt, n_docs, _flag_runs = _timed(_flagship(spark, pages_path), runs=3)
        timings = {"extract_cascade": round(flag_dt, 3), "pages_synth": synth_sec}
        # One counted pass with in-kernel accumulators: live observability
        # (docs seen / page-gate candidates / hits) straight from the
        # canonical bench artifact, no extra shuffle.
        from pdf2doi_spark.operators.extract import (
            ExtractionCounters, extract_identifiers,
        )

        counters = ExtractionCounters(spark.sparkContext)
        extract_identifiers(
            spark.read.parquet(pages_path), counters=counters
        ).count()
        counter_stats = counters.as_dict()

        # Miss-heavy regime: the synthetic table is hit-heavy by design
        # (14/16 categories carry identifiers), but real crawls run 1-5%
        # hits — the regime the kernel's page gate
        # (core.kernel.may_hold_identifier) exists for. Time the miss-only
        # categories (14/15) separately so both regimes are on record.
        # ids-only (with_text=False) isolates the gate's effect from
        # main-content extraction (rejected rows are never decoded).
        from pyspark.sql import functions as _F

        miss_path = pages_path + "_miss"
        if not os.path.exists(os.path.join(miss_path, "_SUCCESS")):
            (
                spark.read.parquet(pages_path)
                .filter(
                    _F.expr(
                        r"try_cast(regexp_extract(url, 'page-(\\d+)\\.html', 1) AS LONG)"
                    )
                    % 16 >= 14
                )
                .repartition(64)
                .write.mode("overwrite").parquet(miss_path)
            )
        miss_pages = spark.read.parquet(miss_path)
        dt_m, n_miss, _r = _timed(
            extract_identifiers(miss_pages, with_text=True), runs=2
        )
        timings["missheavy_with_text"] = round(dt_m, 3)
        dt_mi, _n, _r = _timed(
            extract_identifiers(miss_pages, with_text=False), runs=2
        )
        timings["missheavy_ids_only"] = round(dt_mi, 3)
        counter_stats["missheavy_n_docs"] = n_miss
        counter_stats["missheavy_docs_per_sec"] = round(n_miss / dt_m, 1)
        counter_stats["missheavy_ids_only_docs_per_sec"] = round(n_miss / dt_mi, 1)
        for name in HEADLINE:
            dt, _, _runs = _timed(_BUILDERS[name]()[0](spark, SF_DIR))
            timings[name] = round(dt, 3)

        # Incremental near-dup index: build once (the dump-0 analogue,
        # content-addressed and reused across bench runs), then time the
        # PROBE alone — per-dump cost is what matters at production
        # cadence; the build is a one-time corpus bootstrap.
        from pdf2doi_spark.operators.dedup_index import (
            build_minhash_index, incremental_near_dups,
        )

        idx_path = f"/tmp/pdf2doi_bench_incr_idx_{_sf_tag()}_{_content_tag()}"
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
            .select("doc_id", "text")
        if not os.path.exists(os.path.join(idx_path, "_params")):
            t0 = time.perf_counter()
            build_minhash_index(
                spark, docs.filter(_F.col("doc_id") % 3 != 0), idx_path
            )
            timings["incremental_index_build"] = round(
                time.perf_counter() - t0, 3)
        probe = incremental_near_dups(
            spark, idx_path, docs.filter(_F.col("doc_id") % 3 == 0),
            threshold=0.5,
        )
        dt, _, _runs = _timed(probe)
        timings["incremental_probe"] = round(dt, 3)
        # names timed here that are NOT driver-gate rows (the pytest-only
        # oracles plus bench-only artifacts like the miss-heavy regime)
        # are marked so nobody mistakes them for CORRECTNESS rows.
        from pdf2doi_spark.queries import build_queries

        driver_rows = set(build_queries().keys())
        print(json.dumps({
            "metric": "identifier-extraction throughput (flagship cascade over materialized pages) + headline query latencies (steady-state)",
            "value": round(n_docs / flag_dt, 1),
            "unit": "docs/sec",
            "queries": timings,
            "bench_only": sorted(t for t in timings if t not in driver_rows),
            "total_sec": round(sum(timings.values()), 2),
            "n_docs": n_docs,
            "counters": counter_stats,
            "cpus": CPUS,
            "sf": sf,
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
