"""The benchmark's workloads: fixtures, one timed pass, its output check,
and the layer probes of a traced run.

Each pass repeats the calls of a real entry point through the program's
public functions, reading its input from files and writing to fresh
output paths:

* ``ingest`` — the ``job.py --cache`` sequence: ``run_resumable`` (64
  shards) → ``merge_cache`` into a copy of a pre-filled cache →
  ``method_metrics`` write;
* ``dedup`` — one rolling-dump step of ``job.py --dedup-index``:
  ``incremental_near_dups(return_sigs=True)`` → verdict write →
  ``merge_minhash_index(sigs=...)`` against a copy of a prebuilt index.

The check functions take plain values, so tests can feed them corrupted
outputs without a Spark session.
"""
from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen

N_SHARDS = 64  # job.py --shards default
DEDUP_THRESHOLD = 0.5  # job.py --dedup-threshold default
RESULT_COLS = ("identifier", "identifier_type", "method", "tier",
               "validation_info", "extracted_text")
CHECK_SAMPLE = 32  # oracle-checked urls per pass, uniform over the input
CORE_SAMPLE = 64  # rows timed by the single-process core probe


# ------------------------------------------------------------ checks

def oracle_row(url, html: bytes, text, cached=None, cached_type=None) -> dict:
    """Per-row expectation from the pure-Python kernel, as
    ``extract_identifiers(with_text=True)`` must produce it."""
    from pdf2doi_spark.core.kernel import extract_one
    from pdf2doi_spark.core.webmeta import (
        extract_main_content, extract_meta, page_text_units,
    )

    res = extract_one(url, extract_meta(html), page_text_units(html, text),
                      cached_identifier=cached,
                      cached_identifier_type=cached_type)
    res["extracted_text"] = extract_main_content(html)
    return res


def diff_rows(observed: dict, expected: dict) -> list:
    """Failures where a sampled url's output differs from its oracle row."""
    out = []
    for url, exp in sorted(expected.items()):
        got = observed.get(url)
        if got is None:
            out.append(f"sampled url missing from output: {url}")
            continue
        for col in RESULT_COLS:
            if got.get(col) != exp.get(col):
                out.append(f"{url}: {col} = {got.get(col)!r}, "
                           f"oracle {exp.get(col)!r}")
    return out


def check_extract(n_in: int, n_out: int, observed: dict,
                  expected: dict) -> list:
    out = [] if n_out == n_in else [f"output rows {n_out} != input rows {n_in}"]
    return out + diff_rows(observed, expected)


def check_ingest(n_in: int, manifest_docs: int, shard_files: dict,
                 cache_rows: int, cache_urls: int, metrics_docs: int,
                 observed: dict, expected: dict) -> list:
    out = []
    if manifest_docs != n_in:
        out.append(f"manifest n_docs sum {manifest_docs} != input rows {n_in}")
    bad = {s: n for s, n in shard_files.items() if n != 1}
    if len(shard_files) != N_SHARDS or bad:
        out.append(f"expected one file in each of {N_SHARDS} shards, got "
                   f"{len(shard_files)} shards, off: {sorted(bad.items())[:5]}")
    if cache_rows != cache_urls:
        out.append(f"cache holds {cache_rows} rows for {cache_urls} urls")
    if metrics_docs != n_in:
        out.append(f"method_metrics n_docs sum {metrics_docs} != {n_in}")
    return out + diff_rows(observed, expected)


def check_dedup(n_prior: int, n_batch_sigs: int, n_verdicts: int,
                n_after: int) -> list:
    want = n_prior + n_batch_sigs - n_verdicts
    if n_after != want:
        return [f"index sigs {n_after} != prior {n_prior} + survivors "
                f"{n_batch_sigs - n_verdicts}"]
    return []


def dup_quality(pairs: list, flagged: set) -> tuple:
    """(recall, precision) of flagged urls against planted pairs. A pair
    is caught when one of its new-dump members is flagged (the probe flags
    the later doc of an intra-dump pair, whichever that is)."""
    members = {}
    for kind, new, src in pairs:
        members.setdefault(new, []).append(kind)
        if kind == "batch":
            members.setdefault(src, []).append(kind)
    caught = sum(1 for kind, new, src in pairs
                 if new in flagged or (kind == "batch" and src in flagged))
    recall = caught / len(pairs) if pairs else 1.0
    precision = (sum(1 for u in flagged if u in members) / len(flagged)
                 if flagged else 1.0)
    return recall, precision


# ------------------------------------------------------------ helpers

def file_sizes(root: str) -> dict:
    """{relative path: bytes} of the files under ``root``; Hadoop's local
    ``.crc`` side files are not counted (object stores write none)."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if not f.endswith(".crc"):
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def _sample(urls: list, seed: int, purpose: str, n: int) -> list:
    digest = hashlib.sha256(f"{purpose}|{seed}".encode()).digest()
    rng = np.random.default_rng(int.from_bytes(digest[:8], "little"))
    return sorted(rng.choice(urls, size=min(n, len(urls)), replace=False).tolist())


def _read_rows(path: str, urls: list, columns: list) -> list:
    t = ds.dataset(path, partitioning="hive").to_table(
        columns=columns, filter=ds.field("url").isin(urls))
    return t.to_pylist()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _result_kernel_shape():
    """mapInPandas body with the kernel's input and output shape and no
    kernel work: it returns each batch's urls with null result columns.
    Nested, so Spark ships it by value to workers."""
    def run(batches):
        import pandas as pd

        for b in batches:
            n = len(b)
            yield pd.DataFrame({"url": b["url"],
                                **{c: [None] * n for c in RESULT_COLS}})
    return run


def _span_median(passes: list):
    """name -> median duration of that span over ``passes``."""
    return lambda name: statistics.median(p.spans[name] for p in passes)


def _median_time(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def core_costs(rows: list, reps: int = 3) -> dict:
    """Single-process per-row cost (µs) of the kernel's stages over
    ``rows`` = [(url, html bytes, text)]: main-content extraction, meta
    scan and the cascade (``extract_one`` with precomputed inputs). The
    html is decoded once outside the timers, as the kernel does."""
    from pdf2doi_spark.core.kernel import extract_one
    from pdf2doi_spark.core.webmeta import extract_main_content, extract_meta

    docs = [(u, h.decode("utf-8", "replace"), t) for u, h, t in rows]
    bodies = [extract_main_content(h) for _u, h, _t in docs]
    metas = [extract_meta(h) for _u, h, _t in docs]

    def per_row(fn):
        return _median_time(fn, reps) / len(docs) * 1e6

    return {
        "core.main_content_us": per_row(
            lambda: [extract_main_content(h) for _u, h, _t in docs]),
        "core.meta_us": per_row(lambda: [extract_meta(h) for _u, h, _t in docs]),
        "core.cascade_us": per_row(lambda: [
            extract_one(u, m, [x for x in (t, b) if x])
            for (u, _h, t), m, b in zip(docs, metas, bodies)]),
    }


class PassResult:
    """One checked pass: its time, output size per doc, check failures,
    dedup quality, per-layer counts and (set by the runner) the durations
    of its top-level spans."""

    def __init__(self, seconds: float, n_docs: int, out_bytes: float,
                 out_files: float, failures: list, recall: float = 1.0,
                 precision: float = 1.0, counts: dict = None):
        self.seconds = seconds
        self.n_docs = n_docs
        self.out_bytes = out_bytes
        self.out_files = out_files
        self.failures = failures
        self.recall = recall
        self.precision = precision
        self.counts = counts or {}
        self.spans = {}


class Workload:
    """One workload. ``run_pass`` gets ``meter``, the runner's timer
    context manager class, and times exactly the calls a job would make."""

    name = ""

    def __init__(self, inputs: dict, seed: int, work: str):
        self.inputs = inputs
        self.meta = inputs["meta"]
        self.seed = seed
        self.work = work
        self.n_rows = self.meta["rows"]

    def input_path(self) -> str:
        raise NotImplementedError

    def scan_columns(self) -> list:
        return ["url", "html", "text"]  # what the extraction kernel reads

    def fixture_dir(self) -> str:
        """Where this workload's fixtures live: one directory per (base
        input, program version)."""
        return os.path.join(self.work, "fixtures",
                            f"{os.path.basename(self.inputs['base'])}-{_pkg_key()}")

    def fixtures_missing(self) -> bool:
        return not os.path.exists(os.path.join(self.fixture_dir(), "_BUILT"))

    def build_fixtures(self, spark) -> None:
        """Untimed: build what a pass reads besides its input."""
        raise NotImplementedError

    def prepare(self) -> None:
        """Untimed, no Spark: load what the pass checks need."""

    def layout(self, spark) -> dict:
        tasks = spark.read.parquet(self.input_path()).rdd.getNumPartitions()
        return {"sources.tasks": tasks,
                "sources.rows_per_task": self.n_rows / tasks}

    def probe_scan(self, spark, tr, reps: int) -> float:
        cols = self.scan_columns()

        def scan():
            with tr.span("probe.scan"):
                _noop(spark.read.parquet(self.input_path()).select(*cols))
        return _median_time(scan, reps)


def _pkg_key() -> str:
    """Hash of the program's package sources: fixtures built by one
    version of the program are never reused by another."""
    h = hashlib.sha256()
    pkg = os.path.join(gen.REPO, "pdf2doi_spark")
    for d, _dirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def _build_fixture(path: str, build) -> None:
    """Fill ``path`` through ``build(tmp_dir)`` and a rename, so a crashed
    build is never mistaken for a fixture. Fixtures of the same workload
    for other program versions or inputs are removed."""
    root, name = os.path.split(path)
    os.makedirs(root, exist_ok=True)
    workload = name.split("-")[0]
    for old in os.listdir(root):
        if old.startswith(workload + "-") and old != name:
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_BUILT"), "w").close()
    os.rename(tmp, path)


class Ingest(Workload):
    name = "ingest"

    def input_path(self):
        return os.path.join(self.inputs["path"], "pages")

    def build_fixtures(self, spark):
        from pdf2doi_spark.operators.extract import extract_identifiers
        from pdf2doi_spark.sources.io import merge_cache

        def build(tmp):
            earlier = spark.read.parquet(
                os.path.join(self.inputs["base"], "earlier"))
            merge_cache(spark, os.path.join(tmp, "cache"),
                        extract_identifiers(earlier, with_text=False))
        _build_fixture(self.fixture_dir(), build)

    def prepare(self):
        self.cache = os.path.join(self.fixture_dir(), "cache")
        urls = pq.read_table(self.input_path(), columns=["url"])["url"].to_pylist()
        sample = _sample(urls, self.seed, "check", CHECK_SAMPLE)
        self.core_sample = _sample(urls, self.seed, "core", CORE_SAMPLE)
        cached = {r["url"]: r for r in _read_rows(
            self.cache, sample, ["url", "identifier", "identifier_type"])}
        self.expected = {}
        for r in _read_rows(self.input_path(), sample, ["url", "html", "text"]):
            c = cached.get(r["url"], {})
            self.expected[r["url"]] = oracle_row(
                r["url"], r["html"], r["text"],
                c.get("identifier"), c.get("identifier_type"))

    def run_pass(self, spark, tr, pass_dir, meter) -> PassResult:
        from pdf2doi_spark.operators.extract import method_metrics
        from pdf2doi_spark.sources.io import (
            fs_exists, merge_cache, resolve_pages_source, run_resumable,
        )

        out = os.path.join(pass_dir, "out")
        cache = os.path.join(pass_dir, "cache")
        shutil.copytree(self.cache, cache)
        before = file_sizes(cache)
        metrics = os.path.join(out, "metrics")
        with meter() as m, tr.span("pass"):
            with tr.span("sources.open"):
                pages = resolve_pages_source(spark, self.input_path())
                cache_df = (spark.read.parquet(cache)
                            if fs_exists(spark, cache) else None)
            with tr.span("sources.run_resumable"):
                results = run_resumable(spark, pages, out, n_shards=N_SHARDS,
                                        cache=cache_df)
            with tr.span("sources.merge_cache"):
                merge_cache(spark, cache, results)
            with tr.span("extract.method_metrics"):
                method_metrics(results).write.mode("overwrite").parquet(metrics)
                spark.read.parquet(metrics).orderBy(
                    "method", "identifier_type").collect()
        after = file_sizes(cache)
        written = list(file_sizes(out).values()) + [
            size for path, size in after.items() if path not in before]
        shard_files = {}
        for rel in file_sizes(os.path.join(out, "results")):
            if rel.endswith(".parquet"):
                shard = rel.split(os.sep)[0]
                shard_files[shard] = shard_files.get(shard, 0) + 1
        cache_urls = ds.dataset(cache, partitioning="hive").to_table(
            columns=["url"])["url"]
        observed = {r["url"]: r for r in _read_rows(
            os.path.join(out, "results"), sorted(self.expected),
            ["url", *RESULT_COLS])}
        failures = check_ingest(
            self.n_rows,
            pq.read_table(os.path.join(out, "manifest"))["n_docs"].to_numpy().sum(),
            shard_files, len(cache_urls), len(set(cache_urls.to_pylist())),
            pq.read_table(metrics)["n_docs"].to_numpy().sum(),
            observed, self.expected)
        return PassResult(m.seconds, self.n_rows, sum(written) / self.n_rows,
                          len(written), failures)

    def probes(self, spark, tr, passes: list, reps: int = 1) -> dict:
        """Layers of the traced passes, plus probes over the same pages and
        cache: scan → noop, the kernel's Arrow round trip without kernel
        work, and ``extract_identifiers`` with counters. ``shard_write_s``
        is ``run_resumable`` minus that extraction."""
        from pdf2doi_spark.operators.extract import (
            RESULT_SCHEMA, ExtractionCounters, extract_identifiers,
        )

        def pages():
            return spark.read.parquet(self.input_path())

        def crossing():
            with tr.span("probe.crossing"):
                _noop(pages().select("url", "html", "text")
                      .mapInPandas(_result_kernel_shape(), RESULT_SCHEMA))

        counters = {}

        def extraction():
            c = ExtractionCounters(spark.sparkContext)
            with tr.span("probe.extract_identifiers"):
                _noop(extract_identifiers(
                    pages(), cache=spark.read.parquet(self.cache), counters=c))
            counters.update(c.as_dict())

        scan = self.probe_scan(spark, tr, reps)
        identity = _median_time(crossing, reps)
        full = _median_time(extraction, reps)
        sample = _read_rows(self.input_path(), self.core_sample,
                            ["url", "html", "text"])
        core = core_costs([(r["url"], r["html"], r["text"]) for r in sample])
        n_docs, n_cand = counters["n_docs"], counters["n_candidates"]
        # main content runs on every row (extracted_text); meta scan and
        # cascade only on prefilter candidates
        cpu_us = (n_docs * core["core.main_content_us"]
                  + n_cand * (core["core.meta_us"] + core["core.cascade_us"]))

        med = _span_median(passes)
        rr = med("sources.run_resumable")
        return {
            "sources.open_s": med("sources.open"),
            "sources.scan_s": scan,
            "extract.crossing_s": identity - scan,
            "extract.kernel_s": full - identity,
            "extract.n_docs": n_docs,
            "extract.n_candidates": n_cand,
            "extract.n_hits": counters["n_hits"],
            "extract.candidate_yield": counters["n_hits"] / n_cand,
            **core,
            "core.cpu_s_est": cpu_us / 1e6,
            "sources.run_resumable_s": rr,
            "sources.shard_write_s": rr - full,
            "sources.merge_cache_s": med("sources.merge_cache"),
            "extract.metrics_s": med("extract.method_metrics"),
            "sources.files_written": statistics.median(
                p.out_files for p in passes),
            "sources.bytes_written": statistics.median(
                p.out_bytes * p.n_docs for p in passes),
        }


class Dedup(Workload):
    name = "dedup"

    def input_path(self):
        return os.path.join(self.inputs["path"], "docs")

    def scan_columns(self):
        return ["url", "text"]

    def _docs(self, spark, path):
        from pyspark.sql import functions as F

        # job.py's doc shape: doc_id = xxhash64(url)
        return spark.read.parquet(path).select(
            F.xxhash64("url").alias("doc_id"), "text", "url")

    def build_fixtures(self, spark):
        from pdf2doi_spark.operators.dedup_index import build_minhash_index

        def build(tmp):
            build_minhash_index(
                spark, self._docs(spark, os.path.join(self.inputs["base"], "prior")),
                os.path.join(tmp, "index"), hash_fn="xxhash64")
        _build_fixture(self.fixture_dir(), build)

    def prepare(self):
        self.index = os.path.join(self.fixture_dir(), "index")
        self.n_prior = ds.dataset(os.path.join(self.index, "sigs"),
                                  partitioning="hive").count_rows()

    def run_pass(self, spark, tr, pass_dir, meter) -> PassResult:
        from pdf2doi_spark.operators.dedup_index import (
            bootstrap_index_if_absent, incremental_near_dups, merge_minhash_index,
        )

        index = os.path.join(pass_dir, "index")
        dups_path = os.path.join(pass_dir, "dups")
        shutil.copytree(self.index, index)
        before = file_sizes(index)
        spark.sparkContext.setCheckpointDir(os.path.join(pass_dir, "_checkpoints"))
        with meter() as m, tr.span("pass"):
            with tr.span("sources.open"):
                docs = self._docs(spark, self.input_path())
            with tr.span("dedup_index.incremental_near_dups"):
                bootstrap_index_if_absent(spark, index, docs, hash_fn="xxhash64")
                dups, sigs = incremental_near_dups(
                    spark, index, docs, threshold=DEDUP_THRESHOLD,
                    return_sigs=True)
            with tr.span("dedup_index.verdict_write"):
                (dups.join(docs.select("doc_id", "url"), "doc_id")
                     .select("url", "doc_id", "dup_of", "est_jaccard", "source")
                     .write.mode("overwrite").parquet(dups_path))
            with tr.span("dedup_index.merge_minhash_index"):
                written = spark.read.parquet(dups_path)
                merge_minhash_index(spark, index, docs,
                                    exclude=written.select("doc_id"), sigs=sigs)
        n_batch_sigs = sigs.count()
        verdicts = pq.read_table(dups_path, columns=["url"])["url"].to_pylist()
        new = {p: s for p, s in file_sizes(index).items() if p not in before}
        written = list(new.values()) + list(file_sizes(dups_path).values())
        touched = {p.split(os.sep)[1] for p in new if p.startswith("postings")}
        n_after = ds.dataset(os.path.join(index, "sigs"),
                             partitioning="hive").count_rows()
        recall, precision = dup_quality(self.meta["pairs"], set(verdicts))
        return PassResult(
            m.seconds, self.n_rows, sum(written) / self.n_rows, len(written),
            check_dedup(self.n_prior, n_batch_sigs, len(verdicts), n_after),
            recall, precision,
            counts={"dedup_index.n_sigs": n_batch_sigs,
                    "dedup_index.n_verdicts": len(verdicts),
                    "dedup_index.touched_parts": len(touched),
                    "dedup_index.files_written": len(written)})

    def probes(self, spark, tr, passes: list, reps: int = 2) -> dict:
        med = _span_median(passes)
        layers = {
            "sources.open_s": med("sources.open"),
            "sources.scan_s": self.probe_scan(spark, tr, reps),
            "dedup_index.sig_s": med("dedup_index.incremental_near_dups"),
            "dedup_index.probe_join_s": med("dedup_index.verdict_write"),
            "dedup_index.merge_s": med("dedup_index.merge_minhash_index"),
        }
        layers.update(passes[-1].counts)
        return layers


WORKLOADS = {w.name: w for w in (Ingest, Dedup)}
