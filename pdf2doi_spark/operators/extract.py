"""The extraction pipeline: pages → (url, identifier, identifier_type, method,
tier, validation_info, extracted_text).

Physical design (SURVEY.md §3/§4):

* **One fused Arrow kernel.** The whole cascade (meta scan → filename →
  text) runs inside a single ``mapInPandas``, so each row-batch crosses the
  JVM↔Python boundary exactly once — at 10^12 rows the per-batch crossing
  is the dominant physical cost, and three separate UDF stages would triple
  it. Stage gating ("don't run stage N for resolved rows") is a plain
  Python ``if`` inside the batch loop, which Catalyst could never do for us
  across UDFs.
* **Page gate before decode.** Each row first passes
  ``core.kernel.may_hold_identifier`` over its url, text and RAW html
  bytes; a row it rejects provably holds no identifier, skips the cascade
  and, when ``extracted_text`` is not requested, is never decoded. On
  realistic crawls the vast majority of pages are misses, so the kernel
  cost concentrates on the few candidate rows. Main-content extraction
  still runs for every row when ``with_text`` (the output contract
  includes ``extracted_text`` per url). The batch is one plain loop over
  Python lists: a pandas ``str.contains`` mask calls Python once per
  element too, so it would save no time.
* **Column pruning friendly.** The kernel consumes exactly
  ``url, html, text`` (+ optional ``cached_identifier``); callers select
  those columns first so the parquet/Iceberg scan prunes everything else
  (``warc_ts``/``lang`` never cross into Python).

Reference parity: per-row semantics are ``pdf2doi_spark.core.kernel``
(cited there to finders.py/main.py); this module adds only distribution.
"""
from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from pdf2doi_spark.core.kernel import extract_one, may_hold_identifier
from pdf2doi_spark.core.webmeta import (
    _decode, extract_main_content, extract_meta, page_text_units,
)

RESULT_SCHEMA = (
    "url string, identifier string, identifier_type string, "
    "method string, tier int, validation_info string, extracted_text string"
)
_RESULT_COLUMNS = tuple(f.split()[0] for f in RESULT_SCHEMA.split(", "))


def _column(batch: pd.DataFrame, name: str) -> list:
    return batch[name].tolist() if name in batch.columns else [None] * len(batch)


def _batch_extract(batch: pd.DataFrame, replace_arxiv: bool,
                   with_text: bool, counters=None,
                   passthrough=()) -> pd.DataFrame:
    urls, htmls, texts = (batch[c].tolist() for c in ("url", "html", "text"))
    cached = _column(batch, "cached_identifier")
    cached_type = _column(batch, "cached_identifier_type")
    n = len(urls)
    out = {c: [None] * n for c in _RESULT_COLUMNS}
    out["url"] = urls
    n_candidates = 0
    for i in range(n):
        candidate = (cached[i] is not None
                     or may_hold_identifier(urls[i], texts[i], htmls[i]))
        if not (candidate or with_text):
            continue  # provably no identifier material: never decoded
        html = _decode(htmls[i])  # once per row: BOM → declared charset → UTF-8
        body = extract_main_content(html) if with_text else None
        out["extracted_text"][i] = body
        if not candidate:
            continue
        n_candidates += 1
        res = extract_one(
            urls[i],
            extract_meta(html),
            page_text_units(html, texts[i], body),
            cached_identifier=cached[i],
            replace_arxiv=replace_arxiv,
            cached_identifier_type=cached_type[i],
        )
        for c, v in res.items():
            out[c][i] = v

    if counters is not None:
        counters.n_docs.add(n)
        counters.n_candidates.add(n_candidates)
        counters.n_hits.add(n - out["identifier"].count(None))
    result = pd.DataFrame(out)
    for col in passthrough:  # carried columns ride the same Arrow batch
        result[col] = batch[col].to_numpy()
    return result


class ExtractionCounters:
    """Spark accumulators incremented inside the kernel (SURVEY §4):
    live job-level observability — docs seen, gate candidates, hits —
    without a second pass or a shuffle. Read on the driver after an action."""

    def __init__(self, sc):
        self.n_docs = sc.accumulator(0)
        self.n_candidates = sc.accumulator(0)
        self.n_hits = sc.accumulator(0)

    def as_dict(self) -> dict:
        return {
            "n_docs": self.n_docs.value,
            "n_candidates": self.n_candidates.value,
            "n_hits": self.n_hits.value,
        }


def extract_identifiers(pages: DataFrame, replace_arxiv: bool = True,
                        with_text: bool = True,
                        cache: Optional[DataFrame] = None,
                        counters: Optional[ExtractionCounters] = None,
                        passthrough: Optional[list] = None) -> DataFrame:
    """pages(url, html, text, ...) → result DataFrame (one fused kernel).

    ``cache`` is an optional small table ``(url, identifier)`` — the Spark
    analogue of the reference's metadata write-back memoization
    (finders.py:587-608): it is broadcast-joined in, and cached rows resolve
    as method #1 without touching the kernel's regex tiers.

    ``counters`` (optional ExtractionCounters) adds per-batch accumulator
    increments inside the kernel.

    ``passthrough``: extra input columns carried verbatim into the output
    (appended after the result columns). At scale this replaces a
    results⋈pages re-join on url — which fans out quadratically on
    recrawled urls and, in streaming, accumulates unbounded join state.
    """
    passthrough = list(passthrough or [])
    # a passthrough name colliding with a result column (or the kernel's
    # own inputs) would put duplicate fields in the output schema string
    # and silently overwrite a computed column before a confusing runtime
    # failure — reject it up front
    _reserved = {"url", "html", "text",
                 # the optional broadcast cache join adds these two before
                 # the kernel runs — a passthrough with either name would
                 # recreate the ambiguous-column failure this guard exists
                 # to prevent, so reserve them whether or not cache is set
                 "cached_identifier", "cached_identifier_type",
                 *_RESULT_COLUMNS}
    bad = [c for c in passthrough if c in _reserved]
    if bad:
        raise ValueError(
            f"passthrough column(s) {bad} collide with the result/input "
            f"schema ({sorted(_reserved)}); rename them upstream"
        )
    if len(set(passthrough)) != len(passthrough):
        # duplicates WITHIN the list produce the same duplicate-fields
        # schema failure the reserved-name check guards against
        dupes = sorted({c for c in passthrough if passthrough.count(c) > 1})
        raise ValueError(
            f"passthrough contains duplicate column name(s) {dupes}"
        )
    cols = ["url", "html", "text"] + passthrough
    df = pages.select(*cols)
    if cache is not None:
        cache_cols = [F.col("url"), F.col("identifier").alias("cached_identifier")]
        if "identifier_type" in cache.columns:
            cache_cols.append(
                F.col("identifier_type").alias("cached_identifier_type")
            )
        df = df.join(F.broadcast(cache.select(*cache_cols)), on="url", how="left")

    schema = RESULT_SCHEMA
    for name in passthrough:
        schema += f", {name} {pages.schema[name].dataType.simpleString()}"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b):
                yield _batch_extract(b, replace_arxiv, with_text, counters,
                                     passthrough=passthrough)

    return df.mapInPandas(run, schema=schema)


def domain_of(url_col: F.Column) -> F.Column:
    """Host part of a URL — the natural (and Zipf-skewed) grouping key of a
    crawl. Scheme-case-insensitive and path-optional ('https://example.com'
    with no trailing slash is extremely common in real crawls; requiring
    '/' after the host lumped all such pages into one bogus ''-domain
    bucket). Host is lowercased — the grouping key must be case-stable."""
    return F.lower(
        F.regexp_extract(url_col, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)", 1)
    )


def repartition_salted(df: DataFrame, num_partitions: int,
                       key: str = "url") -> DataFrame:
    """Skew-defusing repartition (north rule): distribute rows by
    xxhash64(key) so Zipfian domains can never pile one partition high.
    Use before the kernel when the upstream layout is domain-clustered
    (crawls usually are: WARCs group by host)."""
    return df.repartition(num_partitions, F.xxhash64(F.col(key)))


def domain_counts_salted(pages: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Per-domain document counts via explicit two-phase (salted) agg:
    phase 1 groups by (domain, salt) — at most ``salt_buckets`` partial rows
    per domain, so no single reducer ever sees a hot domain's full row set —
    phase 2 sums partials. Same result as a plain groupBy(domain); the plan
    differs only in shuffle balance. (AQE can do this adaptively; the
    explicit form is for layouts where the skew is known and extreme.)"""
    with_salt = pages.select(
        domain_of(F.col("url")).alias("domain"),
        F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets)).alias("_salt"),
    )
    partial = with_salt.groupBy("domain", "_salt").agg(
        F.count(F.lit(1)).alias("_partial")
    )
    return (
        partial.groupBy("domain")
        .agg(F.sum("_partial").alias("n_docs"))
        .orderBy(F.desc("n_docs"), "domain")
    )


def method_metrics(results: DataFrame) -> DataFrame:
    """Hit/miss audit table — the job-level observability the north rule
    requires (extraction-stage hit/miss counters): one shuffle, map-side
    partial aggregation for free."""
    return (
        results.groupBy(
            F.coalesce(F.col("method"), F.lit("miss")).alias("method"),
            F.coalesce(F.col("identifier_type"), F.lit("none")).alias("identifier_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("method", "identifier_type")
    )


def format_report(results: DataFrame) -> DataFrame:
    """Fixed-width report rows — reference ``main.py:218-221`` format
    ``'{:<15s} {:<40s} {:<10s}'`` with ``'n.a.'`` placeholders, reproduced
    with native ``format_string`` (whole-stage codegen, no UDF)."""
    return results.select(
        F.format_string(
            "%-15s %-40s %-10s",
            F.coalesce(F.col("identifier_type"), F.lit("n.a.")),
            F.coalesce(F.col("identifier"), F.lit("n.a.")),
            F.col("url"),
        ).alias("report_line")
    )


def select_title(cands: F.Column, min_len: int = 12) -> F.Column:
    """Title selection over an array of candidates (in discovery order):
    the reference's F13 length filter (``len(strip()) > 12``,
    ``finders.py:412,421,430,435``) → F14 order-preserving dedupe
    (``finders.py:439-443``; ``array_distinct`` keeps first occurrence) →
    F15 longest-first ranking with value-asc tiebreak (``finders.py:807``).

    Returns ``struct(n_candidates, best_title)`` — ``best_title`` is NULL
    when every candidate fails the gate (a bare ``element_at`` on the
    empty array would be an ANSI-mode job abort, not a NULL). Pure column
    expression: usable in any projection, no UDF, no shuffle.
    """
    kept = F.array_distinct(
        F.filter(cands, lambda x: F.length(F.trim(x)) > min_len)
    )
    ranked = F.array_sort(
        F.transform(
            kept, lambda x: F.struct((-F.length(x)).alias("neg"), x.alias("t"))
        )
    )
    return F.struct(
        F.size(kept).alias("n_candidates"),
        F.when(F.size(kept) > 0, F.element_at(ranked, 1)["t"])
        .alias("best_title"),
    )
