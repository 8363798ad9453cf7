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
* **Vectorized prefilter.** Before any per-row regex-tier work, a pandas
  ``str.contains`` pass over the batch marks rows that cannot possibly hold
  an identifier (no ``10.`` and no ``arxiv`` anywhere in url/text/html);
  those rows skip the cascade entirely. On realistic crawls the vast
  majority of pages are misses, so the kernel cost concentrates on the few
  candidate rows. Main-content extraction still runs for every row (the
  output contract includes ``extracted_text`` per url).
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

from pdf2doi_spark.core.kernel import extract_one
from pdf2doi_spark.core.webmeta import extract_main_content, extract_meta

RESULT_SCHEMA = (
    "url string, identifier string, identifier_type string, "
    "method string, tier int, validation_info string, extracted_text string"
)

# Candidate prefilter: a NECESSARY condition for any kernel hit, proved
# from the tier bank — every DOI tier requires '10.' + 4 digits; arXiv
# tier 0 requires the literal 'arxiv' (any case); arXiv tiers 1/2 require
# a bare 'NNNN.d' shape. A row matching none of these can never produce an
# identifier, so the cascade is skipped wholesale. (Over-matching is fine;
# under-matching would silently drop hits — test_prefilter_necessity pins
# the tier-1 arXiv case that a naive '10.|arxiv' filter misses.)
import re as _re

from pdf2doi_spark.core.patterns import ARXIV_GATE_PATTERN, ARXIV_GATE_RE

# Stage 1: literal '10.' (C-speed memmem scan) — necessary for every DOI tier.
# Stage 2 (only on rows stage 1 left unmarked): the arXiv shapes.
# Byte variants run on the RAW html payload so non-candidate rows are never
# even UTF-8-decoded (decode + meta scan is the kernel's dominant per-row
# cost; real crawls are miss-heavy). The gate pattern has ONE definition
# (core/patterns.py) shared with the kernel's stage gates, so prefilter and
# kernel can never drift apart.
_DOI_MARK = "10."
_ARXIV_RE = ARXIV_GATE_RE
_DOI_MARK_B = b"10."
_ARXIV_RE_B = _re.compile(ARXIV_GATE_PATTERN.encode("ascii"))

_ASCII_SUPERSET_CACHE: dict = {}
_ASCII_PROBE = "10.aZ/: arXiv"


def _is_ascii_superset(charset: str) -> bool:
    """True iff encoding marker-relevant ASCII text under ``charset``
    yields the identical ASCII bytes (so the raw-byte scan remains a sound
    necessary condition). Unknown codecs count as supersets — the decoder
    falls back to UTF-8 for them anyway."""
    cached = _ASCII_SUPERSET_CACHE.get(charset)
    if cached is None:
        try:
            cached = _ASCII_PROBE.encode(charset) == _ASCII_PROBE.encode("ascii")
        except (LookupError, ValueError):
            cached = True
        _ASCII_SUPERSET_CACHE[charset] = cached
    return cached


def _batch_extract(batch: pd.DataFrame, replace_arxiv: bool,
                   with_text: bool, counters=None,
                   passthrough=()) -> pd.DataFrame:
    n = len(batch)
    url = batch["url"]
    html = batch["html"]
    text = batch["text"]
    cached = batch["cached_identifier"] if "cached_identifier" in batch.columns else None
    cached_type = (
        batch["cached_identifier_type"]
        if "cached_identifier_type" in batch.columns else None
    )

    # ---- vectorized prefilter (JVM rows -> skip regex work wholesale) ----
    # Candidate rows are decided WITHOUT decoding html: literal '10.' scans
    # first (caseless, necessary for every DOI tier), then the arXiv shape
    # regex only on still-unmarked rows. html stays raw bytes; only
    # candidate rows (or all rows when extracted_text is requested) are
    # UTF-8-decoded afterwards.
    def _has_mark_bytes(b) -> bool:
        if b is None:
            return False
        bb = bytes(b)
        # UTF-16/32 payloads are NUL-interleaved: the ASCII byte scan can
        # never see '10.' in them even though the decoder extracts it, so
        # BOM'd rows are candidates unconditionally (rare on real crawls;
        # correctness beats the skipped prefilter).
        if bb[:2] in (b"\xff\xfe", b"\xfe\xff") or bb[:4] in (
            b"\xff\xfe\x00\x00", b"\x00\x00\xfe\xff"
        ):
            return True
        if _DOI_MARK_B in bb or _ARXIV_RE_B.search(bb) is not None:
            return True
        # Declared charsets are USUALLY ASCII supersets (the declaration
        # itself is read as ASCII bytes, and declared utf-16/32 is remapped
        # to utf-8 per WHATWG — see webmeta._decode), but not always:
        # EBCDIC code pages (cp500/cp037/...) and utf-7 re-map the digits
        # themselves, so the decoder could surface '10.' from bytes this
        # scan cannot see. Probe the sniffed codec once (cached) and treat
        # any non-ASCII-superset row as an unconditional candidate.
        from pdf2doi_spark.core.webmeta import sniff_charset

        cs = sniff_charset(bb)
        return cs is not None and not _is_ascii_superset(cs)

    cols = (url.fillna(""), text.fillna(""))
    candidate = None
    for col in cols:
        c = col.str.contains(_DOI_MARK, regex=False)
        candidate = c if candidate is None else (candidate | c)
    todo = ~candidate
    if todo.any():  # arXiv shapes in url/text for rows with no '10.'
        for col in cols:
            candidate.loc[todo] = col[todo].str.contains(_ARXIV_RE, regex=True)
            todo = ~candidate
            if not todo.any():
                break
    if todo.any():
        # the kernel's filename stage percent-DECODES the url before its
        # regex pass (core/kernel.py filename_candidates), so a marker can
        # hide inside an escape ('10%2E...'); decode-and-rescan the few
        # still-unmarked urls that contain '%' — without this the prefilter
        # is not a necessary condition and batch output drifts from the
        # per-row kernel oracle
        from urllib.parse import unquote

        esc = todo & url.fillna("").str.contains("%", regex=False)
        if esc.any():
            dec = url[esc].map(unquote)
            candidate.loc[esc] = (
                dec.str.contains(_DOI_MARK, regex=False)
                | dec.str.contains(_ARXIV_RE, regex=True)
            )
            todo = ~candidate
    if todo.any():  # raw-bytes scan of html, only where still unmarked
        candidate.loc[todo] = html[todo].map(_has_mark_bytes)
    if cached is not None:
        candidate = candidate | cached.notna()

    if counters is not None:
        counters.n_docs.add(n)
        counters.n_candidates.add(int(candidate.fillna(False).sum()))

    # charset-aware decode (BOM → declared charset → lossy UTF-8), same
    # function as the byte-parity oracle: pdf2doi_spark.core.webmeta._decode
    from pdf2doi_spark.core.webmeta import _decode as _decode_html

    def _decode(b) -> str:
        return _decode_html(b) if b is not None else ""

    if with_text:
        html_str = html.map(_decode)  # extracted_text needed for every row
    else:
        html_str = pd.Series([None] * n, index=html.index, dtype=object)
        cmask = candidate.fillna(False)
        if cmask.any():
            html_str.loc[cmask] = html[cmask].map(_decode)

    out = {
        "url": url.tolist(),
        "identifier": [None] * n,
        "identifier_type": [None] * n,
        "method": [None] * n,
        "tier": [None] * n,
        "validation_info": [None] * n,
        "extracted_text": [None] * n,
    }

    html_list = html_str.tolist()
    text_list = text.tolist()
    cand_list = candidate.tolist()
    cached_list = cached.tolist() if cached is not None else [None] * n
    cached_type_list = cached_type.tolist() if cached_type is not None else [None] * n

    for i in range(n):
        h = html_list[i]
        body = extract_main_content(h) if with_text else None
        if with_text:
            out["extracted_text"][i] = body
        if not cand_list[i]:
            continue  # prefilter: provably no identifier material

        def units(h=h, t=text_list[i], body=body):
            # Lazy unit order (= reference extractor order): pre-extracted
            # text first; the main-content body is only computed when the
            # text unit yields no validated hit (and reused, not recomputed,
            # when with_text already materialised it).
            if t:
                yield t
            b = body if body is not None else extract_main_content(h)
            if b:
                yield b

        res = extract_one(
            out["url"][i],
            extract_meta(h),
            units(),
            cached_identifier=cached_list[i],
            replace_arxiv=replace_arxiv,
            cached_identifier_type=cached_type_list[i],
        )
        out["identifier"][i] = res["identifier"]
        out["identifier_type"][i] = res["identifier_type"]
        out["method"][i] = res["method"]
        out["tier"][i] = res["tier"]
        out["validation_info"][i] = res["validation_info"]

    result = pd.DataFrame(out)
    for col in passthrough:  # carried columns ride the same Arrow batch
        result[col] = batch[col].to_numpy()
    return result


class ExtractionCounters:
    """Spark accumulators incremented inside the kernel (SURVEY §4):
    live job-level observability — docs seen, prefilter candidates, hits —
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
                 "cached_identifier", "cached_identifier_type"} | {
        f.split()[0] for f in RESULT_SCHEMA.split(", ")
    }
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
                out = _batch_extract(b, replace_arxiv, with_text, counters,
                                     passthrough=passthrough)
                if counters is not None:
                    counters.n_hits.add(int(out["identifier"].notna().sum()))
                yield out

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
