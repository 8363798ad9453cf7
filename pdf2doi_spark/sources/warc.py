"""WARC ingestion: Common Crawl's native archive format → pages table.

The reference ingests a directory of PDFs (``main.py:60-82``); the 100 TB
analogue ingests WARC archives. This module is a dependency-free reader:

* ``iter_warc_records`` — pure-Python parser for WARC/1.0 ``response``
  records. Handles the three layouts that occur in the wild: uncompressed,
  whole-file gzip, and **per-record gzip members** (Common Crawl's actual
  layout — each record is its own gzip member, which is what makes a
  petabyte ``.warc.gz`` splittable at member boundaries).
* ``read_warc`` — ``binaryFile`` scan → batched ``mapInPandas`` parse →
  pages-shaped DataFrame ``(url, warc_ts, html, text, lang)``.

Scale note: ``read_warc`` parses one WARC file per task (CC files are
~1 GB — a fine task size when there are many files); ``read_warc_indexed``
is the splittable variant — tasks are member RANGES from an offset index
(CC's published CDX files, or ``build_warc_index``), so a single large
archive fans out across the cluster with the member parser unchanged.

Parsing is total: malformed records are skipped, never raised — one bad
archive must not fail a task.
"""
from __future__ import annotations

import gzip
import io
import zlib
from datetime import datetime, timezone
from typing import Callable, Iterator, List, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

_CRLF2 = b"\r\n\r\n"


_GZ_CHUNK = 1 << 20


def _iter_gzip_spans(
    data: bytes, want_payload: bool
) -> Iterator[Tuple[int, int, Optional[bytes]]]:
    """Walk the gzip members of ``data``, yielding ``(offset, consumed,
    payload-or-None)`` per member. Members are fed to zlib in fixed-size
    ``memoryview`` chunks: a ~1 GB CC archive holds ~10^5 members, and the
    obvious ``d.decompress(data[pos:])`` form re-copies the whole
    remaining tail (slice + ``unused_data``) per member — O(members ×
    archive) memcpy, tens of TB for one archive. Chunked feeding copies
    O(archive) total and bounds ``unused_data`` to one chunk.

    A truncated trailing member is still yielded (partial payload, span to
    end-of-data) — same behavior as a one-shot decompress, which returns
    what it could without raising."""
    mv = memoryview(data)
    n = len(data)
    pos = 0
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        out: List[bytes] = []
        p = pos
        try:
            while p < n and not d.eof:
                step = min(_GZ_CHUNK, n - p)
                piece = d.decompress(mv[p:p + step])
                p += step
                if want_payload:
                    out.append(piece)
        except zlib.error:
            return
        consumed = (p - pos) - len(d.unused_data)
        if consumed <= 0:
            return
        yield pos, consumed, (b"".join(out) if want_payload else None)
        pos += consumed


def _gzip_members(data: bytes) -> Iterator[bytes]:
    """Decompress each gzip member of ``data`` in turn (CC layout: one
    record per member). Non-gzip input yields itself once."""
    if not data[:2] == b"\x1f\x8b":
        yield data
        return
    for _off, _ln, payload in _iter_gzip_spans(data, want_payload=True):
        yield payload if payload is not None else b""


def _parse_headers(block: bytes) -> dict:
    headers = {}
    for line in block.split(b"\r\n"):
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
                "latin-1", errors="replace"
            )
    return headers


def _parse_ts(warc_date: Optional[str]):
    """WARC-Date → aware UTC datetime. WARC/1.0 mandates whole seconds;
    WARC/1.1 explicitly allows fractional seconds — both must parse, or
    standard-compliant archives get NULL warc_ts and silently fall out of
    every event-time consumer (watermarked dedup, windowed metrics)."""
    if not warc_date:
        return None
    try:
        # fromisoformat handles optional fractional seconds; normalize the
        # trailing Z (not accepted before Python 3.11's parser on 3.10-)
        dt = datetime.fromisoformat(warc_date.strip().replace("Z", "+00:00"))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.astimezone(timezone.utc)
    except ValueError:
        return None


def _record_spans(data: bytes) -> Iterator[Tuple[int, dict, int, int]]:
    """``(start, headers, body_start, end)`` of every WARC record in the
    uncompressed ``data``, framed by its Content-Length: the one record
    walk of the parser and the member indexer."""
    offset = 0
    while True:
        start = data.find(b"WARC/", offset)
        if start < 0:
            return
        head_end = data.find(_CRLF2, start)
        if head_end < 0:
            return
        headers = _parse_headers(data[start:head_end])
        try:
            length = int(headers.get("content-length", ""))
            if length < 0:
                # negative length would step the scan offset BACKWARD
                # (bytes.find clamps negative starts to 0), re-finding
                # this same record forever
                raise ValueError("negative Content-Length")
        except ValueError:
            # Framing is unrecoverable without Content-Length: scanning
            # onward for the next 'WARC/' would re-parse this record's
            # BODY, letting page content that happens to embed WARC
            # header text fabricate records with attacker-controlled
            # provenance. Drop the rest of the data instead.
            return
        body_start = head_end + len(_CRLF2)
        offset = body_start + length
        yield start, headers, body_start, offset


def iter_warc_records(payload: bytes) -> Iterator[Tuple[str, object, bytes]]:
    """Yield ``(target_uri, warc_ts, body_bytes)`` for every WARC
    ``response`` record in ``payload`` (any of the three compressions)."""
    for chunk in _gzip_members(payload or b""):
        for _start, headers, body_start, end in _record_spans(chunk):
            if headers.get("warc-type") != "response":
                continue
            uri = headers.get("warc-target-uri")
            if not uri:
                continue
            # response payload is an HTTP message: strip its status+headers
            record = chunk[body_start:end]
            http_end = record.find(_CRLF2)
            body = record[http_end + len(_CRLF2):] if http_end >= 0 else record
            yield uri, _parse_ts(headers.get("warc-date")), body


def build_warc_bytes(records: List[Tuple[str, str, bytes]],
                     compression: str = "none") -> bytes:
    """Serialize ``(uri, iso_ts, html_body)`` triples as a WARC/1.0 archive
    (test/writer helper; ``compression``: none | file | member)."""
    out = []
    for uri, ts, body in records:
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {uri}\r\n"
            f"WARC-Date: {ts}\r\nContent-Length: {len(http)}\r\n"
        ).encode()
        out.append(head + b"\r\n" + http + _CRLF2)
    if compression == "member":
        return b"".join(gzip.compress(r) for r in out)
    raw = b"".join(out)
    if compression == "file":
        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb") as gz:
            gz.write(raw)
        return buf.getvalue()
    return raw


def read_warc(spark: SparkSession, path: str,
              glob: str = "*.warc*") -> DataFrame:
    """WARC archives → pages-shaped DataFrame.

    One Arrow crossing per file batch; the parser runs batched inside
    ``mapInPandas`` and fans each archive out into its response records
    (``text``/``lang`` are NULL — populated downstream exactly as with
    ``read_raw_files``).
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("content")
    )

    def records(batches: Iterator[pd.DataFrame]) -> Iterator[list]:
        for b in batches:
            out: list = []
            for payload in b["content"]:
                try:
                    out.extend(iter_warc_records(
                        bytes(payload) if payload is not None else b""
                    ))
                except Exception:
                    continue  # malformed archive: skip, never fail the task
            yield out

    return _pages_from_records(raw, records)


def _pages_from_records(source: DataFrame, records: Callable) -> DataFrame:
    """Pages-shaped frame from ``records(batches)``, which yields one list
    of ``(uri, ts, body)`` per Arrow batch of ``source``: the one record
    fan-out of ``read_warc`` and ``read_warc_indexed``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for recs in records(batches):
            if recs:  # an empty frame infers float64 ts: Arrow cast error
                yield pd.DataFrame.from_records(
                    recs, columns=["url", "warc_ts", "html"])

    parsed = source.mapInPandas(
        run, schema="url string, warc_ts timestamp, html binary"
    )
    return parsed.select(
        "url", "warc_ts", "html",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )


# ------------------------------------------------------- offset-indexed scan

def index_warc_members(data: bytes) -> List[Tuple[int, int]]:
    """(offset, length) of every gzip member in a per-record-compressed
    ``.warc.gz`` (CC layout), or of every WARC record in an uncompressed
    archive — the sandbox stand-in for Common Crawl's published CDX
    indexes, whose records carry exactly these two fields per response.

    Member accounting reuses the chunked ``_iter_gzip_spans`` walker
    (bounded memcpy — see its docstring); uncompressed archives are framed
    by the same Content-Length walk the parser uses."""
    if data[:2] == b"\x1f\x8b":
        return [
            (off, ln)
            for off, ln, _ in _iter_gzip_spans(data, want_payload=False)
        ]
    return [(start, end - start) for start, _h, _b, end in _record_spans(data)]


def build_warc_index(spark: SparkSession, path: str,
                     glob: str = "*.warc*") -> DataFrame:
    """Scan WARC archives once and emit the member index ``(path, offset,
    length)`` — one row per gzip member / record. In production this table
    comes straight from CC's CDX files (same three fields) and this
    full-file scan never runs; the builder exists so the indexed reader is
    usable (and testable) on archives that ship without an index."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            paths, offs, lens = [], [], []
            for p, payload in zip(b["path"], b["content"]):
                for off, ln in index_warc_members(
                    bytes(payload) if payload is not None else b""
                ):
                    paths.append(p)
                    offs.append(off)
                    lens.append(ln)
            yield pd.DataFrame({"path": paths, "offset": offs, "length": lens})

    return raw.mapInPandas(run, schema="path string, offset long, length long")


# Schemes the default opener serves. Plain/file paths use seek+read; the
# rest resolve through pyarrow.fs.FileSystem.from_uri — the executor-side
# analogue of the JVM Hadoop FileSystem. (Python workers hold no py4j
# gateway, so Hadoop's own FSDataInputStream is unreachable inside
# mapInPandas; Arrow's C++ filesystems are the standard Python-executor
# lane and serve the stores CC actually lives on.) s3a/s3n are Hadoop
# spellings of the same store pyarrow calls s3.
_FS_SCHEME_ALIASES = {"s3a": "s3", "s3n": "s3", "gcs": "gs"}
# exactly the schemes from_uri dispatches ('local' is NOT one — pyarrow
# rejects local:// URIs, so listing it here would pass the driver
# preflight and then fail every range executor-side)
_FS_KNOWN_SCHEMES = {"", "file", "s3", "gs", "hdfs", "viewfs"}
_FS_CACHE: dict = {}  # (scheme, authority) -> pyarrow FileSystem, per worker


def _split_scheme(path: str) -> Tuple[str, str]:
    """(scheme, rest) — '' scheme for plain local paths. ``file:`` with a
    single slash (Hadoop's LocalFileSystem spelling) is handled too."""
    if path.startswith("file://"):
        return "file", path[len("file://"):]
    if path.startswith("file:"):
        return "file", path[len("file:"):]
    if "://" in path:
        scheme, _, rest = path.partition("://")
        return scheme.lower(), rest
    return "", path


def check_range_scheme(path: str) -> None:
    """Driver-side preflight for the default opener: fail FAST (before a
    single task launches) when the index's paths carry a scheme the
    default opener cannot serve — the configuration error that would
    otherwise surface only executor-side. Raises NotImplementedError."""
    scheme, _ = _split_scheme(path)
    scheme = _FS_SCHEME_ALIASES.get(scheme, scheme)
    if scheme not in _FS_KNOWN_SCHEMES:
        raise NotImplementedError(
            f"no default byte-range opener for scheme {scheme!r} of "
            f"{path!r}: pass read_warc_indexed(opener=...) wired to your "
            "store's range reads"
        )


def _open_range_default(path: str, start: int, length: int) -> bytes:
    """Default byte-range opener (the executor-side analogue of an S3
    Range GET). Local / ``file:`` paths are a plain seek+read; any other
    scheme dispatches through ``pyarrow.fs.FileSystem.from_uri`` —
    s3://, gs://, hdfs:// (libhdfs on Hadoop-provisioned workers) all
    take the SAME code path the ``file://``-through-Arrow test pins.
    Unknown schemes raise NotImplementedError (never silently skipped —
    see ``read_warc_indexed``'s error contract). Custom stores:
    ``read_warc_indexed(opener=lambda p, s, n: ...)``."""
    scheme, rest = _split_scheme(path)
    if scheme == "":
        with open(rest, "rb") as f:
            f.seek(start)
            return f.read(length)
    check_range_scheme(path)
    import pyarrow.fs as pafs

    scheme = _FS_SCHEME_ALIASES.get(scheme, scheme)
    if scheme == "file":
        # through the Arrow dispatch on purpose: file: URIs exercise the
        # SAME code path as hdfs/s3 (what the test pins), not a shortcut
        fs = _FS_CACHE.get(("file", ""))
        if fs is None:
            fs = pafs.LocalFileSystem()
            _FS_CACHE[("file", "")] = fs
        fpath = rest
    else:
        authority, _, tail = rest.partition("/")
        key = (scheme, authority)
        fs = _FS_CACHE.get(key)
        if fs is None:
            # one from_uri per (scheme, authority) per worker — S3 region
            # resolution / HDFS connection happen once, not per range
            fs, _ = pafs.FileSystem.from_uri(f"{scheme}://{rest}")
            _FS_CACHE[key] = fs
        # in-filesystem path: object stores (s3/gs) keep the bucket (it
        # IS the authority); hdfs-likes drop the namenode authority
        fpath = rest if scheme in ("s3", "gs") else "/" + tail
    with fs.open_input_file(fpath) as f:
        return f.read_at(length, start)


def read_warc_indexed(spark: SparkSession, index: DataFrame,
                      target_split_bytes: int = 128 * 1024 * 1024,
                      opener=None, skip_unreadable: bool = False) -> DataFrame:
    """WARC archives → pages DataFrame via an offset index: tasks are
    MEMBER RANGES, not whole files, so one 1 GB ``.warc.gz`` fans out to
    ~``size/target_split_bytes`` parallel tasks instead of one
    (``read_warc``'s granularity).

    ``index``: one row per member, ``(path, offset, length)`` — CC's CDX
    fields, or ``build_warc_index`` output. Range construction is fully
    distributed (a groupBy over the index, never a driver collect — the
    index itself is billions of rows at crawl scale): members bucket by
    ``offset // target_split_bytes``, and each (path, bucket) becomes one
    contiguous byte range [min(offset), max(offset+length)). Per-record
    gzip members make any such range independently decompressible, which
    is the property that makes CC archives splittable at all. Each task
    then range-reads its bytes (``opener``; ``_open_range_default`` —
    local seek+read or an Arrow-FS Range GET for file/s3/gs/hdfs — when
    None) and runs the SAME member parser as ``read_warc``.

    Error contract: **range-read failures raise by default.** The member
    PARSER is total (corrupt bytes inside a range parse to fewer records,
    never an exception), so an exception here is the OPENER failing —
    missing file, bad credentials, mis-pointed ``warc_base`` — i.e. a
    configuration problem, and a silently-empty (then manifest-sealed)
    result is the worst possible outcome for those. Unsupported schemes
    additionally fail on the DRIVER before any task launches (one-row
    sample of the index). ``skip_unreadable=True`` opts a run out for
    known-stale indexes (CC indexes occasionally list since-removed
    archives): failed ranges are then skipped, counted, and logged to
    task stderr — except ``NotImplementedError``, which is always raised.
    """
    rng = _open_range_default if opener is None else opener
    if opener is None:
        # driver-side preflight: ONE index row, scheme string check only.
        # The limit(1).collect() does execute the index plan — trivial
        # for CDX text indexes (the production shape); for an index
        # derived live from build_warc_index it re-parses one archive,
        # the price of failing a misconfigured job before 10^5 tasks
        # launch. Mixed-scheme indexes whose FIRST row is fine are still
        # caught executor-side (NotImplementedError is always re-raised).
        sample = index.select("path").limit(1).collect()
        if sample and sample[0]["path"]:
            check_range_scheme(str(sample[0]["path"]))
    spark = index.sparkSession
    try:
        n_tasks = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:  # e.g. "auto" under some AQE configs
        n_tasks = spark.sparkContext.defaultParallelism * 2
    ranges = (
        index.withColumn(
            "bucket", (F.col("offset") / F.lit(int(target_split_bytes)))
            .cast("long")
        )
        .groupBy("path", "bucket")
        .agg(
            F.min("offset").alias("start"),
            (F.max(F.col("offset") + F.col("length")) - F.min("offset"))
            .alias("n_bytes"),
        )
        # true round-robin spread (repartition(n), not a key hash — with
        # few buckets a hash can co-locate several splits of ONE archive
        # in one task, under-delivering the parallelism this reader
        # exists for); sort inside each partition so a task's reads of
        # the same file stay sequential
        .repartition(n_tasks)
        .sortWithinPartitions("path", "start")
    )

    def records(batches: Iterator[pd.DataFrame]) -> Iterator[list]:
        import sys as _sys

        n_ranges = n_failed = 0
        first_err: Optional[Exception] = None
        for b in batches:
            out: list = []
            for p, start, n in zip(b["path"], b["start"], b["n_bytes"]):
                n_ranges += 1
                try:
                    payload = rng(str(p), int(start), int(n))
                except NotImplementedError:
                    raise  # config error: no opener for this scheme
                except Exception as e:
                    if not skip_unreadable:
                        raise RuntimeError(
                            f"read_warc_indexed: range read failed for "
                            f"{p!r} [{start}, +{n}) — opener failures are "
                            "configuration errors by default; pass "
                            "skip_unreadable=True only for known-stale "
                            "indexes"
                        ) from e
                    n_failed += 1
                    first_err = first_err or e
                    continue
                out.extend(iter_warc_records(payload))
            yield out
        if n_failed:
            print(
                f"read_warc_indexed: skipped {n_failed}/{n_ranges} "
                f"unreadable ranges in this task (first: {first_err!r})",
                file=_sys.stderr,
            )

    return _pages_from_records(ranges, records)


def read_cdx_index(spark: SparkSession, path: str, *,
                   warc_base: str = "", glob: str = "*cdx*") -> DataFrame:
    """Parse CDXJ index lines (Common Crawl's published per-crawl indexes
    — ``cdx-NNNNN.gz``) into the ``(path, offset, length)`` member table
    ``read_warc_indexed`` consumes, plus ``urlkey``/``capture_ts`` for
    CDX-level filtering (scope a job to a host or crawl window WITHOUT
    touching a single WARC byte — the index is ~1/1000th the archive).

    Line shape: ``<urlkey> <yyyyMMddHHmmss> <json>`` where the json
    carries ``filename``/``offset``/``length`` as STRINGS (CDXJ quirk).
    Fully native: one ``from_json`` over the brace-onward tail, no UDF;
    ``.gz`` decompression is Spark's codec layer. Malformed lines (no
    json object, non-numeric offsets) yield NULLs and are dropped —
    total, like every parser in this module. ``warc_base`` prefixes the
    json's relative ``filename`` (CC publishes paths relative to the
    data bucket root).
    """
    raw = (
        spark.read.format("text")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    tail = F.expr("substring(value, instr(value, '{'))")
    parsed = F.from_json(
        tail, "filename string, offset string, length string"
    )
    toks = F.split(F.col("value"), " ")
    out = raw.select(
        toks.getItem(0).alias("urlkey"),
        F.try_to_timestamp(toks.getItem(1), F.lit("yyyyMMddHHmmss"))
        .alias("capture_ts"),
        F.concat(F.lit(warc_base), parsed["filename"]).alias("path"),
        # try_cast, not cast: under ANSI a single malformed index line
        # ('offset': 'zz') would otherwise fail the whole scan — parsers
        # in this module are total
        parsed["offset"].try_cast("long").alias("offset"),
        parsed["length"].try_cast("long").alias("length"),
    )
    return out.filter(
        F.col("path").isNotNull()
        & F.col("offset").isNotNull()
        & F.col("length").isNotNull()
    )


def _parse_cdx_ts(value: str, *, round_up: bool = False):
    """Accept CDX 14-digit timestamps (``yyyyMMddHHmmss``, CC's own CLI
    convention) or ISO-8601 strings.

    Shorter digit prefixes are windows, not instants (pywb/cdx-toolkit
    convention): as a FROM bound '2024' means Jan 1 2024 00:00:00; as a
    TO bound (``round_up=True``) it means the END of 2024 — the last
    representable second of the stated unit — so ``--cdx-from 20240615
    --cdx-to 20240615`` covers the whole day, not just midnight.

    Digit and tz-less ISO forms return NAIVE datetimes on purpose:
    ``read_cdx_index`` parses ``capture_ts`` with ``try_to_timestamp``
    in the session timezone, and ``_ts_bound`` evaluates a naive bound in
    that SAME zone — otherwise the window shifts by the offset between
    ``spark.sql.session.timeZone`` and the zone the bound was read in. An
    ISO string with an explicit offset or Z returns an aware datetime and
    keeps its instant (the user stated a zone)."""
    v = value.strip()
    if v.isdigit() and len(v) <= 14:
        if not round_up:
            return datetime.strptime(
                v + "19700101000000"[len(v):], "%Y%m%d%H%M%S"
            )
        # upper bound: take the unit's start, add one unit, subtract 1 s
        from datetime import timedelta

        lo = datetime.strptime(
            v + "19700101000000"[len(v):], "%Y%m%d%H%M%S"
        )
        n = len(v)
        if n <= 4:
            hi = lo.replace(year=lo.year + 1)
        elif n <= 6:
            hi = (lo.replace(year=lo.year + 1, month=1)
                  if lo.month == 12 else lo.replace(month=lo.month + 1))
        elif n <= 8:
            hi = lo + timedelta(days=1)
        elif n <= 10:
            hi = lo + timedelta(hours=1)
        elif n <= 12:
            hi = lo + timedelta(minutes=1)
        else:
            hi = lo + timedelta(seconds=1)
        return hi - timedelta(seconds=1)
    dt = datetime.fromisoformat(v.replace("Z", "+00:00"))
    return dt  # aware iff the user wrote an offset/Z


def _ts_bound(value: str, *, round_up: bool = False) -> F.Column:
    """A ``_parse_cdx_ts`` bound as a timestamp column. A naive bound is
    parsed from its wall-clock string in the session timezone, exactly as
    ``capture_ts`` is; ``F.lit`` of a naive datetime would use the driver
    process's local zone instead."""
    dt = _parse_cdx_ts(value, round_up=round_up)
    if dt.tzinfo is None:
        return F.to_timestamp(F.lit(dt.isoformat(sep=" ")))
    return F.lit(dt)


def scope_cdx_index(index: DataFrame, *, host: Optional[str] = None,
                    ts_from: Optional[str] = None,
                    ts_to: Optional[str] = None) -> DataFrame:
    """Scope a ``read_cdx_index`` table BEFORE ``read_warc_indexed`` — the
    cheapest pruning lever in the whole pipeline: the index is ~1/1000th
    of the archive bytes, so a host- or window-scoped crawl job never
    range-reads (or pays for) a single out-of-scope WARC byte.

    ``host``: a host in SURT form (``org,example``) or a plain hostname
    (``example.org`` / ``www.example.org``), matched AT A SURT BOUNDARY —
    ``org,example)`` (the host itself) or ``org,example,`` (its
    subdomains) — never as a bare prefix, which would also match
    unrelated domains that merely extend the name
    (``org,exampleshop)/…``). ``ts_from``/``ts_to``: inclusive
    ``capture_ts`` bounds, CDX 14-digit or ISO-8601 strings; a
    short digit ``ts_to`` covers its WHOLE stated unit (``--cdx-to
    20240615`` includes all of June 15 — see ``_parse_cdx_ts``). All
    filters are native column predicates — they push down to the index
    scan.
    """
    out = index
    if host:
        key = host.strip().lower()
        if "," not in key:  # plain hostname → SURT: reverse the labels
            # CC's urlkey canonicalization drops a leading www.
            if key.startswith("www."):
                key = key[len("www."):]
            key = ",".join(reversed(key.strip(".").split(".")))
        key = key.rstrip(")").rstrip(",")
        out = out.filter(
            F.col("urlkey").startswith(key + ")")
            | F.col("urlkey").startswith(key + ",")
        )
    if ts_from:
        out = out.filter(F.col("capture_ts") >= _ts_bound(ts_from))
    if ts_to:
        out = out.filter(
            F.col("capture_ts") <= _ts_bound(ts_to, round_up=True)
        )
    return out
