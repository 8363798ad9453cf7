"""HTML metadata scan and main-content extraction — pure Python, zero Spark.

Web analogues of the reference's PDF-side readers, per SURVEY.md §1.1/§2:

* ``extract_meta``    ≈ ``get_pdf_info`` (reference ``finders.py:360-387``):
  pulls ``<meta name=... content=...>`` tags (``citation_doi``,
  ``dc.identifier``, …) and the ``<title>`` into an *ordered* key/value
  list — order is load-bearing downstream, like the PDF info dict.
* ``extract_main_content`` ≈ the font-histogram → threshold → select shape
  of the reference's title/body detection
  (``find_title_via_pymupdf.py:8-119``): segment the byte stream into
  block-level chunks, score each block (text length, link density,
  tag density), keep content-like blocks, join in document order. This is
  the north rule's "DOM-heuristic main-content selection … as batched
  byte-stream tokenizers inside Arrow UDFs"; the *spec* of the extracted
  text is this Python implementation itself, and the Spark UDF runs this
  identical code — which is what makes ``extracted_text`` byte-identical
  per url between oracle and cluster output.

Implementation notes: a single-pass regex tokenizer over the raw bytes —
no DOM library (none is guaranteed on executors), fully deterministic,
O(len(html)) per document, bounded per-row state (safe for Arrow batches).
"""
from __future__ import annotations

import functools
import re
import warnings
from typing import Iterator, List, Optional, Tuple

# Tags whose entire contents are never user-visible content.
_STRIP_TAGS = ("script", "style", "noscript", "template", "svg", "head")

# Block-level boundaries used to segment the byte stream into blocks
# (the web analogue of pymupdf's blocks/lines/spans walk).
_BLOCK_TAGS = (
    "p", "div", "section", "article", "main", "header", "footer", "nav",
    "aside", "li", "ul", "ol", "table", "tr", "td", "th", "h1", "h2",
    "h3", "h4", "h5", "h6", "br", "blockquote", "pre", "figure",
)

_META_RE = re.compile(
    r'<meta\s+[^>]*?name\s*=\s*["\']([^"\']+)["\'][^>]*?content\s*=\s*["\']([^"\']*)["\'][^>]*?>',
    re.I | re.S,
)
# content= appearing before name= (both attribute orders are legal HTML).
_META_RE_REV = re.compile(
    r'<meta\s+[^>]*?content\s*=\s*["\']([^"\']*)["\'][^>]*?name\s*=\s*["\']([^"\']+)["\'][^>]*?>',
    re.I | re.S,
)
_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title>", re.I | re.S)

# Each opener pairs with the first closer of the SAME tag (backreference):
# pairing with the first closer of ANY strip tag would end <head> stripping
# at an inner </script>, leaking everything after it (title, JSON-LD) into
# the extracted text — analytics-script-before-title is a very common real
# page shape.
_STRIP_RE = re.compile(
    r"<(%s)\b[^>]*>.*?</\1\s*>" % "|".join(_STRIP_TAGS),
    re.I | re.S,
)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_BLOCK_SPLIT_RE = re.compile(r"</?(?:%s)\b[^>]*>" % "|".join(_BLOCK_TAGS), re.I)
_ANCHOR_RE = re.compile(r"<a\b[^>]*>(.*?)</a\s*>", re.I | re.S)
_TAG_RE = re.compile(r"<[^>]+>")
_WS_RE = re.compile(r"[ \t\r\n\f\v]+")

# Fast path for ``_WS_RE.sub(" ", s)`` — the hottest single pass in the
# kernel (the pattern matches at EVERY inter-word space, so re.sub
# rebuilds the string from dozens of fragments; ~68% of block-scoring
# time on the synthetic corpus). Equivalent by construction: translate
# maps each dirty whitespace char to a space preserving run boundaries,
# so every maximal [ \t\r\n\f\v]+ run becomes an all-space run of the
# same length; the multi-space collapse then reduces each to one space —
# exactly ``_WS_RE.sub``'s output. Each pass is gated on a C-speed
# membership scan and skipped when it would be the identity. Pinned
# byte-identical to ``_WS_RE.sub`` by
# tests/test_kernel.py::test_collapse_ws_equivalence (hypothesis).
_DIRTY_WS = "\t\r\n\f\v"
_WS_TRANSLATE = str.maketrans({c: " " for c in _DIRTY_WS})
_MULTISPACE_RE = re.compile(r" {2,}")


def _collapse_ws(s: str) -> str:
    for c in _DIRTY_WS:
        if c in s:
            s = s.translate(_WS_TRANSLATE)
            break
    if "  " in s:
        s = _MULTISPACE_RE.sub(" ", s)
    return s

# Block-acceptance thresholds (fixed spec constants of this engine —
# analogous to the reference's len>12 / >3-words title filters,
# finders.py:412-435).
MIN_BLOCK_CHARS = 20
MAX_LINK_DENSITY = 0.33


# Charset sniff over the ASCII-compatible head bytes (every practical web
# charset is an ASCII superset, so the declaration is readable before the
# charset is known). Parsed PER META TAG with a real attribute scanner —
# a bare 'charset=' regex would be hijacked by unrelated text inside a
# content="... charset=utf-16 ..." description value.
_META_TAG_RE = re.compile(rb"<meta\s[^>]*>", re.I)
_ATTR_RE = re.compile(
    rb"""([A-Za-z][A-Za-z0-9-]*)\s*=\s*("[^"]*"|'[^']*'|[^\s>]+)""",
)
_CONTENT_CHARSET_RE = re.compile(rb"charset\s*=\s*([A-Za-z0-9_\-]+)", re.I)
_SNIFF_BYTES = 2048


def _unquote_attr(v: bytes) -> bytes:
    if len(v) >= 2 and v[:1] in (b'"', b"'") and v[-1:] == v[:1]:
        return v[1:-1]
    return v


def sniff_charset(raw: bytes) -> Optional[str]:
    """Declared charset from the document head, or None. Honors the two
    HTML forms: ``<meta charset=X>`` and ``<meta http-equiv=Content-Type
    content="...; charset=X">`` — and only those (a ``charset=`` substring
    inside some other attribute value never counts)."""
    for tag in _META_TAG_RE.finditer(raw[:_SNIFF_BYTES]):
        attrs = {
            k.lower(): _unquote_attr(v)
            for k, v in _ATTR_RE.findall(tag.group(0))
        }
        value = attrs.get(b"charset")
        if value is None and attrs.get(b"http-equiv", b"").lower() == b"content-type":
            m = _CONTENT_CHARSET_RE.search(attrs.get(b"content", b""))
            if m:
                value = m.group(1)
        if value:
            name = value.decode("ascii", errors="replace").strip().strip("\"'").lower()
            if name:
                return name
    return None


_BOMS = (
    (b"\xef\xbb\xbf", "utf-8"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)


def _codec(raw: bytes) -> Tuple[int, str]:
    """``(BOM length, codec)`` that ``_decode`` reads ``raw`` with: BOM first
    (authoritative; UTF-16/32 pages are NUL-interleaved so the meta sniff
    could never see them), then the declared charset, then UTF-8."""
    for bom, codec in _BOMS:
        if raw.startswith(bom):
            return len(bom), codec
    cs = sniff_charset(raw)
    if cs:
        # WHATWG: a meta-declared UTF-16/32 is a lie by construction — the
        # declaration itself was readable in ASCII-compatible bytes, which
        # real UTF-16/32 content never is (those are caught by the BOM
        # branch above). Decoding ASCII-superset bytes as UTF-16 yields
        # mojibake and loses identifiers; the spec mandates treating it as
        # UTF-8. Resolve ALIASES through the codec registry (u16, utf_16_le,
        # unicodebigunmarked, ... all canonicalize to utf_16*) — a fixed
        # label list misses them.
        import codecs

        try:
            canonical = codecs.lookup(cs).name
        except LookupError:
            canonical = cs
        if canonical.replace("_", "-").startswith(("utf-16", "utf-32")) or \
                cs in ("unicode",):
            cs = None
    return 0, cs or "utf-8"


def _decode(html) -> str:
    """Bytes → text with the codec ``_codec`` picks. A wrong, unknown, or
    non-text codec declaration can never raise — decoding falls through to
    the lossy UTF-8 path (one bad row must never fail a task)."""
    if html is None:
        return ""
    if not isinstance(html, (bytes, bytearray)):
        return html
    raw = bytes(html)
    skip, cs = _codec(raw)
    if cs not in ("utf-8", "utf8"):
        try:
            return raw[skip:].decode(cs, errors="replace")
        except (LookupError, ValueError):
            # LookupError: unknown codec name; ValueError/UnicodeError:
            # non-text codecs (idna, undefined) that reject errors='replace'
            pass
    return raw[skip:].decode("utf-8", errors="replace")


# Decode-side transparency probe: every ASCII byte, then the escape forms
# that make ASCII out of other bytes — utf-7 base64 ('+ADE-' is '1'),
# unicode_escape/raw_unicode_escape ('\x31', '\u0031') and an ISO-2022
# shift sequence, which decodes to nothing and so joins '1' and '0.'.
_ASCII_PROBE = bytes(range(128)) + b" +ADE- \\x31 \\u0031 1\x1b(B0."


@functools.lru_cache(maxsize=256)  # declared names come from the crawl
def _codec_is_transparent(codec: str) -> bool:
    try:
        with warnings.catch_warnings():  # unicode_escape warns on '\]'
            warnings.simplefilter("ignore", DeprecationWarning)
            return _ASCII_PROBE.decode(codec, "replace") == _ASCII_PROBE.decode("ascii")
    except (LookupError, ValueError):
        return True  # _decode falls back to UTF-8 for these


def ascii_transparent(raw: bytes) -> bool:
    """True when ``_decode(raw)`` reads every ASCII byte as itself and makes
    no ASCII text out of anything else — then an ASCII marker missing from
    the raw bytes is missing from the decoded text too. False for UTF-16/32
    BOM pages (NUL-interleaved), EBCDIC code pages (which re-map the digits)
    and the escape-decoding codecs the probe above names."""
    return _codec_is_transparent(_codec(raw)[1])


def _unescape_basic(s: str) -> str:
    # Deterministic minimal entity handling (full html.unescape would also
    # be deterministic, but we keep the entity set explicit and pinned).
    return (
        s.replace("&amp;", "&")
        .replace("&lt;", "<")
        .replace("&gt;", ">")
        .replace("&quot;", '"')
        .replace("&#39;", "'")
        .replace("&nbsp;", " ")
    )


def extract_meta(html) -> List[Tuple[str, str]]:
    """Ordered ``(key, value)`` pairs from ``<meta>`` tags plus ``<title>``.

    Keys are lowercased meta ``name`` attributes (e.g. ``citation_doi``,
    ``dc.identifier``); the page title is emitted under key ``title``.
    Pair order follows byte order in the document, preserving the
    reference's ordered-dict iteration semantics (finders.py:719-728).
    """
    text = _decode(html)
    if not text:
        return []
    pairs: List[Tuple[int, str, str]] = []
    for m in _META_RE.finditer(text):
        pairs.append((m.start(), m.group(1).strip().lower(), _unescape_basic(m.group(2).strip())))
    for m in _META_RE_REV.finditer(text):
        pairs.append((m.start(), m.group(2).strip().lower(), _unescape_basic(m.group(1).strip())))
    t = _TITLE_RE.search(text)
    if t:
        pairs.append((t.start(), "title", _unescape_basic(_collapse_ws(t.group(1)).strip())))
    pairs.sort(key=lambda p: p[0])
    seen = set()
    out: List[Tuple[str, str]] = []
    for _, k, v in pairs:
        if k in seen:  # first occurrence wins, like a dict build
            continue
        seen.add(k)
        out.append((k, v))
    return out


def _block_stats(segment: str) -> Tuple[str, int, int]:
    """(visible_text, text_len, link_text_len) for one block segment.

    Literal gates below are pure fast paths: each regex/replace pass is
    skipped only when its trigger literal is absent, in which case the pass
    is the identity — output is byte-identical to the ungated pipeline.
    """
    link_chars = 0
    # the anchor regex requires '<a'/'<A'; most content blocks have neither
    if "<a" in segment or "<A" in segment:
        for a in _ANCHOR_RE.finditer(segment):
            link_chars += len(_collapse_ws(_TAG_RE.sub(" ", a.group(1))).strip())
    visible = _TAG_RE.sub(" ", segment) if "<" in segment else segment
    visible = _collapse_ws(visible)
    if "&" in visible:
        visible = _unescape_basic(visible)
    visible = visible.strip()
    return visible, len(visible), link_chars


def extract_main_content(html) -> str:
    """Boilerplate-stripped main content of an HTML document.

    Pipeline (single pass, deterministic):
      1. drop comments and non-content subtrees (script/style/head/...);
      2. segment on block-level tag boundaries;
      3. score each block: visible-text length and link density
         (anchor-text chars / text chars);
      4. keep blocks with ``len >= MIN_BLOCK_CHARS`` and
         ``link_density <= MAX_LINK_DENSITY`` — high-link-density blocks
         are navigation/footer boilerplate;
      5. join survivors with ``'\\n'`` in document order.

    Returns ``''`` for empty/degenerate input (never raises — a bad row
    must not fail a Spark task).
    """
    text = _decode(html)
    if not text:
        return ""
    try:
        if "<!--" in text:
            text = _COMMENT_RE.sub(" ", text)
        text = _STRIP_RE.sub(" ", text)
        kept: List[str] = []
        for segment in _BLOCK_SPLIT_RE.split(text):
            # visible text is never longer than its segment (every pipeline
            # pass shrinks or preserves length), so a segment shorter than
            # the acceptance floor can be rejected without scoring it
            if len(segment) < MIN_BLOCK_CHARS or segment.isspace():
                continue
            visible, n_chars, link_chars = _block_stats(segment)
            if n_chars < MIN_BLOCK_CHARS:
                continue
            if n_chars > 0 and (link_chars / n_chars) > MAX_LINK_DENSITY:
                continue
            kept.append(visible)
        return "\n".join(kept)
    except Exception:
        return ""


def page_text_units(html, pre_extracted_text: Optional[str],
                    body: Optional[str] = None) -> Iterator[str]:
    """Ordered text units for the ``document_text`` stage of one page,
    yielded lazily: the main-content body is only computed when the text
    unit yields no validated hit, and a ``body`` the caller already holds
    is reused, not recomputed.

    Mirrors the reference's ordered-extractor design (``__init__.py:18-19``:
    PyPdf before pdfminer — extractor order is correctness-affecting): the
    pre-extracted ``text`` column plays extractor #1, the main-content body
    derived from ``html`` plays extractor #2. First unit with a validated
    hit wins.
    """
    if pre_extracted_text:
        yield pre_extracted_text
    if body is None:
        body = extract_main_content(html)
    if body:
        yield body
