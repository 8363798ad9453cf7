"""Pure-Python per-row extraction kernel — the engine of record.

This module reproduces, with zero Spark imports, the reference's finder
cascade exactly as it behaves offline (``webvalidation=False``,
``websearch=False``):

* inner engine ``find_identifier_in_text``: reference ``finders.py:294-357``
  — per text unit, DOI tiers 0→4 then arXiv tiers 0→2, each candidate
  validated in match order, first valid hit wins and is standardised;
* metadata stage (``document_infos``): reference ``finders.py:694-733`` —
  priority keys first (reference ``main.py:156``), blacklist compared on
  ``key.lower()`` (reference ``finders.py:715,723``), checked-and-deleted
  iteration;
* filename stage: reference ``finders.py:735-761`` — URL-decode of the
  basename (``%2F`` → ``/``) and extension-stripping candidate generation
  (``a.b.pdf`` → try ``a.b.pdf``, ``a.b``, ``a`` in that order);
* text stage: reference ``finders.py:763-790`` — ordered list of text
  units, first unit with a hit wins;
* cascade combinator: reference ``main.py:146-189`` — fixed stage order,
  first non-None identifier short-circuits;
* arXiv→DOI rewrite: reference ``finders.py:665-684``. NOTE the reference
  has a verified offline bug here (``info.keys()`` on a bool raises, the
  exception is swallowed at ``main.py:141`` and the whole document degrades
  to ``identifier=None``). We implement the *intended* semantics — synthetic
  DOI ``10.48550/arXiv.{id}`` — and keep ``replace_arxiv=False`` for strict
  reference parity (SURVEY.md §2.3 V4).

The same functions run (a) per-row in the test oracle and (b) inside
Arrow-batched pandas UDFs on executors, which is what guarantees the
north-rule invariant of byte-identical output per url.
"""
from __future__ import annotations

from itertools import accumulate
from typing import Iterable, List, Optional, Sequence, Tuple
from urllib.parse import unquote, urlsplit

from pdf2doi_spark.core.patterns import (
    ARXIV2007_RE,
    ARXIV_GATE_RE as _ARXIV_GATE_RE,
    ARXIV_GATE_RE_B as _ARXIV_GATE_RE_B,
    ARXIV_GATE_WIDE_RE_B as _ARXIV_GATE_WIDE_RE_B,
    extract_arxivID_from_text,
    extract_doi_from_text,
    doi_regexp,
    arxiv_regexp,
    standardise_doi,
)
from pdf2doi_spark.core.webmeta import ascii_transparent

# Metadata keys that are checked first when scanning document info / meta
# tags (reference main.py:156 — '/doi', '/pdf2doi_identifier'; web analogue
# per SURVEY.md C1: citation_doi / dc.identifier meta tags plus the cache
# fast-path key).
META_KEYS_CHECK_FIRST: Tuple[str, ...] = (
    "citation_doi",
    "pdf2doi_identifier",
    "doi",
    "dc.identifier",
)

# Keys never consulted — known to hold journal-level (not article) DOIs
# (reference finders.py:715, compared case-insensitively).
META_KEYS_BLACKLIST: Tuple[str, ...] = ("wps-journaldoi",)

ARXIV_DOI_PREFIX = "10.48550/arXiv."


def find_identifier_in_text(texts) -> Tuple[Optional[str], Optional[str], Optional[int]]:
    """First validated identifier in an ordered sequence of text units.

    Returns ``(identifier, identifier_type, tier)`` where ``identifier_type``
    is ``'DOI'`` or ``'arxiv ID'`` and ``tier`` records which regex tier hit
    (0-4 for DOI, 10+v for arXiv) — tier is extra observability the reference
    lacks; it never changes which identifier wins.

    Ordering semantics (reference finders.py:294-357): text units are
    scanned in order; within a unit, DOI tiers strictly before arXiv tiers;
    within a tier, candidates in match order; the first candidate that
    passes offline validation is returned immediately (standardised, for
    DOIs). This first-match-wins chain is inherently sequential per row and
    is deliberately NOT re-expressed as a parallel SQL dedupe, which could
    change which identifier wins (cf. standardise_doi's last-match quirk).
    """
    if texts is None:
        return None, None, None
    if isinstance(texts, (str, bytes)):
        texts = [texts]

    for text in texts:
        if text is None:
            continue
        if isinstance(text, bytes):
            # errors='replace': the reference's bare .decode() (finders.py:326)
            # raises on invalid UTF-8 and the exception degrades the whole
            # document to identifier=None (swallowed at main.py:130-142). A
            # Spark task must never die on one bad row, and silently nulling
            # a row that has a perfectly readable identifier elsewhere is
            # worse than lossy decoding — divergence documented + tested.
            text = text.decode(errors="replace")

        # Literal gate: every DOI tier requires '10.' (caseless), so a unit
        # without it can never yield a DOI candidate — skipping the five
        # findall passes changes nothing but time.
        if "10." in text:
            for v in range(len(doi_regexp)):
                for candidate in extract_doi_from_text(text, version=v):
                    standard = standardise_doi(candidate)
                    if standard is not None:  # offline validation == standardisable
                        return standard, "DOI", v

        # Same shape of gate for the arXiv bank: tier 0 requires the literal
        # 'arxiv', tiers 1/2 require a 'NNNN.d' digit run — a unit matching
        # neither cannot yield a candidate under any tier.
        if _ARXIV_GATE_RE.search(text):
            for v in range(len(arxiv_regexp)):
                for candidate in extract_arxivID_from_text(text, version=v):
                    if ARXIV2007_RE.match(candidate):
                        return candidate, "arxiv ID", 10 + v

    return None, None, None


def find_identifier_in_metadata(
    meta: Optional[Sequence[Tuple[str, str]]],
) -> Tuple[Optional[str], Optional[str], Optional[int]]:
    """Stage 1 (``document_infos``): scan metadata values in priority order.

    ``meta`` is an ordered list of ``(key, value)`` pairs (insertion order is
    semantically load-bearing, like the reference's info dict). Priority keys
    are consulted first; blacklisted keys are skipped by lowercased name;
    every key is consulted at most once (the reference's checked-and-deleted
    loop, finders.py:719-728).
    """
    if not meta:
        return None, None, None
    pending = {}
    for k, v in meta:
        if k is None:
            continue
        pending.setdefault(k, v)  # first occurrence wins, like a dict build
    ordered = list(META_KEYS_CHECK_FIRST) + list(pending.keys())
    for key in ordered:
        if key not in pending:
            continue
        if key.lower() in META_KEYS_BLACKLIST:
            continue
        value = pending.pop(key)
        identifier, desc, tier = find_identifier_in_text(value)
        if identifier:
            return identifier, desc, tier
    return None, None, None


def filename_candidates(url: Optional[str]) -> List[str]:
    """Extension-stripping candidate list for the filename stage.

    The basename of the URL path is percent-decoded (``%2F`` → ``/``,
    reference finders.py:745-747), then progressively dot-joined prefixes
    are emitted longest-first (reference finders.py:749-753): for
    ``10.1227%2F12345678.pdf`` the '.'-split is
    ``['10', '1227/12345678', 'pdf']`` so the candidates are exactly
    ``['10.1227/12345678.pdf', '10.1227/12345678', '10']`` (pinned by
    tests/test_kernel.py::test_filename_candidates_extension_stripping).
    """
    if not url:
        return []
    path = urlsplit(url).path if "://" in url else url
    base = path.rsplit("/", 1)[-1]
    text = unquote(base)
    if not text:
        return []
    prefixes = list(accumulate(text.split("."), lambda x, y: ".".join([x, y])))
    return list(reversed(prefixes))


def _filename_gate(url: Optional[str]) -> bool:
    """False only when no filename candidate of ``url`` can validate.

    Every filename candidate is a substring of the percent-decoded url
    (valid ``%XX`` tokens never contain ``/``, so the basename split cannot
    bisect one — decoding the whole url yields a superstring of the decoded
    basename). If the decoded url lacks both the ``10.`` DOI marker and any
    arXiv shape, the urlsplit/unquote/accumulate/tier-scan work of the
    filename stage can be skipped outright.
    """
    if not url:
        return False
    decoded = unquote(url) if "%" in url else url
    return "10." in decoded or _ARXIV_GATE_RE.search(decoded) is not None


def find_identifier_in_filename(url: Optional[str]):
    """Stage 2 (``filename``): reference finders.py:735-761."""
    if not _filename_gate(url):
        return None, None, None
    return find_identifier_in_text(filename_candidates(url))


def may_hold_identifier(url: Optional[str], text: Optional[str], html) -> bool:
    """False only when no stage of ``extract_one`` can find an identifier
    on the page ``(url, text, html)``; the one statement of the page gate.

    Proved from the tier bank: every DOI tier needs the literal ``10.``,
    every arXiv tier an ``ARXIV_GATE_RE`` shape. The url feeds only the
    filename stage (its own gate); ``text`` is a text unit; metadata and
    the main-content body both come from the decoded html, so the raw html
    bytes are scanned for the same markers (plus the byte traces of an
    arXiv shape with non-ASCII digits) — sound whenever the page's codec
    is ASCII-transparent, and a page whose codec is not is always a
    candidate. The html is never decoded here. Over-matching costs time;
    under-matching would silently drop hits.
    """
    if text and ("10." in text or _ARXIV_GATE_RE.search(text) is not None):
        return True
    if _filename_gate(url):
        return True
    if not html:
        return False
    if b"10." in html or _ARXIV_GATE_RE_B.search(html) is not None:
        return True
    if not html.isascii() and _ARXIV_GATE_WIDE_RE_B.search(html) is not None:
        return True  # an arXiv shape spelled with non-ASCII digits
    return not ascii_transparent(html)


def rewrite_arxiv_to_doi(identifier, desc, method):
    """Intended arXiv→DOI replacement (reference finders.py:679-684 offline
    branch, minus the ``info.keys()`` bug — see module docstring)."""
    if identifier and desc == "arxiv ID":
        return ARXIV_DOI_PREFIX + identifier, "arxiv DOI", method + " + arxiv2doi"
    return identifier, desc, method


def extract_one(
    url: Optional[str],
    meta: Optional[Sequence[Tuple[str, str]]],
    text_units: Optional[Iterable[str]],
    cached_identifier: Optional[str] = None,
    replace_arxiv: bool = True,
    cached_identifier_type: Optional[str] = None,
) -> dict:
    """Full cascade for one document (reference ``main.py:146-189``).

    Stage order is fixed — cache fast-path, ``document_infos``, ``filename``,
    ``document_text`` — and the first stage producing an identifier
    short-circuits the rest (the reference's cheap-before-expensive design,
    README.md:87-106). Web stages (title_google, first_N_characters_google)
    are permanently out of scope offline, exactly as the reference itself
    gates them behind the ``websearch`` flag.

    Returns a dict with keys ``identifier, identifier_type, method, tier``.
    """
    # Cache fast-path — the Spark-side analogue of the reference's metadata
    # write-back memoization (finders.py:587-608): a prior run's identifier
    # joined in from the cache table resolves the row as method #1.
    if cached_identifier:
        return {
            "identifier": cached_identifier,
            # the cache table stores the type alongside the identifier
            # (e.g. a manually tagged arXiv ID, cli.py -id); DOI is only
            # the fallback for caches that predate the type column
            "identifier_type": cached_identifier_type or "DOI",
            "method": "document_infos",
            "tier": -1,
            "validation_info": "True",
        }

    identifier, desc, tier = find_identifier_in_metadata(meta)
    method: Optional[str] = "document_infos" if identifier else None

    if not identifier:
        identifier, desc, tier = find_identifier_in_filename(url)
        method = "filename" if identifier else None

    if not identifier:
        # text_units may be a GENERATOR: units are consumed lazily, so an
        # expensive later unit (main-content extraction from html) is never
        # computed when an earlier unit already hits — the reference's own
        # "next extractor only if no hit" gating (finders.py:775-786).
        identifier, desc, tier = find_identifier_in_text(
            text_units if text_units is not None else []
        )
        method = "document_text" if identifier else None

    if replace_arxiv and identifier:
        identifier, desc, method = rewrite_arxiv_to_doi(identifier, desc, method)

    return {
        "identifier": identifier,
        "identifier_type": desc,
        "method": method,
        "tier": tier,
        # Reference result-record field (finders.py:688-692): offline,
        # validation is the syntactic check every returned identifier has
        # already passed, so the reference stores the literal True
        # (finders.py:111-113 offline branch) — normalized here to the
        # string 'True' / NULL per SURVEY §1.2.
        "validation_info": "True" if identifier else None,
    }
