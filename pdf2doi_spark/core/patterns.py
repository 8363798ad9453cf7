"""Identifier pattern bank: the semantic core of the extraction engine.

These regular expressions and the standardisation rule are *semantic
constants* carried over from the reference implementation so that the
Spark pipeline produces byte-identical identifiers:

- canonical DOI pattern: reference ``pdf2doi/patterns.py:14-24``
- ``standardise_doi``:   reference ``pdf2doi/patterns.py:26-37``
- DOI tier bank (5):     reference ``pdf2doi/patterns.py:45-54``
- arXiv tier bank (3):   reference ``pdf2doi/patterns.py:61-69``
- arXiv validation:      reference ``pdf2doi/patterns.py:41``

They are evaluated with Python ``re`` (never translated to Java regex):
the canonical pattern uses ``(?P<name>)`` named groups and ``(?x)``
verbose mode, whose semantics differ under java.util.regex, and byte
parity with the reference is a hard requirement (BASELINE.json
``north_rule``). All Spark-side use therefore goes through Arrow-batched
pandas UDFs that import this module; the tier bank alone (plain
positional groups, no verbose mode) is additionally safe to mirror in
ANSI-SQL ``regexp_extract`` for DuckDB oracle checks.

Everything here is pure Python with zero Spark imports, so the module is
importable on executors via ``spark-submit --py-files`` with no driver
state.
"""
from __future__ import annotations

import re
from typing import Optional

# --------------------------------------------------------------------------
# Canonical DOI pattern (verbose, named groups). Matching is performed on a
# lowercased string. Registrant is 2-9 digits; the suffix charset and the
# trailing guard are exactly the reference's. The separator class accepts
# the non-standard ':', ' ', and ']' separators seen in real-world corpora,
# which standardisation normalises to '/'.
# --------------------------------------------------------------------------
DOI_CANONICAL = r"""(?xm)
  (?P<marker>   doi[:\/\s]{0,3})?
  (?P<prefix>
    (?P<namespace> 10)
    [.]
    (?P<registrant> \d{2,9})
  )
  (?P<sep>     [:\-\/\s\]])
  (?P<suffix>  [\-._;()\/:a-z0-9]+[a-z0-9])
  (?P<trailing> ([\s\n\"<.]|$))
"""

_DOI_CANONICAL_RE = re.compile(DOI_CANONICAL)

# Backwards-compatible alias matching the reference's public name, so the
# ported unit-test corpus imports cleanly.
DOI = DOI_CANONICAL


def standardise_doi(identifier: str) -> Optional[str]:
    """Normalise a suspected DOI to canonical ``10.{registrant}/{suffix}``.

    Semantics pinned to the reference (``pdf2doi/patterns.py:26-37``):

    * input is lowercased before matching;
    * *every* match of the canonical pattern contributes its groupdict via
      ``dict.update`` — so when a string contains several DOIs, the **last**
      match wins per group (a documented quirk the rebuild must preserve:
      ``"10.1063/1.2409490 and 10.1038/s41586-019-1666-5"`` standardises to
      the second DOI);
    * ``None`` when no match produced both a registrant and a suffix;
    * trailing junk (``.``, ``"``, ``<``, whitespace) is excluded by the
      pattern itself, and non-standard separators collapse to ``/``.
    """
    groups: dict = {}
    for m in _DOI_CANONICAL_RE.finditer(identifier.lower()):
        groups.update(m.groupdict())
    if groups.get("registrant") is None or groups.get("suffix") is None:
        return None
    return "10.%s/%s" % (groups["registrant"], groups["suffix"])


# --------------------------------------------------------------------------
# DOI tier bank — ordered strict → loose; applied in order, first tier that
# yields a *validated* candidate wins (the ordering is load-bearing).
#   tier 0: "doi:"-prefixed           (reference patterns.py:45)
#   tier 1: bare 10.NNNN... + guard   (reference patterns.py:48)
#   tier 2: run-on text, digit-ended  (reference patterns.py:49)
#   tier 3: https?://...doi.../ URL   (reference patterns.py:51)
#   tier 4: exact-full-string         (reference patterns.py:54, metadata)
# --------------------------------------------------------------------------
doi_regexp = [
    r'doi[\s\.\:]{0,2}(10\.\d{4}[\d\:\.\-\/a-z]+)(?:[\s\n\"<]|$)',
    r'(10\.\d{4}[\d\:\.\-\/a-z]+)(?:[\s\n\"<]|$)',
    r'(10\.\d{4}[\:\.\-\/a-z]+[\:\.\-\d]+)(?:[\s\na-z\"<]|$)',
    r'https?://[ -~]*doi[ -~]*/(10\.\d{4,9}/[-._;()/:a-z0-9]+)(?:[\s\n\"<]|$)',
    r'^(10\.\d{4,9}/[-._;()/:a-z0-9]+)$',
]

# arXiv tier bank (post-2007 identifier format only):
#   tier 0: "arXiv: YYMM.nnnnn(vN)"   (reference patterns.py:61)
#   tier 1: "YYMM.nnnnn(vN).pdf"      (reference patterns.py:66, filenames)
#   tier 2: exact-full-string         (reference patterns.py:69, metadata)
arxiv_regexp = [
    r'arxiv[\s]*\:[\s]*(\d{4}\.\d+)(?:v\d+)?(?:[\s\n\"<]|$)',
    r'(\d{4}\.\d+)(?:v\d+)?(?:\.pdf)',
    r'^(\d{4}\.\d+)(?:v\d+)?$',
]

# Syntactic validator for post-2007 arXiv IDs (reference patterns.py:41).
arxiv2007_pattern = r'^(\d{4}\.\d+)(?:v\d+)?$'

# Pre-compiled, case-insensitive forms — compiled once per Python worker at
# module import (the module ships via --py-files), so the hot loop inside
# Arrow UDF batches never recompiles.
DOI_TIERS = [re.compile(p, re.I) for p in doi_regexp]
ARXIV_TIERS = [re.compile(p, re.I) for p in arxiv_regexp]
ARXIV2007_RE = re.compile(arxiv2007_pattern, re.I)

# NECESSARY condition for ANY arXiv tier to match a text: tier 0 carries
# the literal 'arxiv', tiers 1/2 a 4-digit+dot+digit run. Single source of
# truth for every fast-path gate (the kernel's per-unit and per-stage gates
# and its page gate ``kernel.may_hold_identifier``, whose byte form scans
# raw html) — if the tier bank above ever changes shape, update THIS
# pattern in the same commit; an under-matching gate silently drops hits.
ARXIV_GATE_PATTERN = r"(?i)\d{4}\.\d|arxiv"
ARXIV_GATE_RE = re.compile(ARXIV_GATE_PATTERN)
ARXIV_GATE_RE_B = re.compile(ARXIV_GATE_PATTERN.encode("ascii"))
# The byte form sees ASCII digits only, while ``\d`` on str matches every
# Unicode digit (``١٢٣٤.٥٦٧٨.pdf`` validates). Under each codec whose raw
# bytes the page gate trusts (``webmeta.ascii_transparent``), a non-ASCII
# char starts with a byte >= 0x80, spans at most 4 bytes and holds no
# ``.`` byte. So an arXiv shape with a non-ASCII digit leaves ``.`` then a
# high byte (the digit after the dot), or a high byte at most 15 bytes
# before a ``.`` that an ASCII digit follows (one of the four before it).
ARXIV_GATE_WIDE_RE_B = re.compile(rb"\.[\x80-\xff]|[\x80-\xff][^.]{0,15}\.[0-9]")


def extract_doi_from_text(text: str, version: int = 0) -> list:
    """All DOI candidates under tier ``version`` (reference finders.py:214-238).

    Regex errors (e.g. non-string input) are swallowed to ``[]`` exactly as
    the reference does — a bad row must never fail a Spark task.
    """
    try:
        return DOI_TIERS[version].findall(text)
    except Exception:
        return []


def extract_arxivID_from_text(text: str, version: int = 0) -> list:
    """All arXiv-ID candidates under tier ``version`` (reference finders.py:189-212)."""
    try:
        return [m[0] if isinstance(m, tuple) else m
                for m in ARXIV_TIERS[version].findall(text)]
    except Exception:
        return []


def validate_offline(identifier: str, what: str = "doi"):
    """Offline (syntactic) validation — reference ``finders.py:97-186`` with
    ``webvalidation=False``: a DOI is valid iff it standardises; an arXiv ID
    is valid iff it matches the post-2007 shape. Network validation is
    permanently out of scope on the cluster (no executor egress).
    """
    if not identifier:
        return None
    if what == "doi":
        return standardise_doi(identifier) is not None
    if what == "arxiv":
        return ARXIV2007_RE.match(identifier) is not None
    return False
