"""Row-kernel oracle tests — stage cascade, tier ordering, quirk pinning.

Each case mirrors a row category from FIXTURES.md §1 (stage-coverage
matrix); reference behaviors cited per test.
"""
import base64

import pytest

from pdf2doi_spark.core.kernel import (
    extract_one,
    filename_candidates,
    find_identifier_in_filename,
    find_identifier_in_metadata,
    find_identifier_in_text,
    may_hold_identifier,
    rewrite_arxiv_to_doi,
)
from pdf2doi_spark.core.webmeta import (
    extract_main_content,
    extract_meta,
    page_text_units,
)


# ---------------------------------------------------------------- inner engine

def test_text_tier0_doi_prefixed():
    ident, desc, tier = find_identifier_in_text("see doi: 10.1063/1.2409490 for details")
    assert (ident, desc, tier) == ("10.1063/1.2409490", "DOI", 0)


def test_text_tier1_bare():
    ident, desc, tier = find_identifier_in_text("cite 10.1038/s41586-019-1666-5 here")
    assert (ident, desc, tier) == ("10.1038/s41586-019-1666-5", "DOI", 1)


def test_text_tier1_absorbs_runon_offline():
    # Run-on text: tier 1's charset includes a-z, so offline (syntactic
    # validation only) the run-on letters are absorbed into the suffix and
    # the candidate still standardises — identical to reference behavior
    # with webvalidation=False. Tier 2 (digit-terminated) only changes the
    # outcome under web validation, which is permanently out of scope.
    ident, desc, tier = find_identifier_in_text(
        "as shown in 10.1016/j.gaitpost.2009.07.035and others"
    )
    assert (ident, desc, tier) == ("10.1016/j.gaitpost.2009.07.035and", "DOI", 1)


def test_tier2_pattern_shape():
    # Tier 2 itself still matches digit-terminated run-on forms (pinning the
    # pattern, reference patterns.py:49), even though tier 1 wins upstream.
    from pdf2doi_spark.core.patterns import extract_doi_from_text

    assert extract_doi_from_text("x 10.1016/j.gp.2009.035and y", version=2) == [
        "10.1016/j.gp.2009.035"
    ]


def test_text_tier3_url_form():
    ident, desc, tier = find_identifier_in_text("visit https://doi.org/10.1109/sp.2011.40 now")
    # tier 0/1/2 may or may not hit first depending on charset; pin actual behavior:
    assert ident == "10.1109/sp.2011.40"
    assert desc == "DOI"


def test_text_tier4_exact_fullstring():
    ident, desc, tier = find_identifier_in_text("10.1068/p080244")
    assert ident == "10.1068/p080244"
    assert desc == "DOI"


def test_arxiv_only_after_no_doi():
    ident, desc, tier = find_identifier_in_text("preprint arXiv:1907.11692v2 online")
    assert (ident, desc, tier) == ("1907.11692", "arxiv ID", 10)


def test_doi_beats_arxiv_within_unit():
    ident, desc, _ = find_identifier_in_text(
        "arXiv:1907.11692 but also doi: 10.1063/1.2409490 appears"
    )
    assert desc == "DOI"
    assert ident == "10.1063/1.2409490"


def test_first_text_unit_wins():
    # Ordered units: the first unit with a hit wins (reference finders.py:323).
    ident, _, _ = find_identifier_in_text(
        ["first has 10.2307/357448 inside", "second has 10.1002/esp.3322 inside"]
    )
    assert ident == "10.2307/357448"


def test_first_validated_candidate_wins_in_unit():
    # Two DOIs in ONE unit: first validated match in match order wins
    # (reference finders.py:331-339) — NOT the last-match quirk of
    # standardise_doi, which only applies to a single candidate string.
    ident, _, _ = find_identifier_in_text(
        "a 10.1063/1.2409490 then 10.1038/s41586-019-1666-5 b"
    )
    assert ident == "10.1063/1.2409490"


def test_bytes_units_decoded():
    ident, _, _ = find_identifier_in_text([b"doi: 10.1068/p080244 ok"])
    assert ident == "10.1068/p080244"


def test_unicode_noise_around_doi():
    ident, _, _ = find_identifier_in_text("résumé — doi: 10.2307/3950104 — end")
    assert ident == "10.2307/3950104"


def test_invalid_utf8_bytes_do_not_crash():
    # Divergence from the reference, pinned: bare .decode() at reference
    # finders.py:326 raises on invalid UTF-8 and nulls the whole document
    # (main.py:130-142); we decode lossily so a valid identifier elsewhere
    # in the row still wins and a Spark task never dies on one bad row.
    assert find_identifier_in_text([b"\xff\xfe garbage"]) == (None, None, None)
    ident, _, _ = find_identifier_in_text([b"\xff bad", b"doi: 10.1068/p080244 x"])
    assert ident == "10.1068/p080244"


def test_filename_keeps_pdf_suffix_offline():
    # Pinned to the reference's own expectation (test_patterns.py:56):
    # offline, '10.1177:0146167297234003.pdf' standardises WITH the .pdf
    # suffix kept — extension stripping only changes outcomes under web
    # validation, which is out of scope.
    ident, _, _ = find_identifier_in_filename("https://r.org/10.1177:0146167297234003.pdf")
    assert ident == "10.1177/0146167297234003.pdf"


def test_miss_returns_nones():
    assert find_identifier_in_text("no identifiers at all") == (None, None, None)
    assert find_identifier_in_text(None) == (None, None, None)


# ---------------------------------------------------------------- metadata stage

def test_meta_priority_key_wins():
    meta = [
        ("junkfield", "10.1002/esp.3322"),
        ("citation_doi", "10.1068/p080244"),
    ]
    ident, desc, _ = find_identifier_in_metadata(meta)
    assert ident == "10.1068/p080244"  # priority key beats earlier junk key


def test_meta_blacklist_skipped():
    meta = [("wps-journaldoi", "10.1002/esp.3322")]
    assert find_identifier_in_metadata(meta) == (None, None, None)


def test_meta_blacklist_falls_through_to_other_key():
    meta = [
        ("wps-journaldoi", "10.1002/esp.3322"),
        ("subject", "see doi: 10.2307/357448"),
    ]
    ident, _, _ = find_identifier_in_metadata(meta)
    assert ident == "10.2307/357448"


def test_meta_empty():
    assert find_identifier_in_metadata(None) == (None, None, None)
    assert find_identifier_in_metadata([]) == (None, None, None)


# ---------------------------------------------------------------- filename stage

def test_filename_candidates_extension_stripping():
    cands = filename_candidates("https://x.org/a/10.1227%2F12345678.pdf")
    # accumulate over '.'-split of the DECODED basename, reversed
    # (reference finders.py:749-753): longest candidate first.
    assert cands == ["10.1227/12345678.pdf", "10.1227/12345678", "10"]


def test_filename_doi_under_pdf_suffix():
    ident, desc, _ = find_identifier_in_filename("https://x.org/p/10.1227%2F12345678.pdf")
    assert desc == "DOI"
    assert ident.startswith("10.1227/")


def test_filename_arxiv_pdf_form():
    ident, desc, tier = find_identifier_in_filename("https://arxiv.org/pdf/1907.11692v2.pdf")
    assert (ident, desc) == ("1907.11692", "arxiv ID")


def test_filename_plain_no_hit():
    assert find_identifier_in_filename("https://x.org/index.html") == (None, None, None)


# ---------------------------------------------------------------- cascade

def _mk_meta(doi):
    return [("citation_doi", doi)]


def test_cascade_meta_first():
    r = extract_one(
        url="https://x.org/10.1227%2F999.pdf",
        meta=_mk_meta("10.1068/p080244"),
        text_units=["text with 10.1002/esp.3322 inside"],
    )
    assert r["identifier"] == "10.1068/p080244"
    assert r["method"] == "document_infos"


def test_cascade_filename_second():
    r = extract_one(
        url="https://x.org/files/10.1227%2F12345678.pdf",
        meta=[("description", "nothing here")],
        text_units=["text with 10.1002/esp.3322 inside"],
    )
    assert r["method"] == "filename"


def test_cascade_text_third():
    r = extract_one(
        url="https://x.org/article.html",
        meta=[],
        text_units=["body cites doi: 10.1111/j.1532-5415.2012.04014.x end"],
    )
    assert r["identifier"] == "10.1111/j.1532-5415.2012.04014.x"
    assert r["method"] == "document_text"


def test_cascade_cache_fast_path():
    r = extract_one(
        url="https://x.org/a.html",
        meta=[],
        text_units=[],
        cached_identifier="10.1068/p080244",
    )
    assert r["method"] == "document_infos"
    assert r["tier"] == -1


def test_cascade_miss():
    r = extract_one(url="https://x.org/a.html", meta=[], text_units=["plain"])
    assert r["identifier"] is None
    assert r["method"] is None


def test_arxiv_rewrite_intended_semantics():
    # Reference finders.py:680-684 intended offline behavior (the reference
    # itself crashes here offline — SURVEY.md V4); we pin the intended
    # synthetic-DOI semantics and keep replace_arxiv=False for strict parity.
    r = extract_one(
        url="https://arxiv.org/abs/x.html",
        meta=[],
        text_units=["see arXiv:1907.11692v2"],
        replace_arxiv=True,
    )
    assert r["identifier"] == "10.48550/arXiv.1907.11692"
    assert r["identifier_type"] == "arxiv DOI"
    assert r["method"] == "document_text + arxiv2doi"

    r2 = extract_one(
        url="https://arxiv.org/abs/x.html",
        meta=[],
        text_units=["see arXiv:1907.11692v2"],
        replace_arxiv=False,
    )
    assert r2["identifier"] == "1907.11692"
    assert r2["identifier_type"] == "arxiv ID"
    assert r2["method"] == "document_text"


def test_rewrite_noop_for_doi():
    assert rewrite_arxiv_to_doi("10.1/x", "DOI", "filename") == ("10.1/x", "DOI", "filename")


# ---------------------------------------------------------------- webmeta

HTML = b"""<html><head><title>A Sufficiently Long Example Title</title>
<meta name="citation_doi" content="10.1068/p080244">
<meta content="den Dulk" name="citation_author">
<script>var x = 'doi: 10.9999/evil';</script>
</head><body>
<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>
<div>This is the main body paragraph, long enough to keep, citing doi: 10.2307/357448 inline.</div>
<footer><a href="/tos">Terms</a> <a href="/privacy">Privacy</a></footer>
</body></html>"""


def test_extract_meta_ordered_pairs():
    meta = extract_meta(HTML)
    keys = [k for k, _ in meta]
    assert keys == ["title", "citation_doi", "citation_author"]
    assert dict(meta)["citation_doi"] == "10.1068/p080244"


def test_main_content_strips_boilerplate():
    body = extract_main_content(HTML)
    assert "main body paragraph" in body
    assert "10.2307/357448" in body
    assert "Home" not in body          # link-dense nav dropped
    assert "Privacy" not in body       # link-dense footer dropped
    assert "evil" not in body          # script contents dropped


def test_main_content_deterministic_and_safe():
    assert extract_main_content(HTML) == extract_main_content(HTML)
    assert extract_main_content(b"") == ""
    assert extract_main_content(None) == ""
    assert extract_main_content(b"\xff\xfe garbage <p>still fine fine fine fine</p>") != None


def test_page_text_units_order():
    units = list(page_text_units(HTML, "pre-extracted text column value here"))
    assert units[0] == "pre-extracted text column value here"
    assert "main body paragraph" in units[1]


def test_charset_sniffing_decode():
    """Declared-charset pages decode correctly instead of to mojibake;
    wrong/unknown declarations and BOMs never raise."""
    from pdf2doi_spark.core.webmeta import _decode, extract_main_content, sniff_charset

    latin = ('<html><head><meta charset="iso-8859-1"></head><body>'
             '<p>Un résumé détaillé, assez long pour être conservé.</p>'
             '</body></html>').encode("iso-8859-1")
    assert sniff_charset(latin) == "iso-8859-1"
    assert "résumé détaillé" in _decode(latin)
    assert "résumé détaillé" in extract_main_content(latin)

    httpequiv = (b'<html><head><meta http-equiv="Content-Type" '
                 b'content="text/html; charset=windows-1252"></head>'
                 b'<body><p>Smart \x93quotes\x94 in cp1252 body text here.</p>'
                 b'</body></html>')
    assert sniff_charset(httpequiv) == "windows-1252"
    assert "“quotes”" in _decode(httpequiv)

    bom = "﻿".encode("utf-8") + "<p>bom page with enough text here</p>".encode()
    assert _decode(bom).startswith("<p>bom")

    junk_decl = b'<meta charset="no-such-codec"><p>body</p>'
    assert "body" in _decode(junk_decl)  # unknown codec falls through

    utf8 = '<meta charset="utf-8"><p>plain utf-8 café</p>'.encode()
    assert "café" in _decode(utf8)


def test_charset_sniff_not_hijacked_and_boms():
    from pdf2doi_spark.core.webmeta import _decode, sniff_charset

    # charset= inside an unrelated content value must NOT count
    desc = (b'<meta name="description" content="how to set charset=utf-16">'
            b'<meta charset="utf-8"><p>real utf-8 body</p>')
    assert sniff_charset(desc) == "utf-8"
    # non-text codec declarations can never raise
    for bad in (b'<meta charset="idna"><p>x</p>',
                b'<meta charset="undefined"><p>x</p>'):
        assert "x" in _decode(bad)
    # UTF-16 BOM is authoritative (meta sniff can't see NUL-interleaved text)
    u16 = "﻿<p>utf sixteen body text here</p>".encode("utf-16-le")
    assert "<p>utf sixteen body text here</p>" in _decode(u16)


def test_meta_declared_utf16_treated_as_utf8():
    """WHATWG: a meta-declared UTF-16/32 cannot be true (the declaration
    itself was readable as ASCII bytes) — decode as UTF-8, never mojibake.
    Real UTF-16 is BOM'd and handled by the BOM branch."""
    from pdf2doi_spark.core.webmeta import _decode

    # includes registry ALIASES (u16, utf_16_le, unicodebigunmarked) — a
    # fixed label list missed these and decoded ASCII bytes as real UTF-16
    for decl in ("utf-16", "UTF-16LE", "utf-16be", "utf-32", "utf_16",
                 "u16", "utf_16_le", "unicodebigunmarked", "utf32",
                 "unicode"):
        page = f'<meta charset="{decl}"><p>doi: 10.1234/j.x.1 café</p>'.encode("utf-8")
        out = _decode(page)
        assert "10.1234/j.x.1" in out and "café" in out, decl


def test_bom_utf16_page_survives_batch_prefilter(spark):
    """A UTF-16LE page whose DOI is invisible to the ASCII byte scan must
    still be a prefilter candidate: batch output == per-row kernel."""
    from pdf2doi_spark.operators.extract import extract_identifiers

    html16 = (
        "﻿<html><head><title>t</title></head><body>"
        "<p>The identifier is doi: 10.5555/utf16.doc.1 in the body text "
        "of this sixteen-bit page, long enough to keep.</p></body></html>"
    ).encode("utf-16-le")
    pages = spark.createDataFrame(
        [("https://u16.org/a", html16, None)], "url string, html binary, text string"
    )
    row = extract_identifiers(pages, with_text=True).collect()[0]
    assert row["identifier"] == "10.5555/utf16.doc.1"
    assert "10.5555/utf16.doc.1" in row["extracted_text"]


# ----------------------------------------------------- cascade properties

from hypothesis import given, settings, strategies as st

_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    max_size=200,
)
_doiish = st.builds(
    lambda reg, suf: f"10.{reg}/{suf}",
    st.integers(10, 999999999), st.text("abcdefgh0123456789.", min_size=1, max_size=12),
)
_unit = st.one_of(_text, _doiish, st.builds(lambda d, t: f"{t} doi: {d} {t}", _doiish, _text))


@settings(max_examples=300, deadline=None)
@given(
    st.one_of(st.none(), _text.map(lambda s: f"https://h.org/{s}")),
    st.lists(st.tuples(st.text(max_size=12), _unit), max_size=4),
    st.lists(_unit, max_size=3),
    st.booleans(),
)
def test_extract_one_invariants(url, meta, units, replace_arxiv):
    """Total-function + well-formedness invariants of the cascade:
    never raises; method/type/tier are consistent with the identifier;
    every DOI output is already standardised (idempotent); arXiv outputs
    only appear as synthetic DOIs when replacement is on; stage
    attribution is one of the three offline stages."""
    from pdf2doi_spark.core.kernel import extract_one
    from pdf2doi_spark.core.patterns import ARXIV2007_RE, standardise_doi

    res = extract_one(url, meta, list(units), replace_arxiv=replace_arxiv)
    ident, typ, method = res["identifier"], res["identifier_type"], res["method"]
    if ident is None:
        assert typ is None and method is None and res["validation_info"] is None
        return
    assert method in ("document_infos", "filename", "document_text",
                      "document_text + arxiv2doi", "document_infos + arxiv2doi",
                      "filename + arxiv2doi")
    assert res["validation_info"] == "True"
    if typ == "DOI":
        assert standardise_doi(ident) == ident  # standardisation idempotent
    elif typ == "arxiv ID":
        assert not replace_arxiv
        assert ARXIV2007_RE.match(ident)
    elif typ == "arxiv DOI":
        assert replace_arxiv and ident.startswith("10.48550/arXiv.")
        assert method.endswith(" + arxiv2doi")
    else:
        raise AssertionError(typ)


@settings(max_examples=150, deadline=None)
@given(_doiish, st.lists(_unit, max_size=3))
def test_meta_hit_always_wins(doi, units):
    """Cheap-before-expensive ordering: a validated DOI in metadata must
    resolve as document_infos no matter what later stages contain."""
    from pdf2doi_spark.core.kernel import extract_one
    from pdf2doi_spark.core.patterns import extract_doi_from_text, standardise_doi

    # premise: the tier bank can extract it AND it validates — the tier
    # bank (4-9 digit registrants) is deliberately narrower than the
    # standardiser (2-9), faithful to the reference's extract-vs-validate
    # split
    if standardise_doi(doi) is None or not extract_doi_from_text(doi, 4):
        return
    res = extract_one("https://h.org/x", [("citation_doi", doi)], list(units))
    assert res["method"] == "document_infos"
    assert res["identifier"] == standardise_doi(doi)


# ------------------------------------------------------------- page gate

def _page(charset, body: bytes, meta: str = "") -> bytes:
    """An html page with an ASCII head (the charset declaration must be
    readable) and ``body`` bytes already encoded for ``charset``; the tail
    is encoded for it too. 'utf-16' means a BOM'd UTF-16LE page."""
    decl = f'<meta charset="{charset}">' if charset not in (None, "utf-16") else ""
    head = (f'<html><head>{decl}<meta name="citation_doi" content="{meta}">'
            '</head><body><p>').encode("ascii", "replace")
    tail = " and some more words here to keep the block</p></body></html>"
    if charset == "utf-16":
        return "\ufeff".encode("utf-16-le") + (head + body).decode(
            "ascii", "replace").encode("utf-16-le") + tail.encode("utf-16-le")
    return head + body + tail.encode(charset or "utf-8")


_ENC_DOI = "10.1234/enc.doc.1"
_GATE_CASES = [
    # escape-decoding codecs and an ISO-2022 shift sequence make '10.' out
    # of bytes that hold no '10.' — a raw-byte scan alone cannot see it
    pytest.param("https://x.org/a", None,
                 _page("utf-7", b"doi: +ADEAMAAu-1234/enc.doc.1"), _ENC_DOI,
                 id="utf-7"),
    pytest.param("https://x.org/a", None,
                 _page("unicode_escape", b"doi: \\x31\\x30\\x2e1234/enc.doc.1"),
                 _ENC_DOI, id="unicode_escape"),
    pytest.param("https://x.org/a", None,
                 _page("raw_unicode_escape",
                       b"doi: \\u0031\\u0030\\u002e1234/enc.doc.1"),
                 _ENC_DOI, id="raw_unicode_escape"),
    pytest.param("https://x.org/a", None,
                 _page("iso-2022-jp", b"doi: 1\x1b(B0.1234/enc.doc.1"), _ENC_DOI,
                 id="iso-2022-jp"),
    pytest.param("https://x.org/a", None,
                 _page("cp500", f"doi: {_ENC_DOI}".encode("cp500")), _ENC_DOI,
                 id="cp500"),
    pytest.param("https://x.org/a", None,
                 _page("utf-16", f"doi: {_ENC_DOI}".encode()), _ENC_DOI,
                 id="utf-16-bom"),
    # url-only evidence: a bare arXiv filename (no 'arxiv', no '10.') and
    # a DOI whose markers hide behind percent escapes
    pytest.param("https://x.org/papers/1907.11692v2.pdf", "plain body",
                 _page(None, b"nothing"), "10.48550/arXiv.1907.11692",
                 id="bare-arxiv-filename"),
    pytest.param("https://x.org/10%2E1227%2F12345678.pdf", None,
                 _page(None, b"nothing"), "10.1227/12345678.pdf",
                 id="percent-escaped-doi-url"),
]


@pytest.mark.parametrize("url,text,html,expected", _GATE_CASES)
def test_page_gate_keeps_kernel_hits(url, text, html, expected):
    """The kernel finds the identifier, the page gate passes the page, and
    the batch kernel returns what the per-row kernel does."""
    import pandas as pd

    from pdf2doi_spark.operators.extract import _batch_extract

    res = extract_one(url, extract_meta(html), page_text_units(html, text))
    assert res["identifier"] == expected
    assert may_hold_identifier(url, text, html)
    batch = pd.DataFrame([(url, html, text)], columns=["url", "html", "text"])
    for with_text in (False, True):
        assert _batch_extract(batch, True, with_text)["identifier"][0] == expected


_arxivish = st.builds(
    lambda yymm, num, v, form: form.format(f"{yymm:04d}.{num}v{v}"),
    st.integers(0, 9999), st.integers(0, 99999), st.integers(1, 9),
    st.sampled_from(["{}.pdf", "arXiv: {}", "{}"]),
)
_marked = st.one_of(_doiish, _arxivish,
                    st.builds(lambda d, t: f"{t} doi: {d} {t}", _doiish, _text))
_ESCAPE = {  # how each escape-decoding codec spells a marker char
    "utf-7": lambda c: b"+" + base64.b64encode(
        c.encode("utf-16-be")).rstrip(b"=") + b"-",
    "unicode_escape": lambda c: b"\\x%02x" % ord(c),
    "raw_unicode_escape": lambda c: b"\\u%04x" % ord(c),
}


@st.composite
def _gate_inputs(draw):
    # the identifier shape goes into one place; the others get noise
    where = draw(st.sampled_from(["url", "text", "meta", "body"]))

    def part(name):
        return draw(_marked if where == name else _text)

    name = part("url")
    escaped = draw(st.sets(st.integers(0, max(len(name) - 1, 0))))
    path = "".join(f"%{ord(c):02X}" if i in escaped and ord(c) < 128 else c
                   for i, c in enumerate(name))
    url = f"https://h.org/{path}" if path else None
    text = part("text")
    meta = part("meta")
    body = part("body")
    charset = draw(st.sampled_from([None, "utf-8", "windows-1252", "cp500",
                                    "utf-7", "unicode_escape",
                                    "raw_unicode_escape", "utf-16"]))
    spell = _ESCAPE.get(charset)
    enc = charset if charset not in (None, "utf-16") else "utf-8"
    raw = b"".join(spell(c) if spell and c in "0123456789.v"
                   else c.encode(enc, "replace") for c in body)
    return url, text, _page(charset, raw, meta=meta)


@settings(max_examples=400, deadline=None)
@given(_gate_inputs())
def test_page_gate_is_necessary(page):
    """Whenever the per-row kernel finds an identifier, the page gate
    passes the page: the gate may over-match, never under-match."""
    url, text, html = page
    res = extract_one(url, extract_meta(html), page_text_units(html, text))
    if res["identifier"] is not None:
        assert may_hold_identifier(url, text, html)


@pytest.mark.parametrize("charset,body,expected", [
    ("utf-8", "١٢٣٤.٥٦٧٨.pdf", "10.48550/arXiv.١٢٣٤.٥٦٧٨"),
    # no high byte touches the dot: an ASCII digit sits on each side
    ("utf-8", "١٢٣4.5678.pdf", "10.48550/arXiv.١٢٣4.5678"),
    # Shift-JIS fullwidth digits end in ASCII-range trail bytes ('P'..'S')
    ("shift_jis", "１２３４.5678.pdf", "10.48550/arXiv.１２３４.5678"),
    # GB18030 four-byte chars end in an ASCII digit byte
    ("gb18030", "١٢٣٤.٥٦٧٨.pdf", "10.48550/arXiv.١٢٣٤.٥٦٧٨"),
    ("gbk", "１２３４.5678.pdf", "10.48550/arXiv.１２３４.5678"),
])
def test_page_gate_keeps_non_ascii_digit_arxiv_hits(charset, body, expected):
    """The arXiv tiers' ``\\d`` matches any Unicode digit, so a page whose
    only evidence is an arXiv shape spelled with non-ASCII digits is a
    hit, and the raw-byte half of the gate must pass it."""
    import pandas as pd

    from pdf2doi_spark.operators.extract import _batch_extract

    html = _page(charset, body.encode(charset))
    res = extract_one(None, extract_meta(html), page_text_units(html, None))
    assert res["identifier"] == expected
    assert may_hold_identifier(None, None, html)
    batch = pd.DataFrame([(None, html, None)], columns=["url", "html", "text"])
    for with_text in (False, True):
        assert _batch_extract(batch, True, with_text)["identifier"][0] == expected


@pytest.mark.parametrize("charset", [
    "utf-8", "tis-620", "cp874", "shift_jis", "cp932", "euc-jp", "gbk",
    "gb18030", "big5", "euc-kr", "cp949", "johab"])
def test_page_gate_sees_every_non_ascii_digit(charset):
    """Every Unicode digit the charset can spell, in each of the five
    digit slots of the ``\\d{4}\\.\\d`` arXiv shape (the others ASCII),
    passes the raw-byte gate."""
    import sys
    import unicodedata

    from pdf2doi_spark.core.webmeta import ascii_transparent

    digits = [c for c in map(chr, range(0x80, sys.maxunicode + 1))
              if unicodedata.category(c) == "Nd"]
    seen = 0
    for d in digits:
        try:
            d.encode(charset)
        except UnicodeEncodeError:
            continue
        seen += 1
        for i in (0, 1, 2, 3, 5):  # the digit slots of "1234.5"
            shape = "1234.5"[:i] + d + "1234.5"[i + 1:]
            html = _page(charset, f"x {shape} y".encode(charset))
            assert ascii_transparent(html)  # the byte half decides
            assert may_hold_identifier(None, None, html), (charset, shape)
    assert seen


def test_config_registry_parity():
    """Reference config surface (config.py:38-57): get/set/update_params
    with the same keys and defaults; offline-meaningful keys feed engine
    defaults (N_characters_in_pdf -> ascii_scrub truncation,
    replace_arxivID_by_DOI_when_available -> pdf2doi() V4 default)."""
    from pdf2doi_spark.config import config

    try:
        assert config.get("verbose") is True
        assert config.get("N_characters_in_pdf") == 1000
        assert config.get("replace_arxivID_by_DOI_when_available") is True
        config.set("N_characters_in_pdf", 50)
        assert config.get("N_characters_in_pdf") == 50
        config.update_params({"verbose": False})
        assert config.get("verbose") is False
        import pytest as _pytest
        with _pytest.raises(KeyError):
            config.set("no_such_key", 1)
    finally:
        config.reset()
    assert config.get("verbose") is True


def test_ascii_scrub_honors_config_truncation(spark):
    from pdf2doi_spark.config import config
    from pdf2doi_spark.operators.quality import quality_suite

    df = spark.createDataFrame([(1, "y" * 500)], "doc_id long, text string")
    try:
        config.set("N_characters_in_pdf", 100)
        out = quality_suite(df).collect()[0]["scrubbed_text"]
        assert len(out) == 100
    finally:
        config.reset()


@settings(max_examples=500, deadline=None)
@given(st.text(alphabet=" \t\r\n\f\v" + "ab<>&;x   ", max_size=120))
def test_collapse_ws_equivalence(s):
    """_collapse_ws is the kernel's hottest pass; it must be byte-identical
    to the _WS_RE.sub(" ", s) it replaces — including on UNICODE whitespace
    (\\xa0, \\u2028, \\u1680 in the alphabet above), which the ASCII-only
    _WS_RE deliberately does NOT collapse (so a str.split()-based shortcut
    would be wrong, not just different)."""
    from pdf2doi_spark.core.webmeta import _WS_RE, _collapse_ws

    assert _collapse_ws(s) == _WS_RE.sub(" ", s)
