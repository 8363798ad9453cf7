"""Differential parity vs the ACTUAL reference pattern module.

Loads /root/reference/pdf2doi/patterns.py directly (it imports only ``re``,
so no reference dependencies are needed) and checks, over the ported
corpora plus a large deterministic fuzz corpus and hypothesis-generated
strings, that our vendored core is behaviorally identical:

- the tier banks are string-identical,
- ``standardise_doi`` agrees on every input,
- per-tier ``re.findall`` candidate lists agree on every input.

This is evidence of parity, not a copy: the reference module is imported
read-only at test time and never shipped.
"""
import importlib.util
import os
import random
import re

import pytest
from hypothesis import given, settings, strategies as st

import pdf2doi_spark.core.patterns as ours

REF_PATH = "/root/reference/pdf2doi/patterns.py"

if not os.path.exists(REF_PATH):
    pytest.skip(
        f"reference pattern module not found at {REF_PATH}; parity stays "
        "pinned by the ported corpora in tests/test_pattern_parity.py",
        allow_module_level=True,
    )


@pytest.fixture(scope="module")
def ref():
    spec = importlib.util.spec_from_file_location("ref_patterns", REF_PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_tier_banks_identical(ref):
    assert ours.doi_regexp == ref.doi_regexp
    assert ours.arxiv_regexp == ref.arxiv_regexp
    assert ours.arxiv2007_pattern == ref.arxiv2007_pattern


def _fuzz_corpus(n=3000):
    rng = random.Random(42)
    frags = [
        "10.", "doi:", "DOI :", "arxiv:", "arXiv :", "1907.11692", "v2",
        "/j.test.", "%2F", "10.1063/1.2409490", "10.1038/s41586-019-1666-5",
        " ", "\n", '"', "<", ".pdf", ".", ":", "]", "[", "https://doi.org/",
        "word", "é—", "10.16/j.reuma.2008.12.011", "(2005)122[0121:",
        "10.1177:0146167297234003", "0123456789", "end",
    ]
    out = []
    for _ in range(n):
        k = rng.randint(1, 8)
        out.append("".join(rng.choice(frags) for _ in range(k)))
    return out


def test_standardise_differential_fuzz(ref):
    for s in _fuzz_corpus():
        assert ours.standardise_doi(s) == ref.standardise_doi(s), s


def test_findall_differential_fuzz(ref):
    for s in _fuzz_corpus(1500):
        for v in range(len(ref.doi_regexp)):
            assert re.findall(ours.doi_regexp[v], s, re.I) == re.findall(
                ref.doi_regexp[v], s, re.I
            ), (v, s)
        for v in range(len(ref.arxiv_regexp)):
            assert re.findall(ours.arxiv_regexp[v], s, re.I) == re.findall(
                ref.arxiv_regexp[v], s, re.I
            ), (v, s)


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=200))
def test_standardise_differential_hypothesis(s):
    spec = importlib.util.spec_from_file_location("ref_patterns_h", REF_PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert ours.standardise_doi(s) == mod.standardise_doi(s)
