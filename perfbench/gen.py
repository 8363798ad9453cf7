"""Seeded load generator: the benchmark's inputs as parquet files.

Everything here runs in the benchmark process with numpy + pyarrow only
(no Spark, no clock, no global RNG): the same ``(workload, seed)`` gives
byte-identical files on every machine. Each input lives in a directory
named by a content key over the seed, the workload, the sizes and the
source of this file and of ``pdf2doi_spark/pages.py`` (the page generator
the ingest workload reuses), so an edit to either generator can never
be measured against stale inputs.

Inputs are written as ``N_FILES`` parquet files. The file count is a
constant, never derived from the host's core count, so the bytes do not
depend on the machine; Spark's default split packing then decides the
task count (reported as ``sources.tasks``).
"""
from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# seed label of the seed-independent inputs (ingest's earlier dump, the
# dedup prior corpus): fixtures built from them are reused across seeds
BASE = "base"

N_FILES = 16

# Rows per workload. ingest pages are ~1.5 KB (pages.py, 14 of 16
# categories carry an identifier); dedup docs are 60-120 words.
SIZES = {
    "ingest": {"rows": 12_000, "earlier_rows": 24_000, "overlap": 0.5},
    "dedup": {"prior": 4_000, "rows": 2_000, "index_dup_share": 0.03,
              "batch_dup_share": 0.02, "hard_negative_share": 0.04,
              "mutate": 0.02},
}

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
DOCS_SCHEMA = pa.schema([("url", pa.string()), ("text", pa.string())])

_HOSTS = ["news-hub.org", "blogspace.net", "shopfront.com", "forum-a.org",
          "wiki-mirror.org", "local-times.com", "recipes.example",
          "travel-notes.net"]
_LANGS = ["en", "en", "en", "de", "fr", "es"]
_SOURCES = ["web", "news", "papers", "forum"]


def _source_bytes() -> bytes:
    parts = []
    for path in (os.path.abspath(__file__),
                 os.path.join(REPO, "pdf2doi_spark", "pages.py")):
        with open(path, "rb") as fh:
            parts.append(fh.read())
    return b"\0".join(parts)


def content_key(workload: str, seed: int) -> str:
    h = hashlib.sha256(_source_bytes())
    h.update(json.dumps([workload, seed, SIZES[workload], N_FILES]).encode())
    return h.hexdigest()[:16]


def _rng(workload: str, seed: int, stream: str) -> np.random.Generator:
    # one independent stream per (workload, seed, purpose): adding a
    # stream never shifts the values another stream draws
    digest = hashlib.sha256(f"{workload}|{seed}|{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """Letters-only pseudo-words: no digit and no 'arxiv', so filler can
    never satisfy the extraction prefilter by accident."""
    syl = np.array(["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de",
                    "ga", "vo", "le", "an", "or", "is", "ul", "en", "th",
                    "sh", "qu", "bra", "ste", "pli", "dro", "fen", "mar"])
    words = set()
    while len(words) < n:
        k = rng.integers(2, 5)
        w = "".join(syl[rng.integers(0, len(syl), size=k)])
        if "arxiv" not in w:
            words.add(w)
    return np.array(sorted(words), dtype=object)


def _text(rng, vocab, n_words: int) -> str:
    return " ".join(vocab[rng.integers(0, len(vocab), size=n_words)])


def _write(table: pa.Table, out_dir: str) -> None:
    os.makedirs(out_dir)
    bounds = np.linspace(0, table.num_rows, N_FILES + 1).astype(int)
    for i in range(N_FILES):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"),
                       compression="zstd")


def _pages_table(rows: list) -> pa.Table:
    cols = list(zip(*rows))
    return pa.Table.from_arrays([pa.array(c, type=f.type)
                                 for c, f in zip(cols, PAGES_SCHEMA)],
                                schema=PAGES_SCHEMA)


def _crawl_ids(rng, n: int) -> np.ndarray:
    """n distinct doc ids; uniform mod 16, so every pages.py category
    (doc_id % 16) gets its share."""
    base = int(rng.integers(1, 1 << 30))
    return base + rng.permutation(n * 8)[:n].astype(np.int64) * 17


def _synthetic_pages(rng, ids) -> list:
    """pages.py rows (~1.5 KB, 14 of 16 categories carry an identifier)."""
    from pdf2doi_spark.pages import build_page

    vocab = _vocab(rng, 3000)
    rows = []
    for d in ids:
        d = int(d)
        url, ts, html, text = build_page(
            d, _text(rng, vocab, int(rng.integers(50, 90))),
            _LANGS[d % len(_LANGS)], _SOURCES[(d // 16) % len(_SOURCES)])
        rows.append((url, ts.replace(tzinfo=_dt.timezone.utc), html, text,
                     _LANGS[d % len(_LANGS)]))
    return rows


def _mutate(rng, vocab, words: list, share: float) -> list:
    out = list(words)
    k = max(1, int(round(len(out) * share)))
    for i in rng.choice(len(out), size=k, replace=False):
        out[int(i)] = vocab[rng.integers(0, len(vocab))]
    return out


def _doc_url(tag: str, i: int) -> str:
    return f"https://{_HOSTS[i % len(_HOSTS)]}/{tag}/{i}"


def _fresh_words(rng, vocab) -> list:
    return list(vocab[rng.integers(0, len(vocab), size=int(rng.integers(60, 120)))])


def _prior_corpus(spec) -> tuple:
    """The dedup index's prior corpus (seed-independent) and its vocabulary."""
    rng = _rng("dedup", BASE, "docs")
    vocab = _vocab(rng, 8000)
    return vocab, [_fresh_words(rng, vocab) for _ in range(spec["prior"])]


def _dedup_docs(rng, spec) -> tuple:
    """One new dump with planted near-dup pairs against the prior corpus.

    Near-dups are copies with ``mutate`` of their words replaced
    (3-shingle Jaccard ~0.9): ``index`` pairs copy a prior doc, ``batch``
    pairs copy another doc of the same dump. Hard negatives share the
    first third of a prior doc (Jaccard ~0.2, below the 0.5 threshold)."""
    vocab, prior = _prior_corpus(spec)
    n = spec["rows"]
    docs = [_fresh_words(rng, vocab) for _ in range(n)]
    pairs = []
    it = iter(rng.permutation(n))
    for _ in range(int(n * spec["index_dup_share"])):
        i, src = int(next(it)), int(rng.integers(0, len(prior)))
        docs[i] = _mutate(rng, vocab, prior[src], spec["mutate"])
        pairs.append(["index", _doc_url("d", i), _doc_url("p", src)])
    for _ in range(int(n * spec["batch_dup_share"])):
        i, j = int(next(it)), int(next(it))
        docs[i] = _mutate(rng, vocab, docs[j], spec["mutate"])
        pairs.append(["batch", _doc_url("d", i), _doc_url("d", j)])
    for _ in range(int(n * spec["hard_negative_share"])):
        i, src = int(next(it)), int(rng.integers(0, len(prior)))
        head = prior[src][: len(prior[src]) // 3]
        docs[i] = head + _fresh_words(rng, vocab)[: len(prior[src]) - len(head)]
    table = pa.table({"url": [_doc_url("d", i) for i in range(n)],
                      "text": [" ".join(w) for w in docs]}, schema=DOCS_SCHEMA)
    return table, pairs


def _earlier_ids(spec) -> np.ndarray:
    return _crawl_ids(_rng("ingest", BASE, "ids"), spec["earlier_rows"])


def _build(workload: str, seed, out: str) -> dict:
    spec = SIZES[workload]
    meta = {"workload": workload, "seed": seed}
    if seed == BASE:
        if workload == "ingest":
            _write(_pages_table(_synthetic_pages(_rng(workload, BASE, "pages"),
                                                 _earlier_ids(spec))),
                   os.path.join(out, "earlier"))
            meta["rows"] = spec["earlier_rows"]
        else:
            _vocab_unused, prior = _prior_corpus(spec)
            _write(pa.table({"url": [_doc_url("p", i) for i in range(len(prior))],
                             "text": [" ".join(w) for w in prior]},
                            schema=DOCS_SCHEMA),
                   os.path.join(out, "prior"))
            meta["rows"] = len(prior)
        return meta
    meta["rows"] = spec["rows"]
    rng = _rng(workload, seed, "pages")
    if workload == "ingest":
        k = int(spec["rows"] * spec["overlap"])
        # recrawled urls come from the earlier dump; fresh ids live above
        # every earlier id, so the two sets never meet by accident
        ids = np.concatenate([
            rng.choice(_earlier_ids(spec), size=k, replace=False),
            _crawl_ids(rng, spec["rows"] - k) + (1 << 31),
        ])
        _write(_pages_table(_synthetic_pages(rng, rng.permutation(ids))),
               os.path.join(out, "pages"))
        meta["n_overlap"] = k
    elif workload == "dedup":
        docs, pairs = _dedup_docs(rng, spec)
        _write(docs, os.path.join(out, "docs"))
        meta["pairs"] = pairs
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return meta


def input_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, fs in os.walk(path) for f in fs)


def _ensure(root: str, workload: str, seed) -> tuple:
    path = os.path.join(root, f"{workload}-{seed}-{content_key(workload, seed)}")
    meta_path = os.path.join(path, "meta.json")
    if not os.path.exists(meta_path):
        tmp = path + ".tmp"
        for stale in (path, tmp):
            shutil.rmtree(stale, ignore_errors=True)
        os.makedirs(tmp)
        meta = _build(workload, seed, tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        os.rename(tmp, path)
    os.utime(path)
    with open(meta_path) as fh:
        return path, json.load(fh)


def ensure_inputs(root: str, workload: str, seed: int, keep: int = 3) -> dict:
    """Inputs for ``(workload, seed)``, generated on first use and reused
    after: ``path``/``meta`` of the seeded dump and, for ingest and dedup,
    ``base``/``base_meta`` of the seed-independent earlier dump or prior
    corpus that the fixtures are built from. Per workload, at most
    ``keep`` seeded dumps and one base stay on disk."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}")
    os.makedirs(root, exist_ok=True)
    out = {}
    out["path"], out["meta"] = _ensure(root, workload, seed)
    out["base"], out["base_meta"] = _ensure(root, workload, BASE)
    live = {out["path"], out.get("base")}
    mine = sorted((os.path.join(root, d) for d in os.listdir(root)
                   if d.startswith(workload + "-")), key=os.path.getmtime)
    seeded = [p for p in mine if p not in live and f"-{BASE}-" not in p]
    bases = [p for p in mine if p not in live and f"-{BASE}-" in p]
    for old in bases + seeded[: max(0, len(seeded) - (keep - 1))]:
        shutil.rmtree(old, ignore_errors=True)
    return out
