"""Persisted incremental near-dup index (operators/dedup_index.py).

The Spark result is checked against an independent Python replay of the
md5 keyed-min-hash contract (hashlib over the same normalization/shingle
scheme) — the same cross-engine contract the DuckDB oracles pin for the
one-shot minhash family.
"""
from __future__ import annotations

import glob
import hashlib
import os
import re

import pytest
from pyspark.sql import functions as F

from pdf2doi_spark.operators.dedup_index import (
    build_minhash_index,
    incremental_near_dups,
    load_index_params,
    merge_minhash_index,
)

NUM_HASHES, BANDS, N_PARTS = 12, 4, 16


# ---------------------------------------------------- python replay oracle

def _norm(text: str) -> str:
    return re.sub(r"\s+", " ", text.strip().lower())


def _shingles(text: str, n: int = 3) -> set:
    words = _norm(text).split(" ")
    if len(words) < n:
        return set()
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _sig(shingles: set) -> list:
    return [min(_md5(f"{i}:{s}") for s in shingles)
            for i in range(NUM_HASHES)]


def _bands_of(sig: list) -> list:
    r = NUM_HASHES // BANDS
    return [(b, _md5("|".join(sig[b * r:(b + 1) * r]))) for b in range(BANDS)]


def _expected(index_docs: dict, batch_docs: dict, threshold: float) -> dict:
    """doc_id -> (dup_of, est_jaccard, source) replaying the full scheme."""
    idx_sigs = {d: _sig(sh) for d, t in index_docs.items()
                if (sh := _shingles(t))}
    new_sigs = {d: _sig(sh) for d, t in batch_docs.items()
                if (sh := _shingles(t))}
    idx_bands = {}
    for d, s in idx_sigs.items():
        for key in _bands_of(s):
            idx_bands.setdefault(key, set()).add(d)
    new_bands = {}
    for d, s in new_sigs.items():
        for key in _bands_of(s):
            new_bands.setdefault(key, set()).add(d)

    out = {}
    for d, s in new_sigs.items():
        cands = []  # (est, source_rank, dup_of, source)
        seen = set()
        for key in _bands_of(s):
            for o in idx_bands.get(key, ()):
                if o != d and ("i", o) not in seen:
                    seen.add(("i", o))
                    est = sum(a == b for a, b in zip(s, idx_sigs[o])) / NUM_HASHES
                    cands.append((est, 0, o, "index"))
            for o in new_bands.get(key, ()):
                if o < d and ("b", o) not in seen:
                    seen.add(("b", o))
                    est = sum(a == b for a, b in zip(s, new_sigs[o])) / NUM_HASHES
                    cands.append((est, 1, o, "batch"))
        cands = [c for c in cands if c[0] >= threshold]
        if cands:
            est, _, dup_of, source = sorted(
                cands, key=lambda c: (-c[0], c[1], c[2]))[0]
            out[d] = (dup_of, round(est, 6), source)
    return out


def _doc_maps(spark, sf_dir):
    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text").limit(180).collect()
    )
    docs = {r.doc_id: r.text for r in rows}
    ids = sorted(docs)
    index_docs = {d: docs[d] for d in ids[:120]}
    batch_docs = {d: docs[d] for d in ids[120:]}
    # planted near-dups of indexed docs (8 inserted words → agreement
    # 0.833 on the sf0.001 fixture, replay-verified) and one exact
    # re-post (agreement 1.0)
    src = ids[3]
    batch_docs[900001] = index_docs[src].replace(" ", " xyzzy ", 8)
    batch_docs[900002] = index_docs[src]
    # intra-batch pair: 900004 dups 900003, neither is indexed
    batch_docs[900003] = "unique batch content " + ("alpha beta gamma " * 10)
    batch_docs[900004] = batch_docs[900003]
    return index_docs, batch_docs


def _df(spark, mapping):
    return spark.createDataFrame(
        sorted(mapping.items()), "doc_id long, text string"
    )


def test_incremental_near_dups_matches_python_replay(spark, sf_dir, tmp_path):
    index_docs, batch_docs = _doc_maps(spark, sf_dir)
    idx_path = str(tmp_path / "mh_index")
    build_minhash_index(spark, _df(spark, index_docs), idx_path,
                        num_hashes=NUM_HASHES, bands=BANDS, n_parts=N_PARTS)
    assert load_index_params(spark, idx_path)["num_hashes"] == NUM_HASHES

    got_df = incremental_near_dups(
        spark, idx_path, _df(spark, batch_docs), threshold=0.5
    )
    got = {r.doc_id: (r.dup_of, round(r.est_jaccard, 6), r.source)
           for r in got_df.collect()}
    want = _expected(index_docs, batch_docs, 0.5)
    assert got == want
    # the planted rows genuinely exercise all three shapes
    assert got[900002][0] == sorted(index_docs)[3] and got[900002][1] == 1.0
    assert got[900001][0] == sorted(index_docs)[3] and 0.5 <= got[900001][1] < 1.0
    assert got[900004] == (900003, 1.0, "batch")


def test_incremental_merge_is_idempotent_and_compact(spark, sf_dir, tmp_path):
    index_docs, batch_docs = _doc_maps(spark, sf_dir)
    idx_path = str(tmp_path / "mh_index")
    build_minhash_index(spark, _df(spark, index_docs), idx_path,
                        num_hashes=NUM_HASHES, bands=BANDS, n_parts=N_PARTS)

    dups = incremental_near_dups(
        spark, idx_path, _df(spark, batch_docs), threshold=0.5
    ).select("doc_id")
    n_dups = dups.count()
    assert n_dups >= 3  # the planted rows at minimum

    merge_minhash_index(spark, idx_path, _df(spark, batch_docs),
                        exclude=dups)
    sigs = spark.read.parquet(idx_path + "/sigs")
    n_after_first = sigs.count()
    n_sigable = sum(1 for t in batch_docs.values() if _shingles(t))
    assert n_after_first == len(index_docs) + n_sigable - n_dups
    # sigs and postings must never desync: every indexed doc has exactly
    # BANDS postings (the self-referential-append trap — the first write
    # invalidates caches over the sigs path, so a lazily re-evaluated
    # anti-join would derive postings from an empty frame)
    assert (spark.read.parquet(idx_path + "/postings").count()
            == n_after_first * BANDS)

    # re-merge the same batch: zero new rows, zero new files
    files_before = sorted(glob.glob(idx_path + "/sigs/sp=*/*.parquet"))
    merge_minhash_index(spark, idx_path, _df(spark, batch_docs),
                        exclude=dups)
    assert spark.read.parquet(idx_path + "/sigs").count() == n_after_first
    files_after = sorted(glob.glob(idx_path + "/sigs/sp=*/*.parquet"))
    assert files_before == files_after

    # survivors are now visible: a re-probe of the same batch reports the
    # former intra-batch dup against the INDEX instead
    re_probe = incremental_near_dups(
        spark, idx_path, _df(spark, {900004: batch_docs[900004]}),
        threshold=0.5,
    ).collect()
    assert len(re_probe) == 1
    assert re_probe[0].dup_of == 900003 and re_probe[0].source == "index"

    # at most one file per touched partition per merge
    for d in glob.glob(idx_path + "/sigs/sp=*"):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) <= 2, d
    for d in glob.glob(idx_path + "/postings/pq=*"):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) <= 2, d


def test_probe_partner_in_index_and_batch_prefers_index(spark, sf_dir,
                                                        tmp_path):
    """900003 is merged, then probed again together with its exact copy
    900004, so the partner 900003 sits in both the index and the batch.
    900003 must not match itself in the index nor 900004 in the batch,
    and 900004's tie between the two copies of 900003 goes to the
    index."""
    index_docs, batch_docs = _doc_maps(spark, sf_dir)
    idx_path = str(tmp_path / "mh_index")
    build_minhash_index(spark, _df(spark, index_docs), idx_path,
                        num_hashes=NUM_HASHES, bands=BANDS, n_parts=N_PARTS)
    merge_minhash_index(spark, idx_path,
                        _df(spark, {900003: batch_docs[900003]}))
    probe = {d: batch_docs[d] for d in (900003, 900004)}
    got = incremental_near_dups(spark, idx_path, _df(spark, probe),
                                threshold=0.5).collect()
    assert [tuple(r) for r in got] == [(900004, 900003, 1.0, "index")]


def test_incremental_probe_prunes_partitions(spark, sf_dir, tmp_path,
                                             scans):
    """A one-doc probe reads only the postings partitions its bands hash
    into and the sigs partitions of its index partners; a one-doc merge
    reads the one sigs partition of its doc. Checked on the executed
    scans of every query the probe and the merge run."""
    from pdf2doi_spark.operators.dedup_index import ingest_dump
    from pdf2doi_spark.sources.io import shard_of

    index_docs, batch_docs = _doc_maps(spark, sf_dir)
    idx_path = str(tmp_path / "mh_index")
    build_minhash_index(spark, _df(spark, index_docs), idx_path,
                        num_hashes=NUM_HASHES, bands=BANDS, n_parts=N_PARTS)

    one = {900002: batch_docs[900002]}
    got = scans(lambda: incremental_near_dups(
        spark, idx_path, _df(spark, one), threshold=0.5).collect())
    # the index docs sharing a band with the probe: their sp partitions
    idx_bands = {d: set(_bands_of(_sig(_shingles(t))))
                 for d, t in index_docs.items() if _shingles(t)}
    probe_bands = set(_bands_of(_sig(_shingles(one[900002]))))
    partners = [(d,) for d, b in idx_bands.items() if b & probe_bands]
    n_sp = spark.createDataFrame(partners, "doc_id long").select(
        shard_of(N_PARTS, "doc_id")).distinct().count()
    assert 1 <= n_sp < N_PARTS
    posts = [(n, f) for t, n, f in got if t == "pq"]
    sigs = [(n, f) for t, n, f in got if t == "sp"]
    assert posts and all(1 <= n <= BANDS and f <= BANDS for n, f in posts), got
    assert sigs and all(1 <= n <= n_sp and f <= n_sp for n, f in sigs), got

    # one-doc merges: the existing-id read touches the doc's sp partition
    # only, whether the merge signatures the doc itself or ingest_dump
    # hands over the probe's signatures and their observed sp list
    got = scans(lambda: merge_minhash_index(
        spark, idx_path, _df(spark, one)))
    sigs = [(n, f) for t, n, f in got if t == "sp"]
    assert sigs and all(n <= 1 and f <= 1 for n, f in sigs), got
    alien = spark.createDataFrame(
        [(777001, "zq wv xr yt uk pl mn bc df gh jk " * 5)],
        "doc_id long, text string")
    got = scans(lambda: ingest_dump(
        spark, idx_path, alien, str(tmp_path / "verdicts"), threshold=0.5))
    sigs = [(n, f) for t, n, f in got if t == "sp"]
    posts = [(n, f) for t, n, f in got if t == "pq"]
    # a partition now holds the build's file and at most one merge's
    assert sigs and all(n <= 1 and f <= 2 * n for n, f in sigs), got
    assert posts and all(n <= BANDS and f <= 2 * n for n, f in posts), got


def test_ingest_dump_observes_its_shard_lists(spark, sf_dir, tmp_path,
                                              monkeypatch):
    """Every prune list of an ingest_dump step comes from an observation
    on a cut that runs anyway, and each equals the distinct shard values
    of the same cut frame — [] for a batch that collides with nothing and
    for an empty batch."""
    import pdf2doi_spark.operators.dedup_index as di
    from pdf2doi_spark.sources.io import shard_of

    index_docs, batch_docs = _doc_maps(spark, sf_dir)
    idx_path = str(tmp_path / "mh_index")
    build_minhash_index(spark, _df(spark, index_docs), idx_path,
                        num_hashes=NUM_HASHES, bands=BANDS, n_parts=N_PARTS)
    p = load_index_params(spark, idx_path)
    cuts = []
    orig_cut = di._cut_observing

    def distinct(df, col):
        return sorted(r[0] for r in df.select(col).distinct().collect())

    def recording(df, **sets):
        got = orig_cut(df, **sets)
        cuts.append((got[0], dict(zip(sets, got[1:]))))
        return got

    monkeypatch.setattr(di, "_cut_observing", recording)
    batches = [batch_docs, {777001: "zq wv xr yt uk pl mn bc df gh jk " * 5},
               {}]
    for i, docs in enumerate(batches):
        di.ingest_dump(spark, idx_path, _df(spark, docs),
                       str(tmp_path / f"verdicts{i}"), threshold=0.5)
    monkeypatch.undo()

    # per step: the signature cut (sp, pq), then the collision cut (sp)
    assert [sorted(lists) for _cut, lists in cuts] == \
        [["pq", "sp"], ["sp"]] * len(batches)
    coll_sp = []
    for (sigs, sig_lists), (coll, coll_lists) in zip(cuts[::2], cuts[1::2]):
        assert sig_lists["sp"] == distinct(
            sigs.select(shard_of(N_PARTS, "doc_id").alias("sp")), "sp")
        assert sig_lists["pq"] == distinct(di._postings(sigs, p), "pq")
        assert coll_lists["sp"] == distinct(
            coll.filter(F.col("source") == "index")
            .select(shard_of(N_PARTS, "dup_of").alias("sp")), "sp")
        coll_sp.append(coll_lists["sp"])
    assert coll_sp[0] and coll_sp[1:] == [[], []]
    assert cuts[4][1] == {"sp": [], "pq": []}


def test_ingest_dump_split_is_observed_on_the_verdict_write(
        spark, sf_dir, tmp_path):
    """The verdict split ``ingest_dump`` returns is observed on the verdict
    write: it equals the written table's counts per source for a batch
    with dups, and both keys read 0 for an empty batch."""
    from pdf2doi_spark.operators.dedup_index import ingest_dump

    index_docs, batch_docs = _doc_maps(spark, sf_dir)
    idx_path = str(tmp_path / "mh_index")
    build_minhash_index(spark, _df(spark, index_docs), idx_path,
                        num_hashes=NUM_HASHES, bands=BANDS, n_parts=N_PARTS)
    out = str(tmp_path / "verdicts")
    split = ingest_dump(spark, idx_path, _df(spark, batch_docs), out,
                        threshold=0.5)
    written = {r["source"]: r["count"] for r in
               spark.read.parquet(out).groupBy("source").count().collect()}
    assert split == {"index": written.get("index", 0),
                     "batch": written.get("batch", 0)}
    assert split["index"] > 0 and split["batch"] > 0
    assert ingest_dump(spark, idx_path, _df(spark, {}),
                       str(tmp_path / "verdicts_empty"), threshold=0.5) \
        == {"index": 0, "batch": 0}


def test_probe_with_no_collisions_is_empty(spark, sf_dir, tmp_path):
    """A batch that collides with nothing (and an sp_touched=[] prune on
    the sigs side) returns an empty frame, not an error."""
    index_docs, _ = _doc_maps(spark, sf_dir)
    idx_path = str(tmp_path / "mh_index")
    build_minhash_index(spark, _df(spark, index_docs), idx_path,
                        num_hashes=NUM_HASHES, bands=BANDS, n_parts=N_PARTS)
    alien = {777001: "zq wv xr yt uk pl mn bc df gh jk " * 5}
    out = incremental_near_dups(spark, idx_path, _df(spark, alien),
                                threshold=0.5)
    assert out.count() == 0
    assert out.columns == ["doc_id", "dup_of", "est_jaccard", "source"]


def test_probe_of_missing_index_refuses(spark, tmp_path):
    with pytest.raises(ValueError, match="no minhash index"):
        incremental_near_dups(
            spark, str(tmp_path / "nope"),
            spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string"),
        )


def test_probe_of_index_missing_a_table_refuses(spark, tmp_path):
    """A built index whose postings table is gone fails loudly instead of
    probing an empty table (every collision silently lost)."""
    import shutil

    idx_path = str(tmp_path / "mh_index")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string")
    build_minhash_index(spark, docs, idx_path, num_hashes=NUM_HASHES,
                        bands=BANDS, n_parts=N_PARTS)
    shutil.rmtree(os.path.join(idx_path, "postings"))
    with pytest.raises(ValueError, match="no postings table"):
        incremental_near_dups(spark, idx_path, docs)


def test_compact_minhash_index(spark, sf_dir, tmp_path):
    """After two merges a partition may hold several files; compaction
    rewrites to exactly one file per partition with values (and probe
    results) unchanged."""
    from pdf2doi_spark.operators.dedup_index import compact_minhash_index

    index_docs, batch_docs = _doc_maps(spark, sf_dir)
    idx_path = str(tmp_path / "mh_index")
    build_minhash_index(spark, _df(spark, index_docs), idx_path,
                        num_hashes=NUM_HASHES, bands=BANDS, n_parts=N_PARTS)
    half = dict(list(batch_docs.items())[:30])
    rest = {k: v for k, v in batch_docs.items() if k not in half}
    merge_minhash_index(spark, idx_path, _df(spark, half))
    merge_minhash_index(spark, idx_path, _df(spark, rest))
    assert any(
        len(glob.glob(os.path.join(d, "*.parquet"))) > 1
        for d in glob.glob(idx_path + "/sigs/sp=*")
    ), "fixture did not produce a multi-file partition"

    before_sigs = spark.read.parquet(idx_path + "/sigs").count()
    probe = {999123: list(index_docs.values())[0]}
    before_hit = incremental_near_dups(
        spark, idx_path, _df(spark, probe), threshold=0.9
    ).collect()

    compact_minhash_index(spark, idx_path)

    for table in ("sigs", "postings"):
        for d in glob.glob(f"{idx_path}/{table}/*=*"):
            assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    assert not glob.glob(idx_path + "/sigs.cmp")
    assert spark.read.parquet(idx_path + "/sigs").count() == before_sigs
    after_hit = incremental_near_dups(
        spark, idx_path, _df(spark, probe), threshold=0.9
    ).collect()
    assert sorted(map(tuple, after_hit)) == sorted(map(tuple, before_hit))


def test_incremental_index_xxhash64_lane(spark, sf_dir, tmp_path):
    """The production hash lane (VERDICT r3: xxhash64 signatures, ~20%
    cheaper, bigint band keys) must work through the whole persisted
    lifecycle. Exact duplicates are hash-agnostic (every signature
    component matches whatever the hash), so the planted re-posts pin the
    lane end-to-end without the md5 replay oracle."""
    index_docs, batch_docs = _doc_maps(spark, sf_dir)
    idx_path = str(tmp_path / "mh_index_xx")
    build_minhash_index(spark, _df(spark, index_docs), idx_path,
                        num_hashes=NUM_HASHES, bands=BANDS,
                        hash_fn="xxhash64", n_parts=N_PARTS)
    assert load_index_params(spark, idx_path)["hash_fn"] == "xxhash64"
    # bigint band keys, not 32-byte hex strings
    posts = spark.read.parquet(idx_path + "/postings")
    assert dict(posts.dtypes)["band_hash"] == "bigint"

    got = {r.doc_id: (r.dup_of, r.est_jaccard, r.source)
           for r in incremental_near_dups(
               spark, idx_path, _df(spark, batch_docs), threshold=0.99
           ).collect()}
    src = sorted(index_docs)[3]
    assert got[900002] == (src, 1.0, "index")
    assert got[900004] == (900003, 1.0, "batch")

    merge_minhash_index(spark, idx_path, _df(spark, batch_docs),
                        exclude=_df(spark, {k: batch_docs[k] for k in got}))
    re_probe = incremental_near_dups(
        spark, idx_path, _df(spark, {900004: batch_docs[900004]}),
        threshold=0.99,
    ).collect()
    assert [(r.dup_of, r.source) for r in re_probe] == [(900003, "index")]


# _bands_from_sigs rows of _BAND_TEXTS (num_hashes=12, bands=4) — the
# persisted postings layout. An index built by one version is probed and
# merged by the next, so these values must never change.
_BAND_TEXTS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "Lorem ipsum dolor sit amet, consectetur adipiscing elit"),
    (3, "near duplicate detection with minhash and locality sensitive hashing"),
]
_GOLDEN_BANDS = {
    "md5": [
        (1, 0, "814e7ffacc834facbb2320a1a3ea196a"),
        (1, 1, "0fdde7588b41c68365dd20d5193745c4"),
        (1, 2, "57645a6e03fbfa44398e1bf5501da7ca"),
        (1, 3, "b52e2b4795c348f0154e7a3b3027aaa9"),
        (2, 0, "fcd56897fbc2708ba86a8386d26b2fdb"),
        (2, 1, "a6727289a6ffa98fcc23faa1e34bcdf0"),
        (2, 2, "8395bec35eb2793d7890653aa39ae6d7"),
        (2, 3, "ce71ca94a5a9f64191581fa9755f9d34"),
        (3, 0, "1d9c05ff821a3746a24a97b8d67722dd"),
        (3, 1, "8f8758aec5a831845d7d6fb0f98d7060"),
        (3, 2, "03d5a7e0e0a1781f0fd7c4e37685c943"),
        (3, 3, "0094bd1feabcced314b14bfacdf5390c"),
    ],
    "xxhash64": [
        (1, 0, -8295139899317001179),
        (1, 1, 3923477495120433460),
        (1, 2, 8195042665393700896),
        (1, 3, -8962655512483533407),
        (2, 0, -2381650199838786501),
        (2, 1, 4078793570079037625),
        (2, 2, 879325359265874183),
        (2, 3, -948153551045554394),
        (3, 0, 3159439667076722747),
        (3, 1, 3284400184757133271),
        (3, 2, 5951756507331662781),
        (3, 3, 3006695967589017208),
    ],
}


@pytest.mark.parametrize("hash_fn,key_type", [("md5", "string"),
                                              ("xxhash64", "bigint")])
def test_band_layout_is_pinned(spark, hash_fn, key_type):
    from pdf2doi_spark.operators.dedup import _bands_from_sigs, _sig_df

    docs = spark.createDataFrame(_BAND_TEXTS, "doc_id long, text string")
    bands = _bands_from_sigs(_sig_df(docs, "text", NUM_HASHES, hash_fn),
                             NUM_HASHES, BANDS, hash_fn)
    assert [(f.name, f.dataType.simpleString(), f.nullable)
            for f in bands.schema.fields] == [
        ("doc_id", "bigint", True), ("band_idx", "int", False),
        ("band_hash", key_type, False)]
    assert sorted(map(tuple, bands.collect())) == _GOLDEN_BANDS[hash_fn]


def test_minhash_index_profile(spark, sf_dir, tmp_path):
    """The persisted-index skew audit equals the one-shot bucket histogram
    over the same docs (same banding, same schema)."""
    from pdf2doi_spark.operators.dedup import minhash_bucket_profile
    from pdf2doi_spark.operators.dedup_index import minhash_index_profile

    index_docs, _ = _doc_maps(spark, sf_dir)
    idx_path = str(tmp_path / "mh_index")
    build_minhash_index(spark, _df(spark, index_docs), idx_path,
                        num_hashes=NUM_HASHES, bands=BANDS, n_parts=N_PARTS)
    got = minhash_index_profile(spark, idx_path).collect()
    want = minhash_bucket_profile(
        _df(spark, index_docs), num_hashes=NUM_HASHES, bands=BANDS
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_null_and_repeated_doc_ids_are_safe(spark, sf_dir, tmp_path):
    """NULL doc_ids never enter the index (a NULL key is invisible to the
    idempotency anti-join, so it would re-append on EVERY merge), and a
    doc repeated within one batch indexes once — the postings ==
    sigs × bands invariant survives both."""
    idx_path = str(tmp_path / "mh_index")
    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta " * 3)],
        "doc_id long, text string",
    )
    build_minhash_index(spark, base, idx_path, num_hashes=NUM_HASHES,
                        bands=BANDS, n_parts=N_PARTS)

    dirty = spark.createDataFrame(
        [(None, "null id text that is long enough to shingle fine"),
         (7, "repeated doc body with plenty of words to shingle " * 2),
         (7, "repeated doc body with plenty of words to shingle " * 2)],
        "doc_id long, text string",
    )
    for _ in range(2):  # two merges: NULL must not accumulate either
        merge_minhash_index(spark, idx_path, dirty)
    sigs = spark.read.parquet(idx_path + "/sigs")
    assert sigs.filter(F.col("doc_id").isNull()).count() == 0
    assert sigs.count() == 2  # {1, 7}
    assert (spark.read.parquet(idx_path + "/postings").count()
            == 2 * BANDS)


def test_empty_corpus_index_full_lifecycle(spark, tmp_path):
    """An index bootstrapped from a batch with NO signaturable docs (all
    below the shingle minimum) must be a VALID empty index: build cannot
    crash on the zero-file read-back, probes return only intra-batch
    matches, and a later merge+probe round-trips. Without the build-time
    schemas stored in _params, the empty partitionBy write leaves only
    _SUCCESS and every later read dies in schema inference — wedging a
    stream whose first micro-batch happened to be all-short docs."""
    idx_path = str(tmp_path / "mh_empty_index")
    empty = {1: "too short", 2: "tiny"}
    build_minhash_index(spark, _df(spark, empty), idx_path,
                        num_hashes=NUM_HASHES, bands=BANDS, n_parts=N_PARTS)
    p = load_index_params(spark, idx_path)
    assert "sigs_schema" in p and "postings_schema" in p

    batch = {10: "alpha beta gamma " * 10, 11: "alpha beta gamma " * 10}
    got = incremental_near_dups(
        spark, idx_path, _df(spark, batch), threshold=0.5
    ).collect()
    assert [(r.doc_id, r.dup_of, r.source) for r in got] == [
        (11, 10, "batch")
    ]

    merge_minhash_index(spark, idx_path, _df(spark, {10: batch[10]}))
    got2 = incremental_near_dups(
        spark, idx_path, _df(spark, {12: batch[10]}), threshold=0.5
    ).collect()
    assert [(r.doc_id, r.dup_of, r.source) for r in got2] == [
        (12, 10, "index")
    ]

    from pdf2doi_spark.operators.dedup_index import minhash_index_profile

    assert minhash_index_profile(spark, idx_path).count() >= 0


def test_build_rejects_indivisible_bands(spark, tmp_path):
    """Same contract as dedup.minhash_bands: a num_hashes % bands
    remainder would silently drop trailing signature components from
    every band for the life of the persisted index."""
    with pytest.raises(ValueError, match="divide evenly"):
        build_minhash_index(
            spark, _df(spark, {1: "alpha beta gamma " * 5}),
            str(tmp_path / "bad"), num_hashes=12, bands=5,
        )


def test_compact_preserves_params_exactly(spark, sf_dir, tmp_path):
    """Compaction removes _params during the destructive table swap (a
    crash mid-rewrite must leave a LOUDLY-refused index, not a silently
    truncated one) and must restore it byte-identically afterwards."""
    from pdf2doi_spark.operators.dedup_index import (
        _params_path, compact_minhash_index,
    )
    from pdf2doi_spark.sources.io import _fs_read_small

    index_docs, _ = _doc_maps(spark, sf_dir)
    idx_path = str(tmp_path / "mh_index")
    build_minhash_index(spark, _df(spark, index_docs), idx_path,
                        num_hashes=NUM_HASHES, bands=BANDS, n_parts=N_PARTS)
    before = _fs_read_small(spark, _params_path(idx_path))
    compact_minhash_index(spark, idx_path)
    assert _fs_read_small(spark, _params_path(idx_path)) == before


def test_merge_crash_between_appends_converges(spark, sf_dir, tmp_path,
                                               monkeypatch):
    """ADVICE r4 (medium): merge appends postings BEFORE sigs, so a crash
    between the two leaves only orphan postings — the retry (sigs is the
    idempotency key) re-appends both and the doc converges to findable,
    with probe results identical to a never-crashed index (duplicate
    postings are distinct()ed away by every probe)."""
    from pyspark.sql.readwriter import DataFrameWriter

    index_docs, batch_docs = _doc_maps(spark, sf_dir)
    idx_path = str(tmp_path / "mh_crash")
    ref_path = str(tmp_path / "mh_ref")
    for p in (idx_path, ref_path):
        build_minhash_index(spark, _df(spark, index_docs), p,
                            num_hashes=NUM_HASHES, bands=BANDS,
                            n_parts=N_PARTS)

    orig = DataFrameWriter.parquet
    writes = []

    def boom(self, path, *a, **k):
        writes.append(path)
        if path == idx_path + "/sigs":
            raise RuntimeError("simulated crash between appends")
        return orig(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_minhash_index(spark, idx_path, _df(spark, batch_docs))
    # write-order pin: postings attempted (and committed) before sigs
    assert [p for p in writes if p.startswith(idx_path)] == [
        idx_path + "/postings", idx_path + "/sigs"]
    monkeypatch.setattr(DataFrameWriter, "parquet", orig)

    # crash state: orphan postings exist, sigs do not know the batch
    batch_ids = set(batch_docs)
    sig_ids = {r.doc_id for r in
               spark.read.parquet(idx_path + "/sigs").collect()}
    post_ids = {r.doc_id for r in
                spark.read.parquet(idx_path + "/postings").collect()}
    assert not (batch_ids & sig_ids) and (batch_ids & post_ids)

    # retry converges; reference index merges cleanly
    merge_minhash_index(spark, idx_path, _df(spark, batch_docs))
    merge_minhash_index(spark, ref_path, _df(spark, batch_docs))
    dup_sigs = (
        spark.read.parquet(idx_path + "/sigs")
        .groupBy("doc_id").count().filter(F.col("count") > 1).count()
    )
    assert dup_sigs == 0  # each doc signatured exactly once

    probe = {
        999995: list(index_docs.values())[3],
        999996: batch_docs[900003],
    }
    got = incremental_near_dups(
        spark, idx_path, _df(spark, probe), threshold=0.5,
    ).collect()
    want = incremental_near_dups(
        spark, ref_path, _df(spark, probe), threshold=0.5,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert {r.doc_id for r in got} == {999995, 999996}


def test_compact_rebuilds_postings_after_crashed_merge(spark, sf_dir,
                                                       tmp_path, monkeypatch):
    """A merge that dies between its postings and sigs appends leaves
    orphan postings; the retry appends the batch's postings again.
    Compaction must rebuild postings from the compacted sigs, so the
    duplicates are gone and postings == sigs × bands again (stale copies
    would inflate minhash_index_profile and max_bucket counts forever)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from pdf2doi_spark.operators.dedup_index import compact_minhash_index

    index_docs, batch_docs = _doc_maps(spark, sf_dir)
    idx_path = str(tmp_path / "mh_orphans")
    build_minhash_index(spark, _df(spark, index_docs), idx_path,
                        num_hashes=NUM_HASHES, bands=BANDS, n_parts=N_PARTS)
    orig = DataFrameWriter.parquet

    def boom(self, path, *a, **k):
        if path == idx_path + "/sigs":
            raise RuntimeError("simulated crash between appends")
        return orig(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_minhash_index(spark, idx_path, _df(spark, batch_docs))
    monkeypatch.setattr(DataFrameWriter, "parquet", orig)
    merge_minhash_index(spark, idx_path, _df(spark, batch_docs))

    def tables():
        sigs = spark.read.parquet(idx_path + "/sigs").collect()
        posts = spark.read.parquet(idx_path + "/postings") \
            .select("doc_id", "band_idx", "band_hash").collect()
        return sigs, sorted(map(tuple, posts))

    sigs, posts = tables()
    assert len(posts) > len(sigs) * BANDS  # the retry left duplicates

    compact_minhash_index(spark, idx_path)
    sigs_after, posts_after = tables()
    assert sorted(map(tuple, sigs_after)) == sorted(map(tuple, sigs))
    assert len(posts_after) == len(sigs_after) * BANDS
    assert posts_after == sorted(set(posts))
    # every posting is a band of a stored signature, in its pq partition
    want = sorted(
        (r.doc_id, b, h)
        for r in sigs_after
        for b, h in _bands_of([r[f"mh{i}"] for i in range(NUM_HASHES)])
    )
    assert posts_after == want


def test_compact_crash_mid_swap_refuses_loudly(spark, sf_dir, tmp_path,
                                               monkeypatch):
    """VERDICT r4 #5: _params is staged to _params.tmp BEFORE the
    destructive swap and RENAMED in afterwards — the happy path leaves no
    .tmp behind, and a crash between the live-table rewrites leaves an
    index every read refuses loudly (params absent), with the .cmp copies
    and the staged params surviving for manual recovery."""
    from pyspark.sql.readwriter import DataFrameWriter

    from pdf2doi_spark.operators.dedup_index import (
        _params_path, compact_minhash_index,
    )
    from pdf2doi_spark.sources.io import fs_exists

    index_docs, _ = _doc_maps(spark, sf_dir)
    idx_path = str(tmp_path / "mh_swap")
    build_minhash_index(spark, _df(spark, index_docs), idx_path,
                        num_hashes=NUM_HASHES, bands=BANDS, n_parts=N_PARTS)

    # happy path: no staged file left behind
    compact_minhash_index(spark, idx_path)
    assert fs_exists(spark, _params_path(idx_path))
    assert not fs_exists(spark, _params_path(idx_path) + ".tmp")

    orig = DataFrameWriter.parquet

    def boom(self, path, *a, **k):
        if path == idx_path + "/postings":  # 2nd LIVE rewrite of the swap
            raise RuntimeError("simulated crash mid-swap")
        return orig(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_minhash_index(spark, idx_path)
    monkeypatch.setattr(DataFrameWriter, "parquet", orig)

    # loud refusal on every read path; recovery artifacts survive
    with pytest.raises(ValueError, match="no minhash index"):
        incremental_near_dups(
            spark, idx_path, _df(spark, {1: "alpha beta gamma delta"}))
    assert fs_exists(spark, _params_path(idx_path) + ".tmp")
    assert fs_exists(spark, idx_path + "/postings.cmp")

    # and the ingest entry points' bootstrap must REFUSE this state, not
    # mistake it for 'first use' and wipe every prior dump's survivors
    from pdf2doi_spark.operators.dedup_index import (
        bootstrap_index_if_absent,
    )

    probe_docs = _df(spark, {1: "alpha beta gamma delta"})
    with pytest.raises(ValueError, match="crashed compaction"):
        bootstrap_index_if_absent(spark, idx_path, probe_docs)
    assert spark.read.parquet(idx_path + "/sigs").count() > 0  # untouched
    # a genuinely fresh path bootstraps; an intact index is a no-op
    fresh = str(tmp_path / "mh_fresh")
    assert bootstrap_index_if_absent(spark, fresh, probe_docs) is True
    assert bootstrap_index_if_absent(spark, fresh, probe_docs) is False


def _pages_df(spark, rows):
    """rows: (url, body_words) -> pages-shaped DataFrame."""
    from datetime import datetime, timezone

    data = [
        (url,
         datetime(2024, 1, 1, tzinfo=timezone.utc),
         f"<html><body><p>{body}</p></body></html>".encode(),
         None, None)
        for url, body in rows
    ]
    return spark.createDataFrame(
        data, "url string, warc_ts timestamp, html binary, "
              "text string, lang string")


def test_job_entrypoint_rolling_dedup_index(spark, tmp_path):
    """VERDICT r4 #4: the incremental near-dup index behind spark-submit.
    Two sequential job runs (two crawl dumps) share --dedup-index: dump
    2's near-copies of dump 1 pages are flagged in <output>/dups with
    source='index' and excluded from the merge; restarting run 2 with the
    same --output is idempotent (sealed manifest, stable dups)."""
    import subprocess
    import sys as _sys

    base = ("spark makes distributed extraction pipelines simple and "
            "fast with columnar scans adaptive shuffles and broadcast "
            "joins over web scale page tables every day")
    dump1 = tmp_path / "dump1"
    _pages_df(spark, [
        ("https://a.org/original", base),
        ("https://a.org/other", "completely different words about "
         "gardening tomatoes soil compost watering sunlight pruning "
         "harvest seasons beds mulch seeds"),
    ]).write.parquet(str(dump1))
    dump2 = tmp_path / "dump2"
    _pages_df(spark, [
        # near-copy of dump1's original: a few words injected
        ("https://b.net/copy", base.replace(" simple and ",
                                            " simple quick and ")),
        ("https://b.net/fresh", "novel second dump content regarding "
         "astronomy telescopes nebulae galaxies spectra redshift "
         "parallax orbits transits eclipses"),
    ]).write.parquet(str(dump2))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    idx = str(tmp_path / "rolling_index")

    def run(inp, out, *extra):
        return subprocess.run(
            [_sys.executable, os.path.join(repo, "job.py"),
             "--input", str(inp), "--output", str(out),
             "--shards", "2", "--master", "local[2]",
             "--dedup-index", idx, "--dedup-threshold", "0.5", *extra],
            capture_output=True, text=True, timeout=420,
        )

    p1 = run(dump1, tmp_path / "run1")
    assert p1.returncode == 0, p1.stderr[-2000:]
    assert "near-dups flagged: 0" in p1.stdout

    p2 = run(dump2, tmp_path / "run2")
    assert p2.returncode == 0, p2.stderr[-2000:]
    assert "near-dups flagged: 1" in p2.stdout
    dups = spark.read.parquet(str(tmp_path / "run2" / "dups")).collect()
    assert len(dups) == 1
    assert dups[0].url == "https://b.net/copy"
    assert dups[0].source == "index" and dups[0].est_jaccard >= 0.5

    # the flagged dup was EXCLUDED from the merge; all survivors are in
    sig_ids = {r.doc_id for r in spark.read.parquet(idx + "/sigs").collect()}
    assert dups[0].doc_id not in sig_ids
    assert len(sig_ids) == 3  # dump1's two + dump2's fresh one

    # restart of run 2: sealed manifest short-circuits, dups stable,
    # merge replays to a no-op
    p2b = run(dump2, tmp_path / "run2")
    assert p2b.returncode == 0, p2b.stderr[-2000:]
    assert "near-dups flagged: 1" in p2b.stdout
    dups_b = spark.read.parquet(str(tmp_path / "run2" / "dups")).collect()
    assert [tuple(r) for r in dups_b] == [tuple(r) for r in dups]
    assert {r.doc_id for r in
            spark.read.parquet(idx + "/sigs").collect()} == sig_ids

    # --dedup-max-bucket plumbs through to the probe's cap: 0 excludes
    # every bucket from the candidate join, so nothing can flag
    p2c = run(dump2, tmp_path / "run2_capped", "--dedup-max-bucket", "0")
    assert p2c.returncode == 0, p2c.stderr[-2000:]
    assert "near-dups flagged: 0" in p2c.stdout


def test_job_dedup_index_repeated_url_writes_one_verdict(spark, tmp_path):
    """A dump that repeats a url (same doc_id = xxhash64(url)) which is
    also a near-dup of an indexed page gets ONE verdict row: the verdict
    write joins against the dump deduplicated on doc_id, so the repeat
    cannot fan the dups table out."""
    import subprocess
    import sys as _sys

    base = ("spark makes distributed extraction pipelines simple and "
            "fast with columnar scans adaptive shuffles and broadcast "
            "joins over web scale page tables every day")
    idx = str(tmp_path / "rolling_index")
    build_minhash_index(
        spark,
        spark.createDataFrame([("https://a.org/original", base)],
                              "url string, text string")
        .select(F.xxhash64("url").alias("doc_id"), "text"),
        idx, hash_fn="xxhash64",
    )
    copy = base.replace(" simple and ", " simple quick and ")
    dump = tmp_path / "dump"
    _pages_df(spark, [
        ("https://b.net/copy", copy),
        ("https://b.net/copy", copy),
        ("https://b.net/fresh", "novel dump content regarding astronomy "
         "telescopes nebulae galaxies spectra redshift parallax orbits"),
    ]).write.parquet(str(dump))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = tmp_path / "run"
    p = subprocess.run(
        [_sys.executable, os.path.join(repo, "job.py"),
         "--input", str(dump), "--output", str(out), "--shards", "2",
         "--master", "local[2]", "--dedup-index", idx],
        capture_output=True, text=True, timeout=420,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    dups = spark.read.parquet(str(out / "dups")).collect()
    assert len(dups) == len({r.doc_id for r in dups}) == 1
    assert dups[0].url == "https://b.net/copy" and dups[0].source == "index"
    assert "near-dups flagged: 1" in p.stdout


def test_merge_with_precomputed_sigs_matches_recompute(spark, sf_dir,
                                                       tmp_path):
    """The one-signature-pass ingest loop: merge(sigs=<probe's frame>)
    must leave an index identical (sigs rows, postings rows, probe
    verdicts) to the recompute-from-text merge, and must refuse a sigs
    frame whose shape does not match the index params."""
    index_docs, batch_docs = _doc_maps(spark, sf_dir)
    a_path, b_path = str(tmp_path / "mh_a"), str(tmp_path / "mh_b")
    for p in (a_path, b_path):
        build_minhash_index(spark, _df(spark, index_docs), p,
                            num_hashes=NUM_HASHES, bands=BANDS,
                            n_parts=N_PARTS)

    batch = _df(spark, batch_docs)
    dups_a, sigs_a = incremental_near_dups(
        spark, a_path, batch, threshold=0.5, return_sigs=True)
    excl_a = dups_a.select("doc_id")
    merge_minhash_index(spark, a_path, batch, exclude=excl_a, sigs=sigs_a)

    dups_b = incremental_near_dups(spark, b_path, batch, threshold=0.5)
    merge_minhash_index(spark, b_path, batch,
                        exclude=dups_b.select("doc_id"))

    for table in ("sigs", "postings"):
        a = sorted(map(tuple, spark.read.parquet(
            f"{a_path}/{table}").collect()))
        b = sorted(map(tuple, spark.read.parquet(
            f"{b_path}/{table}").collect()))
        assert a == b, table

    probe = _df(spark, {777001: batch_docs[900003]})
    got_a = sorted(map(tuple, incremental_near_dups(
        spark, a_path, probe, threshold=0.5).collect()))
    got_b = sorted(map(tuple, incremental_near_dups(
        spark, b_path, probe, threshold=0.5).collect()))
    assert got_a == got_b and got_a

    # shape guard: a frame missing this index's mh columns is refused
    with pytest.raises(ValueError, match="missing columns"):
        merge_minhash_index(
            spark, a_path, batch,
            sigs=sigs_a.drop(f"mh{NUM_HASHES - 1}"))
