"""Deduplication operators over the ``documents`` table.

Large-scale training-data dedup family (driver mandate), each designed
around its shuffle profile at 10^12-row scale:

* **exact**      — md5 fingerprint → groupBy(fp). One shuffle on a 32-byte
  key; map-side partial aggregation collapses most duplicates before the
  exchange. md5 (not xxhash64) so the fingerprints are bit-identical in
  Spark, DuckDB, and Python — the cross-engine dedup contract.
* **MinHash+LSH** — shingle → k min-hashes → b bands → bucket self-join.
  The crucial scale property: candidate generation never compares all
  pairs; the only shuffle is on (band_idx, band_hash), and AQE's skew-join
  splitting handles pathological buckets (boilerplate-identical pages).
  Min-hash here is the *lexicographic min of keyed md5 hex digests* — a
  valid uniform min-hash family that every engine evaluates identically,
  so the whole operator (signatures, bands, verified Jaccard) stays in
  native expressions with an exact SQL oracle. No Python in the path.
* **n-gram Jaccard** — exact verified similarity for candidate pairs.
* **SimHash**    — 64-bit bit-vote fingerprint via a vectorized pandas UDF
  (per-bit voting is the one step that is genuinely cheaper in numpy than
  in 64 native aggregations); near-dup = Hamming ≤ threshold within
  16-bit prefix buckets.
"""
from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Observation, functions as F

# ---------------------------------------------------------------- helpers

# ONE normalization definition for the whole fingerprint contract —
# see quality.norm_text.
from pdf2doi_spark.operators.quality import norm_text as _norm_text


def cap_buckets(bands: DataFrame, keys: List[str], max_bucket: int) -> DataFrame:
    """Skew guard of the banded candidate joins (``band_pairs``'
    ``max_bucket`` and the incremental index probe): drop rows whose
    bucket (the ``keys`` group) has more than ``max_bucket`` members — a
    bucket of B docs contributes B² pair rows to the self-join, so one hot
    bucket would dominate the job.

    Implemented as a count window over the banded key, NOT a separate
    groupBy+join: the window's Exchange partitions on exactly the key the
    ``band_pairs`` self-join needs, so Catalyst reuses ONE exchange for
    both join sides and the (expensive) signature computation runs once
    instead of three or four times (guard aggregate + each join side) —
    pinned by tests/test_plans.py::test_minhash_guard_reuses_exchange and
    ::test_simhash_guard_reuses_exchange.

    Extreme-skew tradeoff (deliberate): unlike a groupBy count (map-side
    partial aggregation), WindowExec buffers each key group inside one
    task before the filter drops it, so the degenerate bucket this guard
    exists to remove is also the one that concentrates into a single
    spilling task. The rows are narrow (~50 B: doc_id + band key), so even
    a 10⁸-row boilerplate bucket is ~5 GB of disk spill in one task —
    slow, not fatal — and the exchange-reuse win applies to EVERY run
    while pathological buckets are rare and visible in advance via
    ``bucket_histogram``. Two mitigations are part of the operating
    contract: (1) run exact dedup first — identical boilerplate collapses
    to one survivor per fingerprint, so the hot bucket never reaches the
    window at its raw multiplicity; (2) run the bucket audit and, if it
    shows a pathological key, pre-filter those rows before banding rather
    than relying on this guard to absorb them."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys)
    return (
        bands.withColumn("_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_n") <= max_bucket)
        .drop("_n")
    )


def bucket_histogram(bands: DataFrame, keys: List[str]) -> DataFrame:
    """Bucket-size distribution ``(bucket_size, n_buckets)`` of a banded
    join key, largest first — the skew audit to run BEFORE a crawl-scale
    candidate join and before choosing ``cap_buckets``'s ``max_bucket``.
    Shared by the minhash / simhash / embedding-LSH profiles so the three
    audits emit one schema (``_q_dedup_bucket_profile`` unions them)."""
    return (
        bands.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .groupBy("bucket_size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .orderBy(F.desc("bucket_size"))
    )


def band_pairs(bands: DataFrame, keys: List[str], max_bucket: int | None = None,
               id_col: str = "doc_id", carry: tuple = ()) -> DataFrame:
    """THE banded candidate self-join of the near-dup family: every pair
    ``a < b`` (on ``id_col``) that shares at least one band row of
    ``keys`` → ``(doc_a, doc_b, <c>_a, <c>_b …, shared)``, where
    ``shared`` counts the agreeing band rows and each ``carry`` column
    comes back once per side. The join shuffles on ``keys`` only — never
    all-pairs. ``max_bucket`` applies ``cap_buckets`` first, whose window
    exchange both join sides then reuse."""
    if max_bucket is not None:
        bands = cap_buckets(bands, keys, max_bucket)
    a, b = bands.alias("a"), bands.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    return (
        a.join(b, cond)
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"),
                 F.col(f"b.{id_col}").alias("doc_b"),
                 *[F.col(f"{side}.{c}").alias(f"{c}_{side}")
                   for c in carry for side in "ab"])
        .agg(F.count(F.lit(1)).alias("shared"))
    )


def auto_blocklist(bands: DataFrame, keys: List[str], max_bucket: int,
                   max_keys: int = 10_000):
    """Mechanized form of the ``cap_buckets`` operating contract's
    mitigation #2 (VERDICT r4 #3): find the degenerate bucket keys with a
    partial-aggregating groupBy (map-side combine — a hot key arrives at
    the exchange as ONE partial count per task, never as its raw rows,
    which is exactly the buffering the window-based guard cannot avoid),
    collect them (bounded: pathological keys are rare by definition —
    more than ``max_keys`` of them means the threshold is wrong, refused
    loudly), and broadcast-ANTI-join them out — so the hot key never
    reaches a window buffer or a join side at its raw multiplicity.

    Returns ``(filtered_bands, blocked)`` where ``blocked`` is the
    driver-side list of dropped key tuples — the cap is never silent:
    log/persist it next to the run's results. Zero hot keys returns the
    input unchanged (no join added to the plan).

    Cost: one extra pass over ``bands`` for the histogram action (for
    minhash that is one extra signature pass — run exact dedup first so
    boilerplate collapses before it ever signatures). Compose as::

        bands, blocked = auto_blocklist(bands, KEYS, max_bucket)
        pairs = band_pairs(bands, KEYS, max_bucket)   # residual guard + join

    The residual window guard still rides the ONE reused exchange (the
    anti-join is broadcast — it adds no shuffle and leaves the banded
    key's partitioning untouched), pinned by
    tests/test_plans.py::test_auto_blocklist_keeps_reused_exchange.
    """
    hot = (
        bands.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_bucket)
        .select(*keys)
        .limit(max_keys + 1)
        .collect()
    )
    if len(hot) > max_keys:
        raise ValueError(
            f"auto_blocklist found more than {max_keys} buckets over "
            f"max_bucket={max_bucket} — that is not skew, the threshold "
            "is below the corpus's normal bucket size; raise max_bucket "
            "or run exact dedup first"
        )
    blocked = [tuple(r[k] for k in keys) for r in hot]
    if not blocked:
        return bands, blocked
    spark = bands.sparkSession
    hot_df = spark.createDataFrame(
        blocked, schema=bands.select(*keys).schema
    )
    return bands.join(F.broadcast(hot_df), keys, "left_anti"), blocked


def has_min_words(col: Column, n: int = 3) -> Column:
    """Codegen-able equivalent of ``size(word_shingles(col, n)) > 0``.

    Measured on this build: a higher-order-function expression inside a
    FILTER evaluates ~60× slower than the same expression in a projection
    or aggregate (codegen-fallback predicate path), so filters must gate on
    this cheap word-count predicate and let the shingle computation happen
    in the projection. Empty/whitespace-only text splits to one empty
    token (size 1 < n), matching word_shingles' empty output exactly.
    """
    return F.size(F.split(_norm_text(col), " ")) >= n


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column (native expressions).

    ``transform(sequence(...))`` over the split token array — no explode, so
    the row count (and therefore the shuffle width) never fans out.

    The token array is bound ONCE per row: the outer one-element
    ``transform`` is a ``let``, and the grams are built over its lambda
    variable. Referencing ``split(norm_text(col))`` inside the gram lambda
    instead re-normalizes and re-splits the whole text for every shingle —
    O(words²) per doc, which dominated the signature pass on long pages.
    """
    def grams(words: Column) -> Column:
        k = F.size(words) - (n - 1)
        g = F.transform(
            F.sequence(F.lit(0), F.greatest(k - 1, F.lit(-1))),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        )
        return F.when(k >= 1, F.array_distinct(g)).otherwise(
            F.array().cast("array<string>")
        )

    words = F.split(_norm_text(col), " ")
    return F.element_at(F.transform(F.array(words), grams), 1)


# ---------------------------------------------------------------- exact

def exact_duplicates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups: fingerprint → count + canonical keeper.

    NULL text means *content not materialized* (raw-file/WARC ingestion
    before the main-content stage), NOT identical content — its NULL
    fingerprint is excluded, otherwise groupBy would collapse every
    null-text document into one bogus duplicate cluster. (EMPTY text is
    different: all empty docs genuinely share one fingerprint.)"""
    return (
        df.select(F.col("doc_id"), F.md5(_norm_text(F.col(text_col))).alias("fp"))
        .filter(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("fp")
    )


def distinct_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Survivor set after exact dedup (keep min doc_id per fingerprint).
    Null-text documents are not comparable, so every one survives (same
    NULL-vs-empty distinction as exact_duplicates)."""
    fp = df.select(F.col("doc_id"), F.md5(_norm_text(F.col(text_col))).alias("fp"))
    keepers = (
        fp.filter(F.col("fp").isNotNull())
        .groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fp")
    )
    return keepers.unionByName(fp.filter(F.col("fp").isNull()))


# ---------------------------------------------------------------- minhash-lsh

def _keyed_min_md5(col: Column, seed: str) -> Column:
    # NOTE: the lambda must stay unary — a two-parameter lambda makes
    # F.transform bind the second parameter to the array-index Column
    # (the index-aware variant), silently changing the hash seed.
    return F.array_min(F.transform(col, lambda s: F.md5(F.concat(F.lit(seed), s))))


def _keyed_min_xxhash64(col: Column, seed: int) -> Column:
    # xxhash64 takes the seed as a leading column, so no string concat is
    # materialized per (seed, shingle) pair — cheaper than the md5 lane on
    # top of the cheaper hash itself.
    return F.array_min(F.transform(col, lambda s: F.xxhash64(F.lit(seed), s)))


def minhash_signature(col: Column, num_hashes: int = 12,
                      hash_fn: str = "md5") -> List[Column]:
    """k min-hash values for a shingle-array column.

    ``hash_fn='md5'`` (default): for seed i, the lexicographic min over
    shingles of md5(i || ':' || shingle) — the cross-engine contract the
    DuckDB oracles replay byte-for-byte.

    ``hash_fn='xxhash64'``: the production escape hatch (VERDICT r3) — for
    seed i, the numeric min over shingles of xxhash64(i, shingle).
    Identical b*r recall curve (both are uniform hashes of the same
    shingle set), ~20% cheaper per signature (BENCH §0: 4.50 vs 5.74 s at
    sf0.1), but only md5 is replayable in DuckDB, so oracle-gated paths
    stay on md5. At 10^12 docs the signature pass is ~10^9 core-seconds;
    a fifth of that is the reason this knob exists.
    """
    if hash_fn == "md5":
        return [
            _keyed_min_md5(col, f"{i}:").alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    if hash_fn == "xxhash64":
        return [
            _keyed_min_xxhash64(col, i).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    raise ValueError(f"unknown hash_fn {hash_fn!r}: use 'md5' or 'xxhash64'")


def _sig_df(docs: DataFrame, text_col: str, num_hashes: int,
            hash_fn: str) -> DataFrame:
    """(doc_id, mh0..mh{k-1}) for every doc with at least one shingle.

    NULL doc_ids are dropped outright: every downstream consumer keys on
    doc_id (self-join ``<``, anti-joins, semi-joins, best-match windows),
    and a NULL key matches nothing — in the persisted index a null-id row
    would re-append on EVERY merge (the idempotency anti-join can never
    see it) and never be findable by any probe."""
    sh = docs.filter(
        F.col("doc_id").isNotNull() & has_min_words(F.col(text_col))
    ).select(
        F.col("doc_id"), word_shingles(F.col(text_col)).alias("sh")
    )
    return sh.select(
        "doc_id", *minhash_signature(F.col("sh"), num_hashes, hash_fn)
    )


def _band_hashes(num_hashes: int, bands: int, hash_fn: str) -> List[Column]:
    """The ``bands`` band-hash expressions over a row's ``mh*`` columns —
    THE band-hash construction (band ``b`` is element ``b``)."""
    rows_per_band = num_hashes // bands
    out = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}")
                 for r in range(rows_per_band)]
        out.append(
            F.md5(F.concat_ws("|", *parts)) if hash_fn == "md5"
            else F.xxhash64(*parts)
        )
    return out


def _bands_from_sigs(sigs: DataFrame, num_hashes: int, bands: int,
                     hash_fn: str) -> DataFrame:
    """(doc_id, band_idx, band_hash) from a signature table — THE band
    rows, shared by the one-shot join and the persisted index (which
    bands stored signatures without re-shingling the text)."""
    return sigs.select(
        "doc_id",
        F.posexplode(F.array(*_band_hashes(num_hashes, bands, hash_fn)))
        .alias("band_idx", "band_hash"),
    )


def minhash_bands(df: DataFrame, text_col: str = "text", num_hashes: int = 12,
                  bands: int = 4, hash_fn: str = "md5") -> DataFrame:
    """doc_id × band rows: (doc_id, band_idx, band_hash). rows = docs × b —
    bounded fan-out; band_hash is a 32-byte md5 string (``hash_fn='md5'``)
    or an 8-byte bigint (``hash_fn='xxhash64'`` — 4× narrower shuffle rows
    on top of the cheaper signature)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}) — a remainder would silently compute-but-ignore "
            f"the trailing hashes and change the effective b*r recall curve"
        )
    return _bands_from_sigs(_sig_df(df, text_col, num_hashes, hash_fn),
                            num_hashes, bands, hash_fn)


def minhash_bucket_profile(df: DataFrame, text_col: str = "text",
                           num_hashes: int = 12, bands: int = 4,
                           hash_fn: str = "md5") -> DataFrame:
    """Bucket-size distribution of the LSH bands — the skew audit to run
    BEFORE a crawl-scale candidate join: (bucket_size, n_buckets), largest
    first. A handful of giant buckets (empty pages, shared boilerplate)
    is what turns the band self-join quadratic."""
    b = minhash_bands(df, text_col, num_hashes, bands, hash_fn)
    return bucket_histogram(b, ["band_idx", "band_hash"])


def minhash_candidate_pairs(df: DataFrame, text_col: str = "text",
                            num_hashes: int = 12, bands: int = 4,
                            max_bucket: int | None = None,
                            hash_fn: str = "md5") -> DataFrame:
    """Distinct candidate pairs (a < b) sharing at least one LSH band.

    The self-join shuffles on (band_idx, band_hash) only; no all-pairs
    comparison ever happens. At crawl scale, giant buckets (empty pages,
    boilerplate) are the skew risk — AQE skew-join is on in the session
    defaults, and ``max_bucket`` is the explicit production guard: buckets
    with more than ``max_bucket`` members are excluded from the join
    outright (a bucket of B docs contributes B² pair rows — one 10⁷-doc
    boilerplate bucket would emit 10¹⁴ pairs). This deliberately trades
    recall on degenerate near-identical blobs (which exact dedup catches
    far more cheaply first) for a bounded join; the cap is NOT silent —
    audit what it would drop with ``minhash_bucket_profile`` before
    choosing it. The self-join and the cap are ``band_pairs``.
    """
    return band_pairs(
        minhash_bands(df, text_col, num_hashes, bands, hash_fn),
        ["band_idx", "band_hash"], max_bucket,
    ).select("doc_a", "doc_b")


def jaccard_pairs(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                  threshold: float = 0.7) -> DataFrame:
    """Verify candidate pairs with exact shingle Jaccard ≥ threshold.

    Joins shingle arrays to the (small relative to input) candidate set —
    two hash joins, then a narrow map for the set math.
    """
    sh = df.select(F.col("doc_id"), word_shingles(F.col(text_col)).alias("sh"))
    out = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            # two empty shingle sets -> 0/0, which ANSI mode turns into a
            # job-aborting DIVIDE_BY_ZERO: an undefined similarity is NULL
            # (dropped by the threshold filter), never a task failure
            F.when(
                F.size(F.array_union("sh_a", "sh_b")) > 0,
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
            ).alias("jaccard"),
        )
    )
    # NOTE: this threshold predicate inlines the HOF set math into a
    # Filter (the slow evaluation path — see has_min_words); acceptable
    # here because it runs on the POST-LSH candidate set, which is orders
    # of magnitude smaller than the input.
    return out.filter(F.col("jaccard") >= threshold).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def minhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            num_hashes: int = 12, bands: int = 4,
                            threshold: float = 0.7,
                            hash_fn: str = "md5") -> DataFrame:
    """Full MinHash→LSH→verify pipeline: near-duplicate pairs with their
    exact Jaccard, ordered deterministically. ``hash_fn='xxhash64'`` is
    the cheaper production signature (see minhash_signature) — the final
    pair set is still exact-Jaccard-verified either way, only LSH recall
    on borderline pairs can differ between the two hash families."""
    pairs = minhash_candidate_pairs(df, text_col, num_hashes, bands,
                                    hash_fn=hash_fn)
    return jaccard_pairs(df, pairs, text_col, threshold).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------- simhash

_SIMHASH_BITS = 64


_JAVA_WS_RE = None  # compiled lazily on the executor


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Vectorized 64-bit SimHash: per token, a stable 64-bit hash (md5
    prefix); per document, bit-vote across tokens. numpy does the bit
    unpacking/voting for the whole batch's tokens at once.

    Tokenization uses the ASCII whitespace class ``[ \\t\\n\\x0b\\f\\r]``
    — exactly Java's ``\\s`` (the class every native operator splits on)
    and what the SQL oracle's regex sees. Python's ``str.split()`` splits
    on ALL Unicode whitespace (NBSP, ideographic space — ubiquitous in
    HTML-derived text) and would silently desync simhash from the rest of
    the fingerprint family."""
    import hashlib
    import re

    global _JAVA_WS_RE
    if _JAVA_WS_RE is None:
        _JAVA_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")

    out = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        if not t:
            continue
        toks = [x for x in _JAVA_WS_RE.split(t.lower()) if x]
        if not toks:
            continue
        hs = np.frombuffer(
            b"".join(hashlib.md5(tok.encode()).digest()[:8] for tok in set(toks)),
            dtype=">u8",
        )
        bits = ((hs[:, None] >> np.arange(_SIMHASH_BITS, dtype=np.uint64)) & 1).astype(np.int32)
        votes = bits.sum(axis=0) * 2 - len(hs)
        val = np.uint64(0)
        for b in np.nonzero(votes > 0)[0]:
            val |= np.uint64(1) << np.uint64(b)
        out[i] = val.astype(np.int64)
    return pd.Series(out)


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, simhash:long) via an Arrow-batched pandas UDF."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def sh(texts: pd.Series) -> pd.Series:
        return _simhash_batch(texts)

    return df.select(F.col("doc_id"), sh(F.col(text_col)).alias("simhash"))


_SIMHASH_BANDS = 4  # 4 × 16-bit chunks


def _simhash_bands(s: DataFrame) -> DataFrame:
    """(doc_id, simhash) → (doc_id, simhash, band_idx, chunk): the 64-bit
    fingerprint split into four 16-bit pigeonhole chunks."""
    chunks = [
        F.shiftrightunsigned(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
        for i in range(_SIMHASH_BANDS)
    ]
    return s.select(
        "doc_id", "simhash", F.posexplode(F.array(*chunks)).alias("band_idx", "chunk")
    )


def simhash_bucket_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Bucket-size distribution of the SimHash pigeonhole bands —
    ``minhash_bucket_profile``'s counterpart for the simhash join key.
    Run it BEFORE choosing ``max_bucket``: each band has only 65,536
    possible chunk values, so near-identical boilerplate corpora
    concentrate fingerprints into hot chunks, and one hot chunk of B docs
    emits B² candidate rows."""
    b = _simhash_bands(simhash(df, text_col))
    return bucket_histogram(b, ["band_idx", "chunk"])


def simhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            max_hamming: int = 3,
                            max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidate generation bands the 64-bit fingerprint into four 16-bit
    chunks and self-joins on (band_idx, chunk): by pigeonhole, any pair
    with ≤ 3 differing bits shares at least one chunk exactly, so recall is
    complete for max_hamming ≤ 3 (probabilistic above). The join shuffles
    on the small banded key — never all-pairs.

    ``max_bucket`` is the production skew guard, same contract as
    ``minhash_candidate_pairs``: chunk buckets with more members are
    excluded from the join outright, bounding the B² blowup a hot chunk
    value would emit (the banding is inherently capped at 65,536 buckets
    per band, so at crawl scale hot chunks are a certainty, not a tail
    risk). The traded-away recall is near-identical boilerplate that exact
    dedup removes more cheaply first — run exact dedup before this
    operator, and audit the cap against ``simhash_bucket_profile``. A pair
    sharing one capped and one surviving chunk is still found via the
    surviving band."""
    pairs = band_pairs(_simhash_bands(simhash(df, text_col)),
                       ["band_idx", "chunk"], max_bucket, carry=("simhash",))
    return (
        pairs.select(
            "doc_a", "doc_b",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("doc_a", "doc_b")
    )


def _truncate_lineage(df: DataFrame) -> DataFrame:
    """Cut ``df``'s plan eagerly: a frame that is read several times (a
    round of an iterative algorithm, a batch the merge joins and writes)
    is computed once, and a growing plan stops growing.

    Reliable ``checkpoint()`` when the session has a checkpoint directory
    configured (production clusters: blocks land on durable storage and
    survive executor loss — with ``localCheckpoint`` the truncated lineage
    lives only in executor block managers, so ONE lost executor kills a
    multi-hour connected-components job mid-iteration with no recompute
    path); ``localCheckpoint`` otherwise (local runs and tests, where
    re-running is cheap and no durable dir is configured)."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _cut_observing(df: DataFrame, **facts: Column) -> tuple:
    """``(cut, *values)``: the eager cut of ``df`` (``_truncate_lineage``)
    and, per keyword in order, the value of an aggregate over ``df``
    observed on the cut's own job — arrays sorted, scalars as they are. A
    small fact about a frame that is cut anyway (a shard-prune list, a
    fixpoint test) thus costs no job of its own."""
    obs = Observation()
    cut = _truncate_lineage(
        df.observe(obs, *[agg.alias(k) for k, agg in facts.items()]))
    got = obs.get
    return (cut, *(sorted(got[k]) if isinstance(got[k], list) else got[k]
                   for k in facts))


def connected_components(edges: DataFrame, max_iterations: int = 25) -> DataFrame:
    """Near-duplicate clustering finisher: ``(a, b)`` pair list →
    ``(node, component)`` where component is the minimum node id reachable.

    This is the step that turns pairwise candidates (MinHash/SimHash band
    collisions, verified Jaccard pairs) into dedup clusters with a
    deterministic canonical representative (the component id itself).

    Algorithm: iterative min-label propagation — each round every node
    takes the min of its own label and its neighbours' labels; converges in
    O(component diameter) rounds. Near-dup graphs are unions of small
    dense clusters (tiny diameter), so a handful of rounds suffices; the
    production-hardened variant for adversarial diameters is
    large-star/small-star (alternating, same DataFrame shapes). Each round
    is one broadcast-free join + min-agg; ``_truncate_lineage`` cuts the
    plan each round so it does not grow with iterations (reliable
    ``checkpoint()`` when the session has a checkpoint dir, else
    ``localCheckpoint``), and that cut's own job counts the labels that
    dropped — the fixpoint test, with no probe query of its own.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iterations`` — silently returning split components would make a
    dedup pass KEEP duplicates with no signal; long-chain graphs should
    raise the budget (or switch to large-star/small-star).
    """
    sym = (
        edges.select(F.col("a").cast("long").alias("src"),
                     F.col("b").cast("long").alias("dst"))
        .union(edges.select(F.col("b").cast("long").alias("src"),
                            F.col("a").cast("long").alias("dst")))
        .distinct()
        .transform(_truncate_lineage)
    )
    labels = (
        sym.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .transform(_truncate_lineage)
    )
    for _ in range(max_iterations):
        neigh = (
            sym.join(labels, sym["src"] == labels["node"])
            .groupBy(sym["dst"].alias("node"))
            .agg(F.min("label").alias("neigh_min"))
        )
        # the round's cut keeps the old label beside the neighbour minimum,
        # so its own job counts the nodes whose label drops this round
        step, changed = _cut_observing(
            labels.join(neigh, "node", "left"),
            changed=F.count_if(F.col("neigh_min") < F.col("label")))
        labels = step.select(
            "node", F.least("label", "neigh_min").alias("label"))
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            f"iterations (component diameter exceeds the budget); raise "
            f"max_iterations"
        )
    return labels.select("node", F.col("label").alias("component")).orderBy("node")


def connected_components_star(edges: DataFrame,
                              max_iterations: int = 50) -> DataFrame:
    """Large-star/small-star connected components — the production-hardened
    alternating algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): converges in O(log diameter) rounds instead of
    min-label propagation's O(diameter), so adversarial long-chain graphs
    (linked boilerplate chains, crawl redirect paths) finish in a handful
    of shuffles. Same contract as ``connected_components``: ``(a, b)``
    pairs → ``(node, component)`` with the component minimum as label.

    Round shapes (each one join + one min-agg, all shuffle-on-node):

    * **large-star**: every node ``u`` points its LARGER neighbours at the
      minimum of its neighbourhood (incl. itself) — long tails collapse;
    * **small-star**: orient edges large→small, point every smaller
      neighbour (and ``u``) at the neighbourhood minimum — stars flatten.

    Fixpoint when the small-star round leaves the edge set unchanged; then
    edges are exactly (node → root). Each cut's own job observes the
    order-independent fingerprint of its non-loop edges: count and
    xxhash64 XOR (a collision would need two edge sets with equal count
    AND equal XOR; the XOR never overflows under ANSI mode, unlike a hash
    SUM). The node set comes from the first cut, self-loops included, so
    a node whose only edge is a self-loop keeps its own component.
    """
    loop_free = F.col("u") != F.col("v")

    def cut(edges_uv: DataFrame) -> tuple:
        return _cut_observing(
            edges_uv, n=F.count_if(loop_free),
            h=F.bit_xor(F.when(loop_free, F.xxhash64("u", "v"))))

    first, *prev = cut(
        edges.select(F.col("a").cast("long").alias("u"),
                     F.col("b").cast("long").alias("v"))
        .distinct()
    )
    all_nodes = (
        first.select(F.col("u").alias("node"))
        .union(first.select(F.col("v").alias("node")))
        .distinct()
    )
    e = first.filter(loop_free)

    def large_star(edges_uv: DataFrame) -> DataFrame:
        sym = edges_uv.union(
            edges_uv.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least("mv", "u").alias("m")
        )
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(edges_uv: DataFrame) -> DataFrame:
        oriented = edges_uv.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = oriented.groupBy("u").agg(F.min("v").alias("m"))
        pointed = (
            oriented.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        selfed = m.select(F.col("u"), F.col("m").alias("v"))
        return (
            pointed.union(selfed)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    for _ in range(max_iterations):
        e, *cur = cut(small_star(large_star(e)))
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"{max_iterations} alternating rounds"
        )
    # Converged edge set is (node -> component root); roots map to themselves.
    return (
        all_nodes.join(e, all_nodes["node"] == e["u"], "left")
        .select("node", F.coalesce("v", "node").alias("component"))
        .orderBy("node")
    )


def sketch_overlap_pairs(df: DataFrame, text_col: str = "text",
                         min_shared: int = 4) -> DataFrame:
    """Containment-candidate pairs via winnowing-sketch posting lists.

    The third candidate-generation shape in the dedup family (after exact
    fingerprints and MinHash LSH bands): explode each doc's min-k sketch
    into (hash, doc) postings, self-join on the hash (the inverted-index
    join), count shared sketch elements per pair. Catches CONTAINMENT
    (quote/boilerplate inclusion) that band-hash equality misses, because
    a superset document keeps most of the subset's minimal hashes.

    Scale profile: the shuffle key is the 32-byte sketch hash; postings
    per hash are bounded by corpus near-duplication, and the pair-count
    aggregation is map-side combinable. The shared-count filter is a plain
    integer predicate (fast path).
    """
    from pdf2doi_spark.operators.quality import winnowing_sketch

    posts = (
        winnowing_sketch(df, text_col)
        .select("doc_id", F.explode("sketch").alias("h"))
    )
    return (
        band_pairs(posts, ["h"])
        .filter(F.col("shared") >= min_shared)
        .orderBy("doc_a", "doc_b")
    )


def global_line_dedup(df: DataFrame, text_col: str = "text",
                      min_line_chars: int = 20) -> DataFrame:
    """C4-style global line-level dedup: a line appearing in many documents
    (cookie banners, "subscribe" boilerplate, legal footers) is kept only
    in the document where it first occurs and dropped everywhere else.

    Lines shorter than ``min_line_chars`` are always kept — deduping "Yes"
    or a bare number corpus-wide would mangle unrelated documents.

    Shape: posexplode to (doc, pos, line) → fingerprint long lines →
    ONE window shuffle on the fingerprint (first occurrence by (doc, pos))
    → reassemble each document in original line order. Row fan-out is
    bounded by lines-per-doc; the shuffle key is a 32-byte md5.
    """
    from pyspark.sql.window import Window

    lines = df.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    is_long = F.length(F.trim(F.col("line"))) >= min_line_chars
    # short lines get a per-row unique partition key => their rank is
    # always 1 and they are never deduped
    fp = F.when(
        is_long, F.md5(F.trim(F.lower(F.col("line"))))
    ).otherwise(F.concat_ws(":", F.col("doc_id"), F.col("pos")))
    w = Window.partitionBy(fp).orderBy("doc_id", "pos")
    kept = (
        lines.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("deduped_text")
    )
    # a document whose every line was a non-first duplicate must SURVIVE
    # with empty text (C4 semantics: emptiness is a later quality filter's
    # decision) — re-join against the full doc set so no doc ever vanishes
    return (
        df.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("deduped_text", F.lit("")).alias("deduped_text"),
        )
        .orderBy("doc_id")
    )


def contamination_overlap(train: DataFrame, evalset: DataFrame,
                          text_col: str = "text",
                          min_overlap_frac: float = 0.5) -> DataFrame:
    """Benchmark decontamination: flag training documents whose shingle
    sets overlap an evaluation set — the check every pre-training pipeline
    runs so eval answers don't leak into the corpus.

    Asymmetric inverted-index shape: both sides shingle, explode to
    (shingle, doc) postings, join train postings against the (much
    smaller) eval postings on the shingle, count matches per (train, eval)
    pair, divide by the EVAL doc's shingle count (fraction of the eval doc
    covered — a long train doc embedding a whole eval item still scores 1). At scale the eval side
    is tiny — Spark broadcasts it and the join never shuffles the training
    corpus. Returns (train_doc_id, eval_doc_id, overlap_frac) above the
    threshold.
    """
    t_sh = train.filter(has_min_words(F.col(text_col))).select(
        F.col("doc_id").alias("train_doc_id"),
        word_shingles(F.col(text_col)).alias("sh"),
    )
    t_posts = t_sh.select("train_doc_id", F.explode("sh").alias("g"))
    e_posts = (
        evalset.filter(has_min_words(F.col(text_col)))
        .select(F.col("doc_id").alias("eval_doc_id"),
                word_shingles(F.col(text_col)).alias("sh"))
        .select("eval_doc_id", F.size("sh").alias("n_eval_sh"),
                F.explode("sh").alias("g"))
    )
    # overlap_frac = fraction of the EVAL doc's shingles present in the
    # training doc — the denominator must be the eval side, or a long
    # training document containing a whole eval question would dilute the
    # ratio below any threshold and evade detection
    return (
        t_posts.join(F.broadcast(e_posts), "g")
        .groupBy("train_doc_id", "eval_doc_id", "n_eval_sh")
        .agg(F.count(F.lit(1)).alias("shared"))
        .select(
            "train_doc_id", "eval_doc_id",
            F.round(F.col("shared") / F.col("n_eval_sh"), 6).alias("overlap_frac"),
        )
        .filter(F.col("overlap_frac") >= min_overlap_frac)
        .orderBy("train_doc_id", "eval_doc_id")
    )


def latest_capture(df: DataFrame, keys: List[str],
                   ts_col: str) -> DataFrame:
    """CDX-style revisit resolution: one row per ``keys`` — the newest
    capture by ``ts_col``, ties broken deterministically by the remaining
    columns (descending, field order = input column order).

    The Common-Crawl shape: the pages table carries every recrawl of a
    url (reference processes each file once, main.py:222-260; a crawl
    corpus re-observes the same url across dumps), and extraction wants
    exactly one — the freshest — per url before the cascade runs.

    Plan shape: ``groupBy(keys).agg(max(struct(ts, payload...)))`` — ONE
    shuffle with map-side partial aggregation, so each task pre-reduces
    its local recrawls and the exchange moves ~one row per key per task.
    The window ``row_number`` form shuffles EVERY capture's full payload
    (multi-MB html at crawl scale) and sorts it inside each group; at a
    2-10x recrawl factor the partial-agg form moves proportionally less
    data. NULL timestamps order lowest (struct comparison), so a NULL-ts
    capture survives only when its key has no timestamped capture.
    """
    payload = [c for c in df.columns if c not in keys and c != ts_col]
    struct_cols = [ts_col] + payload
    missing = [c for c in keys if c not in df.columns]
    if missing or ts_col not in df.columns:
        raise ValueError(
            f"latest_capture: missing columns {missing + ([ts_col] if ts_col not in df.columns else [])}"
        )
    agg = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.max(F.struct(*[F.col(c) for c in struct_cols])).alias("_m")
    )
    return agg.select(
        *keys, *[F.col(f"_m.{c}").alias(c) for c in struct_cols]
    )
