"""Text-analysis operators over the ``documents`` table.

Training-data-pipeline operators (driver mandate): token counting,
language-ID heuristic, quality scoring, document fingerprinting. All are
**pure native column expressions** — whole-stage codegen end-to-end, no
Python in the hot path, and every one has an exact ANSI-SQL oracle.
Scale notes: each is a narrow map (no shuffle); fingerprinting feeds the
dedup operators in ``dedup.py``.
"""
from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

# Fixed marker-word banks for the ratio-based language heuristic: the
# classic cheap lang-ID shape (per-language marker-hit ratios → argmax,
# deterministic tiebreak), fully SQL-expressible. Real pipelines swap in
# larger banks or character-n-gram profiles; the operator shape is the same.
LANG_MARKERS = {
    "en": ("the", "a", "and", "of", "to"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "los", "que", "y", "las"),
    "de": ("der", "die", "das", "und", "nicht"),
    "zh": ("的", "是", "了", "在", "我"),
}
EN_MARKERS = LANG_MARKERS["en"]
PUNCT_CLASS = r"[\.,;:!\?\)\(]"
# BPE-ish pre-tokenizer: word pieces OR single non-space symbols — the
# standard GPT-style pre-split whose count tracks subword counts closely.
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]"


def norm_text(col: Column) -> Column:
    """THE text normalization of the dedup family (lowercase, trim,
    whitespace-collapse). One definition — ``md5(norm_text(text))`` is the
    cross-engine fingerprint contract shared by quality_suite's ``fp``, the
    winnowing sketch, and every operator in ``dedup.py``; a second copy
    drifting would silently desync fingerprint-keyed joins."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def tokens(col: Column) -> Column:
    """Whitespace tokenisation (empty string → empty array)."""
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count_cols(text_col: Column) -> list:
    """Whitespace token count, a BPE-ish regex token count (GPT-style
    pre-tokenizer pieces), and a 4-chars/token subword estimate — all
    native expressions, aliased so ``quality_suite`` (or any projection)
    can use them without a self-join."""
    t = F.trim(text_col)
    nospace = F.length(F.regexp_replace(t, r"\s+", ""))
    return [
        F.size(tokens(text_col)).alias("n_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(BPE_TOKEN_RE), 0)).alias("n_bpe_tokens"),
        F.ceil(nospace / F.lit(4)).cast("long").alias("n_subword_est"),
    ]


def lang_id_cols(text_col: Column) -> list:
    """Marker-word-ratio language heuristic over 5 fixed banks: per-language
    marker-hit ratio → argmax (ties broken by language code order); 'other'
    when no bank clears 2%. Narrow map, no shuffle."""
    toks = tokens(F.lower(text_col))
    total = F.size(toks)
    def _marker_ratio(markers):
        # closure factory keeps the F.filter lambda UNARY (a second param
        # would bind the array index — see dedup._keyed_min_md5)
        def pred(x):
            return x.isin(*markers)

        return F.when(total > 0, F.size(F.filter(toks, pred)) / total).otherwise(
            F.lit(0.0)
        )

    ratios = {lang: _marker_ratio(m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*ratios.values())
    # first-match CASE in bank insertion order = deterministic tiebreak
    pred_expr = None
    for lang in LANG_MARKERS:
        cond = (ratios[lang] >= best) & (best > 0.02)
        pred_expr = (
            F.when(cond, F.lit(lang)) if pred_expr is None
            else pred_expr.when(cond, F.lit(lang))
        )
    pred = pred_expr.otherwise(F.lit("other"))
    return [
        F.round(ratios["en"], 6).alias("en_marker_ratio"),
        F.round(best, 6).alias("best_marker_ratio"),
        pred.alias("lang_pred"),
    ]


def quality_score_cols(text_col: Column, with_n_tokens: bool = True) -> list:
    """Composite quality features: length, mean word length, punctuation
    ratio, stopword ratio — the standard cheap pre-training filters.
    ``with_n_tokens=False`` drops
    the ``n_tokens`` column for callers (the suite) that already project it
    via ``token_count_cols`` — same expression, so nothing is lost.

    The score feeds filters (``corpus_pipeline``'s quality gate), and a
    higher-order-function expression inside a Filter evaluates ~60x slower
    than in a projection on this build (see dedup.has_min_words) — so
    every component is a codegen-able scalar form: stopword hits are a
    whole-token ``regexp_count`` over the normalized text (provably equal
    to counting the matching tokens)."""
    t = text_col
    n_tok = F.size(tokens(F.lower(t)))
    n_chars = F.length(t)
    punct = F.length(t) - F.length(F.regexp_replace(t, PUNCT_CLASS, ""))
    stop_re = "(?:^| )(?:" + "|".join(EN_MARKERS) + ")(?= |$)"
    stop_hits = F.regexp_count(norm_text(t), F.lit(stop_re))
    mean_wl = F.when(n_tok > 0, (F.length(F.regexp_replace(F.trim(t), r"\s+", "")) / n_tok)).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, stop_hits / n_tok).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    score = (
        F.when((n_tok >= 10) & (mean_wl >= 2.0) & (mean_wl <= 12.0), F.lit(0.5)).otherwise(F.lit(0.0))
        + F.when(stop_ratio > 0.01, F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(punct_ratio < 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
    )
    cols = [n_chars.alias("n_chars_seen")]
    if with_n_tokens:
        cols.append(n_tok.alias("n_tokens"))
    cols += [
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(score, 2).alias("quality_score"),
    ]
    return cols


def winnowing_sketch(df: DataFrame, text_col: str = "text", n: int = 3,
                     k: int = 8) -> DataFrame:
    """Rolling-window document fingerprint sketch (winnowing-style): hash
    every word n-gram window (the rolling-hash pass), keep the k smallest
    hashes as the document's sketch. Two documents sharing most content
    share most of their sketch, so sketch overlap is a cheap containment
    signal. md5 keeps it cross-engine; all native, no shuffle."""
    # imported here: dedup imports this module at module level
    from pdf2doi_spark.operators.dedup import word_shingles

    grams = F.transform(word_shingles(F.col(text_col), n), lambda g: F.md5(g))
    sketch = F.slice(F.array_sort(grams), 1, k)
    return df.select(F.col("doc_id"), sketch.alias("sketch"))


def ascii_scrub_col(text_col: Column, n_chars: int = None) -> Column:
    """Reference F11 (finders.py:844-852): non-ASCII → space, fold
    newline/CR/tab to space, truncate to the first ``n_chars`` characters —
    fully native (regexp_replace + translate + substring), aliased
    ``scrubbed_text``. ``n_chars`` defaults to the reference's
    ``N_characters_in_pdf`` setting (1000), overridable via
    ``pdf2doi_spark.config``."""
    if n_chars is None:
        from pdf2doi_spark.config import config

        n_chars = int(config.get("N_characters_in_pdf"))
    scrubbed = F.regexp_replace(text_col, r"[^\x00-\x7f]", " ")
    folded = F.translate(scrubbed, "\n\r\t", "   ")
    return F.substring(folded, 1, n_chars).alias("scrubbed_text")


def quality_suite(df: DataFrame, text_col: str = "text",
                  scrub_col: Column = None,
                  scrub_chars: int = None) -> DataFrame:
    """Every narrow-map quality signal in ONE projection over ONE scan:
    token counts, language-ID, quality score, document fingerprint, and the
    ASCII scrub. The ``*_cols`` functions stay the composable units; this
    fused form is what a production pipeline runs (and what the driver
    gate checks) — no self-joins, no shuffle, one whole-stage-codegen span.

    ``scrub_col`` optionally points the scrub at a different input column/
    expression than the signals (the driver query scrubs a deliberately
    non-ASCII-noised variant of ``text`` to keep the scrub check
    non-vacuous)."""
    t = F.col(text_col)
    scrub_src = scrub_col if scrub_col is not None else t
    return df.select(
        F.col("doc_id"),
        *token_count_cols(t),
        *lang_id_cols(t),
        *quality_score_cols(t, with_n_tokens=False),
        F.md5(norm_text(t)).alias("fp"),
        ascii_scrub_col(scrub_src, scrub_chars),
    )


def _md5_int32(key_col: str) -> Column:
    """The shared cross-engine integer draw: first 8 md5 hex chars of the
    key as an integer in [0, 2^32). ONE definition — every membership
    check (percent buckets here, unit-interval draws in
    ``packing.mixture_sample``) must derive from it or their subsets
    silently diverge. DuckDB equivalent:
    ``('0x' || substr(md5(k), 1, 8))::UBIGINT``."""
    return (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
    )


def _hash_bucket(key_col: str) -> Column:
    """Percent bucket over the shared draw (``_md5_int32 mod 100``)."""
    return _md5_int32(key_col) % 100


def hash_sample(df: DataFrame, pct: float = 20.0,
                key_col: str = "doc_id") -> DataFrame:
    """Deterministic hash-based sampling: keep a row iff
    ``md5(key) mod 100 < pct``.

    THE reproducible sampling primitive for corpus curation at scale —
    unlike seeded Bernoulli ``sample()``, membership is a pure function of
    the key: stable across runs, engines, partitionings and cluster sizes,
    so a 20% subset drawn today equals the one drawn in next month's rerun
    and a downstream join against the sample is consistent by
    construction. md5 keeps it bit-identical across Spark/DuckDB/Python
    (same contract as the ``fp`` fingerprint). Narrow map, no shuffle."""
    return df.filter(_hash_bucket(key_col) < F.lit(pct))


def stratified_hash_sample(df: DataFrame, fractions: dict,
                           stratum_col: str = "lang",
                           key_col: str = "doc_id") -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample English, keep
    all low-resource languages): ``fractions`` maps stratum value → keep
    percentage; unlisted strata are dropped. Same hash-membership contract
    as ``hash_sample``; still a narrow map."""
    if not fractions:
        return df.filter(F.lit(False))  # unlisted strata are dropped
    pct = None
    for stratum, p in fractions.items():
        cond = F.col(stratum_col) == stratum
        pct = F.when(cond, F.lit(float(p))) if pct is None else pct.when(cond, F.lit(float(p)))
    pct = pct.otherwise(F.lit(0.0))
    return df.filter(_hash_bucket(key_col) < pct)


def zlib_ratio_col(text_col: Column) -> Column:
    """zlib compression ratio per document — the classic gibberish/
    boilerplate detector: highly repetitive text compresses far below
    natural prose, random noise barely compresses at all. zlib is C-speed
    but not expressible in SQL, so this is the quality family's one
    Arrow-batched pandas UDF; the driver oracle compares against ratios
    precomputed by the SAME ``zlib_ratio`` outside Spark (see
    queries._q_doc_signals)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(texts: pd.Series) -> pd.Series:
        return texts.map(zlib_ratio)

    return _ratio(text_col)


def zlib_ratio(t) -> float:
    """ONE definition of the per-document ratio (compressed/raw bytes at
    zlib level 6, rounded to 6 dp) — shared by the Spark UDF and the
    driver-oracle precomputation so they can never drift."""
    import zlib

    if not t:
        return 0.0
    raw = t.encode("utf-8", errors="replace")
    return round(len(zlib.compress(raw, 6)) / len(raw), 6)


def repetition_cols(text_col: Column) -> list:
    """Repetition-based quality signals (Gopher-style), all native:

    * ``dup_line_frac``   — 1 − distinct/total over newline-split lines;
    * ``top_word_frac``   — share of tokens taken by the most frequent
      token (boilerplate pages repeat one token heavily);
    * ``dup_word_frac``   — 1 − distinct/total over tokens."""
    lines = F.split(text_col, "\n")
    n_lines = F.size(lines)
    toks = tokens(F.lower(text_col))
    n_tok = F.size(toks)
    # most-frequent-token share via sort + aggregate over run lengths is
    # HOF-heavy; the clean relational form is explode+groupBy, but per-doc
    # that shuffles. aggregate() over the sorted array stays in-row:
    sorted_toks = F.array_sort(toks)
    top_run = F.aggregate(
        sorted_toks,
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return [
        F.round(
            F.when(n_lines > 0, 1 - F.size(F.array_distinct(lines)) / n_lines)
            .otherwise(F.lit(0.0)), 6
        ).alias("dup_line_frac"),
        F.round(
            F.when(n_tok > 0, top_run / n_tok).otherwise(F.lit(0.0)), 6
        ).alias("top_word_frac"),
        F.round(
            F.when(n_tok > 0, 1 - F.size(F.array_distinct(toks)) / n_tok)
            .otherwise(F.lit(0.0)), 6
        ).alias("dup_word_frac"),
    ]


def doc_signals(df: DataFrame, text_col: str = "text",
                rep_col: Column = None) -> DataFrame:
    """Fused per-document signal pass: the three repetition signals plus the
    zlib compression ratio, all in ONE projection over ONE scan (narrow
    map; the zlib column is the family's single Arrow-batched UDF —
    everything else stays in whole-stage codegen). ``rep_col`` optionally
    points the repetition signals at a different input expression than the
    compression ratio (the driver query repeats lines deliberately)."""
    rep_src = rep_col if rep_col is not None else F.col(text_col)
    return df.select(
        F.col("doc_id"),
        *repetition_cols(rep_src),
        zlib_ratio_col(F.col(text_col)).alias("compression_ratio"),
    )


# Redaction patterns: Java regex (Spark) and its POSIX-compatible DuckDB
# mirror must stay equivalent — pinned by the driver oracle on synthetic
# PII-bearing text.
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
IP_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
# 7-14 digits with at most one space/hyphen between digit groups — \s is
# deliberately NOT used (it matches newlines, which would collapse whole
# numeric table columns into one <PHONE>), and the digit count is bounded
# so arbitrary digit runs don't chain. Year pairs like "1914 1918" still
# over-redact — the standard precision/recall trade of shape-based scrubs.
PHONE_RE = r"\+?\d(?:[\- ]?\d){6,13}"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pre-training PII scrub: emails, IPv4 addresses, and phone-like digit
    runs replaced with stable placeholder tokens (order matters — emails
    first so their digits are never half-eaten by the phone pass). Pure
    ``regexp_replace`` chain: whole-stage codegen, narrow map, exact SQL
    oracle."""
    t = F.col(text_col)
    t = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    t = F.regexp_replace(t, IP_RE, "<IP>")
    t = F.regexp_replace(t, PHONE_RE, "<PHONE>")
    return df.select(F.col("doc_id"), t.alias("redacted_text"))


def grouped_percentile_profile(df: DataFrame, group_col: str,
                               value_col: str) -> DataFrame:
    """Per-group value profile via grouped-map ``applyInPandas`` — the API
    for per-group imperative logic whose state fits one executor (each
    group arrives as ONE pandas frame; numpy does the math at C speed).
    The math here (linear-interpolation percentiles) exists natively too,
    which is exactly why this operator carries an exact oracle: it pins
    the grouped-map plumbing itself, so custom per-group kernels that are
    NOT SQL-expressible can be built on a verified shape.

    Skew note: one group = one task; a head group with 10^8 rows must be
    pre-aggregated or sketched instead (see approx_stats) — grouped-map is
    for bounded groups.
    """
    import numpy as np

    schema = (
        f"{group_col} string, n_rows long, p50 double, p95 double"
    )

    def profile(pdf: pd.DataFrame) -> pd.DataFrame:
        # SQL percentile semantics: NULLs are ignored by the quantile but
        # still counted in n_rows (one NULL must not poison the group to NaN)
        v = pdf["_v"].dropna().to_numpy(dtype="float64")
        return pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]],
                "n_rows": [len(pdf)],
                "p50": [round(float(np.percentile(v, 50)), 5) if len(v) else None],
                "p95": [round(float(np.percentile(v, 95)), 5) if len(v) else None],
            }
        )

    keyed = df.select(
        F.col(group_col).cast("string").alias(group_col),
        F.col(value_col).cast("double").alias("_v"),
    )
    return keyed.groupBy(group_col).applyInPandas(profile, schema).orderBy(group_col)


def domain_size_profile(pages: DataFrame) -> DataFrame:
    """Per-domain html-size profile (grouped_percentile_profile over the
    crawl's natural grouping key)."""
    from pdf2doi_spark.operators.extract import domain_of

    sized = pages.select(
        domain_of(F.col("url")).alias("domain"),
        F.length(F.col("html")).alias("n_bytes"),
    )
    return grouped_percentile_profile(sized, "domain", "n_bytes")


def domain_curation(df: DataFrame, *, source_col: str = "source",
                    text_col: str = "text",
                    min_avg_quality: float = 0.5,
                    max_dup_rate: float = 0.2) -> DataFrame:
    """Per-source curation audit — the domain-level filtering step of
    crawl curation (keep/block decisions in CC-style pipelines are made
    per host/domain, not per page): doc count, mean quality score, mean
    token count, exact-dup rate (1 - distinct fingerprints /
    fingerprinted docs), and the keep verdict.

    Plan shape: one shared projection (the fused quality + fingerprint
    expressions — text never survives past it) then ONE aggregation on
    ``source_col``. The single distinct aggregate plans as the standard
    two-phase (source, fp) pre-aggregate, so a hot domain's shuffle rows
    are bounded by its DISTINCT fingerprints, and every plain aggregate
    pre-reduces map-side. A source whose docs all lack text keeps
    ``dup_rate`` 0 and a ``false`` verdict (NULL-avg coalesced), never a
    NULL row.
    """
    t = F.col(text_col)
    proj = df.select(
        F.col(source_col).alias("source"),
        *quality_score_cols(t),
        F.md5(norm_text(t)).alias("fp"),
    )
    agg = proj.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        F.count("fp").alias("_nfp"),
        F.countDistinct("fp").alias("_dfp"),
    )
    dup = F.when(
        F.col("_nfp") > 0,
        F.round(F.lit(1.0) - F.col("_dfp") / F.col("_nfp"), 6),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "source", "n_docs", "avg_quality", "avg_tokens",
        dup.alias("dup_rate"),
        (
            F.coalesce(F.col("avg_quality") >= F.lit(min_avg_quality),
                       F.lit(False))
            & (dup <= F.lit(max_dup_rate))
        ).alias("keep"),
    )
